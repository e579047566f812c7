package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, ExprId, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, LogicalRDD, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, LongType}

import graft.{Metric, QType}
import graft.kernels.{DistanceSink, Distances, TopKHeap}

/** A run of one partition's code rows in the reference's preload layout
  * (`vQuantRunMemory`'s buffer, sqlite-vector.c:2121-2157): row i has id
  * `ids(i)` and the code `codes(i·dim until (i + 1)·dim)`. Rows whose
  * code is NULL keep only their id, in `nullIds`.
  */
final class CodeBlock(val ids: Array[Long], val dim: Int, val codes: Array[Byte],
                      val nullIds: Array[Long]) extends Serializable {
  def rows: Int = ids.length + nullIds.length
  def bytes: Long = 8L * rows + codes.length
}

/** The row view of a persisted block RDD: the `(id, code)` rows it was
  * built from, so a frame over it (a `LogicalRDD` leaf) serves every
  * generic consumer — code-distance projections, counts, joins, SQL
  * views — while [[QuantTopK]] scans `blocks` directly.
  */
final class CodeBlockRows(val blocks: RDD[CodeBlock], val idIsInt: Boolean, val blockCount: Long)
    extends RDD[InternalRow](blocks) {

  override protected def getPartitions: Array[Partition] = firstParent[CodeBlock].partitions

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val w = new UnsafeRowWriter(2)
    def row(id: Long): UnsafeRowWriter = {
      w.reset(); w.zeroOutNullBytes()
      if (idIsInt) w.write(0, id.toInt) else w.write(0, id)
      w
    }
    firstParent[CodeBlock].iterator(split, context).flatMap { b =>
      Iterator.range(0, b.ids.length).map { i => val r = row(b.ids(i)); r.write(1, b.codes, i * b.dim, b.dim); r.getRow } ++
        b.nullIds.iterator.map { id => val r = row(id); r.setNullAt(1); r.getRow }
    }
  }
}

object CodeBlocks {

  /** The most code bytes one block holds. A block stays far below the
    * JVM's `byte[]` limit at any dim (one code per block when dim exceeds
    * it), and a 1M × 768 store over 16 partitions holds 2 blocks each.
    */
  final val MaxBlockBytes: Int = 32 << 20

  /** The (id, code) rows of one partition as blocks of at most
    * `maxBytes` code bytes. A block holds codes of one length; a row
    * whose code length differs from the open block's starts a new one.
    */
  def build(rows: Iterator[InternalRow], idIsInt: Boolean, maxBytes: Int): Iterator[CodeBlock] = {
    val out = ArrayBuffer.empty[CodeBlock]
    var ids = new Array[Long](16)
    var codes = new Array[Byte](0)
    var n = 0
    var dim = 0
    var cap = 1
    val nulls = ArrayBuffer.empty[Long]
    def flush(): Unit = if (n > 0 || nulls.nonEmpty) {
      out += new CodeBlock(java.util.Arrays.copyOf(ids, n), dim,
        java.util.Arrays.copyOf(codes, n * dim), nulls.toArray)
      n = 0; nulls.clear()
    }
    rows.foreach { r =>
      val id = idAt(r, idIsInt)
      if (r.isNullAt(1)) nulls += id
      else {
        val c = r.getBinary(1)
        if (n > 0 && (c.length != dim || n == cap)) flush()
        if (n == 0) { dim = c.length; cap = math.max(1, maxBytes / math.max(dim, 1)) }
        if (n == ids.length) ids = java.util.Arrays.copyOf(ids, math.min(cap, 2 * n))
        if ((n + 1) * dim > codes.length)
          codes = java.util.Arrays.copyOf(codes, math.min(cap, math.max(2 * n, 16)) * dim)
        System.arraycopy(c, 0, codes, n * dim, dim)
        ids(n) = id
        n += 1
      }
    }
    flush()
    out.iterator
  }

  def idAt(r: InternalRow, idIsInt: Boolean): Long = {
    if (r.isNullAt(0)) throw new IllegalArgumentException("quant store row with a NULL id")
    if (idIsInt) r.getInt(0).toLong else r.getLong(0)
  }

  /** Checks the column types of an `(id, code)` store and says whether
    * its ids are ints (they travel as a block's `long` ids).
    */
  def idIsInt(id: DataType, code: DataType): Boolean = {
    require(code == BinaryType, s"a quant store's code must be binary, got ${code.simpleString}")
    id match {
      case LongType => false
      case IntegerType => true
      case other => throw new IllegalArgumentException(
        s"a quant store's id must be int or bigint, got ${other.simpleString}")
    }
  }

  /** The block source behind a frame's leaves, if it is a preloaded frame. */
  def of(plan: LogicalPlan): Seq[CodeBlockRows] =
    plan.collectLeaves().collect { case l: LogicalRDD => l.rdd }.collect { case r: CodeBlockRows => r }
}

/** The certificate of [[Quantizer.certifiedTopK]] over code distances:
  * `bound` is B, and a shortlist holds at most `cap` ids.
  */
final case class Certificate(bound: Double, cap: Int) {

  /** thr(T) = ⌈(√T + 2B)²·(1 + 1e-12)⌉: every true top-k row has a code
    * distance of at most thr(T) when T is the k-th smallest. The float
    * slack can only widen it; T = +∞ gives +∞.
    */
  def threshold(t: Double): Double =
    math.ceil(StrictMath.pow(math.sqrt(t) + 2.0 * bound, 2.0) * (1.0 + 1e-12))

  /** The shortlist from every partition's [[CertificateSink]] rows: the
    * global T is the k-th smallest of them, and the shortlist is every row
    * within thr(T), as sorted ids. None when it holds more than `cap` ids.
    */
  def shortlist(k: Int, parts: Array[(Array[Double], Array[Long])]): Option[Array[Long]] = {
    val top = CodePass.merge(k, parts)
    val thr = threshold(if (top.size == k) top.worst else Double.PositiveInfinity)
    val out = Array.newBuilder[Long]
    var n = 0L
    parts.foreach { case (ds, ids) =>
      var i = 0
      while (i < ds.length && ds(i) <= thr) { if (n < cap) out += ids(i); n += 1; i += 1 }
    }
    if (n > cap) None else Some(out.result().sorted)
  }
}

/** One partition's certificate candidates, in one pass: the k smallest
  * code distances give the partition's own k-th distance T_p, and every
  * row within thr(T_p) is returned. A row is kept when it arrives within
  * thr of the k-th distance so far, which only falls towards T_p. The
  * global T is at most any full partition's T_p and thr is monotone, so
  * this is a superset of the partition's share of the global shortlist.
  * At most max(cap + 1, k) rows are kept, the smallest: enough for the
  * driver to see a shortlist over its cap.
  */
final class CertificateSink(k: Int, c: Certificate) extends DistanceSink {
  private val top = new TopKHeap(k)
  private val kept = new TopKHeap(math.max(c.cap + 1, k))
  private var t = Double.PositiveInfinity
  private var thr = Double.PositiveInfinity

  override def offer(dist: Double, id: Long): Unit = {
    top.offer(dist, id)
    if (top.size == k && top.worst != t) { t = top.worst; thr = c.threshold(t) }
    if (dist <= thr) kept.offer(dist, id)
  }

  override def drainSorted(): (Array[Double], Array[Long]) = {
    val (ds, ids) = kept.drainSorted()
    var n = 0
    while (n < ds.length && ds(n) <= thr) n += 1
    (java.util.Arrays.copyOf(ds, n), java.util.Arrays.copyOf(ids, n))
  }
}

/** One partition's pass over its codes: each code's distance to the
  * probe goes into a k-slot heap, or into a [[CertificateSink]] when a
  * certificate is given. A named class, not a closure:
  * `SparkContext.clean` returns at once for it, where a lambda costs an
  * ASM pass over its capturing class on every query.
  */
abstract class CodePassTask[T](probe: Array[Byte], k: Int, metric: Metric, signed: Boolean,
                               certificate: Option[Certificate], scanned: SQLMetric, blocksRead: SQLMetric)
    extends ((TaskContext, Iterator[T]) => (Array[Double], Array[Long])) with Serializable {

  protected def scan(it: Iterator[T], sink: DistanceSink): Unit

  /** The code at `off` against the probe, over their common prefix like `code_distance`. */
  protected def distance(codes: Array[Byte], off: Int, dim: Int): Double =
    Distances.intKernel(codes, off, probe, 0, math.min(dim, probe.length), metric, signed)

  protected def count(rows: Long, blocks: Long): Unit = { scanned.add(rows); blocksRead.add(blocks) }

  override def apply(ctx: TaskContext, it: Iterator[T]): (Array[Double], Array[Long]) = {
    val sink = certificate.fold[DistanceSink](new TopKHeap(k))(new CertificateSink(k, _))
    scan(it, sink)
    sink.drainSorted()
  }
}

final class BlockPassTask(probe: Array[Byte], k: Int, metric: Metric, signed: Boolean,
                          certificate: Option[Certificate], scanned: SQLMetric, blocksRead: SQLMetric)
    extends CodePassTask[CodeBlock](probe, k, metric, signed, certificate, scanned, blocksRead) {
  override protected def scan(it: Iterator[CodeBlock], sink: DistanceSink): Unit = it.foreach { b =>
    var i = 0; var off = 0
    while (i < b.ids.length) {
      sink.offer(distance(b.codes, off, b.dim), b.ids(i))
      i += 1; off += b.dim
    }
    count(b.rows, 1)
  }
}

final class RowPassTask(probe: Array[Byte], k: Int, metric: Metric, signed: Boolean, idIsInt: Boolean,
                        certificate: Option[Certificate], scanned: SQLMetric, blocksRead: SQLMetric)
    extends CodePassTask[InternalRow](probe, k, metric, signed, certificate, scanned, blocksRead) {
  override protected def scan(it: Iterator[InternalRow], sink: DistanceSink): Unit = {
    var rows = 0L
    it.foreach { r =>
      rows += 1
      if (!r.isNullAt(1)) {
        val c = r.getBinary(1)
        sink.offer(distance(c, 0, c.length), CodeBlocks.idAt(r, idIsInt))
      }
    }
    count(rows, 0)
  }
}

/** A preloaded frame planned under a code pass: a leaf over its blocks,
  * which the pass scans with the offset kernel, never building a row.
  * Executed on its own it yields the row view.
  */
case class CodeBlocksExec(output: Seq[Attribute], rows: CodeBlockRows) extends LeafExecNode {
  override protected def stringArgs: Iterator[Any] = Iterator(s"blocks=${rows.blockCount}")
  override protected def doExecute(): RDD[InternalRow] = rows
}

object CodePass {

  /** The metrics every code pass reports. */
  def metrics(sc: SparkContext): Map[String, SQLMetric] = Map(
    "rowsScanned" -> SQLMetrics.createMetric(sc, "rows scanned"),
    "blocksRead" -> SQLMetrics.createMetric(sc, "blocks read"))

  /** One job over `source`'s partitions: the blocks of a [[CodeBlocksExec]],
    * or the `(id, code)` rows of any other plan. Returns each partition's
    * sink rows.
    */
  def run(sc: SparkContext, source: SparkPlan, probe: Array[Byte], k: Int, metric: Metric, qType: QType,
          certificate: Option[Certificate], metrics: Map[String, SQLMetric]): Array[(Array[Double], Array[Long])] = {
    val signed = qType == QType.I8
    val (scanned, blocks) = (metrics("rowsScanned"), metrics("blocksRead"))
    source match {
      case b: CodeBlocksExec =>
        sc.runJob(b.rows.blocks, new BlockPassTask(probe, k, metric, signed, certificate, scanned, blocks))
      case rows =>
        sc.runJob(rows.execute(), new RowPassTask(probe, k, metric, signed,
          rows.output.head.dataType == IntegerType, certificate, scanned, blocks))
    }
  }

  /** Every partition's rows offered to one k-slot heap. */
  def merge(k: Int, parts: Array[(Array[Double], Array[Long])]): TopKHeap = {
    val heap = new TopKHeap(k)
    parts.foreach { case (ds, ids) => var i = 0; while (i < ds.length) { heap.offer(ds(i), ids(i)); i += 1 } }
    heap
  }

  /** Sets driver-side metrics and posts them to the running query. */
  def post(sc: SparkContext, values: (SQLMetric, Long)*): Unit = {
    values.foreach { case (m, v) => m.set(v) }
    SQLMetrics.postDriverMetricUpdates(sc, sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), values.map(_._1))
  }
}

/** `vector_quantize_scan` (sqlite-vector.c:2159-2236) as one operator:
  * the k nearest `(id, code)` rows of `child` to `probeCodes` in code
  * space, ties broken by id, NULL codes skipped. Output: the child's id
  * and `distance` (bigint for sq_l2/dot/l1, double for l2/cosine, as
  * `code_distance`).
  */
case class QuantTopK(child: LogicalPlan, probeCodes: Array[Byte], k: Int, metric: Metric,
                     qType: QType, distanceId: ExprId) extends UnaryNode {

  override lazy val output: Seq[Attribute] = Seq(child.output.head,
    AttributeReference("distance", QuantTopK.distanceType(metric), nullable = false)(distanceId))

  // the operator reads both child columns; without this, column pruning
  // would see no references and project the child away
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(output.last)
  override def maxRows: Option[Long] = Some(k.toLong)

  override protected def stringArgs: Iterator[Any] = QuantTopK.args(k, metric, qType)

  override protected def withNewChildInternal(newChild: LogicalPlan): QuantTopK = copy(child = newChild)
}

object QuantTopK {

  def apply(child: LogicalPlan, probeCodes: Array[Byte], k: Int, metric: Metric, qType: QType): QuantTopK =
    QuantTopK(child, probeCodes, math.max(k, 0), metric, qType, NamedExpression.newExprId)

  /** The type of a code distance, the operator's column and
    * [[graft.expressions.CodeDistance]]'s alike: exact Long sums for L2²,
    * L1 and dot, Double for L2 and cosine.
    */
  def distanceType(m: Metric): DataType = m match {
    case Metric.Cosine | Metric.L2 => DoubleType
    case _ => LongType
  }

  /** The explain arguments; the probe's bytes are never printed. */
  private[ops] def args(k: Int, metric: Metric, qType: QType, more: String*): Iterator[Any] =
    (Seq(s"k=$k", s"metric=${metric.name}", s"qtype=${qType.name}") ++ more).iterator

  /** `quantDF`'s analyzed `(id, code)` plan, its column types checked. */
  private[ops] def codeSource(quantDF: DataFrame): LogicalPlan = {
    val plan = quantDF.queryExecution.analyzed
    val codes =
      if (plan.output.map(_.name) == Seq("id", "code")) plan
      else quantDF.select("id", "code").queryExecution.analyzed
    CodeBlocks.idIsInt(codes.output.head.dataType, codes.output(1).dataType)
    codes
  }

  /** A frame over the operator: `quantDF`'s `(id, code)` columns ranked
    * against the quantized probe.
    */
  def frame(quantDF: DataFrame, probeCodes: Array[Byte], k: Int, metric: Metric, qType: QType): DataFrame = {
    val spark = quantDF.sparkSession
    Strategy.install(spark)
    GraftColumnShim.ofRows(spark, QuantTopK(codeSource(quantDF), probeCodes, k, metric, qType))
  }

  /** Plans graft's three top-k nodes, [[KnnTopK]], [[QuantTopK]] and
    * [[CertifiedTopK]], and the [[PreparedScan]] of a prepared one. A code
    * pass scans the blocks when its source is a preloaded frame and the
    * source's rows otherwise; a projection over a rank is applied to its
    * k rows on the driver.
    */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case t: KnnTopK => KnnTopKExec(t.order, t.k, t.output, planLater(t.child)) :: Nil
      case Project(list, t: KnnTopK) => KnnTopKExec(t.order, t.k, list, planLater(t.child)) :: Nil
      case q: QuantTopK => QuantTopKExec(q.output, q.probeCodes, q.k, q.metric, q.qType, source(q.child)) :: Nil
      case c: CertifiedTopK => certified(c, c.rank) :: Nil
      case Project(list, c: CertifiedTopK) => certified(c, Project(list, c.rank)) :: Nil
      case p: PreparedScan => PreparedScanExec(p.output, p.output, p.template.bind(p.binding)) :: Nil
      case Project(list, p: PreparedScan) => PreparedScanExec(list, p.output, p.template.bind(p.binding)) :: Nil
      case _ => Nil
    }

    private def certified(c: CertifiedTopK, rank: LogicalPlan): SparkPlan =
      CertifiedTopKExec(c.probeCodes.value.asInstanceOf[Array[Byte]], c.k, c.qType, c.certificate, c.slot,
        source(c.codes), planLater(rank))

    private def source(codes: LogicalPlan): SparkPlan = codes match {
      case l: LogicalRDD => CodeBlocks.of(l).headOption.fold(planLater(l))(CodeBlocksExec(l.output, _))
      case other => planLater(other)
    }

    /** Adds the strategy to a session once. Sessions built with
      * `GraftExtensions` have it already; any other session gets it from
      * its first top-k.
      */
    def install(spark: SparkSession): Unit = synchronized {
      val e = spark.experimental
      if (!e.extraStrategies.contains(this)) e.extraStrategies = e.extraStrategies :+ this
    }
  }
}

/** [[QuantTopK]]: one code pass with a k-slot heap per task, and the
  * merge of the per-partition heaps on the driver. The result is one
  * partition, sorted by (distance, id).
  */
case class QuantTopKExec(output: Seq[Attribute], probeCodes: Array[Byte], k: Int, metric: Metric,
                         qType: QType, child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = CodePass.metrics(sparkContext) +
    ("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def stringArgs: Iterator[Any] = QuantTopK.args(k, metric, qType)

  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(output(1), Ascending), SortOrder(output.head, Ascending))

  override def executeCollect(): Array[InternalRow] = {
    if (k == 0) return Array.empty
    val (ds, ids) =
      CodePass.merge(k, CodePass.run(sparkContext, child, probeCodes, k, metric, qType, None, metrics)).drainSorted()
    CodePass.post(sparkContext, longMetric("numOutputRows") -> ds.length.toLong)
    val idIsInt = output.head.dataType == IntegerType
    val isLong = output(1).dataType == LongType
    val w = new UnsafeRowWriter(2)
    Array.tabulate[InternalRow](ds.length) { i =>
      w.reset(); w.zeroOutNullBytes()
      if (idIsInt) w.write(0, ids(i).toInt) else w.write(0, ids(i))
      if (isLong) w.write(1, ds(i).toLong) else w.write(1, ds(i))
      w.getRow.copy()
    }
  }

  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(newChild: SparkPlan): QuantTopKExec = copy(child = newChild)
}
