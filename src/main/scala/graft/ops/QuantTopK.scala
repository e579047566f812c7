package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, ExprId, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, LogicalRDD, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, LongType}

import graft.{Metric, QType}
import graft.kernels.{Distances, TopKHeap}

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

/** One partition's top-k as (distances, ids), ascending. A named class,
  * not a closure: `SparkContext.clean` returns at once for it, where a
  * lambda costs an ASM pass over its capturing class on every query.
  */
abstract class TopKTask[T](probe: Array[Byte], k: Int, metric: Metric, signed: Boolean,
                           scanned: SQLMetric, blocksRead: SQLMetric)
    extends ((TaskContext, Iterator[T]) => (Array[Double], Array[Long])) with Serializable {

  protected def scan(it: Iterator[T], heap: TopKHeap): Unit

  /** The code at `off` against the probe, over their common prefix like `code_distance`. */
  protected def distance(codes: Array[Byte], off: Int, dim: Int): Double =
    Distances.intKernel(codes, off, probe, 0, math.min(dim, probe.length), metric, signed)

  protected def count(rows: Long, blocks: Long): Unit = { scanned.add(rows); blocksRead.add(blocks) }

  override def apply(ctx: TaskContext, it: Iterator[T]): (Array[Double], Array[Long]) = {
    val heap = new TopKHeap(k)
    scan(it, heap)
    heap.drainSorted()
  }
}

final class BlockTopKTask(probe: Array[Byte], k: Int, metric: Metric, signed: Boolean,
                          scanned: SQLMetric, blocksRead: SQLMetric)
    extends TopKTask[CodeBlock](probe, k, metric, signed, scanned, blocksRead) {
  override protected def scan(it: Iterator[CodeBlock], heap: TopKHeap): Unit = it.foreach { b =>
    var i = 0; var off = 0
    while (i < b.ids.length) {
      heap.offer(distance(b.codes, off, b.dim), b.ids(i))
      i += 1; off += b.dim
    }
    count(b.rows, 1)
  }
}

final class RowTopKTask(probe: Array[Byte], k: Int, metric: Metric, signed: Boolean, idIsInt: Boolean,
                        scanned: SQLMetric, blocksRead: SQLMetric)
    extends TopKTask[InternalRow](probe, k, metric, signed, scanned, blocksRead) {
  override protected def scan(it: Iterator[InternalRow], heap: TopKHeap): Unit = {
    var rows = 0L
    it.foreach { r =>
      rows += 1
      if (!r.isNullAt(1)) {
        val c = r.getBinary(1)
        heap.offer(distance(c, 0, c.length), CodeBlocks.idAt(r, idIsInt))
      }
    }
    count(rows, 0)
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

  def distanceType(m: Metric): DataType = m match {
    case Metric.Cosine | Metric.L2 => DoubleType
    case _ => LongType
  }

  /** The explain arguments; the probe's bytes are never printed. */
  private[ops] def args(k: Int, metric: Metric, qType: QType, more: String*): Iterator[Any] =
    (Seq(s"k=$k", s"metric=${metric.name}", s"qtype=${qType.name}") ++ more).iterator

  /** A frame over the operator: `quantDF`'s `(id, code)` columns ranked
    * against the quantized probe.
    */
  def frame(quantDF: DataFrame, probeCodes: Array[Byte], k: Int, metric: Metric, qType: QType): DataFrame = {
    val spark = quantDF.sparkSession
    Strategy.install(spark)
    val plan = quantDF.queryExecution.analyzed
    val child =
      if (plan.output.map(_.name) == Seq("id", "code")) plan
      else quantDF.select("id", "code").queryExecution.analyzed
    CodeBlocks.idIsInt(child.output.head.dataType, child.output(1).dataType)
    GraftColumnShim.ofRows(spark, QuantTopK(child, probeCodes, k, metric, qType))
  }

  /** Plans [[QuantTopK]]: a scan of the blocks when the child is a
    * preloaded frame, a scan of the child's rows otherwise.
    */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case q: QuantTopK =>
        val blocks = q.child match {
          case l: LogicalRDD => CodeBlocks.of(l).headOption
          case _ => None
        }
        blocks match {
          case Some(b) => QuantTopKBlocksExec(q.output, b, q.probeCodes, q.k, q.metric, q.qType) :: Nil
          case None => QuantTopKRowsExec(q.output, q.probeCodes, q.k, q.metric, q.qType, planLater(q.child)) :: Nil
        }
      case _ => Nil
    }

    /** Adds the strategy to a session once. Sessions built with
      * `GraftExtensions` have it already; any other session gets it from
      * its first quantized scan.
      */
    def install(spark: SparkSession): Unit = synchronized {
      val e = spark.experimental
      if (!e.extraStrategies.contains(this)) e.extraStrategies = e.extraStrategies :+ this
    }
  }
}

/** What both physical forms share: one job over the source's partitions
  * with a named task, a k-slot heap per task, and the merge of the
  * per-partition heaps on the driver. The result is one partition,
  * sorted by (distance, id).
  */
trait QuantTopKExecLike extends SparkPlan {
  def probeCodes: Array[Byte]
  def k: Int
  def metric: Metric
  def qType: QType

  protected def signed: Boolean = qType == QType.I8

  /** Runs the job: each partition's top-k. */
  protected def partials(): Array[(Array[Double], Array[Long])]

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "rowsScanned" -> SQLMetrics.createMetric(sparkContext, "rows scanned"),
    "blocksRead" -> SQLMetrics.createMetric(sparkContext, "blocks read"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(output(1), Ascending), SortOrder(output.head, Ascending))

  override def executeCollect(): Array[InternalRow] = {
    if (k == 0) return Array.empty
    val heap = new TopKHeap(k)
    partials().foreach { case (ds, ids) =>
      var i = 0
      while (i < ds.length) { heap.offer(ds(i), ids(i)); i += 1 }
    }
    val (ds, ids) = heap.drainSorted()
    val out = longMetric("numOutputRows")
    out += ds.length
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(out))
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
}

/** [[QuantTopK]] over a preloaded frame: the tasks scan its code blocks
  * with the offset kernel, never building a row.
  */
case class QuantTopKBlocksExec(output: Seq[Attribute], rows: CodeBlockRows, probeCodes: Array[Byte],
                               k: Int, metric: Metric, qType: QType)
    extends LeafExecNode with QuantTopKExecLike {

  override protected def stringArgs: Iterator[Any] =
    QuantTopK.args(k, metric, qType, s"blocks=${rows.blockCount}")

  override protected def partials(): Array[(Array[Double], Array[Long])] =
    sparkContext.runJob(rows.blocks, new BlockTopKTask(probeCodes, k, metric, signed,
      longMetric("rowsScanned"), longMetric("blocksRead")))
}

/** [[QuantTopK]] over any other `(id, code)` plan, an on-disk store say:
  * the tasks scan the child's rows.
  */
case class QuantTopKRowsExec(output: Seq[Attribute], probeCodes: Array[Byte], k: Int,
                             metric: Metric, qType: QType, child: SparkPlan)
    extends UnaryExecNode with QuantTopKExecLike {

  override protected def stringArgs: Iterator[Any] = QuantTopK.args(k, metric, qType, "source=rows")

  override protected def partials(): Array[(Array[Double], Array[Long])] =
    sparkContext.runJob(child.execute(), new RowTopKTask(probeCodes, k, metric, signed,
      output.head.dataType == IntegerType, longMetric("rowsScanned"), longMetric("blocksRead")))

  override protected def withNewChildInternal(newChild: SparkPlan): QuantTopKRowsExec = copy(child = newChild)
}
