package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Literal, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project, Sort, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.{Metric, QType}
import graft.expressions.ShortlistIds

/** The exact rank of every vector access path: the first `k` rows of
  * `child` under `order` — `ORDER BY order LIMIT k`, with Spark's own
  * row ordering, so NULLs sort first, NaN last, −0.0 equals 0.0, and ties
  * go to the next key. Planned as [[KnnTopKExec]].
  */
case class KnnTopK(order: Seq[SortOrder], k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = Some(k.toLong)
  override def outputOrdering: Seq[SortOrder] = order
  override def stats: Statistics = KnnTopK.stats(this, k)
  override protected def withNewChildInternal(newChild: LogicalPlan): KnnTopK = copy(child = newChild)
}

object KnnTopK {

  /** `scored`'s first `k` rows by (`dist`, `id`), both ascending. */
  def frame(scored: DataFrame, dist: Column, id: Column, k: Int): DataFrame = {
    val spark = scored.sparkSession
    QuantTopK.Strategy.install(spark)
    // the analyzer resolves the sort keys; a key outside the projection
    // leaves a Project on top that drops it again
    val plan = scored.orderBy(dist.asc, id.asc).queryExecution.analyzed match {
      case Sort(order, true, child, _) => KnnTopK(order, math.max(k, 0), child)
      case Project(list, Sort(order, true, child, _)) => Project(list, KnnTopK(order, math.max(k, 0), child))
      case other => throw new IllegalStateException(s"unexpected sort plan:\n$other")
    }
    GraftColumnShim.ofRows(spark, plan)
  }

  /** At most k rows of the plan's width, as Spark estimates a LIMIT. */
  private[ops] def stats(plan: LogicalPlan, k: Int): Statistics = {
    val child = plan.children.last.stats
    val rows = child.rowCount.fold(BigInt(k))(_.min(k))
    Statistics(EstimationUtils.getOutputSize(plan.output, rows, child.attributeStats), Some(rows))
  }
}

/** One partition's first k rows under `ord`, sorted. A named class, like
  * [[CodePassTask]]: `SparkContext.clean` returns at once for it, where
  * `RDD.takeOrdered`'s three closures each cost an ASM pass per query.
  */
final class RankTask(ord: LazilyGeneratedOrdering, k: Int)
    extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {

  override def apply(ctx: TaskContext, it: Iterator[InternalRow]): Array[InternalRow] = {
    val heap = new java.util.PriorityQueue[InternalRow](math.max(1, math.min(k, 1024)), ord.reverse)
    it.foreach { r =>
      if (heap.size < k) heap.add(r.copy())
      else if (ord.compare(r, heap.peek) < 0) { heap.poll(); heap.add(r.copy()) }
    }
    heap.toArray(new Array[InternalRow](0)).sorted(ord)
  }
}

/** [[KnnTopK]], with the projection above it if any: one job whose
  * [[RankTask]] keeps a bounded heap per partition, and the merge of the
  * heaps on the driver. The row ordering is generated from the sort keys
  * alone, so no per-query value reaches generated source.
  */
case class KnnTopKExec(order: Seq[SortOrder], k: Int, projectList: Seq[NamedExpression], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = order.takeWhile(_.references.subsetOf(outputSet))

  override protected def stringArgs: Iterator[Any] = Iterator(s"k=$k", order.mkString("[", ", ", "]"))

  override def executeCollect(): Array[InternalRow] = {
    if (k == 0) return Array.empty
    val ord = new LazilyGeneratedOrdering(order, child.output)
    KnnTopKExec.project(sparkContext.runJob(child.execute(), new RankTask(ord, k)).flatten.sorted(ord).take(k),
      projectList, child.output)
  }

  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(newChild: SparkPlan): KnnTopKExec = copy(child = newChild)
}

object KnnTopKExec {

  /** `rows` of `input` under `projectList`, on the driver. */
  private[ops] def project(rows: Array[InternalRow], projectList: Seq[NamedExpression],
                           input: Seq[Attribute]): Array[InternalRow] =
    if (projectList == input) rows
    else {
      val proj = UnsafeProjection.create(projectList, input)
      proj.initialize(0)
      rows.map(r => proj(r).copy())
    }
}

/** [[Quantizer.certifiedTopK]] as one node: a code pass over `codes` (an
  * `(id, code)` plan) under `certificate` yields the shortlist, and
  * `rank` — the exact rank of the full-precision rows whose id is in it,
  * read through `slot` — gives the answer. `probeCodes` is a binary
  * literal, so two plans for one probe and one slot are equal.
  */
case class CertifiedTopK(codes: LogicalPlan, rank: LogicalPlan, probeCodes: Literal, k: Int, qType: QType,
                         certificate: Certificate, slot: ShortlistIds) extends BinaryNode {
  override def left: LogicalPlan = codes
  override def right: LogicalPlan = rank
  override def output: Seq[Attribute] = rank.output
  // the code pass reads both code columns: keep column pruning out of both sides
  override def references: AttributeSet = inputSet
  override def maxRows: Option[Long] = Some(k.toLong)
  override def stats: Statistics = KnnTopK.stats(this, k)

  override protected def stringArgs: Iterator[Any] =
    QuantTopK.args(k, Metric.SquaredL2, qType, s"cap=${certificate.cap}")

  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): CertifiedTopK =
    copy(codes = l, rank = r)
}

object CertifiedTopK {

  /** The certified frame: `quantDF`'s codes shortlist the rows of `rank`,
    * a rank whose filter reads `slot`.
    */
  def frame(quantDF: DataFrame, rank: DataFrame, probeCodes: Array[Byte], k: Int, qType: QType,
            certificate: Certificate, slot: ShortlistIds): DataFrame = {
    QuantTopK.Strategy.install(quantDF.sparkSession)
    GraftColumnShim.ofRows(quantDF.sparkSession, CertifiedTopK(QuantTopK.codeSource(quantDF),
      rank.queryExecution.analyzed, Literal(probeCodes), k, qType, certificate, slot))
  }
}

/** [[CertifiedTopK]] in two jobs. The code pass keeps, per partition,
  * the rows within thr of that partition's own k-th code distance; the
  * driver merges them into the shortlist and publishes it to `slot`,
  * which the rank's filter reads, before the rank runs. A shortlist over
  * its cap publishes NULL, which admits every row: the rank is then an
  * exact pass over every vector.
  */
case class CertifiedTopKExec(probeCodes: Array[Byte], k: Int, qType: QType, certificate: Certificate,
                             slot: ShortlistIds, codes: SparkPlan, rank: SparkPlan) extends BinaryExecNode {
  override def left: SparkPlan = codes
  override def right: SparkPlan = rank
  override def output: Seq[Attribute] = rank.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = rank.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = CodePass.metrics(sparkContext) ++ Map(
    "candidates" -> SQLMetrics.createMetric(sparkContext, "candidates returned"),
    "shortlistRows" -> SQLMetrics.createMetric(sparkContext, "shortlist rows"),
    "overflowed" -> SQLMetrics.createMetric(sparkContext, "shortlist overflowed"))

  override protected def stringArgs: Iterator[Any] =
    QuantTopK.args(k, Metric.SquaredL2, qType, s"cap=${certificate.cap}")

  override def executeCollect(): Array[InternalRow] = {
    val parts = CodePass.run(sparkContext, codes, probeCodes, k, Metric.SquaredL2, qType, Some(certificate), metrics)
    val ids = certificate.shortlist(k, parts)
    CodePass.post(sparkContext, longMetric("candidates") -> parts.map(_._2.length.toLong).sum,
      longMetric("shortlistRows") -> ids.fold(0L)(_.length.toLong),
      longMetric("overflowed") -> (if (ids.isEmpty) 1L else 0L))
    // the rank's filter reads the ids when its stage is generated or its
    // tasks are serialized, both after this
    slot.ids = ids.orNull
    rank.executeCollect()
  }

  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): CertifiedTopKExec =
    copy(codes = l, rank = r)
}
