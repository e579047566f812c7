package graft.ops

import org.apache.spark.sql.{DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.rdd.RDD

import graft.{Metric, QuantParams}
import graft.expressions.ShortlistIds

/** An object compared by identity inside a [[PlanKey]]: a session, or a
  * file listing that a fresh read of the same path replaces.
  */
private[ops] final class Ref(val o: AnyRef) {
  override def equals(other: Any): Boolean = other match {
    case r: Ref => r.o eq o
    case _ => false
  }
  override def hashCode: Int = System.identityHashCode(o)
}

/** A frame's plan as a key: its canonicalized analyzed plan and the file
  * listings its scans read.
  */
private[ops] final case class SourceKey(plan: LogicalPlan, files: Seq[Ref])

/** What a prepared plan is built from: the session and the SQL conf it
  * was planned under, the store, the ranked columns, k and the metric
  * and, for the certified plan, the code store, its params and the
  * shortlist cap.
  */
private[ops] final case class PlanKey(session: Ref, conf: Map[String, String], store: SourceKey, idCol: String,
                                      vecCol: String, k: Int, metric: Metric, codes: Option[SourceKey],
                                      params: Option[QuantParams], cap: Int)

/** The values one call binds into a prepared plan: the f32 probe and, for
  * the certified plan, the probe's codes and its [[Certificate]].
  * Literals compare by value, so two bindings of one probe are equal.
  */
private[graft] final case class Binding(probe: Literal, codes: Option[(Literal, Certificate)])

/** A prepared physical plan and the two per-call values inside it: the
  * probe literal and the shortlist slot. [[bind]] copies it with a new
  * probe; the copy shares the plan's leaf scans, whose input RDDs and
  * broadcast Hadoop conf are built once, and nothing else.
  */
private[graft] final class Template private (val plan: SparkPlan, probe: Literal, slot: ShortlistIds) {

  def output: Seq[Attribute] = plan.output

  def bind(b: Binding): SparkPlan = {
    val fresh = ShortlistIds.fresh()
    def copy(p: SparkPlan): SparkPlan =
      if (p.children.isEmpty) { if (Template.shared(p)) p else p.clone() }
      else Template.rebuilt(p, p.children.map(copy)).transformExpressions {
        case l: Literal if l eq probe => b.probe
        case s: ShortlistIds if s eq slot => fresh
      } match {
        case c: CertifiedTopKExec =>
          val (codes, cert) = b.codes.get
          c.copy(probeCodes = codes.value.asInstanceOf[Array[Byte]], certificate = cert)
        case other => other
      }
    copy(plan)
  }
}

private[graft] object Template {

  /** The template of a prepared plan built around `probe` and `slot`, if
    * it can be re-run with a new binding: no exchange, adaptive plan,
    * subquery or cached-relation scan, the probe literal found, and a
    * test binding that shares only the leaf scans.
    */
  def of(plan: SparkPlan, probe: Literal, slot: ShortlistIds, b: Binding): Option[Template] = {
    val stateful = plan.exists {
      case _: Exchange | _: AdaptiveSparkPlanExec | _: InMemoryTableScanExec => true
      case p => p.subqueries.nonEmpty
    }
    if (stateful || !plan.exists(_.expressions.exists(_.exists(_ eq probe)))) return None
    val t = new Template(plan, probe, slot)
    val mine = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    plan.foreach(mine.add)
    if (t.bind(b).exists(p => mine.contains(p) && !shared(p))) None else Some(t)
  }

  /** A leaf a binding keeps: one that generated code never produces into.
    * Whole-stage codegen sets `parent` on every node it generates, so
    * two concurrent bindings must not share such a node.
    */
  private[ops] def shared(p: SparkPlan): Boolean =
    p.children.isEmpty && (!p.isInstanceOf[CodegenSupport] || p.supportsColumnar)

  /** A new instance of `p` over `kids`: `withNewChildren` keeps `p` when
    * the new children equal the old.
    */
  private def rebuilt(p: SparkPlan, kids: Seq[SparkPlan]): SparkPlan = {
    val swap = new java.util.IdentityHashMap[SparkPlan, SparkPlan]()
    p.children.zip(kids).foreach { case (o, n) => swap.put(o, n) }
    def arg(a: Any): AnyRef = a match {
      case c: SparkPlan if swap.containsKey(c) => swap.get(c)
      case s: Seq[_] => s.map(arg)
      case other => other.asInstanceOf[AnyRef]
    }
    val q = p.makeCopy(p.productIterator.map(arg).toArray)
    q.copyTagsFrom(p)
    q
  }
}

/** A frame over a [[Template]] bound to one call: planned as a
  * [[PreparedScanExec]] over a fresh binding, shown with the template's
  * top node. Two frames of one template and one binding are equal.
  */
private[graft] case class PreparedScan(output: Seq[Attribute], template: Template, binding: Binding, k: Int)
    extends LeafNode with MultiInstanceRelation {
  override def maxRows: Option[Long] = Some(math.max(k, 0).toLong)
  override def computeStats(): Statistics = {
    val rows = BigInt(math.max(k, 0))
    Statistics(EstimationUtils.getOutputSize(output, rows), Some(rows))
  }
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override protected def stringArgs: Iterator[Any] =
    Iterator(output, template.plan.simpleString(SQLConf.get.maxToStringFields))
}

/** A bound template, with the projection above it if any applied to its
  * rows on the driver. Its child was prepared when the template was
  * built: preparing it again would nest one whole-stage stage inside
  * another, and cloning it would rebuild the shared scans, so the node
  * keeps its child through both.
  */
private[graft] case class PreparedScanExec(projectList: Seq[NamedExpression], input: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  override def executeCollect(): Array[InternalRow] = KnnTopKExec.project(child.executeCollect(), projectList, input)

  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(executeCollect().toSeq, 1)

  override def clone(): SparkPlan = {
    val c = copy()
    c.copyTagsFrom(this)
    c
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PreparedScanExec = this
}

/** The per-session cache of prepared exact plans behind [[Knn.fullScan]],
  * [[Quantizer.certifiedTopK]] and the SQL scans. The key names its
  * session, so no session reads another's plans.
  *
  * A key gets a template on its second call: a key that is never called
  * again (a fresh `spark.read.parquet` per query, a SQL view over a path
  * that re-lists its files on every analysis) pays only its key, and it
  * pushes no template out.
  */
private[graft] object Prepared {

  /** At most this many templates, and this many keys without one, the least
    * recently used dropped first. A key that comes back only after more
    * other keys than this would have lost its template before its return,
    * so it gets none. An exact serving round uses 2 keys (perfbench's
    * `exact_serve_10k768`: `Knn.fullScan`, and `certifiedTopK` with the
    * `vector_scan` over the same views); a template is one physical plan,
    * and its scans hold their file listings.
    */
  final val MaxTemplates = 16

  private def lru[V]: java.util.LinkedHashMap[PlanKey, V] =
    new java.util.LinkedHashMap[PlanKey, V](MaxTemplates, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[PlanKey, V]): Boolean = size > MaxTemplates
    }

  private val templates = lru[Template]
  /** Keys without a template: true once seen, false once their plan could not be kept. */
  private val seen = lru[java.lang.Boolean]

  /** `df` as a key: a fresh read of a rewritten path lists new files and
    * so makes a new key, where its analyzed plan alone would compare equal.
    */
  private def source(df: DataFrame): SourceKey = {
    val plan = df.queryExecution.analyzed
    SourceKey(plan.canonicalized, plan.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => new Ref(h.location) })
  }

  private[ops] def key(store: DataFrame, idCol: String, vecCol: String, k: Int, metric: Metric,
                       codes: Option[(DataFrame, QuantParams, Int)] = None): PlanKey =
    PlanKey(new Ref(store.sparkSession), store.sparkSession.conf.getAll, source(store), idCol, vecCol, k, metric,
      codes.map(c => source(c._1)), codes.map(_._2), codes.fold(0)(_._3))

  /** The frame for `key` bound to `b`. A miss builds the frame with
    * `build` (given the probe literal and a shortlist slot) and returns
    * it; on the key's second miss it also prepares the frame and keeps its
    * plan as the key's template, when that plan can be re-run. A key whose
    * plan cannot is not tried again while it is remembered.
    */
  private[ops] def frame(key: PlanKey, b: Binding)(build: (Literal, ShortlistIds) => DataFrame): DataFrame =
    templates.synchronized(Option(templates.get(key))) match {
      case Some(t) =>
        GraftColumnShim.ofRows(key.session.o.asInstanceOf[SparkSession],
          PreparedScan(t.output.map(_.newInstance()), t, b, key.k))
      case None =>
        val slot = ShortlistIds.fresh()
        val df = build(b.probe, slot)
        if (java.lang.Boolean.TRUE.equals(seen.synchronized(seen.putIfAbsent(key, true))))
          Template.of(df.queryExecution.executedPlan, b.probe, slot, b) match {
            case Some(t) =>
              templates.synchronized(templates.put(key, t))
              seen.synchronized(seen.remove(key))
            case None => seen.synchronized(seen.put(key, false))
          }
        df
    }

  /** Drops every template that scans one of `blocks`, once they are released. */
  private[ops] def release(blocks: Seq[CodeBlockRows]): Unit = templates.synchronized {
    templates.values.removeIf(_.plan.exists {
      case c: CodeBlocksExec => blocks.exists(_ eq c.rows)
      case _ => false
    })
  }

  private[graft] def plans: Seq[SparkPlan] = templates.synchronized {
    import scala.jdk.CollectionConverters._
    templates.values.asScala.map(_.plan).toSeq
  }
}
