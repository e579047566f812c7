package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.DataType

/** Execution-time machinery for the lifecycle SQL functions
  * (`vector_init` / `vector_quantize` / `vector_quantize_preload` /
  * `vector_quantize_cleanup`).
  *
  * The reference runs these side effects when the statement EXECUTES
  * (sqlite-vector.c:2581-2597 registers plain scalar functions; SQLite
  * evaluates them on `sqlite3_step`, never on prepare). A naive Spark
  * registration would run them inside the function *builder* — i.e. at
  * analysis time — so `EXPLAIN SELECT vector_quantize_cleanup(...)` would
  * actually delete the store, a cached view would re-quantize on every
  * re-resolution, and a statement that later fails analysis would already
  * have rebuilt the store. Instead:
  *
  *  1. the builder parses and validates arguments (pure, fail-fast) and
  *     returns a [[LifecycleCall]] — a non-foldable, non-deterministic
  *     expression carrying the side effect as a thunk. Analysis and
  *     EXPLAIN never invoke the thunk;
  *  2. [[LifecycleExecutionRule]] rewrites the canonical statement shape
  *     `SELECT lifecycle_fn(...)` (a `Project` over `OneRowRelation`) into
  *     [[RunLifecycleCommand]], a `LeafRunnableCommand`. Commands execute
  *     their `run()` on the DRIVER when the statement's result is first
  *     requested — cluster-safe (the thunk can launch Spark jobs) and
  *     still lazy under EXPLAIN, whose plan string renders the unexecuted
  *     command;
  *  3. if a call appears OUTSIDE that shape (embedded in a row-producing
  *     query), [[LifecycleCall.eval]] runs the thunk where the row is
  *     evaluated — in `local[*]` that is the driver JVM and works; in a
  *     multi-executor deployment the executor JVM has no SparkSession and
  *     the call fails with a clear message directing to the standalone
  *     statement form (which is also the only form the reference's own
  *     examples use, API.md:93-118).
  */
object Lifecycle {

  private[sql] def activeSession(fn: String): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).getOrElse(
      throw new IllegalStateException(
        s"$fn() executes on the driver: no SparkSession exists in this JVM. On a cluster, " +
          s"run it as a standalone statement — spark.sql(\"SELECT $fn(...)\") — which plans " +
          "as a driver-side command, or use the Scala API (graft.ops.Quantizer / " +
          "graft.catalog.VectorCatalog)."))
}

/** A lifecycle function call: the side effect as an execution-time thunk.
  *
  * Non-foldable and non-deterministic so no optimizer rule (constant
  * folding, local-relation conversion, common-subexpression reuse) can
  * evaluate or merge it before execution. The thunk returns the EXTERNAL
  * result value (the reference's return: NULL, or the quantized row
  * count); `eval` converts to the Catalyst representation, the command
  * path ([[RunLifecycleCommand]]) takes it as-is.
  *
  * The memo keeps one thunk run per expression instance per JVM — a
  * multi-row evaluation in one task runs the side effect once, matching
  * the reference's idempotent lifecycle semantics rather than hammering
  * the store per row. It is `@transient`, so each deserialized task copy
  * re-runs the (idempotent) thunk — which only matters in the embedded
  * shape that the scaladoc above already scopes to local mode.
  */
case class LifecycleCall(fnName: String, resultType: DataType, thunk: () => Any)
    extends LeafExpression with CodegenFallback {

  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = fnName
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false

  @transient private lazy val memo: Any = thunk()
  @transient private lazy val toCatalyst = CatalystTypeConverters.createToCatalystConverter(resultType)

  /** Driver-side execution (command path): the external result value. */
  def run(): Any = memo

  override def eval(input: InternalRow): Any = toCatalyst(memo)
}

/** The executed form of `SELECT lifecycle_fn(...)`: runs each call's thunk
  * on the driver at command execution and returns the single result row.
  * Non-lifecycle expressions in the same projection evaluate normally.
  * The output names are kept apart from the values: `CleanupAliases`
  * strips every alias from a node that is not a Project, and
  * `FoldablePropagation` runs it in the operator batch that holds a rule
  * injected through `SparkSessionExtensions`.
  */
case class RunLifecycleCommand(override val output: Seq[Attribute], values: Seq[Expression])
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = Seq(Row.fromSeq(values.map {
    case c: LifecycleCall => c.run()
    case other => CatalystTypeConverters.convertToScala(other.eval(InternalRow.empty), other.dataType)
  }))
}

/** Rewrites the standalone lifecycle statement shape into the driver-side
  * command: in the operator batch of the optimizer when injected through
  * `GraftExtensions`, at its tail through
  * `spark.experimental.extraOptimizations`. No rule reorders a leaf
  * command; EXPLAIN renders it unexecuted.
  */
object LifecycleExecutionRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Project(projectList, _: OneRowRelation)
        if projectList.exists(_.exists(_.isInstanceOf[LifecycleCall])) =>
      RunLifecycleCommand(projectList.map(_.toAttribute), projectList.map {
        case Alias(c, _) => c
        case e => e
      })
  }
}
