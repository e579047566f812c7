package graft.sql

import org.apache.spark.sql.{Column, GraftColumnShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, IntegerType, LongType}

import graft.{ElemType, Metric}
import graft.expressions._
import graft.ops.{Curation, QuantTopK, TextAnalysis}
import graft.sql.{GraftTableFunctions => Builders}

/** One graft SQL function: its name, the argument signature its arity
  * error quotes, and a builder defined on exactly the argument lists the
  * function takes. A scalar or aggregate builds an expression, a table
  * function a plan.
  */
private[graft] sealed abstract class SqlFunction[R](val name: String, val signature: String,
                                                    build: PartialFunction[Seq[Expression], R]) {
  /** What a registry calls: the one arity check, then the builder. */
  val builder: Seq[Expression] => R = args => build.applyOrElse(args, (a: Seq[Expression]) =>
    throw new IllegalArgumentException(s"$name expects $signature, got ${a.size} args"))
}

private[graft] final class ScalarFunction(name: String, signature: String,
                                          build: PartialFunction[Seq[Expression], Expression])
    extends SqlFunction[Expression](name, signature, build)

private[graft] final class TableFunction(name: String, signature: String,
                                         build: PartialFunction[Seq[Expression], LogicalPlan])
    extends SqlFunction[LogicalPlan](name, signature, build)

/** The whole graft SQL surface in one table — the reference registers its
  * scalars, lifecycle functions and scan modules from one entry point
  * (sqlite-vector.c:2581-2597). [[GraftTableFunctions.register]],
  * [[graft.functions.registerSql]] and [[GraftExtensions]] all install
  * it, with the lifecycle statement rewrite and the top-k strategy.
  */
private[graft] object SqlRegistry {

  def strArg(e: Expression, what: String): String = e match {
    case Literal(s, _) if s != null => s.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  /** An integer literal of any type, or its text, within the int range. */
  def intArg(e: Expression, what: String): Int = e match {
    case Literal(v, _) if v != null && v.toString.toLongOption.exists(_.isValidInt) => v.toString.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal in int range, got $other")
  }

  def doubleArg(e: Expression, what: String): Double = e match {
    case Literal(d: Double, DoubleType) => d
    case Literal(dec: Decimal, _: DecimalType) => dec.toDouble
    case Literal(i: Int, IntegerType) => i.toDouble
    case Literal(l: Long, LongType) => l.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  private def scalar(name: String, signature: String)(build: PartialFunction[Seq[Expression], Expression]) =
    new ScalarFunction(name, signature, build)

  private def table(name: String, signature: String)(build: PartialFunction[Seq[Expression], LogicalPlan]) =
    new TableFunction(name, signature, build)

  /** A one-argument scalar. */
  private def unary(name: String, arg: String)(f: Expression => Expression) =
    scalar(name, s"($arg)") { case Seq(x) => f(x) }

  /** A text-cleaning scalar whose column chain is its registration. */
  private def textChain(name: String)(f: Column => Column) =
    unary(name, "text")(t => GraftColumnShim.eagerExpression(f(GraftColumnShim.column(t))))

  /** A vector scan table function `fn(table, column, probeJson, k)`. */
  private def vectorScan(name: String)(plan: Builders.ScanCall => LogicalPlan) =
    table(name, "(table, column, probe, k)") { case Seq(t, c, p, k) => plan(Builders.scanCall(name, t, c, p, k)) }

  private def vectorAs(suffix: String, et: ElemType) = scalar(s"vector_as_$suffix", "(vec[, dim])") {
    case Seq(v) => ToVector(v, et)
    case Seq(v, d) => ToVector(v, et, intArg(d, "dim"))
  }

  // aggregate builders return the bare AggregateFunction — the analyzer
  // wraps it in an AggregateExpression like any built-in SQL aggregate
  val all: Seq[SqlFunction[_]] = Seq(
    scalar("vector_version", "()") { case Seq() => Literal(graft.functions.Version) },
    scalar("vector_backend", "()") { case Seq() => Literal(graft.kernels.Distances.backend()) },
    scalar("vector_distance", "(a, b[, metric])") {
      case Seq(a, b) => VectorDistance(a, b, Metric.L2)
      case Seq(a, b, m) => VectorDistance(a, b, Metric.parse(strArg(m, "metric")))
    },
    vectorAs("f32", ElemType.F32), vectorAs("f16", ElemType.F16), vectorAs("bf16", ElemType.BF16),
    vectorAs("i8", ElemType.I8), vectorAs("u8", ElemType.U8),
    unary("string_hash61", "text")(StringHash61(_)),
    unary("nfc_normalize", "text")(NfcNormalize(_)),
    unary("pcm_stats", "payload")(PcmStatsExpr(_)),
    unary("pcm_fingerprint", "payload")(PcmFingerprintExpr(_, 8)),
    unary("png_pixel_stats", "payload")(PngPixelStatsExpr(_)),
    unary("png_dhash", "payload")(PngDhashExpr(_)),
    unary("gif_frames", "payload")(GifFramesExpr(_)),
    scalar("media_probe", "(payload, declared_type)") { case Seq(p, d) => MediaProbeExpr(p, d) },
    textChain("fix_mojibake")(TextAnalysis.fixMojibake(_)),
    textChain("script_mix")(TextAnalysis.scriptMix(_)),
    textChain("card_redact")(Curation.redactCards(_)),
    scalar("knn_topk", "(distance, id, k)") { case Seq(d, id, k) => TopKPairs(d, id, intArg(k, "k")) },
    scalar("vector_avg", "(vec, dim)") { case Seq(v, d) => VectorAvgFixed(v, intArg(d, "dim")) },
    scalar("random_projection", "(vec, outDim, dim[, seed])") {
      case Seq(v, o, d) => RandomProjection(v, intArg(o, "outDim"), intArg(d, "dim"), 42L)
      case Seq(v, o, d, sd) => RandomProjection(v, intArg(o, "outDim"), intArg(d, "dim"), intArg(sd, "seed").toLong)
    },
    scalar("freq_items_sketch", "(item, k)") { case Seq(item, k) => FreqItemsSketch(item, intArg(k, "k")) },
    scalar("sign_bits", "(vec, dim)") { case Seq(v, d) => SignBits(v, intArg(d, "dim")) },
    scalar("hamming_distance", "(a, b)") { case Seq(a, b) => HammingDistance(a, b) },
    // lifecycle scalars (see GraftTableFunctions)
    scalar("vector_init", "(table, column, options)") { case Seq(t, c, o) => Builders.init(t, c, o) },
    scalar("vector_quantize", "(table, column[, options])") {
      case Seq(t, c) => Builders.quantize(t, c, "")
      case Seq(t, c, o) => Builders.quantize(t, c, strArg(o, "options"))
    },
    scalar("vector_quantize_memory", "(table, column)") { case Seq(t, c) => Builders.memory(t, c) },
    scalar("vector_quantize_preload", "(table, column)") { case Seq(t, c) => Builders.preload(t, c) },
    scalar("vector_quantize_cleanup", "(table, column)") { case Seq(t, c) => Builders.cleanup(t, c) },
    scalar("vector_quantize_append", "(table, column, wave_view)") { case Seq(t, c, w) => Builders.append(t, c, w) },
    scalar("vector_quantize_compact", "(table, column)") { case Seq(t, c) => Builders.compact(t, c) },
    // table functions
    vectorScan("vector_full_scan")(Builders.fullScan),
    vectorScan("vector_quantize_scan")(Builders.quantScan),
    vectorScan("vector_scan")(Builders.autoScan),
    table("near_dup_pairs", "(table, idCol, textCol, threshold)") {
      case Seq(t, id, txt, thr) => Builders.nearDupPairs(t, id, txt, thr)
    },
    table("containment_pairs", "(table, idCol, textCol, shingleN, threshold)") {
      case Seq(t, id, txt, n, thr) => Builders.containmentPairs(t, id, txt, n, thr)
    },
    table("sentence_dedup", "(table, idCol, textCol)") {
      case Seq(t, id, txt) => Builders.sentenceDedup(t, id, txt)
    })

  /** Runtime registration on a live session (the `CREATE FUNCTION`
    * path); the experimental hooks add the rule and the strategy that
    * `inject` adds at session build. A function whose registered builder
    * is already this table's is left as it is, so a repeated call
    * replaces nothing.
    */
  def register(spark: SparkSession): Unit = {
    val (fns, tfns) = (spark.sessionState.functionRegistry, spark.sessionState.tableFunctionRegistry)
    def installed(f: SqlFunction[_], builder: Option[Seq[Expression] => Any]) = builder.exists(_ eq f.builder)
    all.foreach {
      case f: ScalarFunction if !installed(f, fns.lookupFunctionBuilder(FunctionIdentifier(f.name))) =>
        fns.createOrReplaceTempFunction(f.name, f.builder, "scala_udf")
      case f: TableFunction if !installed(f, tfns.lookupFunctionBuilder(FunctionIdentifier(f.name))) =>
        tfns.createOrReplaceTempFunction(f.name, f.builder, "scala_udf")
      case _ =>
    }
    val e = spark.experimental
    if (!e.extraOptimizations.contains(LifecycleExecutionRule))
      e.extraOptimizations = e.extraOptimizations :+ LifecycleExecutionRule
    QuantTopK.Strategy.install(spark)
  }

  /** Session-build registration through `SparkSessionExtensions`. */
  def inject(ext: SparkSessionExtensions): Unit = {
    def info(f: SqlFunction[_]) = new ExpressionInfo(getClass.getCanonicalName, f.name)
    all.foreach {
      case f: ScalarFunction => ext.injectFunction((FunctionIdentifier(f.name), info(f), f.builder))
      case f: TableFunction => ext.injectTableFunction((FunctionIdentifier(f.name), info(f), f.builder))
    }
    ext.injectOptimizerRule(_ => LifecycleExecutionRule)
    ext.injectPlannerStrategy(_ => QuantTopK.Strategy)
  }
}
