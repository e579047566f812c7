package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, length, size, sum}

import graft.{ElemType, Metric, QType, QuantParams}
import graft.codec.VectorCodec
import graft.kernels.{Distances, Quantize}
import graft.ops.{Knn, Quantizer}

/** Probes the benchmark runs against single layers, outside the
  * workloads' timed ops.
  */
object Layers {

  /** Nanoseconds per call of `f` over `n` inputs, single thread: one
    * untimed pass, then the median of five timed passes.
    */
  private def nsPerCall(n: Int)(f: Int => Double): Double = {
    var sink = 0.0
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    pass()
    val r = Stats.median(Seq.fill(5)(pass()))
    if (sink == Double.MinValue) println(sink)
    r
  }

  /** The kernels called directly at the workloads' dimension. */
  def kernels(seed: Long, dim: Int): Seq[(String, Double)] = {
    val n = 4096
    val rs = Gen.rng(seed, 11L, 0L)
    val fa = Array.fill(n)(Array.fill(dim)(rs.nextDouble(-1.0, 1.0).toFloat))
    val probe = fa(0)
    val i8 = Array.fill(n)(Array.fill(dim)(rs.nextInt(-127, 128).toByte))
    val u8 = Array.fill(n)(Array.fill(dim)(rs.nextInt(0, 256).toByte))
    val i8Kernel = Distances.onPacked(Metric.SquaredL2, ElemType.I8) _
    val u8Kernel = Distances.onPacked(Metric.SquaredL2, ElemType.U8) _
    val p = Quantize.params(QType.I8, -1.0, 1.0, hasNegative = true, n.toLong)
    Seq(
      "kernels.sq_l2_i8_ns" -> nsPerCall(n)(i => i8Kernel(i8(i), i8(0)).toDouble),
      "kernels.sq_l2_u8_ns" -> nsPerCall(n)(i => u8Kernel(u8(i), u8(0)).toDouble),
      "kernels.l2_double_ns" -> nsPerCall(n)(i => Distances.l2Double(fa(i), probe)),
      "kernels.quantize_codes_ns" -> nsPerCall(n)(i => Quantize.codes(fa(i), p)(0).toDouble))
  }

  /** Microseconds to parse one probe given as JSON text. */
  def parseJsonUs(probe: Array[Float]): Double = {
    val json = probeJson(probe)
    nsPerCall(2000)(_ => VectorCodec.parseJson(json, probe.length)(0).toDouble) / 1e3
  }

  def probeJson(v: Array[Float]): String = v.map(java.lang.Float.toString).mkString("[", ",", "]")

  /** Rows per second of a distance-only job, the best of three. */
  private def rowsPerSec(rows: Long)(job: => Any): Double = {
    val secs = Seq.fill(3) {
      val t0 = System.nanoTime(); job; (System.nanoTime() - t0) / 1e9
    }
    rows / secs.min
  }

  /** Throughput of the codegen'd stages over a code store. */
  def codeStages(codes: DataFrame, probe: Array[Float], p: QuantParams, rows: Long): Seq[(String, Double)] = Seq(
    "expressions.code_scan_rows_per_s" ->
      rowsPerSec(rows)(codes.agg(sum(length(col("code")))).collect()),
    "expressions.code_distance_rows_per_s" ->
      rowsPerSec(rows)(Quantizer.quantStream(codes, probe, p, "sq_l2").agg(sum(col("distance"))).collect()))

  /** Throughput of the codegen'd stages over an f32 store. */
  def vecStages(base: DataFrame, probe: Array[Float], rows: Long): Seq[(String, Double)] = Seq(
    "expressions.vec_scan_rows_per_s" ->
      rowsPerSec(rows)(base.agg(sum(size(col("vec")))).collect()),
    "expressions.vec_distance_rows_per_s" ->
      rowsPerSec(rows)(Knn.distanceStream(base, "id", "vec", probe, "l2").agg(sum(col("distance"))).collect()))

  /** Walks executed plans, including adaptive query stages and subqueries. */
  object Plans extends AdaptiveSparkPlanHelper {
    def nodes(df: DataFrame): Seq[SparkPlan] =
      collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

    /** Rows that passed the certificate's code-distance threshold filter. */
    def shortlistRows(df: DataFrame): Long =
      nodes(df).collect {
        case f: FilterExec if f.condition.exists(_.isInstanceOf[graft.expressions.CodeDistance]) ||
            f.condition.references.exists(_.name == "cd") =>
          f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum

    def scansCache(df: DataFrame): Boolean = nodes(df).exists(_.isInstanceOf[InMemoryTableScanExec])

    def filesRead(df: DataFrame): Long =
      nodes(df).collect { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }
}
