package graft.kernels

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.{QType, QuantParams}

/** Global min–max scalar quantization math, replicating
  * sqlite-vector.c:495-515 (q_round_u8/s8: half-away-from-zero rounding
  * with saturation, NaN→0, ±Inf→bounds) and :1258-1272 (AUTO qtype choice
  * + scale/offset formulas), including the empty-table degenerate config
  * (:1172-1178).
  */
object Quantize {

  /** AUTO resolution: any negative value → INT8 (symmetric), else UINT8
    * (asymmetric). sqlite-vector.c:1258-1261.
    */
  def resolveQType(qt: QType, hasNegative: Boolean): QType = qt match {
    case QType.Auto => if (hasNegative) QType.I8 else QType.U8
    case other      => other
  }

  /** scale/offset per sqlite-vector.c:1263-1272; empty input → (U8, 1, 0)
    * per :1172-1178.
    */
  def params(qt: QType, min: Double, max: Double, hasNegative: Boolean, rows: Long): QuantParams = {
    if (rows == 0) return QuantParams(QType.U8, 1.0, 0.0, 0L)
    val resolved = resolveQType(qt, hasNegative)
    resolved match {
      case QType.U8 =>
        // Deliberate divergence: for max==min the reference computes
        // 255/(max-min) = +Inf (no guard at sqlite-vector.c:1266), which
        // makes every constant-valued dataset quantize to garbage. We
        // substitute scale=1 (codes all 0 after offsetting); the DuckDB
        // oracle CTE guards identically, so the two stay consistent.
        val range = max - min
        QuantParams(QType.U8, if (range == 0.0) 1.0 else 255.0 / range, min, rows)
      case QType.I8 =>
        val absMax = math.max(math.abs(min), math.abs(max))
        QuantParams(QType.I8, if (absMax == 0.0) 1.0 else 127.0 / absMax, 0.0, rows)
      case QType.Auto => throw new IllegalStateException("unreachable")
    }
  }

  /** Exact decimal HALF_UP rounding of a double — the slow-but-exact half
    * of [[fastRound]]; literally Spark's `Round`-on-
    * DoubleType semantics (`BigDecimal.valueOf` = shortest-repr decimal).
    */
  def roundHalfUp(x: Double, scale: Int): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  private val Pow10 = Array.tabulate(10)(s => math.pow(10.0, s))

  /** [[roundHalfUp]] at scale 1-9 without its per-row `Double.toString`:
    * the value of [[graft.expressions.FastRound]], from both paths.
    *
    * Fast path: `floor(x·10^s + 0.5) / 10^s` in pure double math. That
    * agrees with the BigDecimal decision whenever `x·10^s` is farther from
    * a .5 boundary than the product/shortest-repr-decimal discrepancy —
    * which is a few ulps of the product, NOT an absolute constant: above
    * ~2^33 one ulp of `x·10^s` exceeds 1e-6, so a fixed guard would let
    * the discrepancy cross a boundary undetected. The guard therefore
    * scales with the magnitude: any value within `max(1e-6, 4·ulp(x·10^s))`
    * of a boundary — plus NaN/±Inf and magnitudes ≥ 4.5e15 where doubles
    * go integer-sparse — takes the exact [[roundHalfUp]] fallback
    * instead. ~2e-6 of uniformly distributed small inputs fall back (the
    * ulp term dominates only above ~8.6e9 where it admits ~2e-15 of
    * inputs); equality with Spark's round is property-tested on
    * boundary-adversarial inputs in BOTH bands (KernelProps).
    */
  def fastRound(x: Double, scale: Int): Double = {
    val pow10 = Pow10(scale)
    val y = x * pow10
    val diff = y - math.floor(y)
    if (!(math.abs(diff - 0.5) >= math.max(1e-6, 4.0 * math.ulp(y))) || math.abs(y) >= 4.5e15)
      roundHalfUp(x, scale)
    else math.floor(y + 0.5) / pow10
  }

  // Both rounds are floor(|v| + 0.5)·signum(v), saturated, NaN → 0. With
  // a = |v| + 0.5 ≥ 0.5, a.toInt truncates, which is floor(a) below the
  // saturation bound; skipping floor and signum takes about a quarter off
  // the time of `codes`.

  /** Half-away-from-zero round + saturate to [0,255]. sqlite-vector.c:495-505. */
  def roundU8(v: Double): Int = {
    if (!(v > 0.0)) return 0 // NaN, ±0 and negatives
    val a = v + 0.5
    if (a >= 255.0) 255 else a.toInt
  }

  /** Half-away-from-zero round + saturate to [-128,127]. sqlite-vector.c:507-515. */
  def roundI8(v: Double): Int = {
    if (v.isNaN) return 0
    val a = math.abs(v) + 0.5
    if (v < 0.0) { if (a >= 128.0) -128 else -a.toInt }
    else if (a >= 127.0) 127 else a.toInt
  }

  /** Quantize one element: code = round((x − offset) × scale), saturated. */
  def code(x: Double, p: QuantParams): Int = p.qType match {
    case QType.U8 => roundU8((x - p.offset) * p.scale)
    case _        => roundI8((x - p.offset) * p.scale)
  }

  /** Quantize a whole vector into signed bytes (u8 codes stored with the
    * usual wrap; read back with `& 0xff`). The one copy of the loop:
    * QuantizeCodes calls it from generated code and from eval.
    */
  def codes(v: Array[Float], p: QuantParams): Array[Byte] = {
    val out = new Array[Byte](v.length)
    val u8 = p.qType == QType.U8; val scale = p.scale; val offset = p.offset
    var i = 0
    while (i < v.length) {
      val q = (v(i).toDouble - offset) * scale
      out(i) = (if (u8) roundU8(q) else roundI8(q)).toByte
      i += 1
    }
    out
  }

  /** (min, max) over a row's lanes with NaN lanes skipped, or null when no
    * lane is a number — the per-row half of quantization pass 1
    * (sqlite-vector.c:1199-1255; its min/max comparisons never select NaN,
    * :1250-1255), in one traversal that copies no lane. A NULL lane fails
    * fast ([[Sketches.denseLane]]): read as 0.0 it would corrupt the global
    * extrema. [[graft.expressions.ArrayMinMax]] calls it from both paths.
    */
  def laneExtrema(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var any = false
    var i = 0
    while (i < n) {
      val x = Sketches.denseLane(v, i, "array_min_max").toDouble
      if (!x.isNaN) { if (x < mn) mn = x; if (x > mx) mx = x; any = true }
      i += 1
    }
    if (any) new GenericInternalRow(Array[Any](mn, mx)) else null
  }

  /** Exact sum of a packed i8/u8 code vector (CodeSum). */
  def codeSum(c: Array[Byte], signed: Boolean): Long = {
    var acc = 0L; var i = 0
    while (i < c.length) { acc += (if (signed) c(i).toInt else c(i) & 0xff); i += 1 }
    acc
  }
}
