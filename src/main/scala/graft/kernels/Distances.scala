package graft.kernels

import graft.{ElemType, Metric}
import graft.codec.Fp16

/** Distance kernels: 5 metrics × 5 element types, replicating the
  * reference's scalar CPU semantics (distance-cpu.c):
  *
  *  - L2 = sqrt(Σ(aᵢ−bᵢ)²)                       (:39-68)
  *  - SQUARED_L2 = Σ(aᵢ−bᵢ)²                     (:70-72)
  *  - COSINE = 1 − dot/(‖a‖·‖b‖), 1.0 if a norm is 0  (:74-110)
  *  - DOT = −Σ aᵢbᵢ (negated: smaller = closer)  (:112-136)
  *  - L1 = Σ|aᵢ−bᵢ|                              (:138-159)
  *
  * Edge semantics preserved: f16/bf16 NaN lanes contribute 0
  * (:182-185, :338-341); mismatched Inf → +∞; cosine clamps to [−1,1] and
  * returns 1.0 on non-finite (:431-466); u8/i8 use exact integer
  * accumulators (:470-693); float32 accumulates in float. The callers'
  * 8·FLT_EPSILON zero clamp (sqlite-vector.c:994-996) is `zeroClamp`.
  *
  * Each (metric × type) kernel exists once: `f32Packed` for packed f32,
  * `withHalf` for f16/bf16, `intKernel` for i8/u8, and `l2Double` …
  * `cosineDouble` for `array<float>` in double. `sqL2Double` is also the
  * squared-L2 loop of [[Sketches.centroidDistances]] and
  * [[Sketches.nearestCentroid]]. The cosine finish is written twice, once
  * for the float kernels and once for the double-accumulating ones. The
  * `Array[Float]` kernels `l2F32` … `cosineF32` stay as the reference the
  * packed f32 kernels are checked against bit for bit (KernelProps).
  *
  * The Catalyst expressions reach the kernels through the `…J` entry
  * points with constant ids, from generated code and from `eval` alike, so
  * a SIMD backend replaces one function per kernel. The reference
  * dispatches to AVX2/SSE2/NEON hand-kernels at load
  * (distance-cpu.c:797-812); these are scalar loops left to the JIT, which
  * `backend()` reports.
  */
object Distances {

  final val ZeroEps: Float = 8f * math.ulp(1.0f) // 8 * FLT_EPSILON

  def zeroClamp(d: Float): Float = if (math.abs(d) <= ZeroEps) 0f else d
  def zeroClamp(d: Double): Double = if (math.abs(d) <= 8.0 * 1.19209290e-7) 0.0 else d

  def backend(): String = "JVM-autovec"

  // ---------- float32 kernels: float accumulation (distance-cpu.c:39-159) ----------

  def l2F32(a: Array[Float], b: Array[Float]): Float = math.sqrt(sqL2F32(a, b).toDouble).toFloat

  def sqL2F32(a: Array[Float], b: Array[Float]): Float = {
    var acc = 0f; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  def dotF32(a: Array[Float], b: Array[Float]): Float = {
    var acc = 0f; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    -acc
  }

  def l1F32(a: Array[Float], b: Array[Float]): Float = {
    var acc = 0f; var i = 0
    while (i < a.length) { acc += math.abs(a(i) - b(i)); i += 1 }
    acc
  }

  /** NB: the clamp to [-1,1] + non-finite→1.0 below is an intentional
    * hardening over the reference's f32 cosine (distance-cpu.c:74-110 does
    * neither; only its f16/bf16 variants clamp, :431-466). It bounds the
    * result to the metric's mathematical range at a worst cost of ~1 ulp
    * vs the reference on degenerate inputs.
    */
  def cosineF32(a: Array[Float], b: Array[Float]): Float = {
    var dot = 0f; var na = 0f; var nb = 0f; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    cosineFinish(dot, na, nb)
  }

  /** The float kernels' cosine finish: 1.0 on a zero norm or a non-finite
    * ratio, else 1 − the ratio clamped to [−1, 1].
    */
  private def cosineFinish(dot: Float, na: Float, nb: Float): Float =
    if (na == 0f || nb == 0f) 1.0f
    else {
      val c = dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)).toFloat
      if (c.isNaN || c.isInfinite) 1.0f
      else 1.0f - math.max(-1.0f, math.min(1.0f, c))
    }

  // ---------- f32 kernels on packed bytes (no per-row unpack allocation) ----------

  // On little-endian hosts (every supported Spark target in practice) the
  // packed LE floats are read with ONE intrinsified 4-byte load
  // (Platform.getFloat — same primitive Tungsten rows use) instead of four
  // byte loads + three shifts the JIT won't fuse; the byte-wise fallback
  // keeps big-endian correctness. The branch is on a constant, so the JIT
  // folds it away.
  private val nativeLE = java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  @inline private def f32At(a: Array[Byte], i: Int): Float = {
    val o = i << 2
    if (nativeLE)
      org.apache.spark.unsafe.Platform.getFloat(a, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + o)
    else
      java.lang.Float.intBitsToFloat(
        (a(o) & 0xff) | ((a(o + 1) & 0xff) << 8) | ((a(o + 2) & 0xff) << 16) | ((a(o + 3) & 0xff) << 24))
  }

  /** Same float arithmetic as the Array[Float] kernels above, reading the
    * little-endian packed form in place — the hot path of packed f32 scans
    * (the reference's default storage type) allocates nothing per row.
    */
  private def f32Packed(a: Array[Byte], b: Array[Byte], metric: Metric): Float = {
    val n = math.min(a.length, b.length) / 4
    metric match {
      case Metric.L2 | Metric.SquaredL2 =>
        var acc = 0f; var i = 0
        while (i < n) { val d = f32At(a, i) - f32At(b, i); acc += d * d; i += 1 }
        if (metric == Metric.L2) math.sqrt(acc.toDouble).toFloat else acc
      case Metric.L1 =>
        var acc = 0f; var i = 0
        while (i < n) { acc += math.abs(f32At(a, i) - f32At(b, i)); i += 1 }
        acc
      case Metric.Dot =>
        var acc = 0f; var i = 0
        while (i < n) { acc += f32At(a, i) * f32At(b, i); i += 1 }
        -acc
      case Metric.Cosine =>
        var dot = 0f; var na = 0f; var nb = 0f; var i = 0
        while (i < n) {
          val x = f32At(a, i); val y = f32At(b, i)
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        cosineFinish(dot, na, nb)
    }
  }

  // ---------- f16/bf16 kernels: double accumulation, NaN lanes skipped ----------
  // (distance-cpu.c:164-466; LASSQ-style overflow safety approximated by
  // double accumulation, which cannot overflow for 16-bit inputs.)

  private def withHalf(decode: Int => Float)(a: Array[Byte], b: Array[Byte], metric: Metric): Float = {
    val n = math.min(a.length, b.length) / 2
    def at(arr: Array[Byte], i: Int): Float =
      decode(((arr(2 * i + 1) & 0xff) << 8) | (arr(2 * i) & 0xff))
    metric match {
      case Metric.L2 | Metric.SquaredL2 =>
        var acc = 0.0; var i = 0
        while (i < n) {
          val d = (at(a, i) - at(b, i)).toDouble
          if (!d.isNaN) { if (d.isInfinite) return Float.PositiveInfinity; acc += d * d }
          i += 1
        }
        if (metric == Metric.L2) math.sqrt(acc).toFloat else acc.toFloat
      case Metric.L1 =>
        var acc = 0.0; var i = 0
        while (i < n) {
          val d = (at(a, i) - at(b, i)).toDouble
          if (!d.isNaN) { if (d.isInfinite) return Float.PositiveInfinity; acc += math.abs(d) }
          i += 1
        }
        acc.toFloat
      case Metric.Dot =>
        var acc = 0.0; var i = 0
        while (i < n) {
          val p = at(a, i).toDouble * at(b, i).toDouble
          if (!p.isNaN) { if (p.isInfinite) return (-p).toFloat; acc += p }
          i += 1
        }
        (-acc).toFloat
      case Metric.Cosine =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = at(a, i).toDouble; val y = at(b, i).toDouble
          if (!(x.isNaN || y.isNaN)) { dot += x * y; na += x * x; nb += y * y }
          i += 1
        }
        cosineFinish(dot, na, nb).toFloat
    }
  }

  // ---------- u8/i8 kernel: exact integer accumulation (distance-cpu.c:470-693) ----------

  /** The one i8/u8 kernel, over the common prefix of `a` and `b`. The sums
    * are exact integers below 2^53 (each term is at most 255² and an array
    * holds under 2^31 of them), so the Double result is exact: L2², L1 and
    * dot convert back to Long or Float without a second rounding.
    */
  def intKernel(a: Array[Byte], b: Array[Byte], metric: Metric, signed: Boolean): Double =
    intKernel(a, 0, b, 0, math.min(a.length, b.length), metric, signed)

  /** [[intKernel]] over `n` lanes of `a` from `aOff` and of `b` from
    * `bOff` — the form a contiguous block of codes at stride dim is
    * scanned with, one code per offset, no copy. Each metric's loop is a
    * method of its own, small enough for the JIT to inline into the
    * scanning loop and fold `signed` there.
    */
  def intKernel(a: Array[Byte], aOff: Int, b: Array[Byte], bOff: Int, n: Int,
                metric: Metric, signed: Boolean): Double = metric match {
    case Metric.SquaredL2 => sqL2Int(a, aOff, b, bOff, n, signed).toDouble
    case Metric.L2 => math.sqrt(sqL2Int(a, aOff, b, bOff, n, signed).toDouble)
    case Metric.L1 => l1Int(a, aOff, b, bOff, n, signed).toDouble
    case Metric.Dot => (-dotInt(a, aOff, b, bOff, n, signed)).toDouble
    case Metric.Cosine => cosineInt(a, aOff, b, bOff, n, signed)
  }

  // In the loops below i walks a and j walks b: two induction variables
  // keep them as tight as loops over whole arrays.

  @inline private def at(arr: Array[Byte], i: Int, signed: Boolean): Int =
    if (signed) arr(i).toInt else arr(i) & 0xff

  private def sqL2Int(a: Array[Byte], aOff: Int, b: Array[Byte], bOff: Int, n: Int, signed: Boolean): Long = {
    var acc = 0L; var i = aOff; var j = bOff; val end = aOff + n
    while (i < end) { val d = at(a, i, signed) - at(b, j, signed); acc += d.toLong * d; i += 1; j += 1 }
    acc
  }

  private def l1Int(a: Array[Byte], aOff: Int, b: Array[Byte], bOff: Int, n: Int, signed: Boolean): Long = {
    var acc = 0L; var i = aOff; var j = bOff; val end = aOff + n
    while (i < end) { acc += math.abs(at(a, i, signed) - at(b, j, signed)); i += 1; j += 1 }
    acc
  }

  private def dotInt(a: Array[Byte], aOff: Int, b: Array[Byte], bOff: Int, n: Int, signed: Boolean): Long = {
    var acc = 0L; var i = aOff; var j = bOff; val end = aOff + n
    while (i < end) { acc += at(a, i, signed).toLong * at(b, j, signed); i += 1; j += 1 }
    acc
  }

  private def cosineInt(a: Array[Byte], aOff: Int, b: Array[Byte], bOff: Int, n: Int, signed: Boolean): Double = {
    var dot = 0L; var na = 0L; var nb = 0L; var i = aOff; var j = bOff; val end = aOff + n
    while (i < end) {
      val x = at(a, i, signed); val y = at(b, j, signed)
      dot += x.toLong * y; na += x.toLong * x; nb += y.toLong * y; i += 1; j += 1
    }
    cosineFinish(dot.toDouble, na.toDouble, nb.toDouble)
  }

  // Stable integer ids so generated Java code can bake the dispatch into a
  // constant-argument static call (branch-predicted to one kernel by JIT).
  def metricId(m: Metric): Int = m match {
    case Metric.L2 => 0; case Metric.SquaredL2 => 1; case Metric.Cosine => 2
    case Metric.Dot => 3; case Metric.L1 => 4
  }
  def typeId(et: ElemType): Int = et match {
    case ElemType.F32 => 0; case ElemType.F16 => 1; case ElemType.BF16 => 2
    case ElemType.I8 => 3; case ElemType.U8 => 4
  }
  private val metricsById = Array[Metric](Metric.L2, Metric.SquaredL2, Metric.Cosine, Metric.Dot, Metric.L1)
  private val typesById = Array[ElemType](ElemType.F32, ElemType.F16, ElemType.BF16, ElemType.I8, ElemType.U8)

  // Static entry points for the expressions: their generated code passes
  // the ids as constants.

  /** [[onPacked]]: PackedVectorDistance. */
  def packedJ(a: Array[Byte], b: Array[Byte], mId: Int, tId: Int): Float =
    onPacked(metricsById(mId), typesById(tId))(a, b)

  /** [[intKernel]]: CodeDistance. */
  def intJ(a: Array[Byte], b: Array[Byte], mId: Int, signed: Boolean): Double =
    intKernel(a, b, metricsById(mId), signed)

  /** [[onDouble]]: VectorDistance. */
  def doubleJ(a: Array[Float], b: Array[Float], mId: Int): Double =
    onDouble(metricsById(mId))(a, b)

  /** The 25-entry dispatch (distance-cpu.c:21 `dispatch_distance_table`):
    * packed-bytes in, float out.
    */
  def onPacked(metric: Metric, et: ElemType)(a: Array[Byte], b: Array[Byte]): Float = et match {
    case ElemType.F32  => f32Packed(a, b, metric)
    case ElemType.F16  => withHalf(Fp16.f16ToFloat)(a, b, metric)
    case ElemType.BF16 => withHalf(Fp16.bf16ToFloat)(a, b, metric)
    case ElemType.I8   => intKernel(a, b, metric, signed = true).toFloat
    case ElemType.U8   => intKernel(a, b, metric, signed = false).toFloat
  }

  // ---------- double-precision kernels on float arrays ----------
  // VectorDistance's kernels on canonical array<float> columns.
  // Sequential double accumulation — deterministic and bit-reproducible
  // across partitions/engines (matches an ANSI-SQL re-statement evaluated
  // in double precision, which is what the correctness oracle runs).
  // Like every kernel here they read the common prefix of the two arrays.

  def l2Double(a: Array[Float], b: Array[Float]): Double = math.sqrt(sqL2Double(a, b))

  def sqL2Double(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  def dotDouble(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    -acc
  }

  def l1Double(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += math.abs(a(i).toDouble - b(i).toDouble); i += 1 }
    acc
  }

  def cosineDouble(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    cosineFinish(dot, na, nb)
  }

  /** The double-accumulating kernels' cosine finish (f16/bf16, i8/u8 and
    * [[cosineDouble]]): 1.0 on a zero norm or a non-finite ratio, else
    * 1 − the ratio clamped to [−1, 1]. An integer kernel's non-zero norms
    * are at least 1, so its ratio is always finite.
    */
  private def cosineFinish(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 1.0
    else {
      val c = dot / (math.sqrt(na) * math.sqrt(nb))
      if (c.isNaN || c.isInfinite) 1.0 else 1.0 - math.max(-1.0, math.min(1.0, c))
    }

  def onDouble(metric: Metric)(a: Array[Float], b: Array[Float]): Double = metric match {
    case Metric.L2        => l2Double(a, b)
    case Metric.SquaredL2 => sqL2Double(a, b)
    case Metric.Cosine    => cosineDouble(a, b)
    case Metric.Dot       => dotDouble(a, b)
    case Metric.L1        => l1Double(a, b)
  }
}
