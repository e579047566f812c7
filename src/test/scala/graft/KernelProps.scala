package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.codec.VectorCodec
import graft.kernels.{Distances, Quantize, Sketches}

/** Property-based invariants for the pure kernel layer (no Spark session).
  */
object KernelProps extends Properties("kernels") {

  private val finiteFloat: Gen[Float] =
    Gen.chooseNum(-1e4f, 1e4f).map(f => if (f.isNaN) 0f else f)
  private val vec: Gen[Array[Float]] =
    Gen.chooseNum(1, 96).flatMap(n => Gen.containerOfN[Array, Float](n, finiteFloat))

  property("DistinctTopK: partition-split invariant, exact kept set, exact capped flag") =
    forAll(Gen.chooseNum(1, 12), Gen.listOf(Gen.chooseNum(0, 40)), Gen.long) {
      (k, xs0, seed) =>
        val vals = xs0.map(i => s"v$i")
        val pairs = vals.map(v => ((v.hashCode & 0x7fffffff).toDouble, v))
        // expected: distinct pairs, smallest k by (priority, value)
        val distinct = pairs.distinct.sorted
        val expectKept = distinct.take(k).map(_._2)
        val expectCapped = distinct.size > k
        // fold through a random 3-way partition split + merges
        val rnd = new scala.util.Random(seed)
        val parts = Array.fill(3)(new graft.expressions.DistinctTopK(k))
        pairs.foreach { case (p, v) => parts(rnd.nextInt(3)).insert(p, v) }
        val merged = parts.reduce { (a, b) =>
          b.set.foreach { case (p, v) => a.insert(p, v) }
          if (b.capped) a.capped = true
          a
        }
        merged.set.toSeq.map(_._2) == expectKept && merged.capped == expectCapped
    }

  // valid Unicode strings spanning the three ranges where UTF-16 and
  // UTF-8 byte order can disagree: BMP below surrogates, BMP above
  // (U+E000..), and supplementary code points (surrogate pairs)
  private val uniCodePoint: Gen[Int] = Gen.oneOf(
    Gen.chooseNum(0x20, 0xD7FF), Gen.chooseNum(0xE000, 0xFFFD),
    Gen.chooseNum(0x10000, 0x10FFFF))
  private val uniCpStr: Gen[String] = Gen.listOf(uniCodePoint)
    .map(_.flatMap(Character.toChars(_)).mkString)

  property("DistinctTopK.compareUtf8Order sign-agrees with UTF8String.compareTo") =
    forAll(uniCpStr, uniCpStr) { (x, y) =>
      import org.apache.spark.unsafe.types.UTF8String
      val fast = graft.expressions.DistinctTopK.compareUtf8Order(x, y)
      val ref = UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      Integer.signum(fast) == Integer.signum(ref)
    }

  property("sortedIntersectCount == set intersection size") =
    forAll { (a0: List[Long], b0: List[Long]) =>
      val a = a0.distinct.sorted.toArray
      val b = b0.distinct.sorted.toArray
      Sketches.sortedIntersectCount(new GenericArrayData(a), new GenericArrayData(b)) ==
        a.toSet.intersect(b.toSet).size.toLong
    }

  property("minhash signature is set-order invariant") =
    forAll { (xs: List[Long], seed: Long) =>
      val distinct = xs.distinct
      val shuffled = new scala.util.Random(seed).shuffle(distinct)
      val s1 = Sketches.minhash(new GenericArrayData(distinct.toArray), 64)
      val s2 = Sketches.minhash(new GenericArrayData(shuffled.toArray), 64)
      (0 until 64).forall(i => s1.getLong(i) == s2.getLong(i))
    }

  property("quantize round-trip error <= half a step inside the range") =
    forAll(Gen.nonEmptyListOf(finiteFloat)) { xs =>
      val mn = xs.min.toDouble; val mx = xs.max.toDouble
      val p = Quantize.params(QType.Auto, mn, mx, hasNegative = mn < 0, rows = xs.length.toLong)
      Prop.all(xs.map { x =>
        val code = Quantize.code(x.toDouble, p)
        val decoded = code.toDouble / p.scale + p.offset
        Prop(math.abs(decoded - x.toDouble) <= 0.5 / p.scale + 1e-9) :|
          s"x=$x code=$code decoded=$decoded scale=${p.scale} offset=${p.offset}"
      }: _*)
    }

  // roundU8/roundI8 against the reference's formula (sqlite-vector.c:495-515):
  // every half from -300.5 to 300.5 with its one-ulp neighbours (both
  // saturation bounds of both types), the special values, random doubles
  property("roundU8/roundI8 == floor(|v| + 0.5)·signum(v) saturated") = {
    def ref(v: Double, lo: Double, hi: Double): Int =
      if (v.isNaN) 0
      else { val r = math.floor(math.abs(v) + 0.5) * math.signum(v); if (r <= lo) lo.toInt else if (r >= hi) hi.toInt else r.toInt }
    def same(v: Double): Prop =
      Prop(Quantize.roundU8(v) == ref(v, 0.0, 255.0) && Quantize.roundI8(v) == ref(v, -128.0, 127.0)) :| s"v=$v"
    val halves = (-301 to 300).flatMap { k => val h = k + 0.5; Seq(h, Math.nextUp(h), Math.nextDown(h), k.toDouble) }
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0,
      Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue, -Double.MinPositiveValue, 3e9, -3e9)
    Prop.all((halves ++ special).map(same): _*) && forAll(Gen.chooseNum(-1e12, 1e12))(same)
  }

  property("JSON parse of rendered float array is the identity") =
    forAll(vec) { v =>
      VectorCodec.parseJson(v.mkString("[", ",", "]")).sameElements(v)
    }

  property("pack/unpack identity for f32; width contract for all types") =
    forAll(vec) { v =>
      val f32 = VectorCodec.unpack(VectorCodec.pack(v, ElemType.F32), ElemType.F32).sameElements(v)
      val widths = ElemType.all.forall(et =>
        VectorCodec.pack(v, et).length == v.length * et.bytesPerElem)
      f32 && widths
    }

  property("packed distance is symmetric for symmetric metrics (all types)") =
    forAll(vec, vec) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      // keep i8/u8 in their integral domains
      def shrink(v: Array[Float], signed: Boolean): Array[Float] =
        v.map(x => if (signed) (x % 127).toInt.toFloat else math.abs(x % 255).toInt.toFloat)
      Prop.all(
        (for {
          et <- ElemType.all
          m <- Seq(Metric.L2, Metric.SquaredL2, Metric.L1, Metric.Dot, Metric.Cosine)
        } yield {
          val (fa, fb) = et match {
            case ElemType.I8 => (shrink(a, signed = true), shrink(b, signed = true))
            case ElemType.U8 => (shrink(a, signed = false), shrink(b, signed = false))
            case _           => (a, b)
          }
          val pa = VectorCodec.pack(fa, et); val pb = VectorCodec.pack(fb, et)
          val d1 = Distances.onPacked(m, et)(pa, pb)
          val d2 = Distances.onPacked(m, et)(pb, pa)
          Prop(d1 == d2 || (d1.isNaN && d2.isNaN)) :| s"$m $et: $d1 vs $d2"
        }): _*)
    }

  property("packed f32 kernels equal the Array[Float] kernels bit-for-bit") =
    forAll(vec, vec) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      val pa = VectorCodec.pack(a, ElemType.F32)
      val pb = VectorCodec.pack(b, ElemType.F32)
      Distances.onPacked(Metric.SquaredL2, ElemType.F32)(pa, pb) == Distances.sqL2F32(a, b) &&
      Distances.onPacked(Metric.Dot, ElemType.F32)(pa, pb) == Distances.dotF32(a, b) &&
      Distances.onPacked(Metric.L1, ElemType.F32)(pa, pb) == Distances.l1F32(a, b) &&
      Distances.onPacked(Metric.L2, ElemType.F32)(pa, pb) == Distances.l2F32(a, b) &&
      Distances.onPacked(Metric.Cosine, ElemType.F32)(pa, pb) == Distances.cosineF32(a, b)
    }

  property("double kernels: zero self-distance and triangle-direction sanity") =
    forAll(vec) { v =>
      Distances.sqL2Double(v, v) == 0.0 &&
        Distances.l1Double(v, v) == 0.0 &&
        (v.forall(_ == 0f) || Distances.cosineDouble(v, v) < 1e-9)
    }

  // ---------- the expressions against their kernels ----------
  // Each expression is run interpreted (eval) and through generated code
  // (GenerateUnsafeProjection, which fails on a compile error instead of
  // falling back to eval); both results must equal the graft.kernels
  // function bit for bit. Dims run past the unroll and SIMD widths.

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeArrayData}
  import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
  import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, LongType}
  import graft.expressions.{CodeDistance, QuantizeCodes, VectorDistance}

  private val parityDim: Gen[Int] =
    Gen.frequency(4 -> Gen.chooseNum(1, 1030), 1 -> Gen.oneOf(1, 7, 9, 15, 17, 63, 65, 127, 1023, 1025))

  private val codesIn = BoundReference(0, BinaryType, nullable = true)
  private val codesIn2 = BoundReference(1, BinaryType, nullable = true)
  private val vecIn = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = true)
  private val vecIn2 = BoundReference(1, ArrayType(FloatType, containsNull = false), nullable = true)

  private def sameBits(x: Any, want: Any): Boolean = (x, want) match {
    case (d: Double, w: Double) => java.lang.Double.doubleToLongBits(d) == java.lang.Double.doubleToLongBits(w)
    case (c: Array[Byte], w: Array[Byte]) => c.sameElements(w)
    case _ => x == want
  }

  /** `e` on `row`, interpreted and through generated code, against the kernel's `want`. */
  private def parity(label: String, e: Expression, row: InternalRow, want: Any): Prop = {
    val interp = e.eval(row)
    val gen = GenerateUnsafeProjection.generate(Seq(e)).apply(row).get(0, e.dataType)
    Prop(sameBits(interp, want) && sameBits(gen, want)) :| s"$label: eval=$interp codegen=$gen kernel=$want"
  }

  property("CodeDistance: eval == codegen == Distances.intKernel, bit for bit") =
    forAll(parityDim, Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val a = new Array[Byte](n); val b = new Array[Byte](n)
      rnd.nextBytes(a); rnd.nextBytes(b)
      val row = InternalRow(a, b)
      Prop.all((for (m <- Metric.all; signed <- Seq(true, false)) yield {
        val e = CodeDistance(codesIn, codesIn2, m, signed)
        val k = Distances.intKernel(a, b, m, signed)
        parity(s"$m signed=$signed n=$n", e, row, if (e.dataType == LongType) k.toLong else k)
      }): _*)
    }

  property("intKernel at offsets inside a block == intKernel on the copied codes") =
    forAll(parityDim, Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      // a block of a few codes at stride n, read at a random row, against
      // a probe placed at a random offset of its own buffer
      val rows = 1 + rnd.nextInt(4)
      val block = new Array[Byte](rows * n); rnd.nextBytes(block)
      val pad = rnd.nextInt(17)
      val probeBuf = new Array[Byte](pad + n + rnd.nextInt(17)); rnd.nextBytes(probeBuf)
      val row = rnd.nextInt(rows)
      val code = block.slice(row * n, row * n + n)
      val probe = probeBuf.slice(pad, pad + n)
      Prop.all((for (m <- Metric.all; signed <- Seq(true, false)) yield {
        val at = Distances.intKernel(block, row * n, probeBuf, pad, n, m, signed)
        val copied = Distances.intKernel(code, probe, m, signed)
        Prop(sameBits(at, copied)) :| s"$m signed=$signed n=$n row=$row pad=$pad: $at vs $copied"
      }): _*)
    }

  property("VectorDistance: eval == codegen == Distances.onDouble, bit for bit") =
    forAll(parityDim, Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val (x, y) = (Array.fill(n)((rnd.nextGaussian() * 10).toFloat), Array.fill(n)((rnd.nextGaussian() * 10).toFloat))
      // one sample in four carries a NaN or infinite lane
      if (rnd.nextInt(4) == 0) x(rnd.nextInt(n)) = if (rnd.nextBoolean()) Float.NaN else Float.PositiveInfinity
      val row = InternalRow(UnsafeArrayData.fromPrimitiveArray(x), UnsafeArrayData.fromPrimitiveArray(y))
      // the probe as a column, and as the literal a scan builds (boxed floats)
      val probes = Seq("column" -> vecIn2, "literal" -> org.apache.spark.sql.GraftColumnShim.eagerExpression(graft.functions.vectorLit(y)))
      Prop.all((for (m <- Metric.all; (form, probe) <- probes) yield
        parity(s"$m n=$n $form probe", VectorDistance(vecIn, probe, m), row, Distances.onDouble(m)(x, y))): _*)
    }

  property("QuantizeCodes: eval == codegen == Quantize.codes (saturation, NaN lanes)") =
    forAll(parityDim, Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      // values of a few units against scales up to 151: many lanes saturate;
      // NaN and ±Inf lanes mixed in
      val v = Array.fill(n)(rnd.nextInt(50) match {
        case 0 => Float.NaN
        case 1 => Float.NegativeInfinity
        case 2 => Float.PositiveInfinity
        case _ => (rnd.nextGaussian() * 2).toFloat
      })
      val scale = 1.0 + rnd.nextDouble() * 150.0; val offset = rnd.nextDouble() * 2.0 - 1.0
      val row = InternalRow(UnsafeArrayData.fromPrimitiveArray(v))
      Prop.all(Seq(QType.I8, QType.U8).map { qt =>
        val e = QuantizeCodes(vecIn, scale, offset, isU8 = qt == QType.U8)
        parity(s"$qt n=$n scale=$scale offset=$offset", e, row, Quantize.codes(v, QuantParams(qt, scale, offset, 0L)))
      }: _*)
    }

  property("hyperplane signature flips all decided bits under negation") =
    forAll(vec, Gen.chooseNum(1, 16)) { (v, nBits) =>
      val planes = Sketches.planes(nBits, v.length, 42L)
      val s = Sketches.hyperplaneSig(v, planes)
      val sn = Sketches.hyperplaneSig(v.map(x => -x), planes)
      (s & sn) == 0L
    }

  // ---------- the sketch row kernels against their driver-side forms ----------
  // dims 1, odd and 768; the references restate the arithmetic: each sum
  // sequential in lane order, in double

  private val sketchDim: Gen[Int] = Gen.oneOf(1, 13, 768)

  private def gaussians(rnd: scala.util.Random, n: Int): Array[Float] =
    Array.fill(n)((rnd.nextGaussian() * 3).toFloat)

  private def sameDoubles(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToLongBits(a(i)) == java.lang.Double.doubleToLongBits(b(i)))

  property("nearestCentroid == first argmin of centroidDistances, ties included") =
    forAll(sketchDim, Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val v = gaussians(rnd, n)
      // a few centroids, then copies of some at later indices: ties the
      // lowest index must win
      val base = Array.fill(1 + rnd.nextInt(6))(gaussians(rnd, n))
      val cents = base ++ Array.fill(rnd.nextInt(4))(base(rnd.nextInt(base.length)).clone())
      val d = Sketches.centroidDistances(v, cents)
      val ref = cents.map(c => c.indices.foldLeft(0.0) { (acc, i) => val x = v(i).toDouble - c(i).toDouble; acc + x * x })
      val got = Sketches.nearestCentroid(UnsafeArrayData.fromPrimitiveArray(v), cents)
      Prop(sameDoubles(d, ref) && got == d.indexOf(d.min)) :|
        s"n=$n centroids=${cents.length} got=$got distances=${d.mkString(",")}"
    }

  property("hyperplaneSig and project: row and probe paths agree bit for bit") =
    forAll(sketchDim, Gen.chooseNum(1, 63), Gen.long) { (n, nBits, seed) =>
      val rnd = new scala.util.Random(seed)
      val v = gaussians(rnd, n)
      val planes = Sketches.planes(nBits, n, seed)
      val row = UnsafeArrayData.fromPrimitiveArray(v)
      val sig = Sketches.hyperplaneSig(v, planes)
      val proj = Sketches.project(row, planes, 1.0).toDoubleArray()
      val ref = planes.map(p => p.indices.foldLeft(0.0)((acc, i) => acc + v(i).toDouble * p(i)))
      val signs = proj.indices.foldLeft(0L)((s, b) => if (proj(b) > 0.0) s | (1L << b) else s)
      Prop(Sketches.hyperplaneSig(row, planes) == sig && signs == sig && sameDoubles(proj, ref)) :|
        s"n=$n nBits=$nBits sig=$sig signs=$signs"
    }

  property("PackVector: eval == codegen == VectorCodec.pack, all element types") =
    forAll(sketchDim, Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      // spans the i8/u8 ranges and past them; NaN and ±Inf lanes mixed in
      val v = Array.fill(n)(rnd.nextInt(40) match {
        case 0 => Float.NaN
        case 1 => Float.PositiveInfinity
        case 2 => Float.NegativeInfinity
        case _ => (rnd.nextGaussian() * 100).toFloat
      })
      val row = InternalRow(UnsafeArrayData.fromPrimitiveArray(v))
      Prop.all(ElemType.all.map(et =>
        parity(s"${et.name} n=$n", graft.expressions.PackVector(vecIn, et), row, VectorCodec.pack(v, et))): _*)
    }

  // FastRound's fast path must agree with Spark's Round-on-double
  // semantics (BigDecimal.valueOf + HALF_UP) for every input, including
  // values engineered onto .5 decimal boundaries where the two paths
  // could plausibly split.
  private def sparkRound(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  private def fastRound(x: Double, scale: Int): Double =
    graft.expressions.FastRound(
      org.apache.spark.sql.catalyst.expressions.Literal(x), scale)
      .eval(null).asInstanceOf[Double]

  property("fast_round == Spark round on random doubles") =
    forAll(Gen.chooseNum(-1e12, 1e12), Gen.chooseNum(1, 9)) { (x: Double, s: Int) =>
      val a = fastRound(x, s); val b = sparkRound(x, s)
      (a == b) || (a.isNaN && b.isNaN)
    }

  property("fast_round == Spark round on decimal half boundaries") =
    forAll(Gen.chooseNum(-2000000L, 2000000L), Gen.chooseNum(1, 9)) { (k: Long, s: Int) =>
      // (k + 0.5) * 10^-s: the exact decimal half at scale s (as the
      // nearest double), plus one-ulp neighbors on either side
      val half = (k + 0.5) / math.pow(10.0, s)
      Prop.all(Seq(half, Math.nextUp(half), Math.nextDown(half),
          k / math.pow(10.0, s)).map { x =>
        val a = fastRound(x, s); val b = sparkRound(x, s)
        Prop(a == b) :| s"x=$x s=$s fast=$a spark=$b"
      }: _*)
    }

  property("fast_round == Spark round on LARGE-magnitude half boundaries") =
    // the [~2^33, 4.5e15) band where ulp(x·10^s) exceeds the old fixed
    // 1e-6 guard: the scaled product can sit within one ulp of a .5
    // boundary, so the fallback guard must widen with ulp(y). k+0.5
    // engineered as the nearest double to the decimal half at scale s.
    forAll(Gen.chooseNum(8L * 1000L * 1000L * 1000L, 450L * 1000L * 1000L * 1000L * 1000L),
        Gen.chooseNum(1, 9), Gen.oneOf(true, false)) { (k0: Long, s: Int, neg: Boolean) =>
      val k = if (neg) -k0 else k0
      val half = (k + 0.5) / math.pow(10.0, s)
      Prop.all(Seq(half, Math.nextUp(half), Math.nextDown(half),
          k / math.pow(10.0, s)).map { x =>
        val a = fastRound(x, s); val b = sparkRound(x, s)
        Prop(a == b) :| s"x=$x s=$s fast=$a spark=$b"
      }: _*)
    }

  property("fast_round handles NaN/Inf/zero like Spark round") =
    Prop.all(Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        0.0, -0.0, 4.6e15, -4.6e15, 1e300, -1e300).map { x =>
      val a = fastRound(x, 6); val b = sparkRound(x, 6)
      Prop((a == b) || (a.isNaN && b.isNaN)) :| s"x=$x fast=$a spark=$b"
    }: _*)

  // NFC is a projection: applying it twice is the same as once (UAX #15
  // guarantees normalized forms are closed under re-normalization), and
  // canonically-equivalent inputs (decomposed vs composed) converge
  private def nfc(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
  private val uniChar: Gen[String] = Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("́", "̈", "é", "Å", "Å",
      "ᄀ", "ᅡ", "ᆨ", "가", " ", "ñ", "ñ"))
  private val uniStr: Gen[String] =
    Gen.listOf(uniChar).map(_.mkString)

  property("NFC normalization is idempotent") =
    forAll(uniStr) { s => nfc(nfc(s)) == nfc(s) }

  property("NFC collapses canonical equivalents (NFD(x) and x agree)") =
    forAll(uniStr) { s =>
      nfc(java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)) == nfc(s)
    }

  // ---------- one kernel per expression: the nullable calls, fast_round,
  // array_min_max and nfc_normalize ----------
  // Values compare as the one field of an UnsafeRow, so structs, arrays,
  // NULL and double bits (NaN, ±0) all compare byte for byte. A kernel
  // that throws must throw the same exception class from eval and
  // generated code (the JIT's fast throw may drop the message).

  import org.apache.spark.sql.catalyst.expressions.{Literal, Round, UnsafeProjection}
  import org.apache.spark.sql.types.{DoubleType, StringType}
  import org.apache.spark.unsafe.types.UTF8String
  import graft.expressions.{ArrayMinMax, FastRound, GifFramesExpr, JpegDhashExpr, JpegLumaStatsExpr, NfcNormalize,
    PcmFingerprintExpr, PcmStatsExpr, PngDhashExpr, PngPixelStatsExpr, WarcRecordsGzExpr}
  import graft.ops.{Jpeg, MediaCodec, Warc}

  private final case class Thrown(cls: Class[_])

  /** The value of `f`, or the class of what it threw. */
  private def outcome(f: => Any): Any =
    try f catch { case e: Exception => Thrown(e.getClass) }

  /** `e` on each row, interpreted and through generated code, against
    * every expected outcome for that row.
    */
  private def rowParity(label: String, e: Expression, cases: Seq[(InternalRow, Seq[Any])]): Prop = {
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    val unsafe = UnsafeProjection.create(Array(e.dataType))
    Prop.all(cases.map { case (row, wants) =>
      val got = outcome(gen(row))
      val interp = outcome(e.eval(row))
      val same = (interp +: wants).forall {
        case t: Thrown => t == got
        case v => !got.isInstanceOf[Thrown] && unsafe(InternalRow(v)) == got
      }
      Prop(same) :| s"$label: eval=$interp codegen=$got want=${wants.mkString(", ")}"
    }: _*)
  }

  private val dblIn = BoundReference(0, DoubleType, nullable = true)
  private val strIn = BoundReference(0, StringType, nullable = true)

  // the fast_round properties' inputs, all in each sample: a random
  // double, a decimal and a large-magnitude half boundary with their
  // one-ulp neighbours, and the special values
  private val roundCase: Gen[(Int, Seq[Double])] = for {
    s <- Gen.chooseNum(1, 9)
    x <- Gen.chooseNum(-1e12, 1e12)
    k <- Gen.chooseNum(-2000000L, 2000000L)
    big <- Gen.chooseNum(8L * 1000L * 1000L * 1000L, 450L * 1000L * 1000L * 1000L * 1000L).flatMap(k => Gen.oneOf(k, -k))
  } yield {
    def halves(k: Long): Seq[Double] = {
      val half = (k + 0.5) / math.pow(10.0, s)
      Seq(half, Math.nextUp(half), Math.nextDown(half), k / math.pow(10.0, s))
    }
    s -> (x +: (halves(k) ++ halves(big) ++
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0, 4.6e15, -4.6e15)))
  }

  // NaN, ±Inf and ±0 lanes mixed in; all-NaN and empty vectors have no extrema
  private val extremaLanes: Gen[Array[Float]] = Gen.frequency(
    4 -> Gen.chooseNum(1, 40).flatMap(n => Gen.containerOfN[Array, Float](n, Gen.frequency(
      6 -> Gen.chooseNum(-1e4f, 1e4f), 1 -> Gen.const(Float.NaN),
      1 -> Gen.oneOf(Float.PositiveInfinity, Float.NegativeInfinity), 1 -> Gen.oneOf(0f, -0f)))),
    1 -> Gen.chooseNum(0, 8).map(Array.fill(_)(Float.NaN)))

  private val blobIn = BoundReference(0, BinaryType, nullable = true)
  private val media: Seq[(Expression, Array[Byte] => Any)] = Seq(
    PcmStatsExpr(blobIn) -> MediaCodec.pcmStatsRow,
    PngPixelStatsExpr(blobIn) -> MediaCodec.pngPixelStatsRow,
    JpegLumaStatsExpr(blobIn) -> Jpeg.jpegLumaStatsRow,
    JpegDhashExpr(blobIn) -> Jpeg.jpegDhashBoxed,
    WarcRecordsGzExpr(blobIn, 8) -> (Warc.gzRecordRows(_, 8)),
    PngDhashExpr(blobIn) -> MediaCodec.pngDhashBoxed,
    PcmFingerprintExpr(blobIn, 16) -> (MediaCodec.pcmEnergyFingerprintRow(_, 16)),
    GifFramesExpr(blobIn) -> MediaCodec.gifFrameStatsRow)

  /** A 72×64 grayscale baseline JPEG (9|w and 8|h, so it has a dhash). */
  private def jpegGray(rnd: scala.util.Random): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(72, 64, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val (a, b) = (rnd.nextInt(8), rnd.nextInt(8))
    for (y <- 0 until 64; x <- 0 until 72) img.getRaster.setSample(x, y, 0, (a * x + b * y) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** The decodable media fixtures, the header-only fixtures, one
    * decodable fixture cut short, and random bytes behind each
    * container's magic and behind none.
    */
  private def mediaPayloads(rnd: scala.util.Random): Seq[Array[Byte]] = {
    val decodable = Seq(
      MediaCodec.wavPcmFixture(8000, 1 + rnd.nextInt(2), 16 + rnd.nextInt(200), rnd.nextInt(1000).toLong),
      MediaCodec.pngPixelFixture(9 * (1 + rnd.nextInt(3)), 8 * (1 + rnd.nextInt(3)), rnd.nextInt(1000).toLong,
        rnd.nextInt(5), Seq(1, 3, 4)(rnd.nextInt(3))),
      jpegGray(rnd),
      MediaCodec.gifAnimFixture(1 + rnd.nextInt(64), 1 + rnd.nextInt(64), 1 + rnd.nextInt(5), rnd.nextInt(100)),
      Warc.gzCaptureFixture(rnd.nextInt(1000).toLong, "en"))
    // a PNG cut inside IHDR: pngDecodePixels returns NULL below 29 bytes
    val headers = Seq(MediaCodec.wavFixture(8000, 1, 100), MediaCodec.pngFixture(9, 8),
      MediaCodec.jpegFixture(9, 8), MediaCodec.gifFixture(9, 8), MediaCodec.pngFixture(9, 8).take(26))
    val cut = decodable(rnd.nextInt(decodable.length))
    val magics = Seq(Array[Byte](), "RIFF".getBytes, Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
      Array(0xff, 0xd8, 0xff).map(_.toByte), "GIF89a".getBytes, Array(0x1f, 0x8b, 0x08).map(_.toByte))
    decodable ++ headers ++ Seq(cut.take(rnd.nextInt(cut.length))) ++
      magics.map(_ ++ Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte))
  }

  property("fast_round, array_min_max, nfc_normalize, media calls: codegen == eval == kernel, bit for bit") =
    Prop.forAllNoShrink(roundCase, extremaLanes, uniStr, Gen.long) { case ((s, xs), lanes, text, seed) =>
      val extrema = UnsafeArrayData.fromPrimitiveArray(lanes)
      val str = UTF8String.fromString(text)
      val payloads = mediaPayloads(new scala.util.Random(seed))
      Prop.all(
        // fast_round also against Spark's own round
        rowParity(s"fast_round s=$s", FastRound(dblIn, s),
          xs.map(x => InternalRow(x) -> Seq(Quantize.fastRound(x, s), Round(dblIn, Literal(s)).eval(InternalRow(x))))),
        rowParity(s"array_min_max ${lanes.mkString("[", ",", "]")}", ArrayMinMax(vecIn),
          Seq(InternalRow(extrema) -> Seq(Quantize.laneExtrema(extrema)))),
        rowParity("nfc_normalize", NfcNormalize(strIn),
          Seq(InternalRow(str) -> Seq(Sketches.nfc(str), UTF8String.fromString(nfc(text))))),
        Prop.all(media.map { case (e, kernel) =>
          // a NULL payload and every undecodable one are NULL; at least one decodes
          val wants = payloads.map(b => outcome(kernel(b)))
          Prop(wants.exists(w => w != null && !w.isInstanceOf[Thrown])) :| s"${e.prettyName}: no payload decodes" &&
            rowParity(e.prettyName, e,
              (InternalRow(null) -> Seq(null)) +: payloads.zip(wants).map { case (b, w) => InternalRow(b) -> Seq(w) })
        }: _*))
    }
}
