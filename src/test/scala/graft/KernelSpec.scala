package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{Fp16, VectorCodec}
import graft.kernels.{Distances, Sketches}

/** Kernel edge-semantics tests — the fixture table from FIXTURES.md §B,
  * derived from the reference's distance-cpu.c.
  */
class KernelSpec extends AnyFunSuite {

  private val dims = Seq(1, 2, 3, 4, 5, 7, 8, 9, 63, 64, 65) // unroll boundaries

  test("negated dot: DOT([1,2],[3,4]) = -11 (distance-cpu.c:112-136)") {
    assert(Distances.dotF32(Array(1f, 2f), Array(3f, 4f)) == -11f)
    assert(Distances.dotDouble(Array(1f, 2f), Array(3f, 4f)) == -11.0)
  }

  test("cosine zero-norm -> 1.0 (distance-cpu.c:105-107)") {
    val z = Array(0f, 0f, 0f)
    val v = Array(1f, 2f, 3f)
    assert(Distances.cosineF32(z, v) == 1.0f)
    assert(Distances.cosineF32(v, z) == 1.0f)
    assert(Distances.cosineDouble(z, z) == 1.0)
  }

  test("identity distance is 0 after zero clamp (sqlite-vector.c:994-996)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val n = 1 + rnd.nextInt(65)
      val seed = rnd.nextFloat() * 20f - 10f
      val v = Array.tabulate(n)(i => seed + i * 0.25f)
      assert(Distances.zeroClamp(Distances.l2F32(v, v)) == 0f)
      assert(Distances.zeroClamp(Distances.cosineF32(v, v)) == 0f)
      assert(Distances.zeroClamp(Distances.l1F32(v, v)) == 0f)
    }
  }

  test("L2/L1/sqL2 known values") {
    val a = Array(1f, 2f, 3f); val b = Array(4f, 6f, 3f)
    assert(Distances.sqL2F32(a, b) == 25f)
    assert(Distances.l2F32(a, b) == 5f)
    assert(Distances.l1F32(a, b) == 7f)
  }

  test("u8/i8 integer kernels: exact accumulation (distance-cpu.c:470-693)") {
    val a = Array[Byte](0, 127, -128, 50)
    val b = Array[Byte](1, -128, 127, 50)
    // i8: diffs 1, 255, -255, 0 -> sq = 1 + 65025 + 65025 = 130051
    assert(Distances.onPacked(Metric.SquaredL2, ElemType.I8)(a, b) == 130051f)
    assert(Distances.onPacked(Metric.L1, ElemType.I8)(a, b) == 511f)
    // u8 view: 0,127,128,50 vs 1,128,127,50
    assert(Distances.onPacked(Metric.SquaredL2, ElemType.U8)(a, b) == 3f)
    assert(Distances.onPacked(Metric.Dot, ElemType.U8)(a, b) ==
      -(0f * 1 + 127f * 128 + 128f * 127 + 50f * 50))
  }

  test("f16 NaN lanes contribute 0; mismatched Inf -> +Inf (distance-cpu.c:164-197)") {
    def packF16(v: Array[Float]): Array[Byte] = VectorCodec.pack(v, ElemType.F16)
    val withNaN = packF16(Array(1f, Float.NaN, 3f))
    val plain = packF16(Array(1f, 99f, 3f))
    // NaN lane skipped -> only lanes 0,2 count -> d = 0
    assert(Distances.onPacked(Metric.SquaredL2, ElemType.F16)(withNaN, packF16(Array(1f, 0f, 3f))) == 0f)
    val inf = packF16(Array(Float.PositiveInfinity, 1f))
    val fin = packF16(Array(1f, 1f))
    assert(Distances.onPacked(Metric.L2, ElemType.F16)(inf, fin) == Float.PositiveInfinity)
    assert(Distances.onPacked(Metric.L1, ElemType.F16)(inf, fin) == Float.PositiveInfinity)
    // dot with Inf product short-circuits
    assert(Distances.onPacked(Metric.Dot, ElemType.F16)(inf, fin).isInfinite)
    // cosine with NaN lanes: skipped, still finite
    assert(!Distances.onPacked(Metric.Cosine, ElemType.F16)(withNaN, plain).isNaN)
  }

  test("bf16 matches f32 within bf16 precision on all metrics") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 50) {
      val v = Array.fill(16)(rnd.nextFloat() * 8f - 4f)
      val w = v.map(x => x * 0.5f + 0.125f)
      val pb = VectorCodec.pack(v, ElemType.BF16); val qb = VectorCodec.pack(w, ElemType.BF16)
      val exact = Distances.l2F32(VectorCodec.unpack(pb, ElemType.BF16), VectorCodec.unpack(qb, ElemType.BF16))
      val viaKernel = Distances.onPacked(Metric.L2, ElemType.BF16)(pb, qb)
      assert(math.abs(exact - viaKernel) <= math.max(1e-3f, exact * 1e-3f))
    }
  }

  test("double kernels match float kernels within float precision") {
    for (n <- dims) {
      val a = Array.tabulate(n)(i => (i % 7 - 3) / 4.0f)
      val b = Array.tabulate(n)(i => (i % 5 - 2) / 8.0f)
      for (m <- Metric.all) {
        val d = Distances.onDouble(m)(a, b)
        val f = m match {
          case Metric.L2        => Distances.l2F32(a, b)
          case Metric.SquaredL2 => Distances.sqL2F32(a, b)
          case Metric.Cosine    => Distances.cosineF32(a, b)
          case Metric.Dot       => Distances.dotF32(a, b)
          case Metric.L1        => Distances.l1F32(a, b)
        }
        assert(math.abs(d - f) <= 1e-4, s"metric $m n $n: $d vs $f")
      }
    }
  }

  test("packed kernels on mismatched lengths read the common prefix (i8/u8/f16/bf16)") {
    val rnd = new scala.util.Random(5)
    for (et <- Seq(ElemType.I8, ElemType.U8, ElemType.F16, ElemType.BF16); n <- Seq(1, 7, 64)) {
      def vec(len: Int): Array[Float] = Array.fill(len)(et match {
        case ElemType.I8 => (rnd.nextInt(255) - 127).toFloat
        case ElemType.U8 => rnd.nextInt(256).toFloat
        case _           => rnd.nextFloat() * 8f - 4f
      })
      val long = VectorCodec.pack(vec(n + 3), et)
      val short = VectorCodec.pack(vec(n), et)
      val prefix = long.take(short.length)
      for (m <- Metric.all) {
        val want = Distances.onPacked(m, et)(prefix, short)
        assert(Distances.onPacked(m, et)(long, short) == want, s"$m $et n=$n long/short")
        assert(Distances.onPacked(m, et)(short, long) == Distances.onPacked(m, et)(short, prefix),
          s"$m $et n=$n short/long")
      }
    }
  }

  test("unroll-boundary dims agree with naive reference loop") {
    for (n <- dims) {
      val a = Array.tabulate(n)(i => i * 0.25f - 2f)
      val b = Array.tabulate(n)(i => 1f - i * 0.125f)
      var sq = 0.0; var i = 0
      while (i < n) { val d = a(i).toDouble - b(i).toDouble; sq += d * d; i += 1 }
      assert(Distances.sqL2Double(a, b) == sq)
    }
  }

  // ---------- sketch kernels ----------

  import org.apache.spark.sql.catalyst.util.GenericArrayData

  test("shingleHashes: ascii-strip + lowercase + distinct n-gram semantics") {
    def hashes(s: String, n: Int): Set[Long] = {
      val ad = Sketches.shingleHashes(s.getBytes("UTF-8"), n)
      (0 until ad.numElements()).map(ad.getLong).toSet
    }
    // case-insensitive, non-ASCII stripped, duplicates collapsed
    assert(hashes("ABCabc", 3) == hashes("abcabc", 3))
    assert(hashes("abécd", 3) == hashes("abcd", 3))
    assert(hashes("aaaa", 3) == hashes("aaa", 3)) // only shingle "aaa"
    // distinct-count parity with the string-set definition
    val text = "the quick brown fox jumps over the lazy dog"
    val strSet = text.toLowerCase.sliding(3).toSet
    assert(hashes(text, 3).size == strSet.size)
    // short text -> single whole-string shingle
    assert(hashes("ab", 3).size == 1)
    // output is sorted
    val ad = Sketches.shingleHashes(text.getBytes("UTF-8"), 3)
    val arr = (0 until ad.numElements()).map(ad.getLong)
    assert(arr == arr.sorted)
  }

  test("sortedIntersectCount == set intersection; matchCount is positional") {
    val a = Array(1L, 3L, 5L, 7L, 9L)
    val b = Array(2L, 3L, 4L, 7L, 10L, 11L)
    assert(Sketches.sortedIntersectCount(new GenericArrayData(a), new GenericArrayData(b)) == 2L)
    assert(Sketches.matchCount(new GenericArrayData(a), new GenericArrayData(Array(1L, 4L, 5L))) == 2L)
  }

  test("minhash signature estimates jaccard within sampling error") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(300)(rnd.nextLong())
    val overlap = base.take(210) ++ Array.fill(90)(rnd.nextLong()) // true j = 210/390 ≈ 0.538
    val sa = Sketches.minhash(new GenericArrayData(base), 256)
    val sb = Sketches.minhash(new GenericArrayData(overlap), 256)
    val est = Sketches.matchCount(sa, sb).toDouble / 256
    assert(math.abs(est - 210.0 / 390.0) < 0.12, s"est $est")
    // identical sets -> identical signatures
    assert(Sketches.matchCount(sa, Sketches.minhash(new GenericArrayData(base.reverse), 256)) == 256L)
  }

  test("hyperplane signature: deterministic planes, ArrayData and probe paths agree") {
    val planes = Sketches.planes(8, 16, 42L)
    assert(Sketches.planes(8, 16, 42L).flatten.toSeq == planes.flatten.toSeq) // spec-fixed PRNG
    val v = Array.tabulate(16)(i => (i - 8) / 4.0f)
    val fromArray = Sketches.hyperplaneSig(new GenericArrayData(v), planes)
    assert(fromArray == Sketches.hyperplaneSig(v, planes))
    // negating the vector flips every decided bit
    val neg = Sketches.hyperplaneSig(v.map(-_), planes)
    assert((fromArray & neg) == 0L)
  }

  test("tokenHash61 stays in [0, 2^61) and is restatable integer math") {
    val toks = Seq("", "a", "hello", "x" * 500)
    toks.foreach { t =>
      val h = graft.ops.Dedup.tokenHash61(t)
      assert(h >= 0L && h < (1L << 61), s"'$t' -> $h")
      // restate: h = (poly31 mod 1e9+7) * 2^31 + (poly131 mod 2^31-1)
      val h1 = t.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
      val h2 = t.foldLeft(0L)((acc, c) => (acc * 131 + c.toInt) % 2147483647L)
      assert(h == h1 * 2147483648L + h2)
    }
  }

  test("tokenHash63 is restatable integer math with balanced bits 0-62") {
    val toks = Seq("", "a", "hello", "x" * 500)
    toks.foreach { t =>
      val h = Sketches.tokenHash63(t)
      assert(h >= 0L, s"'$t' -> $h") // nonnegative long == fits in 63 bits
      val h1 = t.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
      val h2 = t.foldLeft(0L)((acc, c) => (acc * 131 + c.toInt) % 2147483647L)
      assert(h == ((h1 * 2654435761L) % 2147483648L) * 4294967296L
        + ((h2 * 2246822519L) % 4294967296L))
    }
    // per-bit balance over a modest vocabulary: every bit 0..62 must land
    // in [25%, 75%] set-frequency — the property tokenHash61's top bits
    // lack and the one SimHash's majority vote amplifies into constants
    val vocab = (0 until 4000).map(i => s"tok$i")
    val counts = new Array[Int](63)
    vocab.foreach { t =>
      val h = Sketches.tokenHash63(t)
      var b = 0
      while (b < 63) { if (((h >>> b) & 1L) == 1L) counts(b) += 1; b += 1 }
    }
    (0 until 63).foreach { b =>
      assert(counts(b) > vocab.size / 4 && counts(b) < vocab.size * 3 / 4,
        s"bit $b set in ${counts(b)}/${vocab.size}")
    }
  }

  test("TopKHeap: random insert streams equal sort-take-k; merge order irrelevant") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 60) {
      val k = 1 + rnd.nextInt(12)
      val n = rnd.nextInt(120)
      // duplicated distances force the (value, id) tie-break
      val pairs = Array.fill(n)((rnd.nextInt(12).toDouble, rnd.nextLong() & 0xFFFFL))
      val expected = pairs.sortBy(p => (p._1, p._2)).take(k).toSeq

      val h = new graft.kernels.TopKHeap(k)
      pairs.foreach { case (d, id) => h.offer(d, id) }
      val (ds, is) = h.drainSorted()
      assert(ds.zip(is).map(p => (p._1, p._2)).toSeq == expected, s"trial $trial")

      // split into random sub-heaps and merge via re-offer (the agg path)
      val parts = pairs.grouped(1 + rnd.nextInt(pairs.length + 1)).toSeq
      val m = new graft.kernels.TopKHeap(k)
      parts.foreach { part =>
        val sub = new graft.kernels.TopKHeap(k)
        part.foreach { case (d, id) => sub.offer(d, id) }
        sub.foreach(m.offer)
      }
      val (md, mi) = m.drainSorted()
      assert(md.zip(mi).map(p => (p._1, p._2)).toSeq == expected, s"merge trial $trial")
    }
  }

  test("signBits + hamming == naive sign-disagreement count on random vectors") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 40) {
      val dim = dims(rnd.nextInt(dims.length))
      def vec() = Array.fill(dim)((rnd.nextFloat() - 0.5f) * (if (rnd.nextBoolean()) 1f else 0f))
      val a = vec(); val b = vec()
      val sa = Sketches.signBits(new GenericArrayData(a), dim)
      val sb = Sketches.signBits(new GenericArrayData(b), dim)
      val naive = (0 until dim).count(i => (a(i) > 0f) != (b(i) > 0f))
      assert(Sketches.hamming(sa, sb) == naive.toLong, s"trial $trial dim $dim")
      // word count: one long per 64 dims
      assert(sa.numElements() == (dim + 63) / 64)
    }
  }

  test("project: scale-linear in the input, exact zero vector, word layout") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val planes = Sketches.planes(8, 16, 42L)
    val zero = Sketches.project(new GenericArrayData(Array.fill(16)(0.0f)), planes, 0.25)
    assert((0 until 8).forall(i => zero.getDouble(i) == 0.0))
    val rnd = new scala.util.Random(29)
    val v = Array.fill(16)(rnd.nextFloat() - 0.5f)
    val p1 = Sketches.project(new GenericArrayData(v), planes, 1.0)
    val p2 = Sketches.project(new GenericArrayData(v.map(_ * 2f)), planes, 1.0)
    // doubling every float lane exactly doubles every projection lane
    // (float*2 is exact; the dot is linear)
    assert((0 until 8).forall(i => math.abs(p2.getDouble(i) - 2 * p1.getDouble(i)) < 1e-12))
  }

  test("a NULL lane fails fast, naming its function, in eval and in generated code") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.expressions.{ArrayMinMax, CenteredDot, HyperplaneSignature, NearestCentroid, PcaLaneTerms, RandomProjection, SignBits}
    val in = BoundReference(0, ArrayType(FloatType, containsNull = true), nullable = true)
    val row = InternalRow(new GenericArrayData(Array[Any](1.0f, null, 2.0f)))
    for ((fn, e) <- Seq(
        "random_projection" -> RandomProjection(in, 4, 3, 42L),
        "hyperplane_signature" -> HyperplaneSignature(in, 4, 3, 42L),
        "nearest_centroid" -> NearestCentroid(in, Seq(Seq(0f, 0f, 0f), Seq(1f, 1f, 1f))),
        "array_min_max" -> ArrayMinMax(in),
        "sign_bits" -> SignBits(in, 3),
        "centered_dot" -> CenteredDot(in, Array(0.5, 0.5, 0.5), Array(1.0, -1.0, 2.0)),
        "pca_lane_terms" -> PcaLaneTerms(in, Array(0.5, 0.5, 0.5), Array(1.0, -1.0, 2.0)))) {
      val evalEx = intercept[IllegalArgumentException](e.eval(row))
      val genEx = intercept[IllegalArgumentException](GenerateUnsafeProjection.generate(Seq(e)).apply(row))
      for (ex <- Seq(evalEx, genEx))
        assert(ex.getMessage == s"$fn: NULL lane at index 1 (vectors must be dense)")
    }
  }

  test("png_pixel_stats / png_dhash: a PNG cut to 24..28 bytes is NULL in eval and in generated code") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.BinaryType
    import graft.expressions.{PngDhashExpr, PngPixelStatsExpr}
    // signature + IHDR width/height is 24 bytes, which probePng admits; the
    // bit depth, color type and interlace bytes sit at offsets 24, 25, 28
    val png = graft.ops.MediaCodec.pngPixelFixture(9, 8, 5L, 0)
    val in = BoundReference(0, BinaryType, nullable = true)
    for (e <- Seq(PngPixelStatsExpr(in), PngDhashExpr(in)); n <- 24 to 28) {
      val row = InternalRow(png.take(n))
      assert(e.eval(row) == null, s"${e.prettyName} eval at $n bytes")
      assert(GenerateUnsafeProjection.generate(Seq(e)).apply(row).isNullAt(0),
        s"${e.prettyName} codegen at $n bytes")
    }
  }
}
