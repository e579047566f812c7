package graft.kernels

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Sketch kernels for the dedup / ANN operators: one-permutation-style
  * MinHash signatures and random-hyperplane LSH signatures. Both are pure
  * primitive loops invoked from codegen'd Catalyst expressions
  * (MinHashSignature / HyperplaneSignature) — no UDF boxing, one traversal
  * of the input array per row.
  */
object Sketches {

  /** SplitMix64 finalizer — derives a family of cheap independent hash
    * functions from one strong per-shingle hash (standard one-hash MinHash).
    */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Byte-histogram features over a binary payload: out[i % dim] +=
    * byte/256 — every lane an exact binary fraction (exact in float while a
    * lane sum stays < 2^16), so results are bit-reproducible and restatable
    * in SQL. Static entry point for generated code.
    */
  def byteHistogram(b: Array[Byte], dim: Int): ArrayData = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < b.length) {
      out(i % dim) += (b(i) & 0xff) / 256.0f
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 61-bit token hash from two polynomial rolling hashes (bases 31/131,
    * moduli 1e9+7 and 2^31−1): h1·2³¹ | h2 — exact BIGINT arithmetic, so
    * SimHash built on it is restatable in ANSI SQL (see
    * [[graft.ops.Dedup.tokenHash61]] for the entropy note on bits 61-63).
    */
  def tokenHash61(t: String): Long = {
    var h1 = 0L; var h2 = 0L; var i = 0
    while (i < t.length) {
      val c = t.charAt(i).toInt
      h1 = (h1 * 31 + c) % 1000000007L
      h2 = (h2 * 131 + c) % 2147483647L
      i += 1
    }
    (h1 << 31) | h2
  }

  /** 63-bit token hash with per-bit-BALANCED output — the SimHash input.
    *
    * [[tokenHash61]]'s raw composition is fine as an equality key but
    * poisonous under SimHash's per-bit majority vote: h1 < 10^9+7 makes
    * its top bits biased (P(bit 29)=0.46, bits above always 0), and the
    * majority over n tokens amplifies ANY per-token bias by √n toward a
    * CONSTANT — measured on the sf0.1 corpus, one 16-bit top chunk value
    * covered 44% of all documents, turning the pigeonhole bucket join
    * quadratic. The fix: pass each residue through an odd-multiplier
    * bijection mod 2^31/2^32 (invertible, so no collisions added; the
    * multiply diffuses the range's top-bit bias across all lower bits):
    *
    *   g1 = (h1 · 2654435761) mod 2^31   (31 bits, ≤ 2.7e18 — no overflow)
    *   g2 = (h2 · 2246822519) mod 2^32   (32 bits, ≤ 4.9e18 — no overflow)
    *   hash = g1 · 2^32 + g2             (< 2^63)
    *
    * Every intermediate is exact BIGINT, so the full composition restates
    * verbatim in ANSI SQL. Bit 63 is always 0 — constant across all
    * inputs, so it never contributes a SimHash difference and the 4×16
    * pigeonhole blocking stays exact.
    */
  def tokenHash63(t: String): Long = {
    // h1 and h2 are the two residues of tokenHash61 (h2 < 2^31)
    val h = tokenHash61(t)
    val g1 = ((h >>> 31) * 2654435761L) % 2147483648L
    val g2 = ((h & 0x7fffffffL) * 2246822519L) % 4294967296L
    g1 * 4294967296L + g2
  }

  /** SimHash over a token array (duplicates weighted, in-row): bit b of
    * the output is set iff more token hashes have bit b set than clear.
    * Static entry point for generated code ([[graft.expressions.SimHash64]]).
    */
  def simhash64(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = tokens.numElements()
    var j = 0
    while (j < n) {
      // null tokens cannot arise from split/filter, but fail fast like the
      // other kernels rather than hashing a 0-length phantom
      if (tokens.isNullAt(j)) throw new IllegalArgumentException(
        s"simhash64: NULL token at index $j")
      val h = tokenHash63(tokens.getUTF8String(j).toString)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Sign-bit binary quantization of a float vector: bit `i & 63` of word
    * `i >> 6` is set iff v[i] > 0 — 32× compression over f32 (dim 64 → one
    * long). The standard binary-quantization scheme for inner-product /
    * cosine embedding spaces; restatable per-bit in SQL as
    * `embedding[i] > 0`, so a gate can verify the packed form without ever
    * materializing a 2^63 literal. Static entry point for generated code.
    */
  def signBits(v: ArrayData, dim: Int): ArrayData = {
    require(v.numElements() == dim,
      s"sign_bits: vector dim ${v.numElements()} != $dim")
    val words = new Array[Long]((dim + 63) >>> 6)
    var i = 0
    while (i < dim) {
      if (denseLane(v, i, "sign_bits") > 0f) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    new GenericArrayData(words)
  }

  /** Hamming distance between two packed bit signatures (array<long>):
    * popcount of the XOR, one `Long.bitCount` per 64 dims. Static entry
    * point for generated code.
    */
  def hamming(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"hamming: signature length mismatch (${n} vs ${b.numElements()} words)")
    var s = 0L
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }

  /** MinHash signature over pre-hashed shingles (array<long> in): minima of
    * `numHashes` derived hash functions. Static entry point for generated
    * code.
    */
  def minhash(sh: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = sh.numElements()
    var j = 0
    while (j < n) {
      val base = sh.getLong(j)
      var i = 0
      while (i < numHashes) {
        val h = mix64(base ^ (i.toLong * 0xc2b2ae3d27d4eb4fL))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** Distinct hashed character n-gram shingles of lowercased
    * printable-ASCII text, in ONE pass over the UTF-8 bytes. Static entry
    * point for generated code (ShingleHashes expression).
    *
    * Semantics match `lower(strip non-printable-ASCII)` + distinct n-grams:
    * bytes outside [0x20,0x7e] (including every byte of a multi-byte UTF-8
    * sequence) are dropped, A-Z lowered, then each n-byte window hashed
    * (FNV-1a + SplitMix64 finalizer). Only 8-byte hashes ever leave the
    * row; set semantics make output order irrelevant, but the array is
    * sorted for determinism.
    */
  def shingleHashes(bytes: Array[Byte], n: Int): ArrayData = {
    val clean = new Array[Byte](bytes.length)
    var m = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 0x20 && b <= 0x7e) {
        clean(m) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        m += 1
      }
      i += 1
    }
    @inline def hashRange(off: Int, len: Int): Long = {
      var h = 0xcbf29ce484222325L
      var j = off
      while (j < off + len) { h ^= clean(j); h *= 0x100000001b3L; j += 1 }
      mix64(h)
    }
    val set = new java.util.HashSet[java.lang.Long]()
    if (m < n) set.add(hashRange(0, m))
    else {
      var j = 0
      while (j + n <= m) { set.add(hashRange(j, n)); j += 1 }
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** Intersection size of two SORTED long arrays — one merge scan, no
    * hashing, no allocation. Static entry point for generated code.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Position-wise equality count of two long arrays (MinHash signature
    * agreement). Static entry point for generated code.
    */
  def matchCount(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var c = 0L
    while (i < n) { if (a.getLong(i) == b.getLong(i)) c += 1; i += 1 }
    c
  }

  /** Deterministic random hyperplanes for sign-LSH, in double precision so
    * the per-plane dot products are exactly restatable in ANSI SQL
    * (sequential double accumulation, plane values printed exactly).
    * java.util.Random/nextGaussian is spec-fixed, so the planes are
    * identical on every JVM and can be re-materialized from (nBits, dim,
    * seed) alone — executors never ship the matrix.
    */
  def planes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Gaussian random projection (Johnson-Lindenstrauss): out_b =
    * dot(v, plane_b) · scale, scale = 1/√outDim so expected pairwise
    * L2 distances are preserved. Static entry point for generated code.
    */
  def project(v: ArrayData, planes: Array[Array[Double]], scale: Double): ArrayData =
    new GenericArrayData(planeDots("vector", denseLanes(v, "random_projection"), planes).map(_ * scale))

  /** Hyperplane signature: bit b set iff dot(v, plane_b) > 0. Static entry
    * point for generated code.
    */
  def hyperplaneSig(v: ArrayData, planes: Array[Array[Double]]): Long =
    positiveBits(planeDots("vector", denseLanes(v, "hyperplane_signature"), planes))

  /** Driver-side signature of a probe vector. */
  def hyperplaneSig(v: Array[Float], planes: Array[Array[Double]]): Long =
    positiveBits(planeDots("probe", v, planes))

  /** dot(v, plane_b) for every plane, each summed sequentially in lane
    * order in double (the order an SQL list_sum restatement uses).
    */
  private def planeDots(what: String, v: Array[Float], planes: Array[Array[Double]]): Array[Double] = {
    require(v.length == planes(0).length,
      s"$what dim ${v.length} != plane dim ${planes(0).length}")
    planes.map { p =>
      var acc = 0.0; var i = 0
      while (i < p.length) { acc += v(i).toDouble * p(i); i += 1 }
      acc
    }
  }

  private def positiveBits(dots: Array[Double]): Long = {
    var sig = 0L; var b = 0
    while (b < dots.length) { if (dots(b) > 0.0) sig |= 1L << b; b += 1 }
    sig
  }

  /** Nearest centroid by squared L2: the first argmin of
    * [[centroidDistances]], so ties go to the lowest index. Static entry
    * point for generated code.
    */
  def nearestCentroid(v: ArrayData, centroids: Array[Array[Float]]): Int = {
    val d = sqL2ToEach("vector", denseLanes(v, "nearest_centroid"), centroids)
    var best = 0; var bestD = Double.PositiveInfinity; var c = 0
    while (c < d.length) { if (d(c) < bestD) { bestD = d(c); best = c }; c += 1 }
    best
  }

  /** Driver-side variant for the probe vector: squared L2 to every
    * centroid, same arithmetic as the expression path.
    */
  def centroidDistances(v: Array[Float], centroids: Array[Array[Float]]): Array[Double] =
    sqL2ToEach("probe", v, centroids)

  /** [[Distances.sqL2Double]] to each centroid. A dimension drift fails
    * fast: a truncated comparison would assign a confidently wrong cell
    * and silently pollute the IVF store.
    */
  private def sqL2ToEach(what: String, v: Array[Float], centroids: Array[Array[Float]]): Array[Double] = {
    require(centroids.nonEmpty, "at least one centroid required")
    require(v.length == centroids(0).length,
      s"$what dim ${v.length} != centroid dim ${centroids(0).length}")
    centroids.map(Distances.sqL2Double(v, _))
  }

  /** Lane `i` of a row's vector — the one NULL-lane rule of every kernel
    * that reads `array<float>` rows. A NULL lane fails fast, naming the
    * SQL function `fn`: read through `getFloat` it would be 0.0 and
    * diverge from any SQL restatement's NULL propagation.
    */
  private[kernels] def denseLane(v: ArrayData, i: Int, fn: String): Float = {
    if (v.isNullAt(i)) throw new IllegalArgumentException(
      s"$fn: NULL lane at index $i (vectors must be dense)")
    v.getFloat(i)
  }

  /** The lanes of a row's vector, copied once through [[denseLane]]. */
  private def denseLanes(v: ArrayData, fn: String): Array[Float] = {
    val out = new Array[Float](v.numElements())
    var i = 0
    while (i < out.length) { out(i) = denseLane(v, i, fn); i += 1 }
    out
  }

  /** Unicode NFC canonical composition (UAX #15) by the JDK's
    * `java.text.Normalizer`. Static entry point for generated code
    * ([[graft.expressions.NfcNormalize]]).
    */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  /** One BPE merge round over a symbol array: replace every non-overlapping
    * (a, b) adjacency with the concatenation a+b, greedy left-to-right on
    * the ORIGINAL sequence (the standard byte-pair-encoding round; in a
    * run "aaa" with merge (a,a) only the first pair merges). Static entry
    * point for generated code ([[graft.expressions.BpeMerge]]).
    */
  def bpeMerge(arr: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = arr.numElements()
    val buf = new scala.collection.mutable.ArrayBuffer[AnyRef](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && a.equals(arr.getUTF8String(i)) && b.equals(arr.getUTF8String(i + 1))) {
        buf += UTF8String.concat(a, b)
        i += 2
      } else {
        buf += arr.getUTF8String(i)
        i += 1
      }
    }
    new GenericArrayData(buf.toArray)
  }

  /** CDC boundary positions (1-based) for [[graft.ops.Curation.cdcChunks]]:
    * every i in [window, len-1] where the base-31 mod-1e9+7 polynomial of
    * chars (i-window, i] is ≡ 0 mod divisor. Bytes are the chars —
    * callers pass printable-ASCII-cleaned text. Semantically identical to
    * the per-position SQL fold the oracle runs; this is the tight-loop
    * form (the fold allocates a sequence per position). Static entry
    * point for generated code ([[graft.expressions.CdcBoundaries]]).
    */
  def cdcBoundaries(t: UTF8String, window: Int, divisor: Int): ArrayData = {
    val bytes = t.getBytes
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = window
    while (i <= n - 1) {
      var h = 0L
      var j = i - window
      while (j < i) {
        h = (h * 31L + (bytes(j) & 0xffL)) % 1000000007L
        j += 1
      }
      if (h % divisor == 0L) out += i
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
