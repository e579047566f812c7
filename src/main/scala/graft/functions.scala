package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.functions.{lit, typedlit}

import graft.expressions._

/** Column-level API + SQL registration — the engine's equivalent of the
  * reference's scalar-function surface (vector_version/backend/as_*,
  * sqlite-vector.c:2545-2597).
  */
object functions {

  val Version = "0.9.23-spark" // tracks the reference version (sqlite-vector.h:27)

  private def col(e: Expression): Column = GraftColumnShim.column(e)
  private def expr(c: Column): Expression = GraftColumnShim.expression(c)

  /** Probe vector as an `array<float>` literal column. */
  def vectorLit(v: Array[Float]): Column = typedlit(v.toSeq)

  /** Task count for a partitioned store write: the session's shuffle
    * parallelism, pinned EXPLICITLY on the pre-write `repartition` so
    * AQE's byte-based coalescing cannot fold a many-directory
    * `partitionBy` write onto one or two tasks (a small store still
    * opens one parquet writer per partition directory — measured 2
    * tasks × ~128 sequential file creations each on the 256-bucket LSH
    * store, the whole cost of its append row). Scale-adaptive: the
    * value is the deployment's own `spark.sql.shuffle.partitions`, not
    * a constant.
    */
  def writeParallelism(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  def vector_distance(a: Column, b: Column, metric: String): Column =
    col(VectorDistance(expr(a), expr(b), Metric.parse(metric)))

  def vector_distance_packed(a: Column, b: Column, metric: String, elemType: String): Column =
    col(PackedVectorDistance(expr(a), expr(b), Metric.parse(metric), ElemType.parse(elemType)))

  def quantize_codes(v: Column, p: QuantParams): Column =
    col(QuantizeCodes(expr(v), p.scale, p.offset, p.qType == QType.U8))

  def code_distance(a: Column, b: Column, metric: String, qType: QType): Column =
    col(CodeDistance(expr(a), expr(b), Metric.parse(metric), signed = qType == QType.I8))

  /** See [[graft.expressions.IdSetMember]]. */
  private[graft] def id_set_member(id: Column, ids: ShortlistIds): Column = col(IdSetMember(expr(id), ids))

  def code_sum(c: Column, qType: QType): Column =
    col(CodeSum(expr(c), signed = qType == QType.I8))

  def pack_vector(v: Column, elemType: String): Column =
    col(PackVector(expr(v), ElemType.parse(elemType)))

  def array_min_max(v: Column): Column = col(ArrayMinMax(expr(v)))

  /** Result-identical drop-in for `round(c, scale)` on doubles, minus the
    * per-row BigDecimal/`Double.toString` cost — see
    * [[graft.expressions.FastRound]]. Use in pair-dense plans where a
    * value is rounded per candidate, not per output row.
    */
  def fast_round(c: Column, scale: Int = 6): Column = col(FastRound(expr(c), scale))

  def shingle_hashes(text: Column, n: Int): Column = col(ShingleHashes(expr(text), n))

  /** CDC boundary positions over ASCII-cleaned text; see
    * [[graft.expressions.CdcBoundaries]].
    */
  def cdc_boundaries(text: Column, window: Int, divisor: Int): Column =
    col(CdcBoundaries(expr(text), window, divisor))

  def byte_histogram(payload: Column, dim: Int): Column = col(ByteHistogram(expr(payload), dim))

  /** ⟨x−μ, v⟩ against constant vectors — see [[graft.expressions.CenteredDot]]. */
  def centered_dot(vec: Column, mu: Array[Double], v: Array[Double]): Column =
    col(CenteredDot(expr(vec), mu, v))

  /** Per-row PCA lane contributions — see [[graft.expressions.PcaLaneTerms]]. */
  def pca_lane_terms(vec: Column, mu: Array[Double], v: Array[Double]): Column =
    col(PcaLaneTerms(expr(vec), mu, v))

  def simhash64(tokens: Column): Column = col(SimHash64(expr(tokens)))

  /** SQL-restatable 61-bit string hash — the narrow shuffle key for
    * string-keyed grouping (line dedup); see [[graft.expressions.StringHash61]].
    */
  def string_hash61(s: Column): Column = col(StringHash61(expr(s)))

  /** Unicode NFC canonical composition; see [[graft.expressions.NfcNormalize]]. */
  def nfc_normalize(s: Column): Column = col(NfcNormalize(expr(s)))

  /** Sign-bit binary quantization: `array<float>` → packed `array<long>`
    * bit signature (1 bit/dim); see [[graft.expressions.SignBits]].
    */
  def sign_bits(v: Column, dim: Int): Column = col(SignBits(expr(v), dim))

  /** Hamming distance between two [[sign_bits]] signatures. */
  def hamming_distance(a: Column, b: Column): Column =
    col(HammingDistance(expr(a), expr(b)))

  /** Misra-Gries heavy-hitters aggregate (≤ k counters, deterministic
    * n/(k+1) undercount bound); see [[graft.expressions.FreqItemsSketch]].
    */
  def freq_items_sketch(item: Column, k: Int): Column =
    col(FreqItemsSketch(expr(item), k).toAggregateExpression())

  /** REAL 16-bit PCM decode of a RIFF/WAVE payload → exact integer stats
    * struct; see [[graft.expressions.PcmStatsExpr]].
    */
  def pcm_stats(payload: Column): Column = col(PcmStatsExpr(expr(payload)))

  /** REAL PNG pixel decode (inflate + five-filter reconstruction) → exact
    * per-channel sums struct; see [[graft.expressions.PngPixelStatsExpr]].
    */
  def png_pixel_stats(payload: Column): Column = col(PngPixelStatsExpr(expr(payload)))

  /** 63-bit perceptual dHash over decoded PNG pixels — see
    * [[graft.expressions.PngDhashExpr]].
    */
  def png_dhash(payload: Column): Column = col(PngDhashExpr(expr(payload)))

  /** Exact luma stats over a REAL baseline-JPEG decode (Huffman + islow
    * IDCT, luma-only); see [[graft.expressions.JpegLumaStatsExpr]].
    */
  def jpeg_luma_stats(payload: Column): Column = col(JpegLumaStatsExpr(expr(payload)))

  /** Perceptual 63-bit dHash over decoded JPEG luma — one hash space with
    * [[png_dhash]]; see [[graft.expressions.JpegDhashExpr]].
    */
  def jpeg_dhash(payload: Column): Column = col(JpegDhashExpr(expr(payload)))

  /** Energy-envelope audio fingerprint over decoded PCM16 — see
    * [[graft.expressions.PcmFingerprintExpr]].
    */
  def pcm_fingerprint(payload: Column, window: Int = 8): Column =
    col(PcmFingerprintExpr(expr(payload), window))

  /** GIF frame count + total delay via a real block walk — see
    * [[graft.expressions.GifFramesExpr]].
    */
  def gif_frames(payload: Column): Column = col(GifFramesExpr(expr(payload)))

  /** Container-header metadata struct for a multimodal binary payload —
    * see [[graft.expressions.MediaProbeExpr]].
    */
  def media_probe(payload: Column, declaredType: Column): Column =
    col(MediaProbeExpr(expr(payload), expr(declaredType)))

  /** Exact integral division over BIGINT columns (the SQL `div`
    * operator; DuckDB `//`) — the building block for decimal-exact
    * rational arithmetic in integer space, where `/` on longs would
    * detour through double and lose exactness past 2⁵³.
    */
  def long_div(a: Column, b: Column): Column =
    col(org.apache.spark.sql.catalyst.expressions.IntegralDivide(expr(a), expr(b)))

  /** One BPE merge round over a symbol array; see
    * [[graft.expressions.BpeMerge]].
    */
  def bpe_merge(syms: Column, a: String, b: String): Column =
    col(BpeMerge(expr(syms), a, b))

  def sorted_intersect_count(a: Column, b: Column): Column =
    col(SortedIntersectCount(expr(a), expr(b)))

  def sig_match_count(a: Column, b: Column): Column =
    col(SigMatchCount(expr(a), expr(b)))

  def minhash_signature(shingleHashes: Column, numHashes: Int): Column =
    col(MinHashSignature(expr(shingleHashes), numHashes))

  def hyperplane_signature(v: Column, nBits: Int, dim: Int, seed: Long = 42L): Column =
    col(HyperplaneSignature(expr(v), nBits, dim, seed))

  def nearest_centroid(v: Column, centroids: Seq[Seq[Float]]): Column =
    col(NearestCentroid(expr(v), centroids))

  /** Johnson-Lindenstrauss Gaussian random projection to `outDim`
    * dimensions; see [[graft.expressions.RandomProjection]].
    */
  def random_projection(v: Column, outDim: Int, dim: Int, seed: Long = 42L): Column =
    col(RandomProjection(expr(v), outDim, dim, seed))

  /** Grouped top-k aggregate: smallest-k (distance, id) pairs per group,
    * bounded O(k) state per task (map-side combine) — the batch k-NN join
    * primitive; see [[graft.expressions.TopKPairs]].
    */
  def knn_topk(distance: Column, id: Column, k: Int): Column =
    col(TopKPairs(expr(distance), expr(id), k).toAggregateExpression())

  /** Bounded per-group DISTINCT top-k strings by (priority, value) — the
    * skew-proof `collect_set` with an exact over-cap flag; see
    * [[graft.expressions.TopKDistinctStrings]]. Returns
    * struct(kept array<string>, capped boolean).
    */
  def topk_distinct_strings(priority: Column, value: Column, k: Int): Column =
    col(TopKDistinctStrings(expr(priority), expr(value), k).toAggregateExpression())

  /** Per-group embedding centroid in exact (order-independent) fixed-point
    * arithmetic; see [[graft.expressions.VectorAvgFixed]].
    */
  def vector_avg(v: Column, dim: Int): Column =
    col(VectorAvgFixed(expr(v), dim).toAggregateExpression())

  def vector_as_f32(v: Column, dim: Int = -1): Column = col(ToVector(expr(v), ElemType.F32, dim))
  def vector_as_f16(v: Column, dim: Int = -1): Column = col(ToVector(expr(v), ElemType.F16, dim))
  def vector_as_bf16(v: Column, dim: Int = -1): Column = col(ToVector(expr(v), ElemType.BF16, dim))
  def vector_as_i8(v: Column, dim: Int = -1): Column = col(ToVector(expr(v), ElemType.I8, dim))
  def vector_as_u8(v: Column, dim: Int = -1): Column = col(ToVector(expr(v), ElemType.U8, dim))

  def vector_version(): Column = lit(Version)
  def vector_backend(): Column = lit(kernels.Distances.backend())

  /** Register the SQL surface so `spark.sql("... vector_distance(a, b, 'l2') ...")`
    * works — the whole of it, as [[graft.sql.GraftTableFunctions.register]]
    * does (sqlite-vector.c:2581-2597).
    */
  def registerSql(spark: SparkSession): Unit = graft.sql.SqlRegistry.register(spark)
}
