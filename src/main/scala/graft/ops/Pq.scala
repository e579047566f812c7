package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.nearest_centroid
import graft.kernels.Sketches

/** Product quantization (PQ) — the third compression tier next to the
  * reference's scalar quantization (Q1, 4×) and the ANN partition pruning
  * (LSH/IVF): dim floats collapse to `m` one-byte codes, so a dim-64 f32
  * corpus stores 8 bytes/vector (32×) and an ADC probe scan reads ONLY the
  * code column — at 100 TB the serving scan touches ~0.8 TB of codes, no
  * vector bytes at all (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011).
  *
  * Pipeline:
  *  1. [[codebook]] — split dims into `m` subspaces; per subspace the code
  *     table is the same deterministic hash-ordered sample as
  *     [[Ann.ivfCentroids]] (exact BIGINT hash, SQL-restatable, quality
  *     gated by the pq_recall correctness row — k-means refinement via
  *     [[graft.expressions.VectorAvgFixed]] tightens cells but the sampled
  *     codebook is the independently-verifiable baseline);
  *  2. [[encode]] — per subspace, the codegen'd [[graft.expressions
  *     .NearestCentroid]] argmin over the sliced vector: one scan, no
  *     shuffle, no join — ties to the lower code on exact double equality;
  *  3. [[adcTopK]] — asymmetric distance computation: the probe's
  *     per-(subspace, code) squared-L2 table is computed ONCE driver-side
  *     ([[PqCodebook.lut]], m×nCodes doubles) and embedded as literals;
  *     each row's approximate distance is m array lookups + a sequential
  *     double sum inside WholeStageCodegen, ranked by [[Knn]]'s rank;
  *  4. [[rerankTopK]] — the standard serving pipeline: an ADC shortlist
  *     of k·overscan candidates, reranked by [[Knn]]'s rerank against the
  *     full vectors. Recall is the shortlist's, latency is the code
  *     scan's.
  *
  * Store layout ([[write]]/[[read]]): codes as `array<tinyint>` parquet
  * next to a `_pq_codebook` parquet sidecar (sub, code, cv) — parquet
  * round-trips floats exactly, no text codec in the loop. Both live in
  * one [[StoreSwap]] store directory.
  */
object Pq {

  /** cents(sub)(code) = the code's dsub-dim sub-centroid. */
  final case class PqCodebook(m: Int, dsub: Int, cents: Array[Array[Array[Float]]]) {
    require(m > 0 && dsub > 0 && cents.length == m, s"bad codebook shape m=$m dsub=$dsub")
    def dim: Int = m * dsub
    def nCodes: Int = cents(0).length

    /** Probe's ADC lookup table: lut(s)(j) = sq_l2(probe_sub_s, cents(s)(j)),
      * sequential double accumulation (same arithmetic as the encode
      * kernel, restatable in SQL).
      */
    def lut(probe: Array[Float]): Array[Array[Double]] = {
      require(probe.length == dim, s"probe dim ${probe.length} != codebook dim $dim")
      Array.tabulate(m)(s =>
        Sketches.centroidDistances(probe.slice(s * dsub, (s + 1) * dsub), cents(s)))
    }
  }

  /** Deterministic sampled codebook: the first `nCodes` vectors in
    * multiplicative-hash order ([[Ann.ivfCentroids]] — one c-row driver
    * collect), each sliced into `m` sub-centroids. `nCodes` ≤ 128 keeps
    * codes in a signed byte for the tinyint store.
    */
  def codebook(df: DataFrame, idCol: String, vecCol: String,
               dim: Int, m: Int, nCodes: Int): PqCodebook = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(nCodes > 0 && nCodes <= 128, s"nCodes must be in [1,128], got $nCodes")
    val dsub = dim / m
    val sample = Ann.ivfCentroids(df, idCol, vecCol, nCodes)
    require(sample.nonEmpty, "codebook sample is empty (no non-null vectors)")
    PqCodebook(m, dsub,
      Array.tabulate(m)(s => sample.map(_.slice(s * dsub, (s + 1) * dsub).toArray).toArray))
  }

  /** Per-subspace code column: `array<int>` of length m (code s = argmin
    * over the subspace's code table, ties to the lower code).
    */
  def encodeColumn(vec: Column, cb: PqCodebook): Column =
    array((0 until cb.m).map { s =>
      nearest_centroid(slice(vec, s * cb.dsub + 1, cb.dsub),
        cb.cents(s).map(_.toSeq).toSeq)
    }: _*)

  /** Encode to (id, codes) — one codegen'd scan, nothing shuffles. */
  def encode(df: DataFrame, idCol: String, vecCol: String, cb: PqCodebook): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), encodeColumn(col(vecCol), cb).as("codes"))

  /** ADC distance column over a codes array: m literal-table lookups +
    * a left-to-right double sum (the SQL restatement's list_sum order).
    * NULL codes give a NULL distance: the bare sum reads a number there
    * (0.0 over an in-memory frame, a LUT entry over parquet).
    */
  def adcColumn(codes: Column, lut: Array[Array[Double]]): Column =
    when(codes.isNotNull, lut.indices.map { s =>
      element_at(typedlit(lut(s).toSeq), element_at(codes, s + 1) + 1)
    }.reduce(_ + _))

  /** Approximate top-k by ADC over (id, codes): scans ONLY the code
    * column (8 bytes/row at m=8).
    */
  def adcTopK(codesDf: DataFrame, idCol: String, codesCol: String,
              probe: Array[Float], k: Int, cb: PqCodebook): DataFrame =
    Knn.rank(codesDf, idCol, col(codesCol), k)(adcColumn(_, cb.lut(probe)))

  /** ADC shortlist → exact re-rank: the k·overscan ADC winners, reranked
    * against the full vectors. The full-precision table is touched only
    * for the shortlist.
    */
  def rerankTopK(codesDf: DataFrame, fullDf: DataFrame, idCol: String, codesCol: String,
                 vecCol: String, probe: Array[Float], k: Int, cb: PqCodebook,
                 overscan: Int = 10, metric: String = "l2"): DataFrame =
    Knn.rerank(fullDf, adcTopK(codesDf, idCol, codesCol, probe, k * overscan, cb),
      idCol, vecCol, probe, k, metric)

  /** Materialize the code store: `array<tinyint>` codes plus a
    * `_pq_codebook` parquet sidecar — exact float round-trip, readable
    * without the original table — staged together and swapped in through
    * [[StoreSwap.replace]], so codes never pair with another codebook.
    */
  def write(df: DataFrame, idCol: String, vecCol: String, path: String, cb: PqCodebook): Unit =
    StoreSwap.replace(df.sparkSession, path) { tmp =>
      writeCodebook(df.sparkSession, cb, tmp)
      encode(df, idCol, vecCol, cb)
        .select(col("id"), col("codes").cast("array<tinyint>").as("codes"))
        .write.parquet(s"$tmp/codes")
    }

  private def writeCodebook(spark: SparkSession, cb: PqCodebook, dir: String): Unit = {
    import spark.implicits._
    (for (s <- 0 until cb.m; j <- 0 until cb.nCodes) yield (s, j, cb.cents(s)(j).toSeq))
      .toDF("sub", "code", "cv").coalesce(1).write.parquet(s"$dir/_pq_codebook")
  }

  // ---------- IVF-PQ: coarse partition pruning × code compression ----------

  /** IVF-PQ store (the reference full pipeline of Jégou et al. 2011 §IV,
    * "IVFADC"): each vector is assigned to its nearest coarse centroid
    * ([[Ann.withClusters]]) and stored as its `m` PQ codes, partitioned by
    * cell. A probe then prunes to `nprobe` cell directories at file-listing
    * time AND scans only the 1-byte-per-subspace code column — the two
    * scale levers multiply: at 100 TB, nprobe/c of the corpus × m bytes
    * per vector is all that is read (~0.2 TB for c=1024, nprobe=64, m=8).
    *
    * Codes are computed over the RAW vector (not the residual v − c(v)):
    * raw-vector codes are cell-independent, so one global codebook serves
    * every cell and the encode stays a single shuffle-free scan. The
    * residual variant tightens quantization error but couples every code
    * to its cell's centroid; recall here is gated by ivfpq_recall instead.
    *
    * `centroids` takes either the hash-sampled seeds ([[Ann.ivfCentroids]])
    * or the Lloyd-refined cells ([[Ann.refineCentroids]]) — the refined
    * coarse quantizer is measured against the sampled baseline by the
    * ivfpq_recall_kmeans gate, mirroring IVF's ivf_recall_kmeans.
    *
    * `extraCols` ride along in the code store (metadata columns for
    * [[ivfPqTopKFiltered]] — a few bytes next to the 8-byte codes).
    */
  def writeIvfPq(df: DataFrame, idCol: String, vecCol: String, path: String,
                 centroids: Seq[Seq[Float]], cb: PqCodebook,
                 extraCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    StoreSwap.replace(spark, path) { tmp =>
      writeCodebook(spark, cb, tmp)
      centroids.zipWithIndex.map { case (cv, i) => (i, cv) }
        .toDF("cid", "cv").coalesce(1).write.parquet(s"$tmp/_ivf_centroids")
      Ann.writePartitioned(ivfPqCodes(df, idCol, vecCol, centroids, cb, extraCols),
        "cluster", s"$tmp/codes")
    }
  }

  /** (id, codes, cluster, extraCols…) rows of the IVF-PQ code store. */
  private def ivfPqCodes(df: DataFrame, idCol: String, vecCol: String,
                         centroids: Seq[Seq[Float]], cb: PqCodebook,
                         extraCols: Seq[String]): DataFrame =
    Ann.withClusters(df.where(col(vecCol).isNotNull), vecCol, centroids)
      .select(Seq(col(idCol).as("id"),
        encodeColumn(col(vecCol), cb).cast("array<tinyint>").as("codes"),
        col("cluster")) ++ extraCols.map(col): _*)

  /** Read the IVF-PQ store back: (codes DataFrame with its `cluster`
    * partition column, coarse centroids, PQ codebook) — self-contained,
    * no original table needed.
    */
  def readIvfPq(spark: SparkSession, path: String): (DataFrame, Seq[Seq[Float]], PqCodebook) = {
    StoreSwap.open(spark, path)
    val codes = spark.read.parquet(s"$path/codes")
      .select(col("id"), col("codes").cast("array<int>").as("codes"), col("cluster"))
    (codes, readCentroids(spark, s"$path/_ivf_centroids"),
      readCodebook(spark, s"$path/_pq_codebook"))
  }

  private def readCentroids(spark: SparkSession, path: String): Seq[Seq[Float]] =
    spark.read.parquet(path)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toSeq))
      .sortBy(_._1).map(_._2).toSeq

  /** Append an ingest wave to an existing IVF-PQ store under its FROZEN
    * sidecars — the [[Ann.appendIvf]] lifecycle for the combined store,
    * completing the append story across all three serving stores (scalar
    * quant / IVF / IVF-PQ). The wave is assigned and encoded under the
    * centroids + codebook read from the store's own sidecars (both are
    * pure functions of the vector, so appended content is byte-equivalent
    * to a rebuild — gated by ivfpq_append's union replay); one wave scan,
    * partitioned append, no rebuild. Drift monitoring is
    * [[Ann.ivfCellCounts]] over `path/codes`, same trade as IVF: recall
    * is the gated contract, so a drifted wave is observed and answered
    * with a refine + rebuild, not rejected.
    */
  def appendIvfPq(wave: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = wave.sparkSession
    StoreSwap.open(spark, path)
    val cents = readCentroids(spark, s"$path/_ivf_centroids")
    val cb = readCodebook(spark, s"$path/_pq_codebook")
    Ann.writePartitioned(ivfPqCodes(wave, idCol, vecCol, cents, cb, Nil), "cluster", s"$path/codes")
  }

  /** ADC top-k over the probed cells only: the IN-list on the `cluster`
    * partition column prunes directories before any row is read
    * (PartitionFilters, like [[Ann.ivfTopK]]), then the surviving code
    * rows are scored by the literal LUT inside WholeStageCodegen.
    */
  def ivfPqTopK(spark: SparkSession, path: String, probe: Array[Float], k: Int,
                centroids: Seq[Seq[Float]], cb: PqCodebook, nprobe: Int): DataFrame =
    ivfPqTopKFiltered(spark, path, probe, k, centroids, cb, nprobe, lit(true))

  /** FILTERED IVF-PQ top-k — [[Ann.ivfTopKFiltered]]'s contract over the
    * COMBINED store: metadata written via `writeIvfPq(extraCols)` rides
    * next to the codes, so the predicate composes with both scale levers
    * (cell-directory pruning × code-column scan) in one pass. Same
    * post-filter recall trade as the IVF variant: exact-ADC within the
    * probed cells' predicate-passing rows; raise nprobe with predicate
    * selectivity.
    */
  def ivfPqTopKFiltered(spark: SparkSession, path: String, probe: Array[Float],
                        k: Int, centroids: Seq[Seq[Float]], cb: PqCodebook,
                        nprobe: Int, predicate: Column): DataFrame = {
    val cells = Ann.probeClusters(probe, centroids, nprobe)
    // probed-directory read (see Ann.readProbedDirs): lists only the
    // nprobe cell dirs instead of the whole store
    val store = Ann.readProbedDirs(spark, s"$path/codes", "cluster", cells.map(_.toLong))
      .where(col("cluster").isin(cells: _*))
      .where(predicate)
    Knn.rank(store, "id", col("codes"), k)(c => adcColumn(c.cast("array<int>"), cb.lut(probe)))
  }

  /** IVF-PQ shortlist (k·overscan rows) → exact re-rank against the
    * full-precision table — the end-to-end serving path.
    */
  def ivfPqRerank(spark: SparkSession, path: String, fullDf: DataFrame,
                  idCol: String, vecCol: String, probe: Array[Float], k: Int,
                  centroids: Seq[Seq[Float]], cb: PqCodebook, nprobe: Int,
                  overscan: Int = 10, metric: String = "l2"): DataFrame =
    Knn.rerank(fullDf,
      ivfPqTopK(spark, path, probe, k * overscan, centroids, cb, nprobe).select(col("id").as(idCol)),
      idCol, vecCol, probe, k, metric)

  private def readCodebook(spark: SparkSession, cbPath: String): PqCodebook = {
    val cbRows = spark.read.parquet(cbPath)
      .select(col("sub"), col("code"), col("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = cbRows.map(_._1).max + 1
    val nCodes = cbRows.map(_._2).max + 1
    val bySub = cbRows.groupBy(_._1)
    val cents = Array.tabulate(m)(s => bySub(s).sortBy(_._2).map(_._3))
    require(cents.forall(_.length == nCodes), "ragged codebook sidecar")
    PqCodebook(m, cents(0)(0).length, cents)
  }

  /** Read back (codes ready for [[adcTopK]], codebook from the sidecar). */
  def read(spark: SparkSession, path: String): (DataFrame, PqCodebook) = {
    StoreSwap.open(spark, path)
    val codes = spark.read.parquet(s"$path/codes")
      .select(col("id"), col("codes").cast("array<int>").as("codes"))
    (codes, readCodebook(spark, s"$path/_pq_codebook"))
  }
}
