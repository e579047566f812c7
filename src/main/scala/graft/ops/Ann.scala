package graft.ops

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{hyperplane_signature, vector_distance}
import graft.kernels.Sketches

/** Approximate nearest-neighbor search over an embedding column.
  *
  * Each search here only picks its candidate rows — the probed LSH
  * buckets or IVF cells, plus an optional predicate — and ranks them with
  * [[Knn.exactRank]], planned per call since the candidates depend on the
  * probe; the rank's shape and NULL rule are written once, in [[Knn]].
  *
  * Scale path: random-hyperplane LSH bucketing. Each vector gets an
  * `nBits`-bit signature (one codegen'd traversal — HyperplaneSignature);
  * probes search only their own bucket plus its hamming-1 neighbors
  * (multi-probe). The bucket is a plain long column, so the table is
  * written `partitionBy("bucket")` and the probe's IN-list prunes at the
  * Parquet partition level: a 100 TB scan becomes (nBits+1)/2^nBits of the
  * data actually read — file listing, not filtering.
  */
object Ann {

  def planes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Sketches.planes(nBits, dim, seed)

  /** Add the LSH bucket column (single-pass codegen'd signature). */
  def withBuckets(df: DataFrame, vecCol: String, nBits: Int, dim: Int, seed: Long = 42L): DataFrame =
    df.withColumn("bucket", hyperplane_signature(col(vecCol), nBits, dim, seed))

  /** Probe's own bucket + all hamming-1 neighbors (multi-probe LSH). */
  def probeBuckets(probe: Array[Float], nBits: Int, seed: Long = 42L): Seq[Long] = {
    val sig = Sketches.hyperplaneSig(probe, planes(nBits, probe.length, seed))
    sig +: (0 until nBits).map(b => sig ^ (1L << b))
  }

  /** ANN top-k over an in-memory/bucketed DataFrame: the candidates are
    * the rows whose bucket is within hamming distance 1 of the probe's,
    * ranked by [[Knn.exactRank]]. The bucket filter is a long IN-list →
    * pushed to the scan (and to partition pruning when the source is
    * bucket-partitioned).
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, probe: Array[Float],
              k: Int, metric: String, nBits: Int = 8, seed: Long = 42L): DataFrame = {
    val bucketed = if (df.columns.contains("bucket")) df
                   else withBuckets(df, vecCol, nBits, probe.length, seed)
    Knn.exactRank(bucketed.where(col("bucket").isin(probeBuckets(probe, nBits, seed): _*)),
      idCol, vecCol, probe, k, metric)
  }

  /** Append `df` to `path` partitioned by `partCol`. Rows are clustered
    * by the partition value before the write, so each directory gets O(1)
    * files instead of one per (task × value) — at scale the partitionBy
    * write would otherwise explode into tasks×2^nBits files.
    */
  private[ops] def writePartitioned(df: DataFrame, partCol: String, path: String): Unit =
    df.repartition(graft.functions.writeParallelism(df.sparkSession), col(partCol))
      .write.mode(SaveMode.Append).partitionBy(partCol).parquet(path)

  /** Materialize the bucketed table partitioned by bucket — the on-disk
    * layout that makes probe scans read only probed partitions — and swap
    * it in through [[StoreSwap.replace]].
    */
  def writeBucketed(df: DataFrame, vecCol: String, path: String,
                    nBits: Int, dim: Int, seed: Long = 42L): Unit =
    StoreSwap.replace(df.sparkSession, path)(
      writePartitioned(withBuckets(df, vecCol, nBits, dim, seed), "bucket", _))

  /** Append an ingest wave to an existing LSH store. Unlike
    * [[appendIvf]]'s frozen centroids, there is no learned state to
    * freeze at all: the bucket is a pure function of (vector, nBits,
    * seed), so a wave bucketed with the SAME (nBits, dim, seed) as the
    * store lands byte-equivalent to a rebuild by construction — the
    * caller's only obligation is passing the store's own parameters
    * (gated by lsh_append, whose oracle is the full-corpus replay).
    */
  def appendBucketed(wave: DataFrame, vecCol: String, path: String,
                     nBits: Int, dim: Int, seed: Long = 42L): Unit = {
    StoreSwap.open(wave.sparkSession, path)
    writePartitioned(withBuckets(wave, vecCol, nBits, dim, seed), "bucket", path)
  }

  /** Read ONLY the probed partition directories of a `partitionBy`
    * store: `spark.read.parquet(root)` lists EVERY partition directory
    * before pruning — for a 2^nBits-directory store that listing crosses
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) and
    * runs as its own Spark JOB (256 tasks for the LSH store, ~0.35 s per
    * probe at gate scale; at production store sizes the listing grows
    * with the store while the probe's true working set stays nprobe
    * directories). One `listStatus` of the root finds the probed values'
    * directories; reading them under `basePath` keeps the partition
    * column and reads the same rows; the callers keep their IN-list
    * filter on top, so the scan's PartitionFilters contract is unchanged.
    * Values without a directory contribute no rows either way; when none
    * of the probed directories exists or holds a parquet footer to infer
    * the schema from, the read falls back to the root (schema intact).
    */
  private[ops] def readProbedDirs(spark: SparkSession, path: String,
                                  partCol: String, values: Seq[Long]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val present = try root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).map(_.getPath.getName).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    val dirs = values.map(v => s"$partCol=$v").filter(present).map(d => s"$path/$d")
    if (dirs.isEmpty) spark.read.parquet(path)
    else try spark.read.option("basePath", path).parquet(dirs: _*)
    catch { case _: AnalysisException => spark.read.parquet(path) }
  }

  /** ANN top-k over a bucket-partitioned store: the IN-list on the
    * partition column prunes directories before any row is read —
    * `.explain` shows PartitionFilters and numFiles ≈ nBits+1 buckets.
    */
  def lshTopKPruned(spark: SparkSession, path: String, idCol: String, vecCol: String,
                    probe: Array[Float], k: Int, metric: String,
                    nBits: Int = 8, seed: Long = 42L): DataFrame = {
    val buckets = probeBuckets(probe, nBits, seed)
    Knn.exactRank(readProbedDirs(spark, path, "bucket", buckets).where(col("bucket").isin(buckets: _*)),
      idCol, vecCol, probe, k, metric)
  }

  /** Table-to-table ANN JOIN: every LEFT row gets its top-k nearest RIGHT
    * rows under `metric`, with candidates limited to right rows whose LSH
    * bucket lies within Hamming distance 1 of the left row's (the same
    * multi-probe neighborhood [[lshTopK]] uses for a single probe).
    *
    * Shape at 100 TB — this is the retrieval/dedup primitive "for every
    * document, its nearest neighbors", and nothing quadratic appears:
    * the right side computes its bucket once; the left side explodes to
    * its nBits+1 probe buckets; both shuffle ONCE on the 8-byte bucket
    * key into an equi-join (a pair meets exactly once: the right bucket
    * equals exactly one element of the left's probe set); per-left-row
    * ranking folds through the bounded knn_topk heap — O(k) state per
    * left row, only left×k rows leave the aggregation. Skewed buckets
    * are CAPPED, not hoped away: a right bucket holding more than
    * `maxBucket` rows (correlated embedding mass — boilerplate corpora
    * concentrate near-identical vectors into one signature) is dropped
    * from candidate generation before the join, so |L_b|·|R_b| is
    * bounded by |L_b|·maxBucket everywhere and no input skew can
    * quadratize the plan at runtime. The cap is the same count →
    * anti-join machinery as [[Dedup.minhashLshRun]]: the per-bucket
    * count shuffles (key, count) rows only, over-cap keys are ≤
    * n/maxBucket by construction so the anti-join broadcasts under AQE.
    * [[AnnJoinRun.overCapBuckets]] reports how many buckets were capped —
    * a right row lives in exactly ONE bucket (only the left side
    * multi-probes), so unlike a dropped LSH band a dropped bucket has no
    * second chance: a non-zero count is the signal to raise nBits (finer
    * buckets) or maxBucket deliberately rather than discover a quadratic
    * stage — or a recall hole — at runtime. Candidate quality is the
    * standard sign-LSH recall trade.
    *
    * Distances are rounded to 6 dp BEFORE ranking (the repo's engine-
    * portability convention). Output: (left id, rank 1..k, right id,
    * distance), rank ties broken by right id.
    */
  /** XOR masks of popcount ≤ radius over nBits — the multi-probe
    * neighborhood size is Σ C(nBits, r): 9 at radius 1, 37 at radius 2
    * for nBits = 8. Recall/cost dial: each +1 radius multiplies the
    * candidate fraction read per probe.
    */
  private[ops] def probeMasks(nBits: Int, radius: Int): Seq[Long] =
    (0L until (1L << nBits)).filter(m => java.lang.Long.bitCount(m) <= radius)

  /** [[annJoin]]'s result plus the over-cap observer (the [[Dedup.LshRun]]
    * pattern): `pairs` is the join output; `overCapBuckets()` counts right
    * buckets that exceeded `maxBucket` and were excluded.
    */
  final case class AnnJoinRun(pairs: DataFrame, overCapBuckets: () => Long)

  def annJoin(left: DataFrame, leftIdCol: String, leftVecCol: String,
              right: DataFrame, rightIdCol: String, rightVecCol: String,
              k: Int, metric: String, nBits: Int, dim: Int,
              seed: Long = 42L, probeRadius: Int = 1,
              maxBucket: Int = 1 << 16): DataFrame =
    annJoinRun(left, leftIdCol, leftVecCol, right, rightIdCol, rightVecCol,
      k, metric, nBits, dim, seed, probeRadius, maxBucket).pairs

  def annJoinRun(left: DataFrame, leftIdCol: String, leftVecCol: String,
                 right: DataFrame, rightIdCol: String, rightVecCol: String,
                 k: Int, metric: String, nBits: Int, dim: Int,
                 seed: Long = 42L, probeRadius: Int = 1,
                 maxBucket: Int = 1 << 16): AnnJoinRun = {
    require(probeRadius >= 0 && probeRadius <= nBits, s"probeRadius $probeRadius out of range")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val masks = probeMasks(nBits, probeRadius)
    val l = withBuckets(left.where(col(leftVecCol).isNotNull), leftVecCol, nBits, dim, seed)
      .select(col(leftIdCol).as("_l_id"), col(leftVecCol).as("_l_v"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val r0 = withBuckets(right.where(col(rightVecCol).isNotNull), rightVecCol, nBits, dim, seed)
      .select(col("bucket"), col(rightIdCol).as("_r_id"), col(rightVecCol).as("_r_v"))
    // bucket-size cap (see scaladoc): count shuffles (key, count) only;
    // the FEW over-cap keys anti-join back without re-shuffling r0
    val overCap = r0.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)
    val r = r0.join(overCap.select(col("bucket")), Seq("bucket"), "left_anti")
    val pairs = l.join(r, "bucket")
      .select(col("_l_id"),
        graft.functions.fast_round(vector_distance(col("_l_v"), col("_r_v"), metric), 6).as("_d"),
        col("_r_id"))
      .groupBy(col("_l_id"))
      .agg(graft.functions.knn_topk(col("_d"), col("_r_id"), k).as("_tk"))
      .select(col("_l_id"), posexplode(col("_tk")))
      .select(col("_l_id").as(leftIdCol + "_probe"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(rightIdCol),
        col("col.distance").as("distance"))
    lazy val overCapCount: Long = overCap.count()
    AnnJoinRun(pairs, () => overCapCount)
  }

  // ---------- IVF (inverted-file) coarse quantization ----------

  /** Deterministic hash-ordered sampled centroids: order by a
    * multiplicative hash of the id — (id mod 1000003)·2654435761 mod
    * 1000000007, exact BIGINT arithmetic with no overflow for |id| < 3.4e9,
    * restatable verbatim in ANSI SQL — and take the first `c` (TakeOrdered,
    * a c-row driver merge, cheap at any scale).
    *
    * Hash order decorrelates the sample from ingestion order: the earlier
    * first-c-by-id form picked mutually-close centroids on time- or
    * source-clustered corpora, collapsing probes into few hot cells. A
    * k-means refinement would tighten cells further but break the
    * independent SQL restatement; a deterministic pseudo-random sample is
    * the standard verifiable coarse quantizer (quality gated by the
    * ivf_recall correctness row).
    */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String, c: Int): Seq[Seq[Float]] =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol).as("_ivf_id"), col(vecCol).as("_ivf_v"))
      .withColumn("_ivf_h",
        col("_ivf_id").cast("long") % lit(1000003L) * lit(2654435761L) % lit(1000000007L))
      .orderBy(col("_ivf_h"), col("_ivf_id"))
      .limit(c)
      .collect()
      .map(_.getSeq[Float](1).toSeq)
      .toSeq

  /** Assign each vector to its nearest centroid (codegen'd argmin). */
  def withClusters(df: DataFrame, vecCol: String, centroids: Seq[Seq[Float]]): DataFrame =
    df.withColumn("cluster", graft.functions.nearest_centroid(col(vecCol), centroids))

  /** One exact Lloyd refinement round over the given seeds — the k-means
    * coarse quantizer the [[ivfCentroids]] docstring promises, now wired
    * in: assign (codegen'd argmin, seed matrix is a literal), per-cell
    * exact fixed-point means (`vector_avg` — one corpus scan, a
    * (dim+1)-longs-per-cell shuffle), then the q20 binary-grid float
    * handoff (k/2²⁰ — a BINARY .5 boundary is exact so every engine
    * rounds the same way; see the kmeans_iter2 gate, whose oracle
    * replays this round verbatim). Cells that lose every member drop
    * out; survivors re-index in seed order. Call again for more rounds —
    * each is one scan, and refined cells tighten IVF probes (gated by
    * ivf_recall_kmeans against the sampled-seed baseline).
    */
  def refineCentroids(df: DataFrame, vecCol: String, seeds: Seq[Seq[Float]],
                      dim: Int): Seq[Seq[Float]] =
    withClusters(df, vecCol, seeds)
      .groupBy(col("cluster"))
      .agg(graft.functions.vector_avg(col(vecCol), dim).as("c"))
      .collect()
      .sortBy(_.getAs[Int]("cluster"))
      .toSeq
      .map(r => r.getSeq[Double](r.fieldIndex("c")).map(x =>
        (graft.kernels.Quantize.roundHalfUp(x * 1048576.0, 0) / 1048576.0).toFloat))

  /** Materialize the IVF store partitioned by cluster and swap it in
    * through [[StoreSwap.replace]].
    */
  def writeIvf(df: DataFrame, vecCol: String, path: String, centroids: Seq[Seq[Float]]): Unit =
    StoreSwap.replace(df.sparkSession, path)(
      writePartitioned(withClusters(df, vecCol, centroids), "cluster", _))

  /** Append an ingest wave to an existing IVF store under its FROZEN
    * centroids — the [[graft.ops.Quantizer.quantizeAppend]] lifecycle for
    * the vector index: one scan of the WAVE (assign + partitioned append)
    * instead of the full rebuild, and because cell assignment is a pure
    * function of (vector, centroids), the appended store is
    * byte-equivalent in content to a rebuild under the same centroids —
    * which is exactly what the ivf_append gate's oracle checks (it
    * replays assignment over the union).
    *
    * What freezing does NOT protect: a drifted wave (new embedding model,
    * new domain) concentrates into few cells and erodes probe pruning +
    * recall — IVF's contract is the gated recall harness, not an
    * exactness bound, so the guard here is observability rather than
    * rejection: watch [[ivfCellCounts]] after each wave and re-run
    * [[refineCentroids]] + rebuild when the histogram skews.
    */
  def appendIvf(wave: DataFrame, vecCol: String, path: String,
                centroids: Seq[Seq[Float]]): Unit = {
    StoreSwap.open(wave.sparkSession, path)
    writePartitioned(withClusters(wave.where(col(vecCol).isNotNull), vecCol, centroids),
      "cluster", path)
  }

  /** Per-cell row counts of an IVF store — the hot-cell health probe
    * appends are monitored with. Selecting only the PARTITION column, the
    * scan reads directory names + footer row counts, no vector bytes.
    */
  def ivfCellCounts(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"))

  /** The probe's `nprobe` nearest cells (ties to the lower index —
    * identical arithmetic to the assignment expression).
    */
  def probeClusters(probe: Array[Float], centroids: Seq[Seq[Float]], nprobe: Int): Seq[Int] =
    Sketches.centroidDistances(probe, centroids.map(_.toArray).toArray)
      .zipWithIndex.sortBy { case (d, i) => (d, i) }.take(nprobe).map(_._2).toSeq

  /** IVF ANN top-k: scan only the `nprobe` nearest cells (partition-pruned
    * like the LSH store) and rank their rows with [[Knn.exactRank]].
    */
  def ivfTopK(spark: SparkSession, path: String, idCol: String, vecCol: String,
              probe: Array[Float], k: Int, metric: String,
              centroids: Seq[Seq[Float]], nprobe: Int): DataFrame =
    ivfTopKFiltered(spark, path, idCol, vecCol, probe, k, metric, centroids, nprobe, lit(true))

  /** FILTERED vector search over the IVF store — "nearest `lang='en'`
    * documents", the metadata-constrained retrieval every serving stack
    * ends up needing. [[writeIvf]] keeps every input column, so metadata
    * rides IN the store and the predicate composes with cell pruning:
    * the cluster IN-list prunes partition DIRECTORIES at listing time,
    * the predicate pushes into the parquet scan of the surviving cells
    * (PushedFilters), and only rows passing BOTH are ranked.
    *
    * This is post-filtering, with its standard recall trade: candidates
    * come from the `nprobe` probed cells FIRST, so a selective predicate
    * thins each cell's contribution and the true k-th filtered neighbor
    * may sit in an unprobed cell. Raise `nprobe` as predicate
    * selectivity rises (at selectivity s, the probed cells hold ~s× the
    * usual candidate mass — nprobe/s keeps the candidate volume level);
    * the exactness-within-probed-cells property is unchanged and the
    * gate's oracle replays exactly that contract.
    */
  def ivfTopKFiltered(spark: SparkSession, path: String, idCol: String, vecCol: String,
                      probe: Array[Float], k: Int, metric: String,
                      centroids: Seq[Seq[Float]], nprobe: Int,
                      predicate: Column): DataFrame = {
    val cells = probeClusters(probe, centroids, nprobe)
    val store = readProbedDirs(spark, path, "cluster", cells.map(_.toLong))
      .where(col("cluster").isin(cells: _*))
      .where(predicate)
    Knn.exactRank(store, idCol, vecCol, probe, k, metric)
  }
}
