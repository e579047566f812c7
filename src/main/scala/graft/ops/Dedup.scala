package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.minhash_signature

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: NO variant materializes an unblocked O(n²) pair space.
  * Exact dedup is a hash groupBy (one shuffle on the key). MinHash-LSH,
  * n-gram Jaccard (which rides the same candidate machinery) and SimHash
  * shuffle on small bucket keys (band hashes / hamming chunks) so candidate
  * pairs are generated per-bucket, cheaply estimated from signatures, and
  * only then exactly verified. Shingle sets are hashed to 8-byte longs
  * before anything shuffles — at 100 TB the shuffled payloads are ids,
  * band keys and fixed-width signatures, never document text.
  *
  * Degenerate-duplicate hardening: byte-identical boilerplate is the
  * COMMON case in web-scale dedup, and naive LSH re-quadratizes on it
  * (10⁵ identical docs land in the same bucket in every band). The
  * MinHash pipeline therefore groups identical shingle sets FIRST
  * (one `groupBy` on the content key), runs all pairwise machinery over
  * distinct contents only, and expands group pairs at the end — within a
  * content group every pair has Jaccard exactly 1.0, and across groups the
  * representatives' Jaccard is every member pair's Jaccard (identical
  * sets), so the expansion is exact and its cost is proportional to the
  * emitted pair set, which is the output's inherent size.
  *
  * Content fingerprint: every 16-byte content key the engine builds is
  * [[Dedup.fingerprintLanes]], and every screen of a batch against a
  * persisted fingerprint store is [[Dedup.screenUnseen]] — the one home
  * of the two-lane seed convention and of the Bloom prefilter.
  */
object Dedup {

  /** An LSH dedup run. Constructing one materializes the per-content
    * projection (an eager barrier — see [[minhashLshRun]] step 2);
    * `pairs` and `overCapBuckets()` are lazy plans OVER that
    * materialization. `release()` frees the barrier's storage — call it
    * after the LAST read of the run (both `pairs` actions and
    * `overCapBuckets()` need the materialization; reading after release
    * fails rather than recomputing under the checkpoint barriers, since
    * they truncated lineage). Safe to skip: [[Barrier.LocalCheckpoint]]
    * blocks are reclaimed by Spark's context cleaner once the run is
    * garbage-collected (the other strategies leave their files until
    * released). `overCapBuckets()` memoizes its first result, so a
    * pre-release reading stays available afterwards.
    */
  final case class LshRun(pairs: DataFrame, release: () => Unit, overCapBuckets: () => Long)

  /** How [[minhashLshRun]] materializes the per-content projection before
    * its six-consumer fan-out (the step-2 barrier).
    *
    *  - [[Barrier.LocalCheckpoint]] (default): fastest — raw rows in
    *    executor block storage, no lineage. Single-node / interactive
    *    choice: lineage is truncated and blocks are NOT replicated, so on
    *    a multi-executor cluster an executor loss mid-run fails the job
    *    instead of recomputing.
    *  - [[Barrier.ReliableCheckpoint]]: `df.checkpoint()` to the
    *    SparkContext checkpoint dir (`sc.setCheckpointDir` on cluster
    *    storage must be called first). Survives executor loss — the
    *    1000-executor deployment choice.
    *  - [[Barrier.Stage]]: write the projection to a parquet staging path
    *    and read it back. Same fault tolerance as a reliable checkpoint
    *    plus the staged columns arrive column-pruned to each consumer;
    *    `release()` deletes the staged directory.
    */
  sealed trait Barrier
  object Barrier {
    case object LocalCheckpoint extends Barrier
    case object ReliableCheckpoint extends Barrier
    final case class Stage(path: String) extends Barrier
  }

  /** Exact dedup: one row per distinct key, keeping the smallest id —
    * `groupBy(key).agg(min(id), count)`.
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** The 128-bit content fingerprint of `c` as two xxhash64 lanes named
    * `n1` and `n2`. Lane 2's seed literal comes FIRST, so its hash chain
    * starts from a different state than lane 1's (appending the literal
    * would make lane 2 a function of lane 1). The lanes are two seedings
    * of one hash family, correlated rather than independent: a false
    * match needs both 64-bit lanes to agree, rarer than 2⁻⁸⁰ even at 10¹²
    * distinct keys. The screen stores on disk hold these values, so a
    * change here orphans every store already written.
    */
  def fingerprintLanes(c: Column, n1: String = "ck1", n2: String = "ck2"): Seq[Column] =
    Seq(xxhash64(c).as(n1), xxhash64(lit(0x9E3779B97F4A7C15L), c).as(n2))

  /** Rows of `probe` whose lanes `(l1, l2)` are absent from `store`'s
    * `(l1, l2)`: an equi-join anti-join on the 16 fingerprint bytes.
    *
    * `bloom = Some((items, bits))` first folds the store's first lane
    * into one Bloom filter in an eager job (executors build local
    * filters, the merge ORs them, only the ~`bits/8`-byte blob reaches
    * the driver). It rides to every probe partition as a `might_contain`
    * literal: the rows it rejects are provably fresh (Bloom has no false
    * negatives) and skip the join, so only true dups and the fpp tail pay
    * the anti-join, and the result is the plain anti-join's. Spark checks
    * `(items, bits)` against the session's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNum{Items,Bits}` at
    * analysis time. An empty store gives a null filter, and the probe
    * passes whole.
    */
  def screenUnseen(probe: DataFrame, store: DataFrame, l1: String, l2: String,
                   bloom: Option[(Long, Long)] = None): DataFrame = {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val seen = store.select(col(l1), col(l2))
    def unseen(df: DataFrame) = df.join(seen, Seq(l1, l2), "left_anti")
    bloom match {
      case None => unseen(probe)
      case Some((items, bits)) =>
        val filter = seen
          .select(column(new BloomFilterAggregate(expression(col(l1)),
            Literal(items), Literal(bits)).toAggregateExpression()))
          .head.getAs[Array[Byte]](0)
        if (filter == null) probe
        else {
          val maybe = column(BloomFilterMightContain(
            Literal(filter, BinaryType), expression(col(l1))))
          unseen(probe.where(maybe)).unionByName(probe.where(!maybe))
        }
    }
  }

  /** Incremental exact dedup: rows of `batch` whose content does not
    * already appear in `seen` — the continuous-ingest shape, where every
    * new crawl/delivery is screened against the accumulated corpus
    * instead of re-deduplicating the whole corpus.
    *
    * The anti-join runs on the 16-byte content fingerprint
    * ([[fingerprintLanes]]), NOT the text: the shuffle carries ~2% of the
    * corpus bytes, and at 100 TB the `seen` side is a fingerprint-only
    * table that accretes batch-over-batch (persist `fingerprints(seen)`
    * once, union each accepted batch's fingerprints into it). A
    * double-lane collision would wrongly drop a row — acceptable for
    * corpus dedup, and the DuckDB gate restates the semantics on raw text
    * equality so any collision at test scale would fail the gate.
    */
  def fingerprints(df: DataFrame, textCol: String): DataFrame =
    df.select(fingerprintLanes(col(textCol)): _*)

  def dedupAgainst(batch: DataFrame, seen: DataFrame, textCol: String): DataFrame =
    screenText(batch, seen, textCol, None)

  /** [[dedupAgainst]] with a Bloom prefilter — the 100 TB shape of
    * incremental dedup. The plain anti-join shuffles the WHOLE batch even
    * though almost all of it is fresh; here the join input shrinks from
    * |batch| to ~|dups| + fpp·|batch| ([[screenUnseen]]'s prefilter over
    * the seen corpus's first lane), with a result exactly
    * `dedupAgainst`'s. Size `numBits` at ~10 bits/item for fpp ≈ 1%
    * (default: 8M bits = 1 MiB for ~800k seen texts); at 100 TB the
    * filter is built once per ingest wave and the one-per-executor
    * deserialization is amortized by Spark's literal handling.
    */
  def dedupAgainstBloom(batch: DataFrame, seen: DataFrame, textCol: String,
                        expectedItems: Long = 1L << 20,
                        numBits: Long = 1L << 23): DataFrame =
    screenText(batch, seen, textCol, Some((expectedItems, numBits)))

  // a `ck1`/`ck2` column of the batch's own is replaced, never joined on
  private def screenText(batch: DataFrame, seen: DataFrame, textCol: String,
                         bloom: Option[(Long, Long)]): DataFrame =
    screenUnseen(batch.drop("ck1", "ck2").select(col("*") +: fingerprintLanes(col(textCol)): _*),
      fingerprints(seen, textCol), "ck1", "ck2", bloom).drop("ck1", "ck2")

  // ---------- shared text prep ----------

  /** Shingle set hashed to distinct longs in one codegen'd pass
    * ([[graft.expressions.ShingleHashes]]) — the only shingle
    * representation that ever leaves the row: 8 bytes per shingle instead
    * of the string, and exact-verification set ops run on longs.
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    graft.functions.shingle_hashes(text, n)

  /** The persistable MinHash index of a SEEN corpus, for INCREMENTAL
    * near-dup ([[nearDupAgainst]]): `bands` = (band, bandHash, id) — the
    * narrow LSH directory, 24 bytes/row × bands, partitionable by (band,
    * bandHash) on disk; `payload` = (id, sh, sig) — one row per doc
    * carrying the hashed shingle set and signature for exact
    * verification. Split in two so the wide shingle arrays are stored
    * ONCE per doc, not once per band.
    */
  final case class NearDupStore(bands: DataFrame, payload: DataFrame)

  def nearDupStore(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 128, bands: Int = 16,
                   shingleN: Int = 3): NearDupStore = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val payload = df
      .select(col(idCol).as("id"), shingleHashes(col(textCol), shingleN).as("sh"))
      .withColumn("sig", minhash_signature(col("sh"), numHashes))
    val banded = payload.select(col("id"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")
      .select(col("band"), col("bandHash"), col("id"))
    NearDupStore(banded, payload)
  }

  /** Incremental NEAR-dup screen — the continuous-ingest companion to the
    * exact [[dedupAgainst]]: batch rows survive unless ≥ `threshold`
    * n-gram-Jaccard-similar to SOME seen document. Decision is EXACT
    * above the LSH recall floor: band-bucket candidates (seen directory ⋈
    * batch bands — the batch side is ingest-wave-sized, so AQE broadcasts
    * it and the 100 TB seen directory is never shuffled), estimate-gate on
    * signature agreement with the same 4σ lossless margin as
    * [[minhashLshRun]], exact merge-scan Jaccard on the hashed shingle
    * sets, then one anti-join of the batch against the matched ids.
    *
    * Run [[dedupAgainst]] (exact) first in an ingest pipeline: identical
    * batch copies of one seen doc then never reach the near-dup join, the
    * same degenerate-skew ordering the batch LSH pipeline uses. Accrete
    * accepted rows into the store with [[nearDupStore]] on the accepted
    * slice (union of the two `bands`/`payload` pairs).
    */
  def nearDupAgainst(batch: DataFrame, seen: NearDupStore, idCol: String,
                     textCol: String, numHashes: Int = 128, bands: Int = 16,
                     shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1], got $threshold")
    val b = nearDupStore(batch, idCol, textCol, numHashes, bands, shingleN)
    val margin = 4.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val cands = seen.bands.select(col("band"), col("bandHash"), col("id").as("seen_id"))
      .join(b.bands.select(col("band"), col("bandHash"), col("id").as("batch_id")),
        Seq("band", "bandHash"))
      .select(col("batch_id"), col("seen_id")).dropDuplicates("batch_id", "seen_id")
    val matched = cands
      .join(b.payload.select(col("id").as("batch_id"), col("sh").as("shb"), col("sig").as("sigb")), "batch_id")
      .join(seen.payload.select(col("id").as("seen_id"), col("sh").as("shs"), col("sig").as("sigs")), "seen_id")
      .where(graft.functions.sig_match_count(col("sigb"), col("sigs")).cast("double") / numHashes
        >= threshold - margin)
      .withColumn("inter", graft.functions.sorted_intersect_count(col("shb"), col("shs")).cast("double"))
      .withColumn("union", (size(col("shb")) + size(col("shs"))).cast("double") - col("inter"))
      .where(graft.functions.fast_round(col("inter") / greatest(col("union"), lit(1.0)), 6) >= threshold)
      .select(col("batch_id").as("__dup_id")).distinct()
    batch.join(matched, batch(idCol) === col("__dup_id"), "left_anti")
  }

  // ---------- MinHash + LSH candidates → exact verification ----------

  /** MinHash-LSH near-dup pairs, the 100 TB-shaped pipeline:
    *
    *  1. per-row hashed shingle set, then ONE `groupBy` on a narrow 128-bit
    *     content fingerprint ([[fingerprintLanes]] of the hashed shingle
    *     set): identical documents collapse to a
    *     representative + member list before any pairwise machinery — a
    *     10⁵-identical-doc cluster contributes ONE row to LSH instead of
    *     quadratizing a bucket. The grouping shuffle carries 16-byte keys
    *     and 8-byte ids; the shingle set itself rides as a `first()`
    *     aggregate, which partial aggregation truncates to one copy per
    *     (group × input partition) — so duplicate-heavy corpora ship each
    *     distinct content once, never per-document. Two contents colliding
    *     on all 128 fingerprint bits would be merged as identical; at 10¹²
    *     documents the birthday bound puts that at ~10⁻¹⁵;
    *  2. MinHash signature per distinct content (`numHashes` longs, one
    *     codegen'd pass). The per-content projection is materialized ONCE
    *     before fan-out: six consumers read it (banding, the over-cap
    *     count, two verification joins, two expansion joins), and without
    *     a barrier each one re-scans and re-shingles the corpus — column
    *     pruning specializes each branch's plan, so exchange reuse never
    *     deduplicates them. `persist()` is NOT the right barrier here: the
    *     columnar cache format pays a per-scan encode/decode on the wide
    *     array columns (sh, sig, members) that measured ~5× the cost of
    *     the raw-row scan. HOW it materializes is the `barrier` parameter
    *     ([[Barrier]]): `LocalCheckpoint` (default) for single-node speed,
    *     `ReliableCheckpoint` or `Stage` on a multi-executor cluster,
    *     where a lineage-truncating local checkpoint would turn one lost
    *     executor into a failed job;
    *  3. band → bucket on (band index, band hash): per-bucket id lists are
    *     collected once (bounded ≤ `maxBucket` by a prior count + anti-join
    *     against the few over-cap keys, so no aggregation buffer can
    *     quadratize) and candidate (a, b) pairs with a < b are generated by
    *     in-row explode — no bucket self-join, no window sort, no
    *     candidate-level distinct (multi-band duplicates ride through the
    *     estimate, a bounded constant factor, and collapse after exact
    *     verification at output cardinality); the only wide shuffles carry
    *     band keys and 8-byte ids;
    *  4. cheap estimate: matching-signature fraction, filtered with a 4σ
    *     margin below `threshold` (the margin makes THIS step lossless for
    *     true ≥threshold pairs; overall recall is bounded by step 3);
    *  5. exact Jaccard on hashed shingle sets for the survivors only;
    *  6. expansion: within-group pairs (jaccard exactly 1.0) plus
    *     representative pairs mapped onto their members (identical sets ⇒
    *     identical jaccard) — output-proportional, streamed via explode.
    *
    * Recall is probabilistic, as with any LSH banding: a pair with true
    * jaccard j is generated as a candidate with probability
    * 1−(1−j^r)^bands (r = numHashes/bands). At the default 16×8 geometry
    * that is ≈ 0.947 at j = 0.80 (pairs exactly at the threshold can be
    * missed ~5% of the time), ≈ 1−1e-4 at j = 0.90, and ≈ 1−1e-11 at
    * j = 0.95 — tune bands up (shorter rows) if near-threshold recall
    * matters more than candidate volume. Identical-content pairs
    * (jaccard = 1.0) are exempt: the content grouping finds them
    * deterministically. Emitted values are always exact.
    *
    * `maxBucket` bounds every bucket-join input: a band bucket holding
    * more than `maxBucket` DISTINCT contents (near-identical but unequal
    * boilerplate — identical content never reaches LSH) is dropped from
    * candidate generation. Pairs in a dropped bucket usually survive via
    * their other bands; `LshRun.overCapBuckets()` reports what was capped
    * so the caller can widen the cap or shorten bands deliberately rather
    * than discover a quadratic stage at runtime.
    *
    * Columns out: (a, b, jaccard) with exact jaccard ≥ threshold.
    */
  def minhashLshRun(df: DataFrame, idCol: String, textCol: String,
                    numHashes: Int = 128, bands: Int = 16,
                    shingleN: Int = 3, threshold: Double = 0.8,
                    maxBucket: Int = 1 << 16,
                    barrier: Barrier = Barrier.LocalCheckpoint,
                    eager: Boolean = true): LshRun = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1], got $threshold")
    val rowsPerBand = numHashes / bands

    // one projection per distinct content carries the representative id,
    // the member list, the hashed shingle set and the signature — all later
    // stages (banding, two enrichment joins, expansion) consume it, so it
    // is materialized ONCE behind the chosen barrier before the fan-out
    // (see the scaladoc step-2 note on why a barrier and not persist or
    // re-execution).
    // The grouping key is the 128-bit fingerprint of the shingle set
    // ([[fingerprintLanes]]); `first(sh)` is safe because every row in a
    // group has the identical array.
    val (grouped, releaseBarrier) = materialize(
      df.select(col(idCol).as("id"), shingleHashes(col(textCol), shingleN).as("sh"))
        .select(col("*") +: fingerprintLanes(col("sh")): _*)
        .groupBy(col("ck1"), col("ck2"))
        .agg(min(col("id")).as("rep"), sort_array(collect_list(col("id"))).as("members"),
          first(col("sh")).as("sh"))
        .drop("ck1", "ck2")
        .withColumn("sig", minhash_signature(col("sh"), numHashes)),
      barrier, eager)

    val banded = grouped.select(col("rep").as("id"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")

    // bucket-size cap: the per-key count partially aggregates map-side, so
    // its shuffle is (key, count) rows only; over-cap keys are FEW by
    // construction (at most n/maxBucket can exist), so the anti-join
    // broadcasts under AQE and `banded` is never re-shuffled for the cap
    val overCap = banded.groupBy(col("band"), col("bandHash"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)
    val capped = banded.join(overCap.select(col("band"), col("bandHash")),
      Seq("band", "bandHash"), "left_anti")

    // candidate generation WITHOUT a bucket self-join: collect each bucket's
    // id list (bounded ≤ maxBucket by the cap above, so the aggregation
    // buffer is bounded) and stream its pairs out via posexplode + slice.
    // Deliberately NOT distinct'd here: a pair agreeing in b bands appears
    // b times (b ≤ bands, a small constant factor — measured +9% rows at
    // sf0.1), and deduplicating 10⁵-10⁶ raw pairs costs a full shuffle,
    // while the same dedup after exact verification (below) touches only
    // the final output's cardinality
    val candidates = capped.groupBy(col("band"), col("bandHash"))
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")) >= 2)
      .select(posexplode(col("ids")).as(Seq("i", "a0")), col("ids"))
      .select(col("a0"), explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("b0"))
      .select(least(col("a0"), col("b0")).as("a"), greatest(col("a0"), col("b0")).as("b"))

    // cheap estimate first (codegen'd agreement count; the 4σ margin below
    // the threshold makes this step lossless for true ≥threshold pairs),
    // then exact verification: shingle arrays are sorted, so intersection
    // is a codegen'd merge scan (no per-row hash sets)
    val margin = 4.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val repPairs = candidates
      .join(grouped.select(col("rep").as("a"), col("sh").as("sha"), col("sig").as("siga")), "a")
      .join(grouped.select(col("rep").as("b"), col("sh").as("shb"), col("sig").as("sigb")), "b")
      .where(graft.functions.sig_match_count(col("siga"), col("sigb")).cast("double") / numHashes
        >= threshold - margin)
      .withColumn("inter", graft.functions.sorted_intersect_count(col("sha"), col("shb")).cast("double"))
      .withColumn("union", (size(col("sha")) + size(col("shb"))).cast("double") - col("inter"))
      .withColumn("jaccard", graft.functions.fast_round(col("inter") / greatest(col("union"), lit(1.0)), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a").as("ra"), col("b").as("rb"), col("jaccard"))
      // multi-band candidate duplicates collapse HERE, where cardinality is
      // already the verified output's (see the candidates note above);
      // jaccard is identical across duplicates so any row survives
      .dropDuplicates("ra", "rb")

    // expansion. Within-group: every member pair of an identical-content
    // group, jaccard exactly 1.0 — posexplode + slice streams each member's
    // partners instead of materializing the whole pair array in one row.
    val within = grouped.where(size(col("members")) >= 2)
      .select(posexplode(col("members")).as(Seq("i", "a")), col("members"))
      .select(col("a"),
        explode(slice(col("members"), col("i") + lit(2), size(col("members")))).as("b"))
      .select(col("a"), col("b"), lit(1.0).as("jaccard"))

    // Cross-group: a representative pair's jaccard is every member pair's
    // jaccard (identical shingle sets); groups are disjoint so least/
    // greatest restores a < b.
    val cross = repPairs
      .join(grouped.select(col("rep").as("ra"), col("members").as("ma")), "ra")
      .join(grouped.select(col("rep").as("rb"), col("members").as("mb")), "rb")
      .select(explode(col("ma")).as("a0"), col("mb"), col("jaccard"))
      .select(col("a0"), explode(col("mb")).as("b0"), col("jaccard"))
      .select(least(col("a0"), col("b0")).as("a"), greatest(col("a0"), col("b0")).as("b"),
        col("jaccard"))

    // memoized so a pre-release reading survives release() (the barrier's
    // storage is gone afterwards; under the checkpoint strategies lineage
    // cannot recompute it)
    lazy val overCapCount: Long = overCap.count()

    LshRun(
      pairs = within.unionByName(cross),
      release = releaseBarrier,
      overCapBuckets = () => overCapCount)
  }

  /** Materialize `df` once behind the chosen [[Barrier]]; returns the
    * barrier-backed frame plus the matching release action.
    */
  private[ops] def materialize(df: DataFrame, barrier: Barrier,
                          eager: Boolean = true): (DataFrame, () => Unit) =
    barrier match {
      case Barrier.LocalCheckpoint =>
        // eager=false defers the checkpoint to the caller's first action —
        // callers that immediately run an aggregate over the result (the
        // connected-components convergence probe) fold barrier + probe
        // into one job. Reliable checkpoint and staging write eagerly
        // regardless (their materialization IS the write).
        val g = df.localCheckpoint(eager = eager)
        // the checkpoint RDD, read off the LogicalRDD leaf — Dataset.rdd
        // would compile a row deserializer per call (driver latency at
        // release time)
        val leaf = org.apache.spark.sql.GraftColumnShim.leafRdd(g)
        (g, () => {
          leaf.orElse(Some(g.rdd)).flatMap(persistedAncestor)
            .foreach(_.unpersist(blocking = false)); ()
        })
      case Barrier.ReliableCheckpoint =>
        val g = df.checkpoint(eager = true)
        val spark = df.sparkSession
        (g, () => {
          checkpointedAncestor(g.rdd).flatMap(_.getCheckpointFile)
            .foreach(deletePath(spark, _))
        })
      case Barrier.Stage(path) =>
        val spark = df.sparkSession
        df.write.mode("overwrite").parquet(path)
        (spark.read.parquet(path), () => deletePath(spark, path))
    }

  /** The barrier's storage RDD sits a couple of deserialization hops below
    * `df.rdd` — walk down to the persisted (local checkpoint) ancestor so
    * release() can free its blocks.
    */
  @annotation.tailrec
  private[ops] def persistedAncestor(rdd: org.apache.spark.rdd.RDD[_]): Option[org.apache.spark.rdd.RDD[_]] =
    if (rdd.getStorageLevel != StorageLevel.NONE) Some(rdd)
    else rdd.dependencies.headOption match {
      case Some(d) => persistedAncestor(d.rdd)
      case None => None
    }

  /** Same walk for the reliably-checkpointed ancestor (its files live in
    * the SparkContext checkpoint dir until released).
    */
  @annotation.tailrec
  private def checkpointedAncestor(rdd: org.apache.spark.rdd.RDD[_]): Option[org.apache.spark.rdd.RDD[_]] =
    if (rdd.getCheckpointFile.isDefined) Some(rdd)
    else rdd.dependencies.headOption match {
      case Some(d) => checkpointedAncestor(d.rdd)
      case None => None
    }

  private def deletePath(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** [[minhashLshRun]] without the release handle — callers that run one
    * dedup per session can keep the plain DataFrame shape; the run's
    * checkpoint blocks are then freed by the context cleaner when the
    * result is garbage-collected. Repeated runs in a long-lived session
    * should prefer [[minhashLshRun]] + `release()` for deterministic
    * freeing.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 128, bands: Int = 16,
                 shingleN: Int = 3, threshold: Double = 0.8,
                 barrier: Barrier = Barrier.LocalCheckpoint): DataFrame =
    minhashLshRun(df, idCol, textCol, numHashes, bands, shingleN, threshold,
      barrier = barrier).pairs

  // ---------- N-gram Jaccard (exact, LSH-prefiltered) ----------

  /** N-gram Jaccard near-dup pairs at scale: MinHash-LSH candidate
    * generation followed by exact verification — the same pipeline as
    * [[minhashLsh]] parameterized by shingle width (including its banding
    * recall bound; emitted jaccard values are exact, candidate recall near
    * the threshold is probabilistic). Replaces the former blocked all-pairs
    * form, whose O(n²/blocks) pair space was quadratic at any fixed block
    * cardinality.
    * Columns out: (a, b, jaccard) with exact jaccard ≥ threshold.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 4, threshold: Double = 0.8): DataFrame =
    minhashLsh(df, idCol, textCol, numHashes = 128, bands = 16,
      shingleN = n, threshold = threshold)

  /** Blocked exact all-pairs Jaccard — only safe when every block is known
    * to be small (e.g. pre-grouped micro-batches); kept for completeness,
    * NOT the scale path ([[ngramJaccard]] is).
    */
  def ngramJaccardBlocked(df: DataFrame, idCol: String, textCol: String,
                          blockCol: String, n: Int = 3): DataFrame = {
    val base = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      shingleHashes(col(textCol), n).as("sh"))
    val l = base.select(col("blk"), col("id").as("a"), col("sh").as("sha"))
    val r = base.select(col("blk"), col("id").as("b"), col("sh").as("shb"))
    l.join(r, Seq("blk")).where(col("a") < col("b"))
      .withColumn("inter", graft.functions.sorted_intersect_count(col("sha"), col("shb")).cast("double"))
      .withColumn("union", (size(col("sha")) + size(col("shb"))).cast("double") - col("inter"))
      .select(col("a"), col("b"),
        graft.functions.fast_round(col("inter") / greatest(col("union"), lit(1.0)), 6).as("jaccard"))
  }

  /** SoftDeDup: keep every copy but DOWN-WEIGHT duplicated content by
    * 1/n_copies, so a training run sees each distinct content with unit
    * total mass instead of dropping all-but-one copy — the soft
    * alternative to [[exact]] when copies carry distinct metadata
    * (provenance, timestamps) worth preserving. One groupBy on the
    * 16-byte content fingerprint plus one fingerprint-keyed join back:
    * text never shuffles, and the weight column feeds
    * [[graft.ops.Curation.weightedSample]] / resampling directly.
    * Output: (id, n_copies, weight = 1/n_copies at 6 dp).
    */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol).as("id") +: fingerprintLanes(col(textCol)): _*)
    val counts = fp.groupBy(col("ck1"), col("ck2")).agg(count(lit(1)).as("n_copies"))
    fp.join(counts, Seq("ck1", "ck2"))
      .select(col("id"), col("n_copies"),
        graft.functions.fast_round(lit(1.0) / col("n_copies").cast("double"), 6).as("weight"))
  }

  // ---------- exact containment join (prefix filtering) ----------

  /** EXACT max-containment pairs — the asymmetric companion to Jaccard
    * dedup: C(A,B) = |A∩B| / min(|A|,|B|) over hashed shingle sets, which
    * flags one document CONTAINED in another (quotations, partial
    * scrapes, page-within-page, boilerplate supersets) that Jaccard
    * misses entirely (a 100-shingle page inside a 10,000-shingle page has
    * Jaccard ≤ 0.01 at containment 1.0 — below ANY banding threshold, so
    * the MinHash pipeline structurally cannot find it).
    *
    * Candidates come from PREFIX FILTERING (Chaudhuri et al. SSJoin /
    * Bayardo et al. AllPairs, the exact set-join technique), not LSH:
    * order every doc's shingles by global rarity (document frequency,
    * hash tiebreak — one B-row-ish df rollup and a per-doc window), and
    * block each doc's PREFIX — its (⌊(1−t)·|A|⌋ + 1) rarest shingles —
    * against the FULL postings of the ≥-sized side. If C(A,B) ≥ t with
    * |A| ≤ |B| then |A\B| ≤ |A| − ⌈t·|A|⌉ < the prefix length, so some
    * prefix shingle of A lands in A∩B ⊆ B: the blocking has ZERO false
    * negatives, and the oracle is therefore the plain all-pairs
    * restatement. Exact verification (merge-scan intersect over the
    * sorted hash arrays) runs on candidates only.
    *
    * Scale: two stacked exact filters bound fan-out. (1) Rarity-ordered
    * prefixes — common shingles almost never appear on the prefix side,
    * so candidate volume ≈ Σ_prefix-occurrences df(shingle). (2) The
    * PPJoin POSITION filter (see in-code comment) prunes matches whose
    * rank pair already caps the possible overlap below ⌈t·|A|⌉ — decisive
    * when sizes are comparable, weak when a small doc probes much larger
    * ones (the suffix slack is then always sufficient). The dominant
    * knob is `shingleN`: size it so the shingle space is NOT saturated
    * (distinct shingles ≫ documents — 3-char shingles over sf0.1's
    * template vocabulary yield 377 distinct shingles for 5000 docs,
    * median df 1047, and 3.3M "pairs" at t=0.8, i.e. containment stops
    * being a signal at all; 8-char shingles give 13k shingles, median
    * df 21, and 256 true pairs). On that adversarial corpus the whole
    * run is ~7 s at sf0.1 under the default barrier (shingle arrays and
    * the ranked posting table each feed 2-3 consumers — materialized
    * once, not re-hashed per branch). `maxPostings` guards the residue (a doc
    * whose EVERY shingle is corpus-hot): postings lists longer than the
    * cap are excluded from candidate generation and reported through the
    * returned observer — pairs whose only shared-prefix shingle was
    * over-cap are lost (the same explicit recall trade as
    * [[minhashLshRun]]'s bucket cap; such pairs are boilerplate-on-
    * boilerplate by construction). Shuffles: shingle-df rollup (8-byte
    * keys), one per-doc window, the posting join on 8-byte shingle keys,
    * and the id-keyed verify join.
    *
    * Output: (a, b, containment) with a < b, exact 6-dp containment ≥
    * threshold.
    */
  final case class ContainmentRun(pairs: DataFrame, release: () => Unit,
                                  overCapShingles: () => Long)

  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.8,
                       maxPostings: Int = 1 << 16): DataFrame =
    containmentRun(df, idCol, textCol, shingleN, threshold, maxPostings).pairs

  def containmentRun(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, threshold: Double = 0.8,
                     maxPostings: Int = 1 << 16,
                     barrier: Barrier = Barrier.LocalCheckpoint): ContainmentRun = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1], got $threshold")
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    // the shingle arrays feed THREE consumers (posting explode, a-side
    // verify, b-side verify) and the ranked posting table feeds two
    // (prefix and full side of the join) — materialize both once instead
    // of re-hashing the corpus per branch (the minhashLshRun barrier
    // convention; measured 12.5 s → 7.8 s at sf0.1). NO input spread
    // here, deliberately: the round-robin repartition pays a local sort
    // of its input split (sortBeforeRepartition — retry determinism),
    // and for this operator's full-document rows that serial sort+spill
    // costs MORE than the serial shingling it would parallelize
    // (measured 6.3 s → 9.2 s at sf0.1 when tried).
    val (base, releaseBase) = materialize(df
      .select(col(idCol).as("id"), shingleHashes(col(textCol), shingleN).as("sh"))
      .where(size(col("sh")) > 0), barrier, eager = false)
    val toks = base.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("t"))
    val dfreq = toks.groupBy(col("t")).agg(count(lit(1)).as("tdf"))
    val overCap = dfreq.where(col("tdf") > maxPostings)
    val posts = toks.join(overCap.select(col("t")), Seq("t"), "left_anti")
      .join(dfreq, "t")
    // per-doc rarity rank; prefix length |A| - ceil(t*|A|) + 1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("tdf"), col("t"))
    // the 1e-9 nudge keeps a floating t·sz that lands one ulp ABOVE an
    // exact integer from overshooting the true ceiling — overshooting
    // would SHORTEN the prefix and admit false negatives; the nudge can
    // only lengthen it (more candidates, never fewer)
    val (ranked, releaseRanked) = materialize(
      posts.withColumn("rn", row_number().over(w)), barrier, eager = false)
    val prefix = ranked
      .where(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
    // PPJoin position filter (Xiao et al., WWW'08): if the pair truly has
    // overlap ≥ α = ⌈t·|A|⌉, its FIRST common shingle in the global
    // rarity order sits at ranks (i, j) with α ≤ 1 + min(|A|−i, |B|−j),
    // so requiring that bound prunes a match occurrence without ever
    // pruning the pair's first-common-shingle occurrence — exactness is
    // preserved while boilerplate pairs (whose first shared shingle is a
    // COMMON one, i.e. deep in both suffixes) drop before the distinct
    val cands = prefix.select(col("t"), col("id").as("a"), col("sz").as("sza"), col("rn").as("rna"))
      .join(ranked.select(col("t"), col("id").as("b"), col("sz").as("szb"), col("rn").as("rnb")), "t")
      .where((col("sza") < col("szb") ||
          (col("sza") === col("szb") && col("a") < col("b"))) &&
        lit(1L) + least(col("sza") - col("rna"), col("szb") - col("rnb"))
          >= ceil(lit(threshold) * col("sza") - lit(1e-9)))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val pairs = cands
      .join(base.select(col("id").as("a"), col("sh").as("sha")), "a")
      .join(base.select(col("id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", graft.functions.sorted_intersect_count(col("sha"), col("shb")).cast("double"))
      .withColumn("containment", graft.functions.fast_round(
        col("inter") / least(size(col("sha")), size(col("shb"))).cast("double"), 6))
      .where(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))
    lazy val capped: Long = overCap.count()
    ContainmentRun(pairs, () => { releaseRanked(); releaseBase() }, () => capped)
  }

  // ---------- SimHash ----------

  /** 61-bit token hash from two polynomial rolling hashes (bases 31/131,
    * moduli 1e9+7 and 2^31−1): h1·2³¹ | h2. Every step is exact BIGINT
    * arithmetic, so the whole SimHash below is restatable in ANSI SQL —
    * the correctness oracle recomputes it independently.
    *
    * Entropy note: h1 < 2³⁰, so bits 61–63 of the output are always zero
    * and SimHash bits 61–63 are majority-of-zeros (clear for any nonempty
    * token stream). Exactness is unaffected — Spark and the oracle agree
    * bit for bit — but [[simhashPairs]]' TOP pigeonhole chunk has 2³
    * fewer effective values than the others (e.g. 2¹³ instead of 2¹⁶ at
    * maxHamming=3), so its buckets run ~8× denser: derate the scale
    * envelope there by one order of magnitude, or lower maxHamming one
    * notch at the extreme corpus sizes. Widening would require 64-bit
    * arithmetic that overflows signed BIGINT in the SQL restatement, so
    * the reduced-entropy chunk is the deliberate trade.
    */
  def tokenHash61(t: String): Long = graft.kernels.Sketches.tokenHash61(t)

  /** Per-row SimHash over whitespace tokens (duplicates weighted, in-row,
    * no shuffle): bit b of the output is set iff more token hashes have bit
    * b set than clear. A codegen'd expression
    * ([[graft.expressions.SimHash64]] via [[graft.functions.simhash64]]),
    * not a UDF.
    */
  def simhash64(tokens: Column): Column = graft.functions.simhash64(tokens)

  /** ASCII-only, empty-filtered whitespace tokens — the canonical SimHash
    * token stream, identical to the SQL restatement's.
    */
  def simhashTokens(text: Column): Column =
    filter(TextAnalysis.tokens(TextAnalysis.asciiOnly(text)), t => t =!= "")

  /** SimHash near-dup candidate pairs: hamming distance ≤ maxHamming.
    * Blocking: split the 64-bit hash into (maxHamming+1) chunks — by
    * pigeonhole, any pair within distance maxHamming shares at least one
    * exact chunk — bucket-join on (chunk index, chunk value). The blocking
    * is exact (zero false negatives), unlike MinHash banding.
    *
    * Scale envelope: with maxHamming=3 the chunk space is 2^16 per chunk
    * index; expected bucket occupancy is n/65536, so the per-bucket join
    * stays linear-ish up to n ≈ 10^8-10^9 docs. Beyond that, lower
    * maxHamming (wider chunks) or recurse the pigeonhole (split each chunk
    * again and require two matches) to keep buckets bounded.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(df, idCol, simhash64(simhashTokens(col(textCol))), maxHamming)

  /** Pigeonhole hamming-≤k pairs over ANY 64-bit hash column — the
    * blocking engine behind [[simhashPairs]] (text) and the perceptual
    * image dedup gate ([[graft.ops.MediaCodec.pngDhash63]] column):
    * split the hash into (k+1) chunks; any pair within distance k shares
    * at least one exact chunk (zero false negatives), bucket-join on
    * (chunk, value), verify with a codegen'd popcount. Null hashes
    * (e.g. undecodable images) drop out before blocking.
    */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: Column,
                   maxHamming: Int): DataFrame = {
    // maxHamming=0 would give bitsPer=64 and (1L<<64)-1 == 0 (Java shifts
    // mod 64), silently collapsing all rows into one bucket; require >= 1
    // (exact duplicates are a plain groupBy on the full hash, not blocking).
    require(maxHamming >= 1 && maxHamming <= 15, s"maxHamming must be in [1,15], got $maxHamming")
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    // spread a narrow input BEFORE the hash column evaluates: hashCol is
    // the expensive per-row work here (a perceptual-hash decode of the
    // image payload, or the simhash token fold), and a small corpus
    // arrives as one file split — the decode would run serial on a
    // many-core box. Spreading the RAW rows (not the hashed projection —
    // that would evaluate the decode map-side, before the exchange)
    // round-robins the payloads once; a no-op at real corpus widths
    // (see TextAnalysis.spreadInput).
    val hashed = TextAnalysis.spreadInput(df)
      .select(col(idCol).as("id"), hashCol.as("sh"))
      .where(col("sh").isNotNull)

    val banded = hashed.select(col("id"), col("sh"),
        posexplode(array((0 until chunks).map(c =>
          shiftright(col("sh"), c * bitsPer).bitwiseAND(lit((1L << bitsPer) - 1))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunkVal")

    val l = banded.select(col("chunk"), col("chunkVal"), col("id").as("a"), col("sh").as("sha"))
    val r = banded.select(col("chunk"), col("chunkVal"), col("id").as("b"), col("sh").as("shb"))
    // hamming filter BEFORE the pair dedup: the filter is a codegen'd
    // per-row popcount while dropDuplicates is a shuffle — ordering them
    // this way shrinks the exchange from every bucket-collision candidate
    // down to the actual near-dup pairs (equivalent result: hamming is a
    // pure function of (a, b))
    l.join(r, Seq("chunk", "chunkVal")).where(col("a") < col("b"))
      .select(col("a"), col("b"), bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")
  }

  // ---------- Embedding cosine near-dup ----------

  /** Near-duplicate detection on an embedding column via cosine similarity,
    * exact within LSH buckets: candidate pairs share a `bucketCol` value
    * (use [[graft.functions.hyperplane_signature]] — at scale the table is
    * written `partitionBy(bucket)` so the join never leaves a partition),
    * then exact cosine ≥ minSim.
    *
    * Size nBits to the corpus: expected occupancy is n/2^nBits and the
    * per-bucket join is quadratic in occupancy, so pick
    * nBits ≈ log2(n) − 10..14 (e.g. 24-30 bits for 10^9-10^10 rows; more
    * bits trade recall for speed like any sign-LSH).
    * Columns out: (a, b, cosine_sim).
    */
  /** SemDeDup-style semantic pruning: within each cluster, keep a row only
    * if NO smaller-id member is ≥ `minSim` cosine-similar — the declarative
    * one-pass variant of the published greedy (which compares only against
    * already-kept members and so can keep slightly more). One left-anti
    * join: the equi key is the cluster id, the similarity predicate rides
    * as the join filter, and similarities are rounded to 6 dp before the
    * threshold test (same convention as [[cosineNearDup]]) so the verdict
    * is engine-portable.
    *
    * Scale: one shuffle on the cluster key; the pair space is quadratic
    * only WITHIN a cluster — bounded by construction when the upstream
    * clustering (k-means / [[graft.functions.vector_avg]] centroids) sizes
    * clusters to corpus/k, which is the SemDeDup design point. A runaway
    * cluster is the same skew case as the LSH band buckets: cap or
    * sub-cluster it before this join.
    */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
               clusterCol: Column, minSim: Double): DataFrame = {
    val base = df.select(clusterCol.as("cluster"), col(idCol), col(vecCol))
    val others = df.select(clusterCol.as("o_cluster"), col(idCol).as("o_id"),
      col(vecCol).as("o_v"))
    base.join(others,
        col("cluster") === col("o_cluster") && col("o_id") < col(idCol) &&
          graft.functions.fast_round(lit(1.0) - graft.functions.vector_distance(col(vecCol), col("o_v"), "cosine"), 6) >= minSim,
        "left_anti")
      .select(col(idCol), col("cluster"))
  }

  // ---------- line-level exact dedup (C4-style) ----------

  /** Line-level exact dedup across the whole corpus: every line keeps only
    * its FIRST occurrence (smallest (doc, position)); later copies are cut
    * from their documents. The classic C4/RefinedWeb boilerplate-removal
    * pass — navbars, cookie banners, license footers repeat across
    * millions of pages and survive document-level dedup.
    *
    * Shape at 100 TB — the corpus text crosses exactly ONE exchange:
    *  1. explode to (id, pos, key) where key = `lineKey(line)` — an 8-byte
    *     hash by default, so the line-keyed stages shuffle 24-byte rows,
    *     never text (column pruning drops the line string before the
    *     exchange);
    *  2. `groupBy(key).agg(min(struct(id, pos)))` picks each line's first
    *     occurrence; a co-partitioned self-join marks every LATER
    *     occurrence → a narrow removal list (id, pos);
    *  3. removals fold to one row per affected doc (sorted pos array) and
    *     join back to the ORIGINAL docs — the single exchange that moves
    *     text — where a `filter((line, i) => …)` HOF rebuilds the kept
    *     text in place. Docs with nothing removed pass through the left
    *     join untouched.
    *
    * `lineKey` defaults to xxhash64 (fast, 64-bit). Key collisions merge
    * two distinct lines' occurrence lists (the later line is cut as a
    * "duplicate" of the earlier); at 64 bits that is the usual 10⁻¹⁹-class
    * birthday risk, the standard trade in every hash-keyed dedup. Pass
    * [[graft.functions.string_hash61]] for the SQL-restatable key (the
    * correctness gate does) or `identity` to group on raw line text —
    * exact, but the grouping shuffle then carries the corpus.
    *
    * Columns out: the input columns with `textCol` rewritten to the kept
    * lines, plus `n_removed` (lines cut) and `n_lines` (original count).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                lineKey: Column => Column = c => xxhash64(c)): DataFrame = {
    val parts = split(col(textCol), "\n", -1)
    val lines = df.select(col(idCol).as("id"), posexplode(parts).as(Seq("pos", "line")))
      .select(col("id"), col("pos"), lineKey(col("line")).as("k"))
    val firsts = lines.groupBy(col("k"))
      .agg(min(struct(col("id"), col("pos"))).as("f"))
    val removals = lines.join(firsts, "k")
      .where(col("id") =!= col("f.id") || col("pos") =!= col("f.pos"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("__ld_rm"))
      .withColumnRenamed("id", "__ld_id")

    df.join(removals, df(idCol) === removals("__ld_id"), "left")
      .withColumn("n_lines", size(parts).cast("long"))
      .withColumn("n_removed", coalesce(size(col("__ld_rm")), lit(0)).cast("long"))
      .withColumn(textCol,
        array_join(filter(parts, (_, i) =>
          col("__ld_rm").isNull || !array_contains(col("__ld_rm"), i)), "\n"))
      .drop("__ld_id", "__ld_rm")
  }

  /** Sentence-level exact dedup — [[lineDedup]]'s keep-first contract at
    * the SENTENCE grain (the LaMDA/PaLM-style boilerplate pass for text
    * whose repeats don't align to newlines: "subscribe" calls-to-action,
    * cookie notices, license sentences). Sentences come from
    * [[TextAnalysis.splitSentences]]' separator-injection rule (terminator
    * kept, trimmed, empties dropped), each keeps only its first (doc, pos)
    * occurrence corpus-wide, and survivors rejoin with single spaces.
    *
    * Same one-text-exchange shape as [[lineDedup]]: the sentence-keyed
    * stages shuffle (id, pos, 8-byte key) rows; only the final rebuild
    * join moves text. Same `sentKey` collision trade (xxhash64 default;
    * pass [[graft.functions.string_hash61]] for the SQL-restatable key).
    * Columns out: input columns with `textCol` rewritten, plus
    * `n_sentences` and `n_removed`.
    */
  def sentenceDedup(df: DataFrame, idCol: String, textCol: String,
                    sentKey: Column => Column = c => xxhash64(c)): DataFrame = {
    // sentinel made safe like splitSentences: strip pre-existing U+0001
    // so in-band collisions in crawl text can't create spurious splits
    val marked = regexp_replace(
      replace(trim(col(textCol)), lit("\u0001"), lit("")), "([.!?])\\s+", "$1\u0001")
    val parts = filter(transform(split(marked, "\u0001"), s => trim(s)), s => s =!= "")
    val sents = df.select(col(idCol).as("id"), posexplode(parts).as(Seq("pos", "sent")))
      .select(col("id"), col("pos"), sentKey(col("sent")).as("k"))
    val firsts = sents.groupBy(col("k"))
      .agg(min(struct(col("id"), col("pos"))).as("f"))
    val removals = sents.join(firsts, "k")
      .where(col("id") =!= col("f.id") || col("pos") =!= col("f.pos"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("__sd_rm"))
      .withColumnRenamed("id", "__sd_id")

    df.join(removals, df(idCol) === removals("__sd_id"), "left")
      .withColumn("n_sentences", size(parts).cast("long"))
      .withColumn("n_removed", coalesce(size(col("__sd_rm")), lit(0)).cast("long"))
      .withColumn(textCol,
        array_join(filter(parts, (_, i) =>
          col("__sd_rm").isNull || !array_contains(col("__sd_rm"), i)), " "))
      .drop("__sd_id", "__sd_rm")
  }

  // ---------- repeated-span detection (exact-substring dedup, token level) ----------

  /** Every position whose n-token window recurs ANYWHERE in the corpus —
    * the token-level form of exact-substring training-data dedup (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022): repeated spans, not whole near-dup documents, are what
    * memorization-prone corpora actually contain.
    *
    * Output: (id, pos (1-based window start), gram) for each repeated
    * window. Plan: one posexplode scan → count per 128-bit gram
    * fingerprint ([[fingerprintLanes]] — the counting exchange moves 16-byte keys, never the
    * window text) → left-semi join of positions against the over-once
    * fingerprints. The dup set is output-sized, so AQE broadcasts it and
    * the position stream's strings stay put; a lane collision
    * (< 2⁻⁸⁰ at 10¹² windows, see [[fingerprintLanes]]) would flag a
    * unique span as repeated. No pairwise comparison exists anywhere —
    * the span space is linear in corpus tokens.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"window width must be >= 2, got $n")
    val ws = Curation.cleanTokens(col(textCol))
    val grams = when(size(ws) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j)): _*)))
    val w = df.select(col(idCol).as("id"), posexplode(grams).as(Seq("p0", "gram")))
      .select(Seq(col("id"), (col("p0") + 1).cast("long").as("pos"), col("gram")) ++
        fingerprintLanes(col("gram"), "h1", "h2"): _*)
    val dups = w.groupBy("h1", "h2").agg(count(lit(1)).as("cnt")).where(col("cnt") > 1)
    w.join(dups.select("h1", "h2"), Seq("h1", "h2"), "left_semi")
      .select(col("id"), col("pos"), col("gram"))
  }

  /** ExactSubstr removal spans — the OTHER half of Lee et al. 2022: for
    * each document, the maximal token spans covered by some ≥`minTokens`
    * substring that occurs at least twice in the corpus (any document,
    * including the same one — self-repeats memorize too). These are the
    * (doc, start, len) byte-range deletions the reference ExactSubstr
    * tool computes with a corpus-wide suffix array.
    *
    * No suffix array is needed for the REMOVAL SET, because of an exact
    * identity: a substring of length ≥ L occurs twice iff every one of
    * its L-token windows occurs twice, and any position under a
    * duplicated L-window lies inside a duplicated substring of length
    * exactly L. So
    *
    *   union of duplicated ≥L substrings = union of duplicated L-windows,
    *
    * and the right-hand side is LINEAR: window fingerprints → corpus
    * occurrence counts → per-document interval-union merge of the
    * shared window starts. Two L-windows duplicated against DIFFERENT
    * partners chain into one emitted span — correct under union
    * semantics (every position in the span is inside some duplicated
    * substring), though the merged span need not occur verbatim anywhere
    * else; consumers cutting spans get exactly Lee et al.'s deletions.
    *
    * The island rule is COVERAGE-based, not start-adjacency-based: a
    * shared start within `minTokens` of the previous one continues the
    * island (its covered range [p, p+L−1] overlaps or touches the
    * running range), so the emitted spans are pairwise DISJOINT and
    * non-adjacent — each is a maximal contiguous run of covered tokens.
    * (A start-consecutive rule would emit two OVERLAPPING rows for
    * starts at distance 2..L−1, double-counting `len` for any consumer
    * summing removal volume.)
    *
    * Plan ([[repeatedSpans]]' exchange discipline): one posexplode scan
    * projects each window to its 128-bit fingerprint
    * ([[fingerprintLanes]]; the window TEXT dies in the mapper — both exchanges move
    * 16-byte keys), a map-side-combined count rollup keeps fingerprints
    * with ≥2 occurrences (output-sized, AQE broadcasts it back), and the
    * island merge (lag-gap flag + running sum) runs per document —
    * window state bounded by doc length, never corpus size. No pair
    * space, no all-pairs join: cost is linear in corpus tokens at any
    * scale. A lane collision (< 2⁻⁸⁰ at 10¹² windows) could mark a
    * unique window shared — the same accepted budget as
    * [[repeatedSpans]].
    *
    * Output: (id, start (1-based token index), len (tokens)), one row
    * per maximal covered span, len ≥ minTokens, spans disjoint.
    */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                       minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val toks = graft.ops.TextAnalysis.tokens(col(textCol))
    val cnt = size(col("_toks")) - (minTokens - 1)
    val grams = df.select(col(idCol).as("id"), toks.as("_toks"))
      .select(col("id"),
        posexplode(when(cnt > 0,
            transform(sequence(lit(1), cnt),
              i => array_join(slice(col("_toks"), i, lit(minTokens)), " ")))
          .otherwise(array().cast("array<string>"))).as(Seq("p0", "gram")))
      .select(Seq(col("id"), (col("p0") + 1).cast("long").as("pos")) ++
        fingerprintLanes(col("gram"), "h1", "h2"): _*)
    val dups = grams.groupBy("h1", "h2").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2)
    val shared = grams.join(dups.select("h1", "h2"), Seq("h1", "h2"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    // coverage islands: start p extends the island iff p - prev <= L
    // (ranges [prev, prev+L-1] and [p, p+L-1] overlap or touch); the
    // first row's NULL lag falls through to the ELSE 1 on both engines
    shared
      .withColumn("_new", when(col("pos") - lag(col("pos"), 1).over(w) <= minTokens,
        lit(0L)).otherwise(lit(1L)))
      .withColumn("grp", sum(col("_new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("start"),
        (max(col("pos")) - min(col("pos")) + minTokens).as("len"))
      .select(col("id"), col("start"), col("len"))
  }

  /** Apply [[exactSubstrSpans]]' removal set: cut the spanned tokens out
    * of each document and stitch the remainder — the deletion step an
    * ExactSubstr pipeline actually trains on (Lee et al. 2022 drop the
    * duplicated bytes, not the documents). Every document comes back
    * (docs with no spans pass through), with the cut count alongside so
    * the caller can audit removal volume per doc.
    *
    * Plan: spans (output-sized) roll up to one array per doc and join the
    * corpus on the 8-byte id — AQE broadcasts the span side when small,
    * and the corpus text never shuffles. Token filtering is an in-row
    * higher-order `filter`/`exists` over the per-doc span array (spans
    * per doc are few — bounded by docLen/minTokens — so the per-token
    * test is cheap even interpreted).
    *
    * Output: (id, clean_text, n_removed). `clean_text` is whitespace-
    * normalized (tokens rejoined with single spaces), the usual
    * tokenize-then-stitch contract.
    */
  def applyRemovalSpans(df: DataFrame, spans: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val sp = spans.groupBy(col("id"))
      .agg(collect_list(struct(col("start"), col("len"))).as("_spans"))
    df.select(col(idCol).as("id"), graft.ops.TextAnalysis.tokens(col(textCol)).as("_toks"))
      .join(sp, Seq("id"), "left")
      .withColumn("_spans",
        coalesce(col("_spans"), array().cast("array<struct<start:long,len:long>>")))
      .withColumn("_kept", filter(col("_toks"), (t, i) =>
        !exists(col("_spans"), s =>
          (i + 1) >= s.getField("start") &&
            (i + 1) < s.getField("start") + s.getField("len"))))
      .select(col("id"), array_join(col("_kept"), " ").as("clean_text"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_removed"))
  }

  /** The end-to-end dedup KEEP decision: near-dup pairs → connected
    * components → per-cluster best-quality representative. This is the
    * step a real pipeline runs after clustering — "which copy survives"
    * — and quality-aware selection (RefinedWeb/FineWeb keep the
    * highest-scoring member, not an arbitrary one) measurably beats
    * min-id keeps on crawl data where the cleanest copy is rarely the
    * first-crawled one. Deterministic: rank by (score desc, id asc)
    * within each cluster — the per-cluster window is bounded by cluster
    * size, and everything upstream shuffles 8-byte keys only.
    * Output: one row per clustered doc (idCol, component, score,
    * is_keep); docs in no pair are trivially their own keeps and are
    * not emitted (the [[connectedComponents]] convention).
    */
  def clusterKeep(pairs: DataFrame, df: DataFrame, idCol: String,
                  scoreCol: Column): DataFrame = {
    val comps = connectedComponents(pairs, "a", "b")
    val scored = df.select(col(idCol).as("node"), scoreCol.as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(col("score").desc, col("node"))
    comps.join(scored, "node")
      .withColumn("rn", row_number().over(w))
      .select(col("node").as(idCol), col("component"), col("score"),
        (col("rn") === 1).as("is_keep"))
  }

  // ---------- duplicate clusters: connected components over pair edges ----------

  /** Connected components over an undirected edge list — turns near-dup
    * PAIRS (the output of [[minhashLsh]], [[simhashPairs]],
    * [[cosineNearDup]]) into duplicate CLUSTERS, the form a dedup keep/drop
    * decision actually needs.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * O(log n)-round formulation, NOT per-hop label propagation, whose
    * round count is the component DIAMETER (a 10⁶-link chain of
    * shingle-overlapping crawl pages would need 10⁶ rounds; large-star
    * halves star depth every round, so the same chain converges in ~20).
    * Each round is two groupBy/join pairs, all equi-keyed on 8-byte node
    * ids — no text, no signatures, nothing wide ever shuffles:
    *
    *  - large-star: every node links its LARGER neighbors to its current
    *    minimum (min(N(u) ∪ {u}));
    *  - small-star: every node links its smaller-or-equal neighbors and
    *    itself to that minimum.
    *
    * Both preserve connectivity and never create edges across components
    * (every new edge is between two nodes already connected through u);
    * at the fixed point the edge set is a star per component centered on
    * its minimum id. Convergence is detected by an order-independent
    * checksum (count + sum of xxhash64(u,v)) — two tiny driver actions
    * per round; `maxIterations` is a safety valve (2·log₂(n) rounds is
    * the paper's bound; 50 covers any conceivable corpus).
    *
    * Each round's edge set is re-materialized behind `barrier` and the
    * previous round's storage is released immediately — peak footprint is
    * two edge sets, not the whole iteration history; lineage never grows.
    *
    * Output: (node, component) for every node incident to at least one
    * edge, component = the smallest node id reachable from it. Nodes with
    * no edges don't appear (a row with no near-dup pair is its own
    * component — union them back with `component = node` if a total
    * labeling is needed, avoiding an edge row per singleton).
    *
    * Below `maxDriverEdges` deduplicated edges the labeling instead runs
    * as a single driver-side union-find over the collected edge list (see
    * the inline rationale: each distributed round costs seconds of
    * driver planning overhead regardless of data size, and blocked
    * near-dup graphs are tiny relative to their corpus). Identical
    * output; `maxDriverEdges = 0` forces the distributed path.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIterations: Int = 50,
                          barrier: Barrier = Barrier.LocalCheckpoint,
                          maxDriverEdges: Long = 1L << 22): DataFrame = {
    def roundBarrier(i: Int): Barrier = barrier match {
      case Barrier.Stage(p) => Barrier.Stage(s"$p/cc_iter_$i")
      case other => other
    }
    // decimal(38,0) accumulation: exact and overflow-free under ANSI mode
    // (a raw BIGINT sum of 64-bit hashes overflows almost immediately).
    // For the LocalCheckpoint barrier the checkpoint is created LAZILY and
    // this aggregate is the action that materializes it — one job per
    // round does both the barrier and the convergence probe.
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    // canonical orientation (u > v), self-loops dropped, exact-duplicate
    // edges collapsed — the working set is then at most the input pair count
    var (e, releaseE) = materialize(
      edges.select(greatest(col(aCol), col(bCol)).cast("long").as("u"),
          least(col(aCol), col(bCol)).cast("long").as("v"))
        .where(col("u") =!= col("v")).distinct(),
      roundBarrier(0), eager = false)

    // Adaptive small-graph path. The pair graph after LSH/SimHash/bucket
    // blocking is orders of magnitude smaller than the corpus (it holds
    // only actual near-duplicates), and the distributed rounds below cost
    // 1-4 s EACH in driver-side planning/AQE/codegen even when the
    // runtime work is two tasks — measured: 55 edges take ~3 rounds ×
    // ~2.5 s, vs milliseconds of union-find. Probe with one
    // `limit(max+1)` collect: all edges in hand → label on the driver;
    // overflow → discard and run the O(log n)-round star contraction
    // (`maxDriverEdges` defaults to 4M edges = 64 MB of longs, far under
    // any driver heap; 0 disables the path). Identical output either way.
    val driverProbe = maxDriverEdges > 0 && maxDriverEdges < Int.MaxValue - 1
    val arr = if (driverProbe) e.limit(maxDriverEdges.toInt + 1).collect()
              else Array.empty[org.apache.spark.sql.Row]
    if (driverProbe && arr.length <= maxDriverEdges) {
      releaseE()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.get(x) != x) {
          val gp = parent.get(parent.get(x))
          parent.put(x, gp); x = gp
        }
        x
      }
      arr.foreach { r =>
        val (u, v) = (r.getLong(0), r.getLong(1))
        parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
        val (ru, rv) = (find(u), find(v))
        // union by MIN id: the root is always the component minimum, so
        // labels match the star-contraction fixed point exactly
        if (ru < rv) parent.put(rv, ru) else if (rv < ru) parent.put(ru, rv)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach { n => out += ((n, find(n))) }
      val spark = edges.sparkSession
      import spark.implicits._
      return out.toSeq.toDF("node", "component")
    }

    var prev = checksum(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      iter += 1
      // large-star over the symmetrized neighborhood: m(u) = min(N(u) ∪ {u});
      // every neighbor v > u re-links to m(u). Emitted edges keep u > v
      // canonical because m(u) <= u < v.
      val sym = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()

      // small-star on the canonical orientation: every u's smaller
      // neighborhood N≤(u) has min m = min(N≤(u)); relink N≤(u) ∪ {u}
      // minus m itself. m <= every emitted partner, so u > v is preserved.
      val mins2 = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(mins2, "u").where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins2.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()

      val (e2, releaseE2) = materialize(small, roundBarrier(iter), eager = false)
      val cur = checksum(e2)
      releaseE()
      e = e2; releaseE = releaseE2
      converged = cur == prev
      prev = cur
    }
    // fixed point = one star per component, centered on the component min;
    // the centers label themselves so every edge-incident node gets a row
    val stars = e.select(col("u").as("node"), col("v").as("component"))
    stars.unionByName(
      stars.select(col("component").as("node"), col("component")).distinct())
  }

  def cosineNearDup(df: DataFrame, idCol: String, vecCol: String,
                    bucketCol: Column, minSim: Double): DataFrame = {
    val base = df.select(bucketCol.as("bkt"), col(idCol).as("id"), col(vecCol).as("v"))
    val l = base.select(col("bkt"), col("id").as("a"), col("v").as("va"))
    val r = base.select(col("bkt"), col("id").as("b"), col("v").as("vb"))
    l.join(r, Seq("bkt")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        graft.functions.fast_round(lit(1.0) - graft.functions.vector_distance(col("va"), col("vb"), "cosine"), 6)
          .as("cosine_sim"))
      .where(col("cosine_sim") >= minSim)
      .dropDuplicates("a", "b")
  }
}
