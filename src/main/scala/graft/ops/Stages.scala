package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The stage runner of the compositions ([[Pipeline.curateCrawl]],
  * [[Pipeline.buildFrontier]], [[Warc.resolveRedirects]]): one owner
  * for the job labels, the per-stage wall time, the barriers and their
  * release. Open one with [[Stages.run]]; every barrier it makes is freed
  * if the body throws.
  *
  * Barrier policy — each composition boundary picks one of three:
  *
  *  - EAGER (`barrier(df, eager = true)`): the checkpoint job runs at
  *    declaration, then the frame is compacted (see [[compact]]). Used on
  *    the audited paths, so each funnel row's `seconds` is the stage's own
  *    work, and around per-row-heavy work with several consumers. An
  *    experiment that lazified every composition boundary compounded the
  *    logical subtree copies ~2^depth (logical plans are trees) and
  *    planned and ran 60× slower.
  *  - LAZY (`eager = false`): for a stage with a SINGLE SEQUENTIAL
  *    CONSUMER. The plan truncation is identical (the frame is a
  *    LogicalRDD either way, so none of the traps of removing the barrier
  *    node), but the barrier's result-stage job folds into its consumer's
  *    first action instead of running standalone: ~10 fewer jobs per
  *    curate run, pure driver and scheduling overhead at gate scale, and
  *    one fewer pass of block writes. Every later reader (deferred store
  *    appends, funnel counts) reads the blocks. Lazy barriers are not
  *    compacted: their blocks do not exist yet to be measured.
  *  - NONE: a narrow stage read once stays a plain frame. The frontier's
  *    distinct fold and robots-verdict join do this unaudited: their
  *    subtrees are flat projections over the `extracted` barrier, the
  *    heavy Exchanges below them deduplicate through exchange reuse, and
  *    two plan-compile + job + checkpoint cycles per build disappear.
  *    A/B'd again after the compaction landed: lazy-CHECKPOINTING those
  *    two stages saves their ~2×0.25 s per-consumer projection recomputes
  *    but pays ~1.2 s of extra driver-side plan finalization per build
  *    (each lazy checkpoint finalizes its adaptive plan at declaration) —
  *    net worse, so they stay raw.
  */
private[graft] final class Stages private (spark: SparkSession, prefix: String) {

  // (the barrier frame a release frees, or None for an outside release)
  private val releases = mutable.ArrayBuffer.empty[(Option[DataFrame], () => Unit)]
  private val secs = mutable.LinkedHashMap.empty[String, Double]

  /** Runs `body` with its jobs labelled `"<prefix>: <label>"` (the
    * UI/listener attribution for a composition whose cost is spread over
    * dozens of tiny jobs) and adds its wall seconds to `label`'s total.
    */
  def timed[T](label: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(s"$prefix: $label")
    val t0 = System.nanoTime()
    val r = try body finally spark.sparkContext.setJobDescription(null)
    secs(label) = secs.getOrElse(label, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }

  /** A local-checkpoint barrier over `df` whose release this runner owns
    * (see the class doc for the eager/lazy choice).
    */
  def barrier(df: DataFrame, eager: Boolean): DataFrame = {
    val (g, rel) = Dedup.materialize(df, Dedup.Barrier.LocalCheckpoint, eager)
    // registered before the compaction, then re-keyed to the frame returned
    val i = releases.size
    releases += ((Some(g), rel))
    val out = if (eager) compact(g) else g
    releases(i) = (Some(out), rel)
    out
  }

  /** [[barrier]] inside [[timed]]. */
  def stage(label: String, eager: Boolean)(df: DataFrame): DataFrame =
    timed(label)(barrier(df, eager))

  /** Registers a release this runner did not make (e.g. a MinHash run's). */
  def onRelease(f: () => Unit): Unit = releases += ((None, f))

  /** Frees every registered release except the barriers of `keep`, which
    * stay registered.
    */
  def releaseExcept(keep: DataFrame*): Unit = {
    val (kept, freed) = releases.partition(_._1.exists(f => keep.exists(_ eq f)))
    freed.foreach(_._2())
    releases.clear()
    releases ++= kept
  }

  /** The audited funnel frame: (stage_idx, stage, `countCol`, seconds),
    * `seconds` = the label's [[timed]] total to the millisecond, NULL for
    * a stage that was never timed (counted off a shared upstream barrier).
    */
  def funnel(rows: Seq[(String, Long)], countCol: String): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((st, n), i) =>
      (i.toLong, st, n, secs.get(st).map(x => math.rint(x * 1000) / 1000))
    }.toDF("stage_idx", "stage", countCol, "seconds")
  }

  /** Byte-adaptive width for an eagerly checkpointed frame. A composition
    * barrier inherits the width of the parallel per-row work above it
    * (input splits × union lanes: ~100 partitions at gate scale, e.g. the
    * frontier's 3 spread lanes over a few thousand candidate URLs), and
    * every downstream exchange's map stage then re-scans that width:
    * ~100 tasks of block reads per stage, each paying task launch,
    * serialization and collection overhead that dwarfs the microseconds
    * of work on a small corpus. So the frame is COALESCED (narrow, zero
    * shuffle: the materialized blocks are only grouped per task) to a
    * width read from the checkpoint's own measured block bytes, mirroring
    * AQE's parallelism-first coalescing of post-shuffle reads (which
    * cannot see checkpoint blocks): per-partition size = max(min(advisory,
    * bytes / defaultParallelism), minPartitionSize), target = ⌈bytes /
    * that⌉ clamped to [1, current width]. With the default confs
    * (advisoryPartitionSizeInBytes 64 MB, minPartitionSize 1 MB) that
    * means:
    *
    *  - every barrier under minPartitionSize coalesces to exactly ONE
    *    partition, so downstream CPU-dense map work over it runs on one
    *    core (the floor is the minPartitionSize, not a width);
    *  - up to defaultParallelism × minPartitionSize, one partition per
    *    minPartitionSize;
    *  - above that, ~defaultParallelism partitions, until the frame is
    *    large enough (bytes ≥ width × advisory) that it keeps its width:
    *    the compaction switches itself off at scale.
    *
    * No-op when the storage info is unreadable (size 0): never shrink what
    * cannot be measured.
    */
  private def compact(g: DataFrame): DataFrame = {
    val leaf = org.apache.spark.sql.GraftColumnShim.leafRdd(g)
    if (leaf.isEmpty) return g
    val width = leaf.get.getNumPartitions
    if (width <= 1) return g
    val bytes = Dedup.persistedAncestor(leaf.get).flatMap(r =>
      spark.sparkContext.getRDDStorageInfo.find(_.id == r.id)
        .map(i => i.memSize + i.diskSize)).getOrElse(0L)
    if (bytes <= 0L) return g
    def confBytes(key: String, dflt: String): Long =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get(key, dflt))
    val advisory = confBytes("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    val minSize = confBytes("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
    val par = math.max(1L, spark.sparkContext.defaultParallelism.toLong)
    val perPart = math.max(math.min(advisory, bytes / par), minSize)
    val target = math.min(width.toLong,
      math.max(1L, (bytes + perPart - 1) / perPart)).toInt
    if (target < width) g.coalesce(target) else g
  }
}

private[graft] object Stages {

  /** Runs `body` with a fresh runner. If it throws, every release still
    * registered runs (each failure ignored) before the rethrow, so a
    * failed stage never leaks the composition's checkpoint blocks for the
    * life of the session. On success the body frees what it no longer
    * needs with [[Stages.releaseExcept]].
    */
  def run[T](spark: SparkSession, prefix: String)(body: Stages => T): T = {
    val st = new Stages(spark, prefix)
    try body(st)
    catch { case t: Throwable =>
      st.releases.foreach(r => scala.util.Try(r._2()))
      throw t
    }
  }
}
