package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * The third-and-a-half pruning lever after Hive partition directories
  * (events_partitioned_agg), bucketed joins (bucketed_join) and 1-D
  * range-sorted stores (sorted_scan_range): interleaving the bits of TWO
  * filter columns into one sort key makes rows that are close in BOTH
  * dimensions land in the same parquet files, so file/row-group min-max
  * stats prune a 2-D box predicate on EITHER or BOTH columns — where a
  * 1-D sort only ever prunes its own column and a box predicate on the
  * other dimension scans the whole store. This is the layout behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`, built here from pure codegen'd
  * bit arithmetic (no custom expression needed) so the key is restatable
  * verbatim in any SQL engine.
  *
  * Scale envelope: the z-key computation is a zero-shuffle projection;
  * the write pays one range-partitioning shuffle (same price as any
  * sorted rewrite, amortized over every box query after it). At 100 TB
  * the store is written once per compaction window and every
  * `x BETWEEN ... AND y BETWEEN ...` query afterwards reads only the
  * O(perimeter) files whose z-ranges intersect the box instead of the
  * full corpus.
  */
object Layout {

  /** Morton interleave of two non-negative integer columns confined to
    * `bits` low bits each: bit i of `x` lands at output bit 2i, bit i of
    * `y` at 2i+1. Values outside [0, 2^bits) fold into the key's low bits
    * (callers bound their columns or pre-bucket them). Pure built-in bit
    * ops — codegen'd, deterministic, engine-portable.
    */
  def zorderValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xl = x.cast("long"); val yl = y.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_)).as("z")
  }

  /** Rewrite `df` clustered by the z-order of (`xCol`, `yCol`): one
    * range-partitioning shuffle on the z key, sorted within partitions so
    * parquet row-group stats are tight, split into `files` output ranges.
    * The store keeps a `_z` column (8 bytes/row) so readers can range-scan
    * the key directly as well.
    */
  def writeZordered(df: DataFrame, path: String, xCol: String, yCol: String,
                    bits: Int, files: Int): Unit =
    df.withColumn("_z", zorderValue(col(xCol), col(yCol), bits))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Tombstone delete sidecar — deletes on an IMMUTABLE corpus store
    * without rewriting it (the merge-on-read half of Delta/Iceberg
    * deletion vectors, restated as plain parquet): each delete wave
    * APPENDS its ids to a sidecar directory; the store's bytes never
    * move. The opt-out/right-to-be-forgotten shape for a 100 TB training
    * corpus, where rewriting petabytes per takedown request is not an
    * option — and where the next training run MUST not see the rows.
    */
  def appendTombstones(ids: DataFrame, idCol: String, path: String): Unit =
    ids.select(col(idCol)).distinct()
      .write.mode(SaveMode.Append).parquet(path)

  /** The merge-on-read scan: store minus every id in the tombstone
    * sidecar. One LEFT ANTI join keyed on the 8-byte id; the tombstone
    * side is takedown-sized (vs the corpus), so AQE broadcasts it and
    * the corpus never shuffles — the scan costs one pass + a hash probe
    * per row. Returns an empty-sidecar-safe frame (missing/empty
    * tombstone dir = the plain store).
    */
  def readWithTombstones(spark: SparkSession, storePath: String,
                         tombstonePath: String, idCol: String): DataFrame = {
    StoreSwap.open(spark, storePath)
    val store = spark.read.parquet(storePath)
    val fs = new org.apache.hadoop.fs.Path(tombstonePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(tombstonePath))) store
    else store.join(spark.read.parquet(tombstonePath).select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Upsert sidecar — the UPDATE half of the immutable-store mutation
    * story next to [[appendTombstones]]' deletes: a recrawl/reprocess
    * wave appends its replacement rows (full store schema) under a
    * monotonically increasing `wave` number; the store's bytes never
    * move. One row per id per wave (a wave is a deduplicated delivery;
    * ids may recur ACROSS waves — later waves win).
    */
  def appendUpserts(rows: DataFrame, path: String, wave: Long): Unit = {
    require(wave >= 1, s"wave must be >= 1 (0 is the base store), got $wave")
    rows.withColumn("_wave", lit(wave)).write.mode(SaveMode.Append).parquet(path)
  }

  /** Latest-wins merge-on-read: the base store with every superseded row
    * replaced by its newest upsert. The scalable shape: the winner per
    * id is resolved INSIDE the upsert sidecar (a window over the
    * recrawl-sized side only), then the base pays one LEFT ANTI join on
    * the 8-byte id (AQE broadcasts the sidecar's id set) plus a union —
    * the base never shuffles and is never rewritten. `asOfWave` reads
    * the store as it stood after that wave landed (time travel):
    * `Some(0)` = the base store, `None` = all waves.
    */
  def readWithUpserts(spark: SparkSession, storePath: String,
                      upsertPath: String, idCol: String,
                      asOfWave: Option[Long] = None): DataFrame = {
    StoreSwap.open(spark, storePath)
    val store = spark.read.parquet(storePath)
    val fs = new org.apache.hadoop.fs.Path(upsertPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(upsertPath))) return store
    val ups0 = spark.read.parquet(upsertPath)
    val ups = asOfWave.fold(ups0)(w => ups0.where(col("_wave") <= w))
    if (asOfWave.contains(0L)) return store
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_wave").desc)
    val latest = ups.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn", "_wave")
      .select(store.columns.map(col): _*)
    store.join(latest.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
      .unionByName(latest)
  }

  /** Fold the accumulated upserts into the store once (rewrite with
    * latest-wins applied, drop the sidecar) — [[compactTombstones]]' twin;
    * note compaction FORFEITS time travel for the folded waves, so run it
    * when the history window ages out, not eagerly. A crash between the
    * swap and the sidecar delete reapplies the folded waves on read, which
    * latest-wins makes idempotent (same rows win again).
    */
  def compactUpserts(spark: SparkSession, storePath: String,
                     upsertPath: String, idCol: String): Unit =
    compactWith(spark, storePath, upsertPath,
      readWithUpserts(spark, storePath, upsertPath, idCol))

  /** Compaction: fold the accumulated tombstones into the store ONCE
    * (rewrite minus deleted rows, then drop the sidecar) — run on the
    * same cadence as any store compaction, after which reads pay zero
    * anti-join. The rewrite is the one full-corpus pass the sidecar
    * design defers and batches. A crash between the swap and the sidecar
    * delete reapplies the folded delete set on read — idempotent (the
    * rows are already gone).
    */
  def compactTombstones(spark: SparkSession, storePath: String,
                        tombstonePath: String, idCol: String): Unit =
    compactWith(spark, storePath, tombstonePath,
      readWithTombstones(spark, storePath, tombstonePath, idCol))

  /** Swap `merged` in as the store, then delete the folded sidecar. */
  private def compactWith(spark: SparkSession, storePath: String,
                          sidecarPath: String, merged: DataFrame): Unit = {
    StoreSwap.replace(spark, storePath)(merged.write.parquet(_))
    val sidecar = new org.apache.hadoop.fs.Path(sidecarPath)
    sidecar.getFileSystem(spark.sessionState.newHadoopConf()).delete(sidecar, true)
  }

  /** Per-file [min,max] stats of `column` from the parquet footers —
    * the exact information the scan's file/row-group skipping uses. Test
    * and diagnostics surface for proving a layout prunes: a file whose
    * range misses the predicate box is never read.
    */
  def fileRanges(spark: SparkSession, path: String, column: String): Seq[(Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).filter(s => s.getPath.getName.endsWith(".parquet"))
    files.toSeq.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var mn = Long.MaxValue; var mx = Long.MinValue
        reader.getFooter.getBlocks.forEach { b =>
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == column) {
              val s = c.getStatistics
              mn = math.min(mn, s.genericGetMin.asInstanceOf[Number].longValue)
              mx = math.max(mx, s.genericGetMax.asInstanceOf[Number].longValue)
            }
          }
        }
        (mn, mx)
      } finally reader.close()
    }
  }
}
