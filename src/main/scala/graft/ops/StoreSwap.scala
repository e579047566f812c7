package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one store lifecycle: every build, append, compaction, open and
  * drop of a parquet store goes through here. It is the durability half
  * of the reference's BEGIN/COMMIT-atomic rebuild transaction
  * (sqlite-vector.c:1418-1453), restated for a filesystem whose only
  * atomic primitive is a single directory rename. A reader sees the old
  * store or the new one, never a mix.
  *
  * [[replace]] (every build and compaction):
  *
  *   1. stage: the caller writes the full new store — data and every
  *      sidecar — under [[stagingPath]]. `_SUCCESS` at the staging root
  *      must land last: a Spark write at the root writes it last, so a
  *      store whose sidecar sits at the root (the quant store) writes the
  *      sidecar before the codes; for any other layout `replace` creates
  *      the marker once the callback returns. A crash here leaves the live
  *      store untouched.
  *   2. `rename(store, store_old)` — the old store steps aside whole.
  *   3. `rename(staging, store)` — the new store takes the name whole.
  *   4. `delete(store_old)` — garbage, nothing depends on it.
  *
  * The naive `delete(store); rename(staging, store)` loses the live store
  * to a crash between the two calls. Here every crash point leaves a
  * complete store reachable by name, and [[recover]] resolves each one:
  *   - after 2, before 3: `store` absent, staged copy marked → roll
  *     FORWARD (finish the swap);
  *   - after 3, before 4: `store` live, `store_old` left over → delete it;
  *   - during 1 (no marker): the live store never moved, or stepped aside
  *     whole in an earlier swap → delete the partial, roll back.
  *
  * [[open]] runs [[recover]] (a few `exists` probes, idempotent) before
  * every read and every in-place append: an append against a stepped-aside
  * store would fork a fresh store that a later recovery discards.
  * [[drop]] deletes the staged copy first, so a complete staged copy can
  * never roll forward over a dropped store.
  */
object StoreSwap {

  /** The step-aside name: `<store>_old`, sibling of the store. */
  def oldPath(store: Path): Path = new Path(store.getParent, store.getName + "_old")

  /** The staging name: `<store>_staging`, sibling of the store. */
  def stagingPath(store: Path): Path = new Path(store.getParent, store.getName + "_staging")

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def marker(dir: Path): Path = new Path(dir, "_SUCCESS")

  /** Resolve any crash window an interrupted [[replace]] left. Afterwards
    * no staged copy exists. Returns true iff something was repaired.
    */
  def recover(fs: FileSystem, store: Path): Boolean = {
    val tmp = stagingPath(store)
    val old = oldPath(store)
    if (!fs.exists(store) && fs.exists(marker(tmp))) {
      require(fs.rename(tmp, store), s"StoreSwap.recover: rename $tmp -> $store failed")
      fs.delete(old, true)
      true
    } else {
      val partial = fs.delete(tmp, true)
      if (!fs.exists(store) && fs.exists(old)) {
        require(fs.rename(old, store), s"StoreSwap.recover: rename $old -> $store failed")
        true
      } else fs.delete(old, true) || partial
    }
  }

  /** Recover, then report whether the store exists. */
  def open(spark: SparkSession, path: String): Boolean = {
    val (fs, store) = resolve(spark, path)
    recover(fs, store)
    fs.exists(store)
  }

  /** Recover, stage the new store through `write(stagingDir)`, then
    * promote it (steps 2-4). A throw from `write` leaves the live store
    * as it was.
    */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (fs, store) = resolve(spark, path)
    recover(fs, store)
    val tmp = stagingPath(store)
    write(tmp.toString)
    require(fs.exists(tmp), s"StoreSwap.replace: staged store $tmp does not exist")
    fs.createNewFile(marker(tmp))
    val old = oldPath(store)
    if (fs.exists(store))
      require(fs.rename(store, old), s"StoreSwap.replace: rename $store -> $old failed")
    require(fs.rename(tmp, store), s"StoreSwap.replace: rename $tmp -> $store failed")
    fs.delete(old, true)
  }

  /** Delete the store with its staged and stepped-aside copies. */
  def drop(spark: SparkSession, path: String): Unit = {
    val (fs, store) = resolve(spark, path)
    Seq(stagingPath(store), oldPath(store), store).foreach(fs.delete(_, true))
  }
}
