package graft.catalog

import java.nio.charset.StandardCharsets
import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType}

import graft.{QType, QuantParams, VectorConfig}

/** Driver-side registry of vector columns — the Spark analogue of the
  * reference's per-connection `table_context` array
  * (sqlite-vector.c:126-142, MAX_TABLES=128 at :72) plus the persistent
  * `_sqliteai_vector` metadata table (:114, :419-491).
  *
  * `init` re-validates on re-registration like vector_init does
  * (dim :2523, type :2528, normalized :2533); quant params round-trip
  * through a JSON sidecar next to the data (the `_vector_meta` design from
  * SURVEY §1.1).
  */
object VectorCatalog {

  private val configs = TrieMap.empty[(String, String), VectorConfig]
  private val quants = TrieMap.empty[(String, String), QuantParams]

  def init(table: String, column: String, cfg: VectorConfig, df: Option[DataFrame] = None): VectorConfig = {
    df.foreach { d =>
      val field = d.schema.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(s"column '$column' not found in $table"))
      field.dataType match {
        case ArrayType(FloatType, _) | BinaryType => // ok
        case other => throw new IllegalArgumentException(
          s"column '$column' must be array<float> or binary, got $other")
      }
    }
    configs.get((table, column)) match {
      case Some(existing) =>
        // idempotent re-init must match (sqlite-vector.c:2518-2540)
        require(existing.dim == cfg.dim, s"dimension mismatch: ${existing.dim} vs ${cfg.dim}")
        require(existing.elemType == cfg.elemType, s"type mismatch: ${existing.elemType} vs ${cfg.elemType}")
        require(existing.normalized == cfg.normalized, "normalized flag mismatch")
        existing
      case None =>
        configs.put((table, column), cfg)
        cfg
    }
  }

  def get(table: String, column: String): Option[VectorConfig] = configs.get((table, column))

  def putQuantParams(table: String, column: String, p: QuantParams): Unit =
    quants.put((table, column), p)

  def quantParams(table: String, column: String): Option[QuantParams] = quants.get((table, column))

  /** Drop a column's quant params — the catalog half of
    * `vector_quantize_cleanup` (sqlite-vector.c:1501-1524 deletes the
    * `_sqliteai_vector` row; the vector_init registration itself survives
    * cleanup there too). Returns whether params were present.
    */
  def dropQuantParams(table: String, column: String): Boolean =
    quants.remove((table, column)).isDefined

  def clear(): Unit = { configs.clear(); quants.clear() }

  // ---------- sidecar IO (S4: the _sqliteai_vector equivalent) ----------
  // through the path's own Hadoop filesystem, so a file:, hdfs: or s3a:
  // URI resolves the way the store's codes do

  private def conf = SparkSession.active.sessionState.newHadoopConf()

  def writeSidecar(path: String, p: QuantParams): Unit = {
    val json =
      s"""{"qtype":"${p.qType.name}","scale":${p.scale},"offset":${p.offset},"rows":${p.rows}}"""
    val dst = new Path(path)
    val tmp = dst.suffix(".tmp")
    val fs = dst.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    // a local rename replaces the old file atomically; HDFS refuses to
    // replace, so there the old sidecar is deleted first
    if (!fs.rename(tmp, dst))
      require(fs.delete(dst, false) && fs.rename(tmp, dst), s"writeSidecar: rename $tmp -> $dst failed")
  }

  def readSidecar(path: String): QuantParams = {
    val src = new Path(path)
    val in = src.getFileSystem(conf).open(src)
    val json = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    def field(k: String): String = {
      val m = ("\"" + k + "\"\\s*:\\s*(\"[^\"]*\"|[^,}]+)").r.findFirstMatchIn(json)
        .getOrElse(throw new IllegalArgumentException(s"sidecar missing $k: $json"))
      m.group(1).stripPrefix("\"").stripSuffix("\"")
    }
    QuantParams(QType.parse(field("qtype")), field("scale").toDouble,
      field("offset").toDouble, field("rows").toLong)
  }
}
