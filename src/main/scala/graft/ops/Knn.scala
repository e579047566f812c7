package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{vectorLit, vector_distance}

/** Exact brute-force k-NN and streaming distance annotation — the Spark
  * re-expression of the reference's four table-valued scan modules
  * (vector_full_scan / _stream, sqlite-vector.c:2377-2459).
  *
  * Physical shape (the point at 100 TB): `orderBy(distance).limit(k)` is
  * planned as `TakeOrderedAndProject` — a bounded priority queue per
  * partition followed by a k-row driver merge. That is the distributed
  * analogue of the reference's k-slot array + argmax replacement loop
  * (:2022-2113): each executor holds O(k) state, nothing shuffles except
  * the per-partition winners, and the scan itself is a full
  * whole-stage-codegen'd pass over the Parquet column. No index, no
  * collect, no cross join.
  *
  * The quantized scan ([[Quantizer.quantScan]]) has the same shape but
  * its own operator, [[QuantTopK]]: one job with a named task per query
  * instead of `TakeOrderedAndProject`'s three cleaned closures, and a
  * scan of contiguous code blocks when the store is preloaded.
  */
object Knn {

  /** K1 `vector_full_scan`: exact k-NN. Rows with NULL vectors are skipped
    * (sqlite-vector.c:2093); k=0 → empty (:1796). Ties broken by id for
    * deterministic output (the reference leaves tie order unspecified —
    * strict `<` at :2102).
    */
  def fullScan(df: DataFrame, idCol: String, vecCol: String,
               probe: Array[Float], k: Int, metric: String): DataFrame =
    topK(df.where(col(vecCol).isNotNull)
           .select(col(idCol), vector_distance(col(vecCol), vectorLit(probe), metric).as("distance")),
         col("distance"), col(idCol), k)

  /** K1 over the reference's native storage form: a packed BLOB column,
    * ranked by the (metric × element-type) kernel dispatch — same
    * TakeOrderedAndProject shape, distance computed straight off the bytes.
    */
  def fullScanPacked(df: DataFrame, idCol: String, blobCol: String,
                     probe: Array[Float], k: Int, metric: String, elemType: String): DataFrame = {
    val et = graft.ElemType.parse(elemType)
    val pl = lit(graft.codec.VectorCodec.pack(probe, et))
    topK(df.where(col(blobCol).isNotNull)
           .select(col(idCol),
             graft.functions.vector_distance_packed(col(blobCol), pl, metric, elemType).as("distance")),
         col("distance"), col(idCol), k)
  }

  /** K3 `vector_full_scan_stream`: distance annotation with no sort/limit —
    * composes with arbitrary downstream filters/aggregates.
    */
  def distanceStream(df: DataFrame, idCol: String, vecCol: String,
                     probe: Array[Float], metric: String): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol), vector_distance(col(vecCol), vectorLit(probe), metric).as("distance"))

  /** The documented join-back idiom (reference README.md:97-99): k-NN ids
    * joined to the base table. The k-row side is always broadcast — a
    * BroadcastHashJoin, never a shuffle of the (huge) base table.
    */
  def joinBack(knn: DataFrame, base: DataFrame, knnId: String, baseId: String): DataFrame =
    base.join(broadcast(knn), base(baseId) === knn(knnId))

  /** Matryoshka (MRL) two-stage search: rank on the first `coarseDim`
    * dimensions only, shortlist `c` candidates, rerank those exactly at
    * full dimension. Matryoshka-trained embeddings order information by
    * prefix, so the truncated distance is a cheap high-recall filter —
    * stage 1 touches coarseDim/dim of the vector bytes (and, if the store
    * is written with a separate prefix column, parquet prunes the rest at
    * the scan).
    *
    * Same physical shape as [[BinaryQuant.rerankTopK]]: two
    * TakeOrderedAndProject scans, a broadcast of the c-row shortlist, no
    * full-table shuffle anywhere.
    */
  def mrlTopK(df: DataFrame, idCol: String, vecCol: String, probe: Array[Float],
              coarseDim: Int, c: Int, k: Int, metric: String): DataFrame = {
    require(coarseDim > 0 && coarseDim <= probe.length,
      s"coarseDim $coarseDim out of range (dim ${probe.length})")
    val coarseProbe = vectorLit(probe.take(coarseDim))
    val shortlist = topK(
      df.where(col(vecCol).isNotNull)
        .select(col(idCol),
          vector_distance(slice(col(vecCol), 1, coarseDim), coarseProbe, metric)
            .as("coarse_distance")),
      col("coarse_distance"), col(idCol), c).select(col(idCol))
    val exact = df.join(broadcast(shortlist), idCol)
      .select(col(idCol), vector_distance(col(vecCol), vectorLit(probe), metric).as("distance"))
    topK(exact, col("distance"), col(idCol), k)
  }

  /** [[mrlTopK]] over a store written with a DEDICATED prefix column
    * (`writeMrl`): stage 1 selects only (id, prefix), so the parquet scan
    * reads coarseDim/dim of the vector bytes — column pruning does the
    * work the sliced single-column form can only do arithmetically. The
    * rerank reads the full column for the c shortlisted ids alone.
    */
  def mrlTopKStored(df: DataFrame, idCol: String, prefixCol: String,
                    vecCol: String, probe: Array[Float],
                    coarseDim: Int, c: Int, k: Int, metric: String): DataFrame = {
    require(coarseDim > 0 && coarseDim <= probe.length,
      s"coarseDim $coarseDim out of range (dim ${probe.length})")
    val shortlist = topK(
      df.where(col(prefixCol).isNotNull)
        .select(col(idCol),
          vector_distance(col(prefixCol), vectorLit(probe.take(coarseDim)), metric)
            .as("coarse_distance")),
      col("coarse_distance"), col(idCol), c).select(col(idCol))
    val exact = df.where(col(vecCol).isNotNull).join(broadcast(shortlist), idCol)
      .select(col(idCol), vector_distance(col(vecCol), vectorLit(probe), metric).as("distance"))
    topK(exact, col("distance"), col(idCol), k)
  }

  /** Write the MRL two-column layout: (id, prefix = first coarseDim lanes,
    * vec). Parquet stores the two arrays as independent column chunks, so
    * a prefix-only projection never touches the full vectors.
    */
  def writeMrl(df: DataFrame, idCol: String, vecCol: String, path: String,
               coarseDim: Int): Unit =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol), slice(col(vecCol), 1, coarseDim).as("prefix"), col(vecCol))
      .write.mode("overwrite").parquet(path)

  def topK(scored: DataFrame, dist: Column, id: Column, k: Int): DataFrame =
    scored.orderBy(dist.asc, id.asc).limit(math.max(k, 0))
}
