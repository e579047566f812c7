package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.Metric
import graft.functions.{vectorLit, vector_distance}

/** Exact brute-force k-NN and streaming distance annotation — the Spark
  * re-expression of the reference's four table-valued scan modules
  * (vector_full_scan / _stream, sqlite-vector.c:2377-2459).
  *
  * Every vector access path in `graft.ops` — the exact scans here, the
  * LSH and IVF stores ([[Ann]]), PQ and IVF-PQ ([[Pq]]), the binary
  * signatures ([[BinaryQuant]]) and the certified code-store plan
  * ([[Quantizer.certifiedTopK]]) — ends in one of two steps, and both
  * exist only here:
  *
  *  - the '''rank''' ([[rank]]; [[fullScan]] is the rank by a metric
  *    distance to the probe): drop every row whose ranked value (the
  *    vector, blob, code array or signature the distance is taken of) is
  *    NULL, as the reference skips NULL vectors (sqlite-vector.c:2093);
  *    project `(id, distance)`; take [[topK]]. Every distance kernel is
  *    NULL exactly when its stored input is, so no NULL distance reaches
  *    a top-k. The filter sits on the input column, not on the distance,
  *    so parquet can push it and each distance is computed once per row;
  *  - the '''rerank''' ([[rerank]]): broadcast a shortlist of ids into
  *    the full-precision frame (a BroadcastHashJoin, never a shuffle of
  *    that frame), then rank it. A shortlisted id whose full vector is
  *    NULL is dropped by that rank like any other NULL row.
  *
  * A path only chooses its candidate frame: a partition-pruned store
  * read, a bucket IN-list, a metadata predicate, a hash-set filter, or a
  * shortlist.
  *
  * Physical shape (the point at 100 TB): [[topK]] is one engine-owned
  * node, [[KnnTopK]], planned as one job — a named task keeps a bounded
  * heap of rows per partition, and the driver merges the k-row heaps.
  * That is the distributed analogue of the reference's k-slot array +
  * argmax replacement loop (:2022-2113): each executor holds O(k) state,
  * nothing shuffles, and the scan itself is a full whole-stage-codegen'd
  * pass over the Parquet column. No index, no collect, no cross join.
  * The rows are ordered as Spark sorts them: ties break by id for
  * deterministic output (the reference leaves tie order unspecified —
  * strict `<` at :2102), NULLs first and NaN last.
  *
  * The quantized scan ([[Quantizer.quantScan]]) and the certificate's
  * code pass have the same shape in their own operator, [[QuantTopK]],
  * which scans contiguous code blocks when the store is preloaded.
  *
  * '''Prepared plans.''' The three exact serving entry points — [[fullScan]],
  * [[Quantizer.certifiedTopK]] (its fallbacks to [[fullScan]] included)
  * and the SQL `vector_scan` / `vector_full_scan` — plan once per store
  * and bind only the probe, as the reference plans in `xBestIndex` and
  * binds the `?` in `xFilter` (sqlite-vector.c:1723-1826, 1850-1880):
  *
  *  - '''prepared''' once per key, by its second call: the whole
  *    physical plan, through analysis, optimization, planning and Spark's
  *    preparation rules, with its parquet scans' input RDDs and broadcast
  *    Hadoop conf. The [[Prepared]] cache holds it as a [[Template]]. A
  *    key's first call plans for itself alone, so a key that never
  *    comes back (a fresh read per query) costs no more than the key;
  *  - '''bound''' per call: a copy of that plan with the call's f32 probe
  *    literal and, for the certified plan, the probe's codes, its
  *    [[Certificate]] and a fresh shortlist slot. The copy shares the
  *    leaf scans and nothing else, so concurrent calls on one template
  *    each get their own answer;
  *  - the '''key''': the session's SQL conf, the store frame's
  *    canonicalized analyzed plan with the file listings it reads, the
  *    id and vector columns, k and the metric, and for the certified
  *    plan also the code store's plan, its `QuantParams` and the
  *    shortlist cap. A replaced view, a fresh
  *    read of a rewritten path, new params, a re-preloaded code store or
  *    a changed conf setting is a new key; [[Quantizer.cleanup]] drops
  *    the templates over the blocks it releases.
  *
  * A plan with an exchange, a subquery or a cached-relation scan is
  * planned per call, as are the paths whose candidates depend on the
  * probe ([[exactRank]]: the IVF and LSH cells, the rerank's shortlist
  * join, MRL). The first two calls per (store, k, metric) pay the
  * planning.
  */
object Knn {

  /** K1 `vector_full_scan`: exact k-NN over `df`, the rank by `metric`
    * distance to the probe; k=0 → empty (:1796). A prepared plan (see
    * the object doc).
    */
  def fullScan(df: DataFrame, idCol: String, vecCol: String,
               probe: Array[Float], k: Int, metric: String): DataFrame =
    Prepared.frame(Prepared.key(df, idCol, vecCol, k, Metric.parse(metric)), Binding(probeLiteral(probe), None)) {
      (probeLit, _) => rank(df, idCol, col(vecCol), k)(probeDistance(probeLit, metric))
    }

  /** [[fullScan]] planned for this call alone, for candidates that depend
    * on the probe.
    */
  private[ops] def exactRank(df: DataFrame, idCol: String, vecCol: String,
                             probe: Array[Float], k: Int, metric: String): DataFrame =
    rank(df, idCol, col(vecCol), k)(probeDistance(probeLiteral(probe), metric))

  /** K1 over the reference's native storage form: a packed BLOB column,
    * ranked by the (metric × element-type) kernel dispatch, distance
    * computed straight off the bytes.
    */
  def fullScanPacked(df: DataFrame, idCol: String, blobCol: String,
                     probe: Array[Float], k: Int, metric: String, elemType: String): DataFrame = {
    val pl = lit(graft.codec.VectorCodec.pack(probe, graft.ElemType.parse(elemType)))
    rank(df, idCol, col(blobCol), k)(graft.functions.vector_distance_packed(_, pl, metric, elemType))
  }

  /** K3 `vector_full_scan_stream`: distance annotation with no sort/limit —
    * composes with arbitrary downstream filters/aggregates.
    */
  def distanceStream(df: DataFrame, idCol: String, vecCol: String,
                     probe: Array[Float], metric: String): DataFrame =
    score(df, idCol, col(vecCol))(probeDistance(probeLiteral(probe), metric))

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
    */
  def mrlTopK(df: DataFrame, idCol: String, vecCol: String, probe: Array[Float],
              coarseDim: Int, c: Int, k: Int, metric: String): DataFrame =
    mrl(df, idCol, slice(col(vecCol), 1, coarseDim), vecCol, probe, coarseDim, c, k, metric)

  /** [[mrlTopK]] over a store written with a DEDICATED prefix column
    * (`writeMrl`): stage 1 selects only (id, prefix), so the parquet scan
    * reads coarseDim/dim of the vector bytes — column pruning does the
    * work the sliced single-column form can only do arithmetically. The
    * rerank reads the full column for the c shortlisted ids alone.
    */
  def mrlTopKStored(df: DataFrame, idCol: String, prefixCol: String,
                    vecCol: String, probe: Array[Float],
                    coarseDim: Int, c: Int, k: Int, metric: String): DataFrame =
    mrl(df, idCol, col(prefixCol), vecCol, probe, coarseDim, c, k, metric)

  private def mrl(df: DataFrame, idCol: String, prefix: Column, vecCol: String,
                  probe: Array[Float], coarseDim: Int, c: Int, k: Int, metric: String): DataFrame = {
    require(coarseDim > 0 && coarseDim <= probe.length,
      s"coarseDim $coarseDim out of range (dim ${probe.length})")
    val shortlist = rank(df, idCol, prefix, c)(probeDistance(probeLiteral(probe.take(coarseDim)), metric))
    rerank(df, shortlist, idCol, vecCol, probe, k, metric)
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
    KnnTopK.frame(scored, dist, id, k)

  /** The probe as the Catalyst literal a plan holds, which a binding swaps. */
  private[ops] def probeLiteral(probe: Array[Float]): Literal =
    GraftColumnShim.eagerExpression(vectorLit(probe)).asInstanceOf[Literal]

  private[ops] def probeDistance(probe: Literal, metric: String)(v: Column): Column =
    vector_distance(v, GraftColumnShim.column(probe), metric)

  /** `(id, <as>)` with `<as>` = `distance(value)`, for the rows of
    * `candidates` whose ranked `value` is not NULL.
    */
  private[ops] def score(candidates: DataFrame, idCol: String, value: Column,
                         as: String = "distance")(distance: Column => Column): DataFrame =
    candidates.where(value.isNotNull).select(col(idCol), distance(value).as(as))

  /** The rank: the k nearest rows of [[score]], by (`<as>`, id). */
  private[ops] def rank(candidates: DataFrame, idCol: String, value: Column, k: Int,
                        as: String = "distance")(distance: Column => Column): DataFrame =
    topK(score(candidates, idCol, value, as)(distance), col(as), col(idCol), k)

  /** The rerank: `shortlist`'s `idCol` ids broadcast into `full`, then
    * [[exactRank]] of the joined rows.
    */
  private[ops] def rerank(full: DataFrame, shortlist: DataFrame, idCol: String, vecCol: String,
                          probe: Array[Float], k: Int, metric: String): DataFrame =
    exactRank(full.join(broadcast(shortlist.select(col(idCol))), idCol), idCol, vecCol, probe, k, metric)
}
