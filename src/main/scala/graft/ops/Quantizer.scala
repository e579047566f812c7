package graft.ops

import org.apache.spark.sql.{DataFrame, GraftColumnShim, Row, SaveMode}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Metric, QType, QuantParams}
import graft.functions.{code_distance, id_set_member, quantize_codes}
import graft.expressions.ToVector
import graft.catalog.VectorCatalog
import graft.kernels.Quantize

/** The quantization pipeline — Q1/Q2/Q3 + S3/S5/S6 of SURVEY §2.
  *
  * Reference: `vector_quantize` (sqlite-vector.c:1406-1459) +
  * `vector_rebuild_quantization` (:1147-1336). Two passes:
  *
  *  - Pass 1 is a genuine global barrier (min/max/any-negative over every
  *    element of every vector, :1199-1255) — one Spark aggregation job with
  *    map-side partial aggregation: per-row `array_min/array_max` fold into
  *    three scalars, so the shuffle is 3 values per partition, not data.
  *  - Pass 2 is an embarrassingly parallel projection through the codegen'd
  *    `QuantizeCodes` expression, written as a Parquet "quant table"
  *    `(id, code binary)` — 8+dim bytes/row, the reference's exact record
  *    layout (:1160-1161), swapped in by [[StoreSwap]] where the reference
  *    uses BEGIN/COMMIT (:1418-1437).
  *
  * At 100 TB both passes are single full scans with no row shuffle at all.
  */
object Quantizer {

  /** Pass 1: global (min, max, hasNegative, count) → QuantParams.
    * AUTO qtype: any negative → INT8 symmetric, else UINT8 asymmetric
    * (sqlite-vector.c:1258-1272); empty input → (U8, 1, 0) (:1172-1178).
    */
  def computeParams(df: DataFrame, vecCol: String, qType: QType = QType.Auto): QuantParams = {
    val row = extrema(df, vecCol)
    val rows = row.getLong(2)
    if (rows == 0 || row.isNullAt(0)) Quantize.params(qType, 0.0, 0.0, hasNegative = false, rows max 0L)
    else {
      val mn = row.getDouble(0); val mx = row.getDouble(1)
      Quantize.params(qType, mn, mx, hasNegative = mn < 0.0, rows)
    }
  }

  /** One aggregation job: (min, max, rows) over the non-NULL vectors, the
    * extrema NULL when no lane is valid. NaN lanes are skipped like the
    * reference's min/max loop (ordinary comparisons never select NaN,
    * sqlite-vector.c:1250-1255). ArrayMinMax does the skip and both
    * extrema in ONE codegen'd traversal — Spark's array_min/array_max
    * would need a NaN pre-filter pass and a second traversal per extremum.
    */
  private def extrema(df: DataFrame, vecCol: String): Row =
    df.where(col(vecCol).isNotNull)
      .select(graft.functions.array_min_max(col(vecCol)).as("mm"))
      .agg(
        min(col("mm.mn")).as("mn"),
        max(col("mm.mx")).as("mx"),
        count(lit(1)).as("rows")
      ).head()

  /** Pass 2: project (id, code) through the codegen'd expression. */
  def quantizeCodes(df: DataFrame, idCol: String, vecCol: String, p: QuantParams): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), quantize_codes(col(vecCol), p).as("code"))

  /** Q1 `vector_quantize`: full rebuild of the quant store + sidecar.
    * Returns the quantized row count like the reference (:1456).
    *
    * `maxMemory`/`dim` reproduce the reference's batch sizing
    * (`max_vectors = max_memory / (8 + dim)`, sqlite-vector.c:1160-1186):
    * each output file holds at most one "batch" of records, so a scan can
    * bound its memory per split exactly like the chunked shadow-table read.
    * [[StoreSwap.replace]] stands in for the BEGIN/COMMIT + DROP/CREATE
    * transaction (:1418-1437).
    */
  def quantize(df: DataFrame, idCol: String, vecCol: String, quantPath: String,
               qType: QType = QType.Auto, table: String = "", column: String = "",
               maxMemory: Long = 30L * 1024 * 1024, dim: Int = -1): (QuantParams, Long) = {
    val p = computeParams(df, vecCol, qType)
    StoreSwap.replace(df.sparkSession, quantPath) { tmp =>
      VectorCatalog.writeSidecar(sidecar(tmp), p)
      writeCodes(quantizeCodes(df, idCol, vecCol, p), tmp, maxMemory, dim)
    }
    if (table.nonEmpty) VectorCatalog.putQuantParams(table, column, p)
    (p, p.rows)
  }

  private def sidecar(quantPath: String): String = s"$quantPath/_vector_meta.json"

  /** Append code rows to `path`, each file holding at most one batch of
    * `maxMemory / (8 + dim)` records when `dim` is known.
    */
  private def writeCodes(codes: DataFrame, path: String, maxMemory: Long, dim: Int): Unit = {
    val w = codes.write.mode(SaveMode.Append)
    (if (dim > 0) w.option("maxRecordsPerFile", math.max(1L, maxMemory / (8L + dim))) else w)
      .parquet(path)
  }

  /** Config-driven form: a registered VectorConfig supplies qtype, the
    * memory budget and the dimension (the `vector_quantize(t, c, opts)`
    * surface).
    */
  def quantize(df: DataFrame, idCol: String, vecCol: String, quantPath: String,
               cfg: graft.VectorConfig, table: String, column: String): (QuantParams, Long) =
    quantize(df, idCol, vecCol, quantPath, cfg.qType, table, column, cfg.maxMemory, cfg.dim)

  /** Q1 over a PACKED source column (f32/f16/bf16/i8/u8 blobs): the
    * reference's rebuild decodes EVERY stored element type before
    * re-quantizing (sqlite-vector.c:1199-1255); the Spark equivalent
    * composes the codegen'd ToVector decode into both passes — the
    * min/max pass and the code projection each read the blob column once
    * and unpack in-row, so the two-scan shape (and the zero-shuffle
    * property) is unchanged from [[quantize]].
    */
  def quantizeFrom(df: DataFrame, idCol: String, vecCol: String,
                   srcType: graft.ElemType, quantPath: String,
                   qType: QType = QType.Auto, table: String = "", column: String = "",
                   maxMemory: Long = 30L * 1024 * 1024, dim: Int = -1): (QuantParams, Long) = {
    // the `vector_as_*` decode (dim-checked when dim > 0); ToVector is
    // null-safe: a NULL blob decodes to a NULL vector, which both passes
    // already skip
    val decoded = df.select(col(idCol), GraftColumnShim.column(
      ToVector(GraftColumnShim.expression(col(vecCol)), srcType, dim)).as(vecCol))
    quantize(decoded, idCol, vecCol, quantPath, qType, table, column, maxMemory, dim)
  }

  /** Incremental maintenance — APPEND newly ingested vectors to an
    * existing quant store under its FROZEN params (read from the sidecar),
    * skipping both the global min/max pass and the full rewrite. The
    * reference has no incremental path (`vector_quantize` always DROPs and
    * rebuilds, sqlite-vector.c:1418-1437); at 100 TB a rebuild per ingest
    * wave is untenable while an append is one scan of the wave.
    *
    * Correctness contract: appended codes use the stored scale/offset, so
    * the combined store is code-identical to a full rebuild IFF the new
    * vectors lie within the original [min, max] envelope (outside values
    * saturate at the clamp exactly like the reference's range behavior —
    * but a full rebuild would have WIDENED the params, so drift also
    * voids [[certifiedTopK]]'s in-envelope exactness proof). The check is
    * therefore ENFORCED, not documented: the wave's global extrema (one
    * `array_min_max` aggregation over the ingest wave only — never the
    * store) are compared against [[envelope]] before any byte is written.
    * `onDrift = "fail"` (default) rejects the wave with the measured
    * extrema in the message; `"allow"` proceeds with saturating codes for
    * callers that have consciously traded the certificate away.
    *
    * Returns the appended row count.
    */
  def quantizeAppend(df: DataFrame, idCol: String, vecCol: String,
                     quantPath: String, maxMemory: Long = 30L * 1024 * 1024,
                     dim: Int = -1, onDrift: String = "fail"): Long = {
    require(onDrift == "fail" || onDrift == "allow", s"onDrift must be fail|allow, got $onDrift")
    StoreSwap.open(df.sparkSession, quantPath)
    val p = VectorCatalog.readSidecar(sidecar(quantPath))
    if (onDrift == "fail") {
      val (mn, mx) = waveExtrema(df, vecCol)
      val (emn, emx) = envelope(p)
      if (mn < emn || mx > emx)
        throw new IllegalArgumentException(
          f"quantizeAppend: wave extrema [$mn%.9g, $mx%.9g] exceed the store's " +
          f"quantization envelope [$emn%.9g, $emx%.9g]; appended codes would " +
          "saturate and certifiedTopK's exactness proof would be void. " +
          "Re-quantize (full rebuild) or pass onDrift=\"allow\".")
    }
    writeCodes(quantizeCodes(df, idCol, vecCol, p), quantPath, maxMemory, dim)
    // the appended row count comes from the compact code store's parquet
    // footers — truthful under task retries, unlike a separate pre-count
    // of a possibly non-deterministic input
    val total = df.sparkSession.read.parquet(quantPath).count()
    VectorCatalog.writeSidecar(sidecar(quantPath), p.copy(rows = total))
    total - p.rows
  }

  /** The [min, max] value envelope a [[QuantParams]] was built from,
    * inverted from the scale/offset formulas (Quantize.params): U8 has
    * offset = min, scale = 255/(max−min); I8 has offset = 0, scale =
    * 127/absMax. One extra ulp of slack absorbs the division round-trip
    * (the recovered bound differs from the true min/max by at most the
    * 255/scale rounding), so an in-envelope wave is never falsely
    * rejected while any drift that could move a rebuilt param survives
    * the slack.
    */
  def envelope(p: QuantParams): (Double, Double) = p.qType match {
    case QType.U8 =>
      val range = 255.0 / p.scale
      (p.offset, p.offset + range + math.ulp(range))
    case _ =>
      val a = 127.0 / p.scale
      val am = a + math.ulp(a)
      (-am, am)
  }

  /** Global (min, max) over every lane of every vector in the wave — the
    * extrema pass of [[computeParams]] pass 1. An empty / all-null wave
    * returns the degenerate (+Inf, −Inf), which is inside every envelope
    * (an empty append never drifts).
    */
  def waveExtrema(df: DataFrame, vecCol: String): (Double, Double) = {
    val row = extrema(df, vecCol)
    if (row.isNullAt(0)) (Double.PositiveInfinity, Double.NegativeInfinity)
    else (row.getDouble(0), row.getDouble(1))
  }

  /** Compact a quant store after many [[quantizeAppend]] waves: rewrite
    * the accumulated small files into batch-sized ones (same
    * `max_memory/(8+dim)` sizing as [[quantize]]) and swap it in through
    * [[StoreSwap.replace]]. Codes and params are untouched — this is
    * purely a small-files fix (each append wave adds its own files; a
    * thousand waves would otherwise make every scan pay a thousand-file
    * listing).
    *
    * Returns the store's row count.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, quantPath: String,
              maxMemory: Long = 30L * 1024 * 1024, dim: Int = -1): Long = {
    val codes = readStore(spark, quantPath)
    val p = VectorCatalog.readSidecar(sidecar(quantPath))
    StoreSwap.replace(spark, quantPath) { tmp =>
      VectorCatalog.writeSidecar(sidecar(tmp), p)
      writeCodes(codes.repartition(math.max(1, spark.sparkContext.defaultParallelism)),
        tmp, maxMemory, dim)
    }
    p.rows
  }

  /** Open a quant store for scanning through [[StoreSwap.open]], which
    * resolves any crash window an interrupted rebuild or compaction left.
    */
  def readStore(spark: org.apache.spark.sql.SparkSession, quantPath: String): DataFrame = {
    StoreSwap.open(spark, quantPath)
    spark.read.parquet(quantPath)
  }

  /** Q3: quantize the probe vector with the stored params
    * (sqlite-vector.c:2159-2177).
    */
  def quantizeProbe(probe: Array[Float], p: QuantParams): Array[Byte] = Quantize.codes(probe, p)

  /** K2 `vector_quantize_scan`: approximate k-NN over the code table,
    * distance computed in i8/u8 code space, NOT dequantized (:2198-2200).
    * Rows with a NULL code are skipped (:2093); ties are broken by id.
    *
    * The frame is one [[QuantTopK]] operator: a single job whose named
    * task feeds each partition's codes into a k-slot heap, and a driver
    * merge of the per-partition heaps (the reference's k-slot loop,
    * :2022-2113). Over a [[preload]]ed frame the tasks scan its
    * contiguous code blocks (`vQuantRunMemory`, :2121-2157); over any
    * other `(id, code)` frame, an on-disk store say, they scan its rows.
    */
  def quantScan(quantDF: DataFrame, probe: Array[Float], p: QuantParams,
                k: Int, metric: String): DataFrame =
    QuantTopK.frame(quantDF, quantizeProbe(probe, p), k, Metric.parse(metric), p.qType)

  /** CERTIFIED-EXACT k-NN from the quantized store (beyond-reference):
    * scans only the 1-byte codes like [[quantScan]], yet returns EXACTLY
    * the full-precision top-k — the approximate index with an exactness
    * proof, where the reference's quantized scan (and every standard ANN
    * stack) accepts silent recall loss. SQL `vector_scan` returns this
    * same plan, so the two surfaces cannot drift.
    *
    * Derivation (L2, code units): in-envelope quantization places every
    * stored lane within 0.5 code of `scale·(x − offset)` (half-away
    * rounding, no saturation inside the pass-1 min/max envelope), so
    * ‖scale·(x − q)‖ deviates from the integer code distance by at most
    * B = 0.5·√dim + E_p, with E_p the probe's OWN quantization error
    * computed exactly on the driver (so an out-of-envelope, even saturated
    * probe just widens the bound — certification survives). If T is the
    * k-th smallest code distance² then every true top-k row has code
    * distance² ≤ (√T + 2B)².
    *
    * One declarative plan, [[CertifiedTopK]], run as two jobs; building
    * it runs none (a key's second call also plans it then, see the
    * [[Knn]] scaladoc). The first job is one code pass over `quantDF` (its
    * preloaded blocks, or the rows of any other `(id, code)` frame): each
    * task returns the rows within thr(T_p) = ⌈(√T_p + 2B)²·(1 + 1e-12)⌉ of
    * its partition's own k-th code distance T_p (all of its rows when it
    * has fewer than k), a superset of its share of the shortlist since
    * the global T is at most any full partition's T_p. The driver takes
    * the global T from the merged candidates and keeps those within
    * thr(T) (float slack: the certificate can only widen). The second job
    * is the exact rank ([[Knn.rank]]) of the f32 rows whose id is in that
    * shortlist — a filter, never a join, so the f32 side is never
    * shuffled. The ids
    * reach generated code as a reference object, so a fresh probe
    * compiles no new class. The shortlist holds at most
    * `maxBroadcastCand` ids; a certificate that admits more (collapsed
    * codes) makes the rank an exact pass over every vector, and each
    * task keeps at most max(`maxBroadcastCand` + 1, k) candidates.
    *
    * Preconditions: every stored code in-envelope — guaranteed by the
    * full rebuild and ENFORCED on appends ([[quantizeAppend]]'s default
    * onDrift="fail"; only an explicit onDrift="allow" can introduce
    * saturated codes that void the proof) — and NaN-free vectors. The
    * probe is checked on the driver: a NaN or infinite lane would make
    * the bound NaN, so such a probe goes to [[Knn.fullScan]], as do k ≤ 0
    * and any metric but l2 / sq_l2 (the bound is an L2 triangle inequality).
    *
    * The plan is prepared once per key and each call binds its probe, its
    * codes, its certificate and a fresh shortlist slot into a copy; the
    * [[Knn]] scaladoc says what is prepared, what is bound and the key.
    */
  def certifiedTopK(base: DataFrame, idCol: String, vecCol: String,
                    quantDF: DataFrame, probe: Array[Float], p: QuantParams,
                    k: Int, metric: String,
                    maxBroadcastCand: Long = 1000000L): DataFrame = {
    val m = Metric.parse(metric)
    if (k <= 0 || (m != Metric.L2 && m != Metric.SquaredL2) || probe.exists(x => x.isNaN || x.isInfinite))
      return Knn.fullScan(base, idCol, vecCol, probe, k, metric)
    val qprobe = quantizeProbe(probe, p)
    val ep = math.sqrt(probe.indices.map { i =>
      val scaled = (probe(i).toDouble - p.offset) * p.scale
      val c = if (p.qType == QType.I8) qprobe(i).toDouble else (qprobe(i) & 0xff).toDouble
      val d = scaled - c; d * d
    }.sum)
    val bound = 0.5 * math.sqrt(probe.length.toDouble) + ep
    val cap = math.min(math.max(maxBroadcastCand, 0L), Int.MaxValue - 1L).toInt
    val certificate = Certificate(bound, cap)
    Prepared.frame(Prepared.key(base, idCol, vecCol, k, m, Some((quantDF, p, cap))),
        Binding(Knn.probeLiteral(probe), Some((Literal(qprobe), certificate)))) { (probeLit, slot) =>
      val rank = Knn.rank(base.where(id_set_member(col(idCol), slot)), idCol, col(vecCol), k)(
        Knn.probeDistance(probeLit, metric))
      CertifiedTopK.frame(quantDF, rank, qprobe, k, p.qType, certificate, slot)
    }
  }

  /** K4 `vector_quantize_scan_stream`: code-space distances, no sort/limit.
    * Rows with a NULL code are skipped (:2093), like [[Knn.distanceStream]].
    */
  def quantStream(quantDF: DataFrame, probe: Array[Float], p: QuantParams, metric: String): DataFrame =
    Knn.score(quantDF, "id", col("code"))(code_distance(_, lit(quantizeProbe(probe, p)), metric, p.qType))

  /** S5 `vector_quantize_preload`: pin the quant table in executor memory
    * as the reference's contiguous in-RAM buffer (:1338-1404): each
    * partition becomes [[CodeBlock]]s — a `long[]` of ids and one
    * `byte[]` of codes at stride dim, at most [[CodeBlocks.MaxBlockBytes]]
    * of codes each — persisted and materialized eagerly, like the
    * reference's preload.
    *
    * The returned frame reads the blocks back as `(id, code)` rows, so
    * every generic consumer (code-distance projections, counts, joins,
    * the `vector0_*` shadow view) works on it unchanged; [[quantScan]]
    * scans the blocks themselves. `quantDF` needs an int or bigint `id`
    * without NULLs and a binary `code`. Release with [[cleanup]].
    */
  def preload(quantDF: DataFrame): DataFrame = preload(quantDF, CodeBlocks.MaxBlockBytes)

  private[graft] def preload(quantDF: DataFrame, maxBlockBytes: Int): DataFrame = {
    val src = quantDF.select(col("id"), col("code"))
    val idIsInt = CodeBlocks.idIsInt(src.schema(0).dataType, src.schema(1).dataType)
    val blocks = src.queryExecution.toRdd
      .mapPartitions(CodeBlocks.build(_, idIsInt, maxBlockBytes))
      .setName("quant preload blocks")
      .persist(StorageLevel.MEMORY_ONLY)
    val stats = src.sparkSession.sparkContext.runJob(blocks,
      (it: Iterator[CodeBlock]) => it.foldLeft((0L, 0L)) { case ((n, bytes), b) => (n + 1, bytes + b.bytes) })
    GraftColumnShim.rddFrame(src.sparkSession, src.schema,
      new CodeBlockRows(blocks, idIsInt, stats.map(_._1).sum), stats.map(_._2).sum)
  }

  /** S6 `vector_quantize_cleanup`, preload-release half only: release the
    * code blocks behind a [[preload]]ed frame (or a view over one) and
    * unpin the frame if it was persisted some other way. The full drop
    * (store + sidecar + catalog params) is the path-taking overload below.
    */
  def cleanup(quantDF: DataFrame): Unit = {
    val blocks = CodeBlocks.of(quantDF.queryExecution.analyzed)
    blocks.foreach(_.blocks.unpersist(blocking = false))
    Prepared.release(blocks)
    quantDF.unpersist()
  }

  /** S6 `vector_quantize_cleanup` (sqlite-vector.c:1501-1524), the full
    * drop: release any preloaded copy, delete the on-disk quant store —
    * code files AND the `_vector_meta.json` sidecar, with any staged or
    * stepped-aside copy ([[StoreSwap.drop]]) — and drop the catalog's
    * quant params. Parity with the reference's DROP TABLE of the shadow
    * table + `_sqliteai_vector` row delete + context removal; like there,
    * the `vector_init` registration survives and a fresh
    * [[quantize]] afterwards rebuilds the store from scratch.
    */
  def cleanup(spark: org.apache.spark.sql.SparkSession, quantPath: String,
              table: String = "", column: String = "",
              preloaded: Option[DataFrame] = None): Unit = {
    preloaded.foreach(cleanup)
    StoreSwap.drop(spark, quantPath)
    if (table.nonEmpty) VectorCatalog.dropQuantParams(table, column)
  }

  /** Q2 `vector_quantize_memory`: bytes needed to preload =
    * Σ(8 + len(code)) — the reference's record layout (:1160-1161).
    */
  def memoryBytes(quantDF: DataFrame): Long =
    quantDF.agg(sum(length(col("code")) + lit(8)).cast("long")).head().getLong(0)

  /** The recall harness from QUANTIZATION.md:46-72: |approx ∩ exact| / k. */
  def recall(exact: DataFrame, approx: DataFrame, idCol: String = "id"): Double = {
    val e = exact.select(col(idCol)).distinct()
    val a = approx.select(col(idCol)).distinct()
    val inter = e.join(a, Seq(idCol), "inner").count()
    val total = e.count()
    if (total == 0) 1.0 else inter.toDouble / total
  }
}
