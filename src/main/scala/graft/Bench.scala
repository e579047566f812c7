package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Headline benchmark: one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`
  * (also written to `bench/BENCH_LATEST.json`), followed by ONE compact
  * `{"adjudicate":...}` line sized to survive a truncated stdout tail —
  * per-pass loadavgs, per-pass totals and min-merged anchor times, so the
  * preserved artifact itself distinguishes co-tenant contention (one pass
  * uniformly inflated at high load) from a real regression. Each pass is
  * LOAD-GATED: it waits (up to `SPARK_GRAFT_LOAD_WAIT_SEC`) for the 1-min
  * loadavg to decay below `SPARK_GRAFT_LOAD_GATE` (default 3) before
  * starting, and an artifact whose passes ran hot anyway carries
  * `"contaminated":true` — a hot artifact adjudicates itself.
  *
  * The vector workload at bench scale comes from a synthetic dim-64
  * embedding table derived from lineitem keys (FIXTURES.md): ~600k vectors
  * at sf0.1 — the regime where scan+distance throughput, not per-query
  * latency, is the metric (BASELINE.md "derived Spark-side expectations").
  */
object Bench {

  val Dim = 64

  /** Deterministic synthetic vectors: hash the row key per-lane into
    * [-0.5, 0.5). Pure built-ins → codegen'd, no UDF.
    */
  def syntheticVectors(li: DataFrame): DataFrame =
    li.select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        i => (pmod(hash(col("l_orderkey"), col("l_linenumber"), i), lit(1000)) / 1000.0 - 0.5).cast("float")
      ).as("vec"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The two guarded shortlist ops (rrfFuse maxListRows, unimaxAllocation
    // maxDomains) window WITHOUT a partition by design — their inputs are
    // checked-small — and WindowExec warns "No Partition Defined" once per
    // pass, burying real warnings in the bench tail. Silence exactly that
    // logger; accidental global windows elsewhere are caught by the
    // SparkOpsSpec plan sweep, not by reading bench logs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val probe = Queries.probe

    // Every timed body is an idempotent action, so the whole suite runs as
    // N complete passes (default 2) and each query records its best pass:
    // the min is the steady-state throughput the baseline comparison
    // wants, and because passes are minutes apart a transient host-level
    // stall (noisy co-tenant, CPU steal burst) can only poison one of
    // them — back-to-back per-query reps would both sit inside the burst.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // Load GATE: a pass that starts under co-tenant contention measures
    // the neighbors, not the code — so before each pass the 1-min
    // loadavg must decay below SPARK_GRAFT_LOAD_GATE (default 3; our own
    // just-finished pass inflates it too, and the identical wait lets it
    // drain). A pass still above the gate after SPARK_GRAFT_LOAD_WAIT_SEC
    // runs anyway but stamps the artifact `"contaminated":true` — the
    // reader never has to adjudicate a hot artifact from narrative.
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "3.0").toDouble
    val loadWaitMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_SEC", "600").toDouble
    // SPARK_GRAFT_BENCH_ONLY=name1,name2 runs just those timed rows (the
    // store builds and the dependency-setting param rows still execute) —
    // the local focused-adjudication path; the driver never sets it
    val onlyFilter: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val alwaysRun = Set("quantize_params_600k", "xl_quantize_params_1m768")
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Self-adjudicating artifact: besides the min-merged map, the JSON
    // records every pass's per-query times plus a /proc/loadavg sample
    // taken as the pass starts — so a contended window shows up IN the
    // artifact (uniform inflation of one pass at high load) instead of
    // needing an out-of-band narrative to distinguish regression from
    // co-tenant noise.
    val passes = scala.collection.mutable.ArrayBuffer
      .empty[(String, scala.collection.mutable.LinkedHashMap[String, Double])]
    var current: scala.collection.mutable.LinkedHashMap[String, Double] = null
    def time(name: String)(body: => Long): Unit =
      if (onlyFilter.isEmpty || onlyFilter.contains(name) || alwaysRun.contains(name)) {
        val t0 = System.nanoTime()
        body
        val sec = (System.nanoTime() - t0) / 1e9
        current(name) = sec
        results(name) = results.get(name).fold(sec)(math.min(_, sec))
      }
    def loadavg(): String = scala.util.Try(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim).getOrElse("")
    def load1(): Double = scala.util.Try(
      loadavg().split("\\s+")(0).toDouble).getOrElse(0.0)
    var contaminated = false
    val passWaits = scala.collection.mutable.ArrayBuffer.empty[Double]
    def gateLoad(): Unit = {
      val t0 = System.nanoTime()
      var l = load1()
      while (l > loadGate && (System.nanoTime() - t0) / 1e9 < loadWaitMax) {
        Thread.sleep(15000)
        l = load1()
      }
      passWaits += math.rint((System.nanoTime() - t0) / 1e9 * 10) / 10
      if (l > loadGate) contaminated = true
    }

    // Untimed setup: materialize the synthetic vector table to parquet so
    // the timed k-NN queries measure the actual serving path — parquet
    // scan + codegen'd distance + KnnTopK — not the
    // synthetic-vector generation (which at 100 TB doesn't exist). The
    // packed store is the reference's native BLOB storage form.
    val benchDir = java.nio.file.Files.createTempDirectory("graft_bench").toString
    syntheticVectors(li).write.mode("overwrite").parquet(s"$benchDir/vectors")
    val vecs = spark.read.parquet(s"$benchDir/vectors")
    vecs.select(col("id"), graft.functions.pack_vector(col("vec"), "f32").as("blob"))
      .write.mode("overwrite").parquet(s"$benchDir/packed")
    val packed = spark.read.parquet(s"$benchDir/packed")

    // warm: trigger codegen + JIT once on a tiny slice — both the k-NN
    // distance kernels and the dedup kernels (shingling, minhash,
    // signature/intersection), so the timed runs measure steady-state
    // throughput rather than first-call JIT compilation
    ops.Knn.fullScan(vecs.limit(1000), "id", "vec", probe, 5, "l2").count()
    val docsWarm = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
    // both timed shingle widths: the generated code embeds n, so 3- and
    // 4-gram pipelines JIT separately; released so the warmups' checkpoint
    // blocks don't sit in executor memory under the timed runs
    Seq(3, 4).foreach { n =>
      val warm = ops.Dedup.minhashLshRun(docsWarm, "doc_id", "text", shingleN = n, threshold = 0.9)
      warm.pairs.count()
      warm.release()
    }

    // ANN index builds are once-per-corpus batch jobs: untimed, built once
    // outside the passes — only the probes are timed (the 100 TB scale
    // path reads ~9/256 bucket dirs / 8/64 IVF cells)
    ops.Ann.writeBucketed(vecs, "vec", s"$benchDir/ann", 8, Dim)
    val cents = ops.Ann.ivfCentroids(vecs, "id", "vec", 64)
    ops.Ann.writeIvf(vecs, "vec", s"$benchDir/ivf", cents)
    // PQ code store: 8 bytes/vector (32× vs f32) — the ADC probe scans
    // ONLY the code column; the build is the once-per-corpus batch job
    val pqCb = ops.Pq.codebook(vecs, "id", "vec", Dim, 8, 16)
    ops.Pq.write(vecs, "id", "vec", s"$benchDir/pq", pqCb)
    val (pqCodes, _) = ops.Pq.read(spark, s"$benchDir/pq")
    // IVF-PQ: both levers through one store — the probe reads 8/64 cell
    // dirs AND only their 8-byte code column
    ops.Pq.writeIvfPq(vecs, "id", "vec", s"$benchDir/ivfpq", cents, pqCb)
    // binary signature store (8 bytes/vector) + MRL two-column layout
    ops.BinaryQuant.signatures(vecs, "id", "vec", Dim)
      .write.mode("overwrite").parquet(s"$benchDir/sigs")
    ops.Knn.writeMrl(vecs, "id", "vec", s"$benchDir/mrl", 16)
    // z-order clustered lineitem store: one range shuffle at write time
    // (untimed, like the other store builds); the timed query is a 2-D box
    // that file/row-group stats prune on BOTH columns
    ops.Layout.writeZordered(
      li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity")),
      s"$benchDir/zorder", "l_partkey", "l_suppkey", 16, 32)

    // partitioned event store, built ONCE untimed like the other serving
    // stores — the timed query measures the file-listing-pruned read, not
    // a per-rep rewrite
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").partitionBy("event_type").parquet(s"$benchDir/events_by_type")

    // the event-type dim for the DPP row — on storage so its filter
    // survives to the optimized plan (the insertion precondition)
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_type").as("etype")).distinct()
      .withColumn("category", when(col("etype").isin("purchase", "signup"),
        "conversion").otherwise("engagement"))
      .write.mode("overwrite").parquet(s"$benchDir/events_dim")

    // Untimed page-cache warm: one linear read of every input byte (the
    // pre-built stores and the sf tables the queries scan). The timed
    // passes then measure steady-state compute — the reference's
    // PRELOADED serving mode, which is what BASELINE.md budgets — not
    // the storage device. On a healthy host this is seconds of cached
    // reads; it exists because this shared host's disk has been measured
    // as low as 4 MB/s during co-tenant I/O storms, which would otherwise
    // turn every cold scan into a device benchmark.
    def warmDir(path: String): Unit = {
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else {
          val in = new java.io.FileInputStream(f)
          val buf = new Array[Byte](1 << 20)
          try while (in.read(buf) >= 0) {} finally in.close()
        }
      walk(new java.io.File(path))
    }
    // Reference-scale XL store (env-gated; the driver's per-round bench
    // does not pay for it): BASELINE.md's published serving figure is a
    // PRELOADED 1M × dim-768 quantized scan — SPARK_GRAFT_BENCH_XL=1
    // builds exactly that shape (~3 GB f32 parquet, deterministic
    // per-lane hash vectors) so the baseline comparison can be made
    // like-for-like instead of extrapolated from the 600k×64 rows.
    val benchXl = sys.env.get("SPARK_GRAFT_BENCH_XL").contains("1")
    val XlDim = 768
    if (benchXl) {
      spark.range(1000000L).select(col("id"),
        transform(sequence(lit(0), lit(XlDim - 1)),
          i => (pmod(hash(col("id"), i), lit(1000)) / 1000.0 - 0.5).cast("float")).as("vec"))
        .write.mode("overwrite").parquet(s"$benchDir/xl_vectors")
      // XL dedup corpus: 1M docs × 30 tokens over a 200k-token vocabulary.
      // The first 20k ids form near-duplicate pairs (29 of 30 tokens
      // shared, differing at position 0, so only 1 of 28 3-shingles
      // differs -> jaccard = 27/29 ≈ 0.93), so the MinHash row exercises
      // the real banding + verification path (not the identical-content
      // groupBy fast path) and emits an output-proportional 10k pairs;
      // the same pairs plant duplicated ≥20-token windows for the
      // ExactSubstr row. Written to parquet so the timed runs measure the
      // serving path from storage, like every other store here.
      val xlSeed = when(col("id") < 20000L,
          floor(col("id") / 2).cast("long") + 2000000L)
        .otherwise(col("id"))
      spark.range(1000000L).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(29)),
          j => concat(lit("t"), pmod(hash(
            when(j === 0, col("id")).otherwise(xlSeed), j), lit(200000)))), " ")
          .as("text"))
        .write.mode("overwrite").parquet(s"$benchDir/xl_docs")
      // XL pipeline corpus: the pipeline_e2e gate's own WARC fixture
      // formulas over 250k doc ids (50x the per-round row), written to
      // parquet so the timed composition reads captures from storage
      // like a real run
      Queries.pipeCaptures(spark.range(250000L).select(col("id").as("doc_id")))
        .write.mode("overwrite").parquet(s"$benchDir/xl_captures")
      // XL frontier corpus: the frontier fixture formulas over 250k page
      // ids (50x the gate row) — ~1.05M extracted links, ~25k distinct
      // URLs per site domain, so the 10k per-site cap heap runs at real
      // size instead of the gate's toy 30
      Queries.frontierPagesFrom(spark.range(250000L).select(col("id").as("doc_id")))
        .write.mode("overwrite").parquet(s"$benchDir/xl_pages")
      // XL redirect capture store: the gate's fixture formulas over 250k
      // ids — ~1.5M 3xx responses (6 chains/doc incl. a 2-hop chain, a
      // 200-with-Location trap, + per-k cycles), so the redirect chain
      // walk is measured at real edge scale, not gate scale
      Queries.frontierRedirectCapturesFrom(
          spark.range(250000L).select(col("id").as("doc_id")))
        .write.mode("overwrite").parquet(s"$benchDir/xl_redirect_caps")
    }

    Seq(benchDir, sfDir).foreach(warmDir)

    for (_ <- 1 to reps) {
      gateLoad()
      current = scala.collection.mutable.LinkedHashMap[String, Double]()
      passes += ((loadavg(), current))
      // 1. exact brute-force k-NN over ~600k dim-64 vectors (K1 at scale)
      time("knn_l2_600k")(ops.Knn.fullScan(vecs, "id", "vec", probe, 10, "l2").count())
      time("knn_cosine_600k")(ops.Knn.fullScan(vecs, "id", "vec", probe, 10, "cosine").count())
      time("packed_knn_f32_600k")(
        ops.Knn.fullScanPacked(packed, "id", "blob", probe, 10, "sq_l2", "f32").count())
      // batch k-NN join: 8 probes in ONE corpus scan via the bounded-heap
      // knn_topk aggregate — vs the reference's 8 sequential full scans
      val probes8 = broadcast(vecs.orderBy("id").limit(8)
        .select(col("id").as("probe_id"), col("vec").as("pv")))
      time("knn_batch8_600k")(
        vecs.crossJoin(probes8)
          .select(col("probe_id"), col("id"),
            graft.functions.vector_distance(col("vec"), col("pv"), "l2").as("d"))
          .groupBy("probe_id")
          .agg(graft.functions.knn_topk(col("d"), col("id"), 10).as("tk"))
          .count())

      // 2. quantization pipeline: global params + code projection (Q1)
      var params: QuantParams = null
      time("quantize_params_600k") {
        params = ops.Quantizer.computeParams(vecs, "vec"); params.rows
      }
      val codes = ops.Quantizer.quantizeCodes(vecs, "id", "vec", params)
      // sum(length(code)) forces every code blob to be produced — a bare
      // count() lets Catalyst prune the quantize projection and times
      // nothing but the scan
      time("quantize_codes_600k")(
        codes.agg(sum(length(col("code")))).head().getLong(0))

      // 3. quantized approximate scan (K2), preloaded (S5) like the reference
      val preloaded = ops.Quantizer.preload(codes)
      time("quant_knn_600k")(
        ops.Quantizer.quantScan(preloaded, probe, params, 10, "sq_l2").count())
      // certified-exact two-stage scan: code-store shortlist under the
      // quantization-error bound + exact rerank — exact results at
      // compressed-scan cost (both stages timed)
      time("certified_knn_600k")(
        ops.Quantizer.certifiedTopK(vecs, "id", "vec", preloaded, probe, params, 10, "l2").count())
      ops.Quantizer.cleanup(preloaded)

      // 4. partition-pruned ANN probes over the pre-built stores
      time("ann_lsh_probe_600k")(
        ops.Ann.lshTopKPruned(spark, s"$benchDir/ann", "id", "vec", probe, 10, "cosine", 8).count())
      time("ivf_probe_600k")(
        ops.Ann.ivfTopK(spark, s"$benchDir/ivf", "id", "vec", probe, 10, "l2", cents, 8).count())
      // PQ ADC over the 8-byte codes + the shortlist->exact rerank pipeline
      time("pq_adc_probe_600k")(
        ops.Pq.adcTopK(pqCodes, "id", "codes", probe, 10, pqCb).count())
      time("pq_rerank_600k")(
        ops.Pq.rerankTopK(pqCodes, vecs, "id", "codes", "vec", probe, 10, pqCb).count())
      time("ivfpq_probe_600k")(
        ops.Pq.ivfPqTopK(spark, s"$benchDir/ivfpq", probe, 10, cents, pqCb, 8).count())

      // binary quantization: Hamming scan of the STORED 1-bit/dim
      // signatures (8 bytes/vector — the 32× byte win is the point), then
      // the two-stage Hamming-shortlist -> exact rerank against the f32s
      val sigs = spark.read.parquet(s"$benchDir/sigs")
      time("binary_hamming_600k")(
        ops.BinaryQuant.hammingTopK(sigs, "id", probe, Dim, 10).count())
      time("binary_rerank_600k")(
        ops.BinaryQuant.rerankTopK(sigs, vecs, "id", "vec", probe, Dim, 100, 10, "l2").count())
      // MRL prefix search over the two-column store: stage 1's projection
      // reads only the 16-dim prefix column chunks
      val mrl = spark.read.parquet(s"$benchDir/mrl")
      time("mrl_rerank_600k")(
        ops.Knn.mrlTopKStored(mrl, "id", "prefix", "vec", probe, 16, 100, 10, "l2").count())
      // table-to-table ANN join: 64 probe rows x 600k corpus through the
      // shared hamming-1 bucket neighborhood, per-probe top-10. nBits
      // sized to the corpus (10 bits -> ~600 rows/bucket): probes draw
      // buckets size-biased, so coarser 8-bit buckets ballooned the
      // candidate set to ~5.3M pairs where 10 bits reads ~1.3M for the
      // same radius-1 recall structure
      // the probe side rides a broadcast hint (it propagates through
      // annJoin's bucket explode): the 600k corpus side then streams
      // straight from its scan through distance + partial heap with no
      // exchange/sort, vs the SortMergeJoin the planner picks unhinted
      time("ann_join64_600k")(
        ops.Ann.annJoin(broadcast(vecs.where(col("id") < 650)), "id", "vec",
          vecs, "id", "vec", 10, "l2", 10, Dim).count())

      // 5. relational + text + dedup representatives from the inventory
      val fromQueries = Seq("q1_pricing", "q3_revenue", "window_top_orders",
        "text_stats", "fingerprint", "ngram_jaccard_top", "minhash_lsh_pairs",
        "quantize_sums", "quant_knn_l2",
        "filter_quality", "decontam_overlap", "pack_sequences", "vocab_top",
        "line_dedup", "dup_clusters", "asof_join", "interval_join",
        "lm_logprob", "bloom_dedup", "doc_chunks", "rollup_pricing",
        "heavy_hitters", "mixture_temperature", "inverted_search",
        "cross_doc_ngrams", "pagerank", "pmi_pairs", "cdc_chunks",
        "bigram_logprob", "novelty_score", "triangle_counts",
        "shuffle_positions", "weighted_sample", "rrf_hybrid",
        "containment_pairs", "dsir_sample", "softdedup_weights",
        "semantic_decontam", "unimax_mixture", "pca_top_component",
        "kneser_ney_logprob", "label_propagation", "cluster_keep",
        "curriculum_bins", "data_card", "weighted_cap_per_key",
        "heavy_hitters_by_lang", "image_dhash_pairs", "audio_fingerprint",
        "pca_top2", "exact_substr_spans", "exact_substr_removed",
        "token_budget_select", "quality_floor_by_lang", "training_shards",
        "curation_log", "tombstone_scan", "upsert_scan", "json_ingest_corrupt",
        "schema_evolution_agg", "ivf_append", "ivfpq_append", "lsh_append",
        "ivf_knn_filtered", "ivfpq_knn_filtered", "psi_drift", "nfc_normalize_text",
        "pack_bins_ffd", "snapshot_diff", "oov_rate", "strip_html", "split_sentences",
        "sentence_dedup", "url_hosts", "blocklist_filter", "sentence_chunks",
        "sentence_chunks_overlap",
        // regression tripwires for the expensive gates that previously had
        // no bench row: incremental LSH (two banding passes + anti-join),
        // the 6-round distributed BPE learner, the banded edit-distance
        // verifier, and the PQ code projection (256-dim subspace argmin)
        "near_dup_incremental", "bpe_merges", "edit_pairs", "pq_codes",
        // round-12 tripwires: the remaining distributed-shuffle gates
        // without bench rows (unigram hard-EM rounds, WordPiece vocab
        // fold, anchor-broadcast negative mining, per-domain cap heaps),
        // the 3-round distributed GD trainer, the packed-source quantize
        // lifecycle, and the 14-stage end-to-end pipeline composition
        "unigram_vocab", "wordpiece_vocab", "hard_negatives", "domain_cap",
        "logreg_train", "quant_lifecycle_f16", "pipeline_e2e",
        // round-13 tripwires: the sitemap frontier walk and redirect
        // resolution (bounded driver loops), the 5-round byte-BPE merge
        // chain, the HTTP parse + link-extraction per-row chains, the
        // script-gated language ID decider, and the per-language ntile
        // bucketing window
        "sitemap_index", "redirect_resolve", "bytebpe_encode", "http_parse",
        "extract_links", "lang_id_script", "ccnet_buckets", "resolve_url",
        "web_link_graph", "anchor_texts",
        // round-14 tripwires: the 7-stage frontier composition (flags +
        // distinct + robots + bounded per-site cap), the capped anchor
        // aggregation (the bounded-heap collect_set replacement), and
        // the baseline-JPEG luma decode (Huffman + islow IDCT per row;
        // since round 15 the fixture also encodes+decodes a progressive
        // twin, so this row prices the SOF2 multi-scan path too)
        "frontier_e2e", "anchor_texts_capped", "jpeg_luma_decode",
        // round-15 tripwires: the incremental frontier (two waves +
        // persistent hash store + deferred append), the politeness
        // scheduler window, and the hash-keyed exchange variants (must
        // stay within noise of their string-keyed twins above)
        "frontier_incremental", "frontier_schedule",
        "anchor_texts_hashkeys", "web_link_graph_hashkeys",
        // round-16 tripwires: the redirect-composed frontier rides the
        // existing frontier_e2e row (priced: + the chain walk); new rows
        // for the two-round crawl LOOP (both halves × both persistent
        // stores — the most expensive composition in the inventory), the
        // priority-keyed cap + schedule, and the carryover schedule
        "crawl_loop_e2e", "frontier_priority", "frontier_schedule_carryover",
        // the in-link-evidence frontier: prices the count_distinct
        // evidence fold riding the distinct-URL exchange + the widened
        // composite cap key (compare against frontier_e2e's shape —
        // the fixture is lighter but the per-URL fold is the same)
        "frontier_inlinks",
        // HITS on the dense synthetic directed graph: two update cycles
        // = 4 edge joins + 4 aggregations (compare against pagerank's
        // 3-iteration row for the per-cycle exchange cost)
        "hits_scores")
      fromQueries.foreach { name =>
        time(name)(Queries.queries(name)(spark, sfDir).count())
      }

      // similar_docs_sparse is gated on the real table but benched on a
      // SYNTHETIC wide-vocabulary corpus: the sf0.1 template corpus is the
      // operator's documented hub pathology (31 distinct tokens, every df
      // ~3.9k, posting self-join Σdf² ≈ 4.5e8 — a corpus property, not a
      // plan property; see the operator's scaladoc), and a maxDf cut
      // there leaves ONE live term. 50k docs × 30 tokens over a 150k-term
      // vocabulary puts median df ~10 and Σdf² ≈ 1.5e7 — the sparse
      // regime the operator is designed for, so the row is a real
      // regression tripwire instead of a pathology measurement. 20k docs
      // × 30 tokens over a 60k-term vocabulary keeps median df ~10.
      val sparseDocs = spark.range(20000).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(29)),
          j => concat(lit("w"), (col("id") * 31 + j * 7919) % 60000)), " ").as("text"))
      time("similar_docs_sparse_20k")(
        ops.TextAnalysis.similarDocsSparse(sparseDocs, "doc_id", "text", k = 5).count())
      // 2-D box over the pre-built z-ordered store: both range predicates
      // reach the parquet scan where Morton clustering makes row-group
      // min-max stats tight in BOTH dimensions
      time("zorder_box_600k")(
        spark.read.parquet(s"$benchDir/zorder")
          .where(col("l_partkey").between(1000, 3000) && col("l_suppkey").between(100, 400))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .count())

      // pruned read over the pre-built partitioned store (2 of 5 type dirs)
      time("events_partitioned_agg")(
        spark.read.parquet(s"$benchDir/events_by_type")
          .where(col("event_type").isin("purchase", "signup"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .count())

      // join-driven DYNAMIC pruning over the same store: the dim filter's
      // surviving keys prune fact partition dirs at runtime
      time("events_dpp_agg")(
        ops.Joins.dimPrunedFactJoin(
            spark.read.parquet(s"$benchDir/events_by_type"), "event_type",
            spark.read.parquet(s"$benchDir/events_dim")
              .where(col("category") === "conversion"), "etype")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .count())

      // SCALING rows (SPARK_GRAFT_BENCH_SCALING=1; the driver's default
      // bench does not pay for them): compute-heavy bodies sized so an
      // 8-core vs 32-core run shows near-core-ratio speedup — the probe
      // that distinguishes "serial operator" from "fixed-overhead floor"
      // (most per-round rows are sub-second at sf0.1, where per-query
      // job-scheduling cost floors the 8↔32 ratio at ~1). Inputs are
      // range-generated like similar_docs_sparse_20k's corpus — parallel
      // at exactly defaultParallelism by construction, so the measured
      // ratio is the compute's, not a file-split accident.
      if (sys.env.get("SPARK_GRAFT_BENCH_SCALING").contains("1")) {
        // per-row extraction + C4 cleaning over ~7 KB synthetic HTML —
        // the curate chain's dominant per-row cost (S3-S5), isolated
        val scalPages = spark.range(25000L).select(col("id").as("doc_id"),
          concat(lit("<html><body>"),
            array_join(transform(sequence(lit(0), lit(9)), p =>
              concat(lit("<p>"), array_join(transform(sequence(lit(0), lit(59)), w =>
                concat(lit("word"), pmod(hash(col("id"), p, w), lit(5000)))), " "),
                lit("</p>"))), ""),
            lit("</body></html>")).as("html"))
        time("scaling_extract_clean_25k")(
          scalPages.select(ops.Curation.c4CleanText(
              ops.TextAnalysis.fixMojibake(
                ops.TextAnalysis.extractMainContent(col("html")))).as("text"))
            .agg(sum(length(col("text")))).head().getLong(0))
        // shingling + 128-hash MinHash signatures — the dedup chain's
        // per-row kernel cost, isolated (no pair space, no shuffle)
        val scalDocs = spark.range(50000L).select(col("id").as("doc_id"),
          array_join(transform(sequence(lit(0), lit(199)), j =>
            concat(lit("t"), pmod(hash(col("id"), j), lit(30000)))), " ").as("text"))
        time("scaling_minhash_50k")(
          scalDocs.select(graft.functions.minhash_signature(
              ops.Dedup.shingleHashes(col("text"), 3), 128).as("sig"))
            // pmod keeps the 61-bit minhash values from overflowing the sum
            .agg(sum(pmod(element_at(col("sig"), 1), lit(1000000L))))
            .head().getLong(0))
        // hash-chained projection + two-level aggregation over 32M rows
        // (100k groups: the partial agg collapses map-side, so the row
        // measures parallel per-row compute + a small exchange) — the
        // shuffle+partial-agg path at a size where reduce work is real
        time("scaling_groupagg_32m")(
          spark.range(32000000L)
            .select(pmod(hash(col("id")), lit(100000)).as("k"),
              // per-row CPU: a 24-deep hash chain, so the map side is
              // compute- rather than memory-bound and scales with cores
              pmod((1 to 24).foldLeft(hash(col("id"))){ (h, i) =>
                  hash(h, lit(i)) },
                lit(9973)).cast("long").as("v"))
            .groupBy(col("k"))
            .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
            .agg(sum(col("s")), sum(col("n"))).head().getLong(0))
      }

      // Reference-scale XL rows (see the store build above): the exact
      // f32 full scan, the one-time quantization build, and the
      // reference's own serving shape — the PRELOADED i8 code scan —
      // plus the certified-exact two-stage variant, all at 1M × 768.
      if (benchXl) {
        val xlProbe: Array[Float] = Array.tabulate(XlDim)(i => ((i % 7) - 3) / 8.0f)
        val xlVecs = spark.read.parquet(s"$benchDir/xl_vectors")
        time("xl_knn_l2_1m768")(
          ops.Knn.fullScan(xlVecs, "id", "vec", xlProbe, 10, "l2").count())
        var xlParams: QuantParams = null
        time("xl_quantize_params_1m768") {
          xlParams = ops.Quantizer.computeParams(xlVecs, "vec"); xlParams.rows
        }
        val xlPre = ops.Quantizer.preload(
          ops.Quantizer.quantizeCodes(xlVecs, "id", "vec", xlParams))
        time("xl_quant_knn_1m768")(
          ops.Quantizer.quantScan(xlPre, xlProbe, xlParams, 10, "sq_l2").count())
        time("xl_certified_knn_1m768")(
          ops.Quantizer.certifiedTopK(xlVecs, "id", "vec", xlPre, xlProbe, xlParams,
            10, "l2").count())
        ops.Quantizer.cleanup(xlPre)

        // XL dedup / ANN-join rows — the pair-space plans at 10× the
        // per-round bench scale, so the 100 TB linearity claim is measured
        // rather than trend-extrapolated. Threshold 0.7 keeps the planted
        // jaccard-0.93 near-dups flowing through banding AND surviving the
        // exact-verification join (threshold above 0.93 would measure the
        // same candidate work but emit zero rows).
        val xlDocs = spark.read.parquet(s"$benchDir/xl_docs")
        time("xl_minhash_lsh_1m") {
          val run = ops.Dedup.minhashLshRun(xlDocs, "doc_id", "text",
            numHashes = 128, bands = 16, shingleN = 3, threshold = 0.7)
          val n = run.pairs.count()
          run.release(); n
        }
        time("xl_exact_substr_1m")(
          ops.Dedup.exactSubstrSpans(xlDocs, "doc_id", "text", minTokens = 20).count())
        // 64 probes against the 1M × 768 corpus through the hamming-1
        // bucket neighborhood; 10 bits -> ~1000 rows/bucket, same sizing
        // rule as the 600k row
        time("xl_ann_join64_1m768")(
          ops.Ann.annJoin(broadcast(xlVecs.where(col("id") < 64)), "id", "vec",
            xlVecs, "id", "vec", 10, "l2", 10, XlDim).count())

        // the 14-stage crawl -> shards composition at 50x the per-round
        // row's scale (pipeline_e2e times 5k docs). capPerDomain raised
        // so the fixture's 10 domains keep ~all survivors (default 25
        // would cut the run to 250 docs and measure only overhead);
        // minhashBands=8 because the fixture's shared template sits at
        // char-12-shingle jaccard ~0.4, where the default 16-band
        // (r=8) s-curve admits corpus-quadratic candidate pairs — r=16
        // keeps band collisions output-proportional while the planted
        // exact clones still dedup via the identical-content fast path
        time("xl_pipeline_e2e_250k")(
          ops.Pipeline.curateCrawl(
            spark.read.parquet(s"$benchDir/xl_captures"), "doc_id", "warc",
            Queries.pipeRobots(spark), "host", "txt",
            spark.range(1).select(lit(Queries.PipeBench).as("text")), "text",
            s"$benchDir/xl_shards",
            ops.Pipeline.CurateConfig(capPerDomain = 200000, minhashBands = 8,
              packBudget = 2048, nShards = 8, shardBuckets = 1024)).count())

        // the crawling half at 50x the gate scale: ~1.05M links through
        // extract -> resolve -> canon -> blocklist -> fetched screen ->
        // distinct -> robots -> the 10k-per-site bounded cap heap
        time("xl_frontier_250k")(
          ops.Pipeline.buildFrontier(
            spark.read.parquet(s"$benchDir/xl_pages"), "doc_id", "page_url",
            "html", Queries.frontierRobots(spark), "host", "txt",
            ops.Pipeline.FrontierConfig(blockedDomains = Seq("alt3.org"),
              maxPerSite = 10000)).count())

        // the same frontier + REDIRECT DISCOVERY over ~1.5M 3xx captures:
        // prices redirectEdges (per-row header parse) + resolveRedirects
        // (the bounded chain walk — 2-hop chains + planted cycles) at
        // real edge scale on top of the composition above
        time("xl_frontier_redirects_250k")(
          ops.Pipeline.buildFrontier(
            spark.read.parquet(s"$benchDir/xl_pages"), "doc_id", "page_url",
            "html", Queries.frontierRobots(spark), "host", "txt",
            ops.Pipeline.FrontierConfig(blockedDomains = Seq("alt3.org"),
              maxPerSite = 10000),
            redirects = Some(ops.Warc.redirectEdges(
              spark.read.parquet(s"$benchDir/xl_redirect_caps"),
              "url", "payload"))).count())
      }
    }

    // a mistyped SPARK_GRAFT_BENCH_ONLY name would drop its row unnoticed
    onlyFilter.filterNot(results.contains).toSeq.sorted.foreach(n =>
      System.err.println(s"graft.Bench: SPARK_GRAFT_BENCH_ONLY name '$n' matched no row"))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.values.sum
    val passesJson = passes.map { case (load, times) =>
      val t = times.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
      s"""{"loadavg":"$load","queries":$t}"""
    }.mkString("[", ",", "]")
    val waitsJson = passWaits.map(w => f"$w%.1f").mkString("[", ",", "]")
    val fullJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"passes":$passesJson,""" +
        s""""contaminated":$contaminated,"load_gate":$loadGate,""" +
        s""""pass_wait_sec":$waitsJson,"sf":"$sfDir"}"""
    println(fullJson)
    // The full JSON above runs tens of KB and any stdout tail capture can
    // cut it mid-line — rounds 11-13 each needed out-of-band evidence to
    // separate co-tenant contention from regression. Two transports fix
    // that: (1) the full self-adjudicating JSON lands in a repo-tracked
    // file, and (2) the LAST stdout line is a compact (<1500 chars)
    // adjudication record — per-pass loadavgs + per-pass suite totals +
    // min-merged anchor times — that survives any tail window verbatim.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/BENCH_LATEST.json")
    val wrote = scala.util.Try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, fullJson.getBytes("UTF-8"))
      p.toAbsolutePath.toString
    }.getOrElse("unwritable:" + outPath)
    val anchorNames = Seq("knn_l2_600k", "quant_knn_600k", "ann_join64_600k",
      "q1_pricing", "pagerank", "vocab_top", "minhash_lsh_pairs",
      "wordpiece_vocab", "unigram_vocab", "logreg_train", "pipeline_e2e",
      "domain_cap", "xl_quant_knn_1m768", "xl_minhash_lsh_1m")
    val anchors = anchorNames.filter(results.contains)
      .map(n => "\"" + n + "\":" + f"${results(n)}%.3f").mkString("{", ",", "}")
    val loads = passes.map(p => "\"" + p._1 + "\"").mkString("[", ",", "]")
    val passTotals = passes.map(p => f"${p._2.values.sum}%.1f").mkString("[", ",", "]")
    println(s"""{"adjudicate":{"loads":$loads,"pass_totals":$passTotals,""" +
      f""""total_min":$total%.3f,"n_queries":${results.size},""" +
      s""""contaminated":$contaminated,"pass_wait_sec":$waitsJson,""" +
      s""""artifact":"$wrote","anchors":$anchors}}""")
    spark.stop()
  }
}
