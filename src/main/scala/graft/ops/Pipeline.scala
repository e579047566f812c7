package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end crawl → training-shards composition as ONE library
  * call — the product claim the per-operator surface adds up to. A user
  * hands in raw WARC captures (text blobs or per-record-gzip `.warc.gz`
  * binaries), per-host robots.txt, and a benchmark corpus; out come
  * curated, packed, shard-written documents.
  *
  * Fourteen stages, every one an operator with its own correctness gate:
  * WARC ingest (+ optional HTTP response split, `httpParse`) →
  * robots.txt policy → main-content extraction → mojibake
  * repair → C4 line cleaning → language gate → URL dedup → MinHash
  * near-dup → sentence-level dedup → benchmark decontamination →
  * quality filter → per-site (eTLD+1) cap → sequence packing → shard
  * write with readback. The composition itself is gated end-to-end
  * (`pipeline_e2e` text profile, `pipeline_e2e_gz` gzip profile,
  * `pipeline_e2e_http` HTTP-envelope profile, all with staged-replay
  * oracles).
  *
  * Scale shape — where the corpus TEXT travels: the per-row stages
  * (extract/mojibake/C4/language) are zero-shuffle column chains; the
  * dedup stages (URL keep-first, minhash banding, sentence dedup) pay
  * their own documented narrow-keyed exchanges; and the DECISION stages
  * after sentence dedup are threaded as flag columns on the frame the
  * text already rides — contaminated-id anti-flag (count-guarded
  * broadcast), the quality bitmask (pure column), the per-domain cap as
  * a one-row-per-domain threshold join (count-guarded broadcast) — so
  * after S9 the text crosses exactly TWO exchanges: the packing
  * prefix-sum window (chunk-keyed) and the shard-range write. The chain
  * MATERIALIZES at stage boundaries (ingest, C4, language, near-dup,
  * sentence-dedup, flags, packing) so self-joins and the multi-action
  * shard write never replay upstream lineage; local runs use
  * `localCheckpoint` (released before return), on a multi-executor
  * cluster swap the barrier for parquet stages — the stage list is the
  * natural restart boundary set.
  */
object Pipeline {

  /** Tuning knobs, one per stage that has any. Defaults match the
    * operators' own defaults except where the composition changes the
    * regime: `minhashShingleN` = 12 because post-cleaning documents
    * that share boilerplate STRUCTURE (same template, different
    * entities) sit near char-3-shingle jaccard 0.8 — 12-char windows
    * keep entity-level differences visible to the banding.
    *
    * `warcProfile` selects the ingest reader: "text" =
    * [[Warc.warcRecords]] over a string WARC column, "gz" =
    * [[Warc.warcRecordsGz]] over a binary per-record-gzip `.warc.gz`
    * column (the Common Crawl layout; Content-Length counts payload
    * BYTES there). `warcMaxRecords` bounds the per-capture record walk;
    * captures that hit it are surfaced by [[Curated.cappedCaptures]] —
    * never a silent cap.
    *
    * `httpParse` = true treats each `response` payload as what it
    * actually is on a real crawl — an HTTP response (status line +
    * headers + body, see [[Warc.httpResponse]]) — keeping only status
    * 200 with a media type in `httpAllowedMimes` and handing the BODY
    * to extraction; false (default) hands the raw payload through
    * (pre-stripped corpora). A per-row projection inside the same
    * ingest scan, zero extra shuffle.
    *
    * `seenDir` (non-empty = on) makes the run INCREMENTAL — the
    * continuous-ingest loop as one knob: after URL dedup each wave
    * anti-joins its content fingerprints (the 16-byte two-lane
    * [[Dedup.fingerprintLanes]] keys) against the store at `seenDir`, and
    * the accepted wave's fingerprints append back — so a page SEEN by
    * any earlier wave never re-enters the corpus, including pages an
    * earlier wave later dropped for quality (the decision was already
    * made on that content). The append is DEFERRED until the shard
    * store's write has committed and been read back: a crash anywhere
    * between the screen and the shard write leaves `seenDir` untouched,
    * so the retried wave re-enters cleanly instead of being screened out
    * by its own orphaned fingerprints (silent permanent wave loss — the
    * failure mode an append-at-screen-time ordering has). The shard
    * write itself is an idempotent full overwrite, so a crash between
    * the shard commit and the fingerprint append re-runs to the same
    * store state. The screen sits post-URL-dedup so the store accretes
    * one row per distinct surviving page; the seen side never shuffles
    * corpus text — the anti-join carries fingerprints only. In the
    * audited funnel the screen's drop shows up between the `url_dedup`
    * and `near_dup` rows. Each wave appends its own parquet file set;
    * a long-running loop runs [[compactSeen]] periodically to keep the
    * screen's file listing bounded (crash-safe, content-identical).
    *
    * `seenBloom` = true routes the screen through the
    * [[Dedup.dedupAgainstBloom]] shape — the 100 TB swap: the seen
    * store's first fingerprint lane folds into one Bloom filter
    * (distributed build, `seenBloomItems`/`seenBloomBits` sizing, ~10
    * bits/item for fpp ≈ 1%), rows the filter rejects are PROVABLY fresh
    * (no false negatives) and bypass the join entirely, and only the
    * might-be-seen sliver pays the exact two-lane anti-join. Results are
    * identical under both settings; only the join input size changes.
    *
    * `maxBroadcastRows` is the count guard on the two decision-frame
    * broadcasts (contaminated ids, per-domain cap thresholds): at or
    * under it they broadcast explicitly (the corpus text crosses no
    * exchange); over it they fall back to the planner's shuffle join.
    */
  final case class CurateConfig(
      keepLangs: Set[String] = Set("en"),
      c4MinWords: Int = 5,
      minhashNumHashes: Int = 128,
      minhashBands: Int = 16,
      minhashShingleN: Int = 12,
      minhashThreshold: Double = 0.9,
      decontamNgram: Int = 3,
      qualityMinWords: Int = 10,
      qualityMaxWords: Int = 100000,
      domainSuffixes: Seq[String] = Seq("com", "org", "net"),
      capPerDomain: Int = 25,
      packBudget: Long = 2048L,
      nShards: Int = 8,
      shardBuckets: Int = 1024,
      warcProfile: String = "text",
      warcMaxRecords: Int = 16,
      httpParse: Boolean = false,
      httpAllowedMimes: Seq[String] = Seq("text/html"),
      seenDir: String = "",
      seenBloom: Boolean = false,
      seenBloomItems: Long = 1L << 20,
      seenBloomBits: Long = 1L << 23,
      blockedDomains: Seq[String] = Nil,
      maxBroadcastRows: Long = 1000000L)

  /** [[curateCrawlAudited]]'s result: the curated per-document frame,
    * the stage FUNNEL — one row per drop stage plus the final `written`
    * row (the audit artifact a production run logs: a stage that
    * silently eats the corpus shows up as a cliff here long before
    * anyone reads shard sizes) — and the WARC over-cap observer
    * (`cappedCaptures()` — captures whose record walk hit
    * `warcMaxRecords`; lazy, replays the ingest parse when called).
    *
    * The funnel carries a `seconds` column: the wall-clock of the work
    * NEWLY EXECUTED to reach that stage's materialization boundary
    * (ingest = WARC parse [+ HTTP split]; lang = extraction + cleaning +
    * language gate; seen_screen = the incremental anti-join; near_dup =
    * MinHash banding + verification + the anti-join; decontam = sentence
    * dedup + the decision flags; domain_cap = cap + packing; written =
    * shard write + readback). Stages counted off a shared upstream
    * barrier (robots, url_dedup, quality) are NULL — their work is
    * inside the next timed boundary. This is the stage budget a 100 TB
    * run tunes against: at gate SF `xl_pipeline_e2e_250k`-class
    * questions ("which of the 14 stages dominates?") read straight off
    * this column instead of a Spark UI archaeology session.
    */
  final case class Curated(docs: DataFrame, funnel: DataFrame,
                           cappedCaptures: () => Long)

  /** Run the full chain. `captures` is (idCol, warcCol: WARC text blob,
    * or `.warc.gz` binary under `warcProfile = "gz"`); `robots` is
    * (hostCol, txtCol: robots.txt body); `bench` is the benchmark corpus
    * (benchTextCol). Training shards land under `shardDir`
    * (Hive-partitioned by shard, deterministic membership — see
    * [[Curation.writeTrainingShards]]); the returned frame is the
    * per-document result read BACK from that store: (idCol, domain,
    * text, n_tokens, start_offset, pack_id, crosses, shuffle_pos,
    * shard). No funnel count jobs run on this path.
    */
  def curateCrawl(captures: DataFrame, idCol: String, warcCol: String,
                  robots: DataFrame, robotsHostCol: String, robotsTxtCol: String,
                  bench: DataFrame, benchTextCol: String,
                  shardDir: String,
                  cfg: CurateConfig = CurateConfig()): DataFrame =
    Stages.run(captures.sparkSession, "curate")(runStages(captures, idCol,
      warcCol, robots, robotsHostCol, robotsTxtCol, bench, benchTextCol,
      shardDir, cfg, audit = false)).docs

  /** [[curateCrawl]] plus the stage funnel: (stage_idx, stage, n_docs)
    * for the eight document-dropping stages and the final on-disk
    * `written` count. Every count runs against a materialized stage
    * boundary (a checkpointed frame, one narrow scan off one, or the
    * shard store itself) — the audit costs a handful of cheap count
    * jobs, never a WARC-parse or dedup replay.
    */
  def curateCrawlAudited(captures: DataFrame, idCol: String, warcCol: String,
                         robots: DataFrame, robotsHostCol: String, robotsTxtCol: String,
                         bench: DataFrame, benchTextCol: String,
                         shardDir: String,
                         cfg: CurateConfig = CurateConfig()): Curated =
    Stages.run(captures.sparkSession, "curate")(runStages(captures, idCol,
      warcCol, robots, robotsHostCol, robotsTxtCol, bench, benchTextCol,
      shardDir, cfg, audit = true))

  /** Spread a CPU-heavy per-row chain's INPUT to the session's default
    * parallelism when the incoming plan carries fewer partitions. Small
    * corpora arrive as one or two file splits (split sizing is
    * byte-based, and a 5 MB corpus is one split), so the chain's
    * dominant cost — the per-row WARC parse / extraction regex walk,
    * seconds of CPU per MB — runs nearly serial on a many-core box; a
    * round-robin repartition of the raw input is a tiny narrow-row
    * shuffle there. Scale-adaptive by construction: at real corpus
    * sizes the scan already carries ≥ parallelism splits and this is a
    * NO-OP (no exchange added — the condition reads the plan's
    * partition count, it never reshuffles data that is already wide).
    */
  private def spread(df: DataFrame): DataFrame = TextAnalysis.spreadInput(df)

  /** Explicit broadcast at or under `maxRows`, planner's choice above,
    * decided by one count of the decision frame: a small decision frame
    * joined to the corpus must never pull the corpus into a sort-merge
    * exchange, and an unbounded decision frame must never be forced into
    * a driver-built broadcast.
    */
  private def guardedBroadcast(df: DataFrame, maxRows: Long): DataFrame =
    if (df.count() <= maxRows) broadcast(df) else df

  /** S10-S13 over the sentence-deduped frame: decisions threaded as FLAG
    * columns (the curationLog pattern) on the frame the text already
    * rides — contaminated ids as a count-guarded broadcast anti-flag,
    * the quality bitmask and the eTLD+1 domain as pure per-row columns,
    * the per-site cap as a one-row-per-DOMAIN threshold join (selects
    * exactly capPerKey's rows without shipping the kept-id list back
    * through the corpus) — then sequence packing with the columns
    * carried through the prefix-sum window. While the two broadcast
    * guards hold, the corpus text crosses exactly ONE exchange in this
    * whole span: the packing window's chunk key. Returns (flagged,
    * packed); `packed` is row-identical to the cap output (packing adds
    * columns, drops nothing), so it doubles as the domain-cap funnel
    * boundary. Package-private so the plan-shape spec can run it
    * barrier-free and count the text exchanges.
    */
  private[graft] def decisionAndPack(sd: DataFrame, bench: DataFrame,
      benchTextCol: String, idCol: String, cfg: CurateConfig,
      materialize: (String, DataFrame) => DataFrame): (DataFrame, DataFrame) = {
    // the two decision frames land behind the run's barrier before their
    // broadcast count-guard: the guard's count() and the join would
    // otherwise each compute the aggregation chain once (actions don't
    // share work) — materialized, the n-gram overlap / cap-threshold
    // fold runs once and both consumers read blocks
    val contam = materialize("decontam", Curation.contaminatedIds(
      sd, bench.select(col(benchTextCol).as("text")), idCol, "text",
      cfg.decontamNgram))
    val flagged = materialize("decontam", sd
      .join(guardedBroadcast(contam.withColumn("_contam", lit(true)),
        cfg.maxBroadcastRows), Seq(idCol), "left")
      .withColumn("_keep_dec", coalesce(col("_contam"), lit(false)) === false)
      .withColumn("_keep_q", Curation.qualityFailMask(col("text"),
        cfg.qualityMinWords, cfg.qualityMaxWords) === 0L)
      .withColumn("domain",
        TextAnalysis.registeredDomain(col("host"), cfg.domainSuffixes)
          .getField("registered_domain"))
      .drop("_contam"))
    val dom = flagged.where(col("_keep_dec") && col("_keep_q"))
    val thr = materialize("domain_cap", Curation.capThresholds(
      dom.select(col("domain"), col(idCol)), "domain", idCol, cfg.capPerDomain))
    val capped = dom
      .join(guardedBroadcast(thr, cfg.maxBroadcastRows), Seq("domain"))
      .where(Curation.capKeepCol(col(idCol), col("cut_h"), col("cut_id")))
      .drop("cut_h", "cut_id", "_keep_dec", "_keep_q", "url", "host")
    val packed = materialize("domain_cap",
      Curation.packSequencesCarry(capped, idCol, "text", budget = cfg.packBudget))
    (flagged, packed)
  }

  private def runStages(captures: DataFrame, idCol: String, warcCol: String,
                  robots: DataFrame, robotsHostCol: String, robotsTxtCol: String,
                  bench: DataFrame, benchTextCol: String,
                  shardDir: String, cfg: CurateConfig, audit: Boolean)
                 (st: Stages): Curated = {
    require(cfg.warcProfile == "text" || cfg.warcProfile == "gz",
      s"warcProfile must be 'text' or 'gz', got '${cfg.warcProfile}'")
    val spark = captures.sparkSession
    if (cfg.seenDir.nonEmpty && cfg.seenBloom) {
      // Spark validates the Bloom filter's (items, bits) against
      // these session confs at ANALYSIS time — surface the dependency as
      // a clear error here instead of a mid-pipeline AnalysisException,
      // so 100 TB sizing (items ≈ store rows, bits ≈ 10×items) knows to
      // raise the confs alongside the knobs
      val maxItems = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
      val maxBits = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
      require(cfg.seenBloomItems > 0 && cfg.seenBloomItems <= maxItems,
        s"seenBloomItems=${cfg.seenBloomItems} exceeds " +
          s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems — " +
          "raise that conf to size the seen-store Bloom filter this large")
      require(cfg.seenBloomBits > 0 && cfg.seenBloomBits <= maxBits,
        s"seenBloomBits=${cfg.seenBloomBits} exceeds " +
          s"spark.sql.optimizer.runtime.bloomFilter.maxNumBits=$maxBits — " +
          "raise that conf to size the seen-store Bloom filter this large")
    }
    // Unaudited, the chain's barriers are LAZY (see [[Stages]]): each one's
    // result-stage job folds into its single sequential consumer's first
    // action. The AUDITED path keeps eager, compacted barriers, so the
    // funnel's per-stage `seconds` attribution stays honest.

    // S1: WARC ingest — response records only. Checkpointed: the robots
    // stage scans its input three times (filter verdicts + two join
    // sides), and the parse is the chain's heaviest per-row walk — which
    // is why the raw captures are spread to full parallelism first (a
    // small corpus arrives as one file split and would otherwise parse,
    // extract and clean on ONE core; see [[spread]]).
    val capturesIn = spread(captures)
    val allRecs = cfg.warcProfile match {
      case "gz" => Warc.warcRecordsGz(capturesIn, idCol, warcCol, cfg.warcMaxRecords)
      case _    => Warc.warcRecords(capturesIn, idCol, warcCol, cfg.warcMaxRecords)
    }
    val respRecs = allRecs
      .where(col("warc_type") === "response")
      .select(col(idCol), col("target_uri").as("url"), col("payload"))
    // S1.5 (httpParse): the payload of a real crawl's response record is
    // an HTTP response — split it, gate on status 200 + allowed media
    // type, and carry the BODY forward as the document payload. A capture
    // whose header block never terminates (truncated response) parses
    // with body = NULL while still showing status 200 + an allowed mime —
    // it drops HERE, at ingest, instead of riding a NULL payload into
    // extraction.
    val recs = st.stage("ingest", audit)(if (cfg.httpParse) {
      Warc.httpResponses(respRecs, "payload")
        .where(col("http_status") === 200 &&
          col("mime").isin(cfg.httpAllowedMimes: _*) &&
          col("body").isNotNull)
        .select(col(idCol), col("url"), col("body").as("payload"))
    } else respRecs)

    // S2: robots.txt policy (fail-open for hosts without rules)
    val withHp0 = recs
      .withColumn("host", regexp_extract(col("url"), "https?://([^/]+)", 1))
      .withColumn("path",
        when(regexp_extract(col("url"), "https?://[^/]+(/.*)$", 1) === "", "/")
          .otherwise(regexp_extract(col("url"), "https?://[^/]+(/.*)$", 1)))
    // S2.1 (blockedDomains non-empty): the UT1-class URL blocklist at the
    // registered-domain (eTLD+1) grain — subdomains of a blocked site
    // fall with it — applied before the robots join and every text stage
    // so blocked pages never cost parsing. Hosts without a registrable
    // domain (bare suffixes) pass through to the later stages' rules.
    val withHp = if (cfg.blockedDomains.isEmpty) withHp0 else
      withHp0.where(coalesce(
        !TextAnalysis.registeredDomain(col("host"), cfg.domainSuffixes)
          .getField("registered_domain").isin(cfg.blockedDomains: _*),
        lit(true)))
    val rules = Robots.parseRules(robots.select(
      col(robotsHostCol).as("host"), col(robotsTxtCol).as("txt")), "host", "txt")
    val verdicts = Robots.robotsFilter(
      withHp.select(col(idCol), col("host"), col("path")),
      idCol, "host", "path", rules, "host")
    // The allowed-id frame rides the decisionAndPack count-guard pattern:
    // materialized once (narrow — ids only, cheap blocks at any scale),
    // then count-guarded broadcast. Unguarded, the planner shuffled the
    // PAYLOAD-bearing side by id to meet the verdict aggregation — and at
    // gate corpus sizes AQE's byte-based coalescing then folded the
    // post-join stage to ONE partition, serializing the downstream
    // extraction+C4 chain (measured 1.8-2.8 s single-task stages in
    // pipeline_e2e / crawl_loop_e2e). Broadcast keeps extraction map-side
    // over the ingest barrier's width; past the guard the planner's
    // shuffle join returns, whose post-shuffle partitions are
    // advisory-sized (parallel) at that scale. The guard's count is the
    // first job to read a lazy ingest barrier, so the WARC parse runs in
    // it: labelled ingest, or an already-persisted capture frame's parse
    // is booked to no stage.
    val allowed = st.timed("ingest") {
      val allowedIds = st.barrier(verdicts.where(col("allowed")).select(idCol), audit)
      withHp.join(guardedBroadcast(allowedIds, cfg.maxBroadcastRows), idCol)
    }

    // S3+S4+S5: main-content extraction, mojibake repair, sentence-line
    // rendering + C4 line cleaning — one per-row column chain, ONE scan
    // of the ingest store (extractMainContent joins blocks with single
    // spaces, so line structure is re-derived at sentence boundaries
    // before the line rules apply). The pre-gate checkpoint is
    // LOAD-BEARING for the language gate below: filtering on the
    // projected `text` without a barrier lets the optimizer push the
    // predicate under the projection, substituting (and re-evaluating)
    // the whole extraction chain inside the langIdScript condition —
    // measured ~8× on the composition when tried.
    val t1 = TextAnalysis.fixMojibake(
      TextAnalysis.extractMainContent(col("payload")))
    val c4 = st.stage("lang", audit)(allowed.select(col(idCol), col("url"), col("host"),
      Curation.c4CleanText(
        regexp_replace(t1, "([.!?]) +", "$1\n"), cfg.c4MinWords).as("text")))

    // S6: language gate
    val en = st.stage("lang", audit)(c4.where(TextAnalysis.langIdScript(col("text"))
      .isin(cfg.keepLangs.toSeq: _*)))

    // S7: URL-level keep-first dedup
    val urld = TextAnalysis.dedupByCanonicalUrl(en, idCol, "url").drop("canon_url")

    // S7.5 (incremental, seenDir non-empty): screen the wave against the
    // persisted seen-fingerprint store. The screened frame is
    // materialized so the deferred append and the continuing chain share
    // one computation of the upstream lineage; the append itself runs
    // only AFTER the shard store commits (see S14) — never here —
    // closing the crash window where orphaned fingerprints would screen
    // out the wave's own documents on retry.
    var seenAppend: () => Unit = () => ()
    val screened = if (cfg.seenDir.isEmpty) urld else {
      val seenExists = StoreSwap.open(spark, cfg.seenDir)
      val withFp = urld.select(col("*") +: Dedup.fingerprintLanes(col("text")): _*)
      // timed() wraps the WHOLE screen construction: the Bloom build is
      // a full scan of the seen store executed eagerly (head()), and it
      // must land in the seen_screen stage budget, not evaluate as a
      // strict argument before the clock starts
      val fresh = st.timed("seen_screen")(st.barrier(
        if (!seenExists) withFp
        else Dedup.screenUnseen(withFp, spark.read.parquet(cfg.seenDir), "ck1", "ck2",
          if (cfg.seenBloom) Some((cfg.seenBloomItems, cfg.seenBloomBits)) else None),
        audit))
      seenAppend = () => fresh.select(col("ck1"), col("ck2")).distinct()
        .write.mode("append").parquet(cfg.seenDir)
      fresh.drop("ck1", "ck2")
    }

    // S8: document-level near-dup — drop every verified pair's b side
    val mh = Dedup.minhashLshRun(screened, idCol, "text",
      numHashes = cfg.minhashNumHashes, bands = cfg.minhashBands,
      shingleN = cfg.minhashShingleN, threshold = cfg.minhashThreshold)
    st.onRelease(mh.release)
    val nd = st.stage("near_dup", audit)(screened.join(
      mh.pairs.select(col("b").as(idCol)).distinct(), Seq(idCol), "left_anti"))

    // S9: sentence-level exact dedup (keep-first corpus-wide)
    val sd = st.stage("decontam", audit)(Dedup.sentenceDedup(nd, idCol, "text")
      .drop("n_sentences", "n_removed"))

    val (flagged, packed) = decisionAndPack(sd, bench, benchTextCol, idCol,
      cfg, (label, df) => st.stage(label, audit)(df))

    // S14: shard write + READBACK — the result is read straight off the
    // store (no join back onto the plan), so its rows certify what
    // landed on disk, not what the plan intended
    val result = st.timed("written") {
      Curation.writeTrainingShards(packed, idCol, col("n_tokens"), shardDir,
        cfg.nShards, nBuckets = cfg.shardBuckets)
      spark.read.parquet(shardDir)
        .select(col(idCol), col("domain"), col("text"), col("n_tokens"),
          col("start_offset"), col("pack_id"), col("crosses"),
          col("shuffle_pos").cast("long").as("shuffle_pos"),
          col("shard").cast("int").as("shard"))
    }

    // S7.5b (incremental): the shard store has committed — the write
    // above either succeeded or threw before reaching this line, and the
    // readback's schema inference has certified the store exists — so
    // the wave's fingerprints may now accrete. Runs off the screened
    // frame's materialization barrier, no lineage replay.
    seenAppend()

    // Funnel (audited path only): every count runs against a
    // materialized boundary — a checkpointed frame, one narrow scan off
    // one (robots verdict join, URL-dedup groupBy), or the shard store.
    // domain_cap counts the checkpointed packed frame, which is
    // row-identical to the cap output (packing adds columns, drops
    // nothing); `written` separately counts the store readback, so a row
    // lost in the shard write shows up as its own funnel cliff instead
    // of hiding inside the cap row.
    val funnel = st.funnel(if (!audit) Nil else {
      Seq(
        ("ingest", recs.count()), ("robots", allowed.count()),
        ("lang", en.count()), ("url_dedup", urld.count())) ++
        // the incremental screen gets its OWN funnel row (its frame is
        // already materialized) so its drop never hides inside near_dup's
        (if (cfg.seenDir.nonEmpty) Seq(("seen_screen", screened.count()))
         else Seq.empty) ++ Seq(
        ("near_dup", nd.count()),
        ("decontam", flagged.where(col("_keep_dec")).count()),
        ("quality", flagged.where(col("_keep_dec") && col("_keep_q")).count()),
        ("domain_cap", packed.count()), ("written", result.count()))
    }, "n_docs")

    // the result lives on disk and the funnel is a literal local frame —
    // every intermediate barrier block can go
    st.releaseExcept()
    Curated(result, funnel,
      () => Warc.cappedCaptures(allRecs, idCol, cfg.warcMaxRecords))
  }

  /** [[buildFrontier]]'s knobs. `maxPerSite` is the politeness cap —
    * at most that many frontier URLs per registered domain per wave,
    * selected deterministically (smallest ([[TextAnalysis.fingerprint]]
    * hash, url)); domains that lost candidates to it are flagged
    * `site_capped` (exact, never silent).
    *
    * `fetchedDir` (non-empty = on) makes the frontier INCREMENTAL — the
    * continuous-crawl loop as one knob, the crawling half's analogue of
    * [[CurateConfig]]'s `seenDir`: candidates additionally screen
    * against the persistent store of every canonical URL fetched by ANY
    * earlier wave, and the current wave's fetched URLs append back
    * AFTER the frontier has fully materialized (deferred-commit — a
    * crash anywhere mid-composition leaves the store untouched, so a
    * retried wave recomputes identically instead of inheriting an
    * aborted run's rows). The store carries the canonical URL's two
    * [[Dedup.fingerprintLanes]] as `(uh1, uh2)` — never the strings — so
    * at 100 TB the screen join's build side is 16 bytes/URL and the
    * exchange keys are fixed-width. Each wave appends its own
    * file set; a long-running loop runs [[compactFetched]] periodically
    * to keep the screen's file listing bounded.
    *
    * `sitemapMaxDepth` bounds [[Robots.sitemapFrontier]]'s index-tree
    * walk when sitemap seeding is composed in (see [[buildFrontier]]'s
    * `sitemaps` parameter).
    *
    * `redirectMaxHops` bounds [[Warc.resolveRedirects]]' chain walk when
    * redirect discovery is composed in (see [[buildFrontier]]'s
    * `redirects` parameter); chains still unresolved after it (cycles,
    * over-long chains) contribute no candidates.
    *
    * `usePriority` = true threads the sitemap protocol's per-URL
    * `<priority>` into the two places that decide WHAT gets fetched
    * first: the per-site cap heap selects by (priority DESC, hash, url)
    * instead of (hash, url) — a site's own declared priorities influence
    * which of its URLs survive the cap — and the output gains a
    * `priority` column (declared value clamped to [0,1]; 0.5, the
    * protocol's default, where no discovery route declared one) for
    * [[scheduleFrontier]]'s `priorityCol` to order fetch slots by. A URL
    * discovered by several routes takes the max declared priority.
    * Priorities are quantized to the protocol's 3-decimal grain so the
    * heap's composite ranking key stays exact in doubles and any SQL
    * engine replays the cut. Default false: selection is purely
    * hash-deterministic and the output schema is unchanged.
    *
    * `useInlinks` = true is OPIC-lite frontier prioritization by LINK
    * EVIDENCE (the signal real crawl schedulers order by — see the
    * Abiteboul OPIC and the BUbiNG/Heritrix frontier designs): every
    * candidate gains `n_ref_domains` = the number of DISTINCT OFFSITE
    * referring registered domains whose hyperlinks discovered it
    * (onsite self-references and the site's own sitemap/redirect
    * declarations carry no authority — a site cannot vote for itself),
    * and the per-site cap heap ranks by (n_ref_domains DESC, hash, url)
    * so the best-evidenced URLs survive the fetch budget. Composes with
    * `usePriority` as (priority DESC, n_ref_domains DESC, hash, url) —
    * the site's own declaration first, the web's evidence second. The
    * composite ranking key stays EXACT in doubles: hash < 2³¹, the
    * inlink term = (1023 − min(n_ref, 1023))·2³¹ < 2⁴¹, the priority
    * term scales by 2⁴¹ → total < 2⁵², every term an integer, so any
    * SQL engine replays the cut. The output gains `n_ref_domains`
    * (pass it as [[scheduleFrontier]]'s `priorityCol` to also order
    * fetch slots by evidence — integer counts quantize exactly).
    * Default false: schema and selection unchanged.
    *
    * `hashKeys` = true is the 100 TB exchange-key swap on the
    * composition's own keyed exchanges (the
    * [[TextAnalysis.anchorTexts]] mechanism): the distinct fold and the
    * robots-verdict aggregation key on the URL's 8-byte xxhash64, the
    * per-site cap on the domain's, and the source join-back on the URL
    * hash — every partitioning key fixed-width, URL-length skew out of
    * the exchanges, one representative string riding as `min(...)`
    * payload per group. Results identical short of a 64-bit collision
    * (~2⁻⁶⁴ per pair; the exact path has none) — gated against the
    * SAME oracle as the string-keyed path.
    */
  final case class FrontierConfig(
      domainSuffixes: Seq[String] = Seq("com", "org", "net"),
      blockedDomains: Seq[String] = Nil,
      maxPerSite: Int = 1000,
      fetchedDir: String = "",
      sitemapMaxDepth: Int = 4,
      hashKeys: Boolean = false,
      redirectMaxHops: Int = 8,
      usePriority: Boolean = false,
      useInlinks: Boolean = false)

  /** [[buildFrontier]]'s result: the next fetch list and its audited
    * funnel — (stage_idx, stage, n_urls, seconds) per decision stage.
    */
  final case class Frontier(urls: DataFrame, funnel: DataFrame)

  /** The CRAWLING half of the product claim, composed the way
    * [[curateCrawl]] composes the curation half: fetched pages in, the
    * next wave's fetch list out. Stages, every one an operator with its
    * own green gate:
    *
    *  F0 sitemap seeding (when `sitemaps` is given): `Sitemap:` roots
    *     from the hosts' robots.txt ([[Robots.directives]]) walk their
    *     index trees ([[Robots.sitemapFrontier]], fetch-what-you-have,
    *     cycle-safe, ≤ `sitemapMaxDepth` levels) and the leaf `<loc>`
    *     URLs UNION into the candidate set — a real frontier is
    *     link-graph ∪ sitemap, and every seeded URL passes the same
    *     downstream gates as a link-discovered one,
    *  F0b redirect discovery (when `redirects` is given — (src, dst)
    *     edges from [[Warc.redirectEdges]], so a 200-with-Location trap
    *     never contributes): each raw Location value resolves RFC-3986
    *     against its source URL (relative Locations are legal and
    *     common), chains follow to their terminal targets
    *     ([[Warc.resolveRedirects]], ≤ `redirectMaxHops`; cycles and
    *     over-long chains drop), and the terminals UNION into the
    *     candidate set with provenance `redirect` — a real crawl
    *     discovers a meaningful URL share only through 3xx hops that no
    *     page links to, and every such URL passes the same downstream
    *     gates as a link-discovered one,
    *  F1 link extraction + RFC 3986 resolution against each page's own
    *     URL ([[TextAnalysis.extractLinks]] / [[TextAnalysis.resolveUrl]]),
    *  F2 http(s)-scheme gate (mailto:/javascript:/ftp: links drop),
    *  F3 canonicalization ([[TextAnalysis.canonicalUrl]] — case, default
    *     ports, fragments, tracking params),
    *  F4 eTLD+1 blocklist ([[TextAnalysis.registeredDomain]], subdomains
    *     fall with their site),
    *  F4b permanent-redirect ALIAS screen (when `redirectPermanentCol`
    *     names a boolean column on the `redirects` frame): a candidate
    *     whose canonical URL is a known 301/308 source is an alias the
    *     crawl stops paying fetch budget for — its terminal already
    *     entered as a candidate; temporary (302/303/307) sources stay
    *     canonical fetch targets per RFC 9110,
    *  F5 already-fetched screen, two grains: the input wave's own
    *     canonical URLs (a frontier must not refetch what it just got),
    *     and — under `fetchedDir` — the PERSISTENT cross-wave store
    *     (16-byte two-lane anti-join, appended back deferred-commit
    *     after the frontier materializes; see [[FrontierConfig]]),
    *  F6 distinct-URL fold carrying source PROVENANCE (`link` /
    *     `sitemap` / `redirect`, the legacy pair name `both` for
    *     link+sitemap, and explicit `link+redirect` /
    *     `sitemap+redirect` / `both+redirect` combinations) + robots
    *     verdicts ([[Robots.robotsFilter]],
    *     fail-open for rule-less hosts) + Crawl-delay annotation
    *     ([[Robots.directives]], [[scheduleFrontier]]'s politeness
    *     input),
    *  F7 per-site cap (the bounded
    *     [[graft.functions.topk_distinct_strings]] heap keyed on the
    *     registered domain — deterministic hash-priority selection, an
    *     exact `site_capped` flag, O(maxPerSite) state per domain).
    *
    * Scale shape: F1-F4 are zero-shuffle per-row chains; the decision
    * flags for the funnel ride ONE materialized frame (the
    * decisionAndPack pattern — counts are filters on flags, never
    * recomputation); the wave screen is one url equi-join and the store
    * screen one hash-keyed anti-join whose build side never carries
    * strings; the distinct fold and the domain cap are each one narrow
    * keyed exchange carrying URL strings only — page text never enters
    * this composition. Output: (url, host, domain, crawl_delay,
    * site_capped, source).
    */
  def buildFrontier(pages: DataFrame, idCol: String, urlCol: String,
                    htmlCol: String,
                    robots: DataFrame, robotsHostCol: String, robotsTxtCol: String,
                    cfg: FrontierConfig = FrontierConfig(),
                    sitemaps: Option[DataFrame] = None,
                    sitemapUrlCol: String = "sitemap_url",
                    sitemapXmlCol: String = "xml",
                    redirects: Option[DataFrame] = None,
                    redirectSrcCol: String = "src",
                    redirectDstCol: String = "dst",
                    redirectPermanentCol: String = ""): DataFrame =
    Stages.run(pages.sparkSession, "frontier")(frontierStages(pages, idCol,
      urlCol, htmlCol, robots, robotsHostCol, robotsTxtCol, sitemaps,
      sitemapUrlCol, sitemapXmlCol, redirects, redirectSrcCol, redirectDstCol,
      redirectPermanentCol, cfg, audit = false)).urls

  /** [[buildFrontier]] plus the audited funnel (the curateCrawlAudited
    * split: the unaudited path pays zero count jobs; the audited one
    * counts FILTERS over the one materialized flag frame, never
    * recomputation). Funnel rows, in order: `extracted` (link-discovered
    * candidates), `seeded` (∪ sitemap leaves), `redirected` (∪ redirect
    * terminals, only when `redirects` is given — the discovery rows can
    * EXCEED their predecessors, discovery not filtering), `resolved_http`,
    * `blocklist`, `not_fetched`, `seen_store` (only under `fetchedDir`),
    * `distinct_url`, `robots_allowed`, `site_cap`. The `seconds` column
    * carries the wall-clock of the work newly executed at that stage's
    * materialization boundary (seeded = the sitemap index-tree walk;
    * extracted = extraction + resolution + flags; seen_store = the
    * cross-wave hash anti-join; distinct_url / robots_allowed /
    * site_cap = their own exchanges); filter-only rows are NULL — the
    * stage budget a 100 TB crawl tunes against, the same instrument as
    * [[Curated]]'s funnel.
    */
  def buildFrontierAudited(pages: DataFrame, idCol: String, urlCol: String,
                           htmlCol: String,
                           robots: DataFrame, robotsHostCol: String,
                           robotsTxtCol: String,
                           cfg: FrontierConfig = FrontierConfig(),
                           sitemaps: Option[DataFrame] = None,
                           sitemapUrlCol: String = "sitemap_url",
                           sitemapXmlCol: String = "xml",
                           redirects: Option[DataFrame] = None,
                           redirectSrcCol: String = "src",
                           redirectDstCol: String = "dst",
                           redirectPermanentCol: String = ""): Frontier =
    Stages.run(pages.sparkSession, "frontier")(frontierStages(pages, idCol,
      urlCol, htmlCol, robots, robotsHostCol, robotsTxtCol, sitemaps,
      sitemapUrlCol, sitemapXmlCol, redirects, redirectSrcCol, redirectDstCol,
      redirectPermanentCol, cfg, audit = true))

  private def frontierStages(pages: DataFrame, idCol: String, urlCol: String,
                    htmlCol: String,
                    robots: DataFrame, robotsHostCol: String, robotsTxtCol: String,
                    sitemaps: Option[DataFrame], sitemapUrlCol: String,
                    sitemapXmlCol: String,
                    redirects: Option[DataFrame], redirectSrcCol: String,
                    redirectDstCol: String, redirectPermanentCol: String,
                    cfg: FrontierConfig, audit: Boolean)
                   (st: Stages): Frontier = {
    val spark = pages.sparkSession
    // Barriers (see [[Stages]]). Eager on both paths: `extracted` (its
    // logical subtree, the extraction chain, must never replicate into
    // downstream plan copies) and the final `site_cap` (the deferred
    // fetched-store append runs only after it; with a lazy output the
    // append would precede the caller's first action, and the store would
    // screen its own wave). `seeded` (a driver-loop lineage) and
    // `seen_store` (the persistent-store read must run once) keep a
    // barrier on both paths, eager when audited and lazy otherwise. The
    // narrow `distinct_url` and `robots_allowed` take one only when
    // audited, where the funnel's count jobs re-read each frame.

    // F1: links extracted + resolved; F0: sitemap leaves unioned in with
    // their provenance tag. The sitemap walk materializes on its own
    // boundary so the `seeded` funnel row carries ITS wall time, not the
    // extraction chain's.
    // declared priority rides the candidate rows as `_prio` (NULL where
    // the discovery route declares none — only sitemap <priority> tags
    // do); parsed tolerantly (try_cast: garbage → NULL) and clamped to
    // the protocol's [0,1]
    val noPrio = lit(null).cast("double").as("_prio")
    // under useInlinks the link lane carries its REFERRING registered
    // domain (the page that voted); sitemap/redirect lanes carry NULL —
    // a site's own declarations are not link evidence
    val noRef = lit(null).cast("string").as("_ref_dom")
    val refDom =
      if (!cfg.useInlinks) noRef
      else TextAnalysis.registeredDomain(
          lower(regexp_extract(col("_page_url"), "(?i)https?://([^/?#]+)", 1)),
          cfg.domainSuffixes)
        .getField("registered_domain").as("_ref_dom")
    // Spread a narrow pages input to full parallelism BEFORE the
    // extraction chain (see [[spread]]; a no-op at real corpus widths).
    // This must accompany extractLinksCarry: the join-back this
    // composition used to pay incidentally re-partitioned the exploded
    // rows, so without it a one-split input would run the whole
    // per-row chain (extraction, RFC-3986 resolution, canonicalization,
    // eTLD+1) on one core up to the distinct fold's exchange.
    val pagesIn = spread(pages)
    // robots.txt, projected once; its directives (sitemap roots for F0,
    // Crawl-delay for F7) parsed once
    val robotsTxt = robots.select(col(robotsHostCol).as("host"), col(robotsTxtCol).as("txt"))
    val directives = Robots.directives(robotsTxt, "host", "txt")
    val abs = TextAnalysis.extractLinksCarry(pagesIn, idCol, urlCol, htmlCol)
      .select(TextAnalysis.resolveUrl(col("_page_url"), col("href")).as("_abs"),
        lit("link").as("_src"), noPrio, refDom)
    val cand0 = sitemaps match {
      case None => abs
      case Some(sm) =>
        val roots = directives.select(explode(col("sitemaps")).as("sitemap_url"))
        val walk = Robots.sitemapFrontier(
            sm.select(col(sitemapUrlCol).as("sitemap_url"),
              col(sitemapXmlCol).as("_xml")),
            "sitemap_url", "_xml", roots, "sitemap_url", cfg.sitemapMaxDepth)
          .select(col("loc").as("_abs"), lit("sitemap").as("_src"),
            // greatest/least skip NULLs, so guard: an undeclared or
            // unparseable priority must stay NULL (→ the 0.5 default at
            // use sites), never clamp to 0.0
            when(expr("try_cast(priority AS DOUBLE)").isNotNull,
              least(greatest(expr("try_cast(priority AS DOUBLE)"), lit(0.0)),
                lit(1.0))).otherwise(lit(null).cast("double")).as("_prio"),
            noRef)
        // audited: eager, so the `seeded` funnel row carries the walk's
        // own wall time; unaudited: lazy — the walk folds into the
        // extracted barrier's materialization (one consumer)
        abs.unionByName(if (audit) st.stage("seeded", eager = true)(walk)
          else st.barrier(walk, eager = false))
    }
    // F0b: redirect-discovered URLs — raw Location values resolve
    // RFC-3986 against their source (relative Locations are legal),
    // chains follow to terminal targets (cycles/over-long chains drop:
    // terminal = false), and the terminals join the candidate set with
    // provenance 'redirect'. resolveRedirects is a bounded driver loop
    // behind its own barriers, so timing it here captures its real work.
    val cand = redirects match {
      case None => cand0
      case Some(re) =>
        // the redirect frame's lineage usually carries the per-row HTTP
        // header parse (redirectEdges) — spread narrow inputs like the
        // page lane's (no-op at real edge widths)
        val edges = spread(re).select(col(redirectSrcCol).as("_rs"),
          TextAnalysis.resolveUrl(col(redirectSrcCol), col(redirectDstCol))
            .as("_rd"))
        val terms = st.timed("redirected")(
          Warc.resolveRedirects(edges, "_rs", "_rd", cfg.redirectMaxHops)
            .where(col("terminal"))
            .select(col("final_url").as("_abs"), lit("redirect").as("_src"),
              noPrio, noRef))
        cand0.unionByName(terms)
    }

    // F2-F5a as FLAG columns on one frame: the funnel's early counts are
    // filters over one materialization, and the surviving candidate set
    // is the same frame filtered — extraction never replays.
    // Under fetchedDir the wave's canonical-URL distinct is materialized:
    // it feeds BOTH the in-wave screen join and the deferred store append
    // (two actions — without the barrier the append replays the pages
    // scan + canonicalization + the distinct's exchange a second time).
    // Non-incremental runs have one consumer and stay lazy.
    val fetchedLazy = pagesIn
      .select(TextAnalysis.canonicalUrl(col(urlCol)).as("url")).distinct()
    val fetchedDistinct =
      if (cfg.fetchedDir.isEmpty) fetchedLazy
      else st.barrier(fetchedLazy, eager = false)
    val fetched = fetchedDistinct.withColumn("_fetched0", lit(true))
    // F4b (redirectPermanentCol set on a redirects frame): the ALIAS
    // screen — a candidate whose canonical URL is a known PERMANENT
    // (301/308) redirect source is an alias the crawl should stop
    // spending fetch budget on (its terminal already entered as a
    // candidate); temporary (302/303/307) sources stay canonical fetch
    // targets per RFC 9110 and are NOT screened. One distinct fold over
    // the permanent sources + one url-keyed left join.
    val aliasSrcs = redirects.filter(_ => redirectPermanentCol.nonEmpty)
      .map(_.where(col(redirectPermanentCol))
        .select(TextAnalysis.canonicalUrl(col(redirectSrcCol)).as("url"))
        .distinct().withColumn("_alias0", lit(true)))
    val flagged0 = cand
      .withColumn("_http", col("_abs").rlike("^(?i)https?://"))
      .withColumn("url", TextAnalysis.canonicalUrl(col("_abs")))
      .withColumn("host",
        lower(regexp_extract(col("url"), "(?i)https?://([^/?#]+)", 1)))
      .withColumn("domain",
        TextAnalysis.registeredDomain(col("host"), cfg.domainSuffixes)
          .getField("registered_domain"))
      .withColumn("_blocked",
        if (cfg.blockedDomains.isEmpty) lit(false)
        else coalesce(col("domain").isin(cfg.blockedDomains: _*), lit(false)))
      // offsite link evidence: the referring domain counts only when it
      // differs from the candidate's own (a site cannot vote for itself)
      .withColumn("_off_ref",
        if (!cfg.useInlinks) lit(null).cast("string")
        else when(col("_ref_dom").isNotNull &&
          col("_ref_dom") =!= col("domain"), col("_ref_dom")))
      .drop("_ref_dom")
      .join(fetched, Seq("url"), "left")
      .withColumn("_fetched", coalesce(col("_fetched0"), lit(false)))
      .drop("_fetched0", "_abs")
    val flagged = st.stage("extracted", eager = true)(aliasSrcs match {
      case None => flagged0.withColumn("_alias", lit(false))
      case Some(a) => flagged0.join(a, Seq("url"), "left")
        .withColumn("_alias", coalesce(col("_alias0"), lit(false)))
        .drop("_alias0")
    })
    val pass = flagged.where(col("_http") && !col("_blocked") &&
      !col("_fetched") && !col("_alias"))

    // F5b (incremental, fetchedDir non-empty): screen against the
    // persistent cross-wave store — a hash-keyed ANTI-join (the store
    // never carries URL strings), so a URL fetched by waves 1..N-1 never
    // re-enters the fetch list. The wave's own append is DEFERRED until
    // the frontier has materialized (see FrontierConfig).
    var fetchedAppend: () => Unit = () => ()
    val screened = if (cfg.fetchedDir.isEmpty) pass else {
      val fetchedExists = StoreSwap.open(spark, cfg.fetchedDir)
      val withH = pass.select(col("*") +: Dedup.fingerprintLanes(col("url"), "_uh1", "_uh2"): _*)
      val unseen =
        if (!fetchedExists) withH
        else Dedup.screenUnseen(withH, spark.read.parquet(cfg.fetchedDir)
          .select(col("uh1").as("_uh1"), col("uh2").as("_uh2")), "_uh1", "_uh2")
      // audited: eager for the seen_store funnel row's wall time;
      // unaudited: lazy — the site_cap barrier's materialization is the
      // single consumer and runs strictly before the deferred append
      val fresh = if (audit) st.stage("seen_store", eager = true)(unseen)
        else st.barrier(unseen, eager = false)
      // reads the materialized wave-distinct's blocks — no pages replay
      fetchedAppend = () => fetchedDistinct
        .select(Dedup.fingerprintLanes(col("url"), "uh1", "uh2"): _*)
        .write.mode("append").parquet(cfg.fetchedDir)
      fresh.drop("_uh1", "_uh2")
    }

    // F6: distinct URLs with source provenance (bool-or over the
    // discovery tags — 'both' when link graph and sitemap agree), robots
    // verdicts (the URL itself is the verdict key — already distinct),
    // Crawl-delay per host. Under hashKeys every keyed exchange from
    // here down carries 8-byte xxhash64 keys (see FrontierConfig).
    val fl = max(when(col("_src") === "link", 1).otherwise(0)).as("_fl")
    val fs = max(when(col("_src") === "sitemap", 1).otherwise(0)).as("_fs")
    val fr = max(when(col("_src") === "redirect", 1).otherwise(0)).as("_fr")
    // a URL discovered by several routes takes the max DECLARED priority
    // (NULLs ignored); the 0.5 protocol default applies only at use sites
    val fp0 = max(col("_prio")).as("_prio")
    // link evidence: DISTINCT offsite referring domains (count_distinct
    // skips NULLs — onsite and non-link discoveries contribute nothing);
    // under hashKeys the distinct runs on the domain's 8-byte xxhash64
    // (null-guarded: xxhash64 maps NULL to the seed, not NULL) so no
    // string enters the expand's grouping key — same ~2⁻⁶⁴ collision
    // grain as every other hashKeys exchange
    val nref =
      if (!cfg.hashKeys) count_distinct(col("_off_ref")).as("_nref")
      else count_distinct(when(col("_off_ref").isNotNull,
        xxhash64(col("_off_ref")))).as("_nref")
    val aggs = Seq(fl, fs, fr, fp0) ++
      (if (cfg.useInlinks) Seq(nref) else Nil)
    val folded =
      if (!cfg.hashKeys)
        screened.groupBy(col("url"), col("host"), col("domain"))
          .agg(aggs.head, aggs.tail: _*)
      else screened.groupBy(xxhash64(col("url")).as("_uh"))
        .agg(min(col("url")).as("url"),
          (Seq(min(col("host")).as("host"),
            min(col("domain")).as("domain")) ++ aggs): _*)
    // provenance: the legacy pair name 'both' = link+sitemap is kept;
    // combinations with redirect name their members explicitly
    val dist0 = folded
      .withColumn("source",
        when(col("_fl") === 1 && col("_fs") === 1 && col("_fr") === 1,
          "both+redirect")
          .when(col("_fl") === 1 && col("_fs") === 1, "both")
          .when(col("_fl") === 1 && col("_fr") === 1, "link+redirect")
          .when(col("_fs") === 1 && col("_fr") === 1, "sitemap+redirect")
          .when(col("_fr") === 1, "redirect")
          .when(col("_fs") === 1, "sitemap").otherwise("link"))
      .drop("_fl", "_fs", "_fr")
      // the robots path keeps the QUERY (curateCrawl's S2 convention and
      // RFC 9309's: rules like "Disallow: /search?" must match) — only
      // the host splits off
      .withColumn("path",
        when(regexp_extract(col("url"), "(?i)https?://[^/]+(/.*)$", 1) === "",
          "/").otherwise(
          regexp_extract(col("url"), "(?i)https?://[^/]+(/.*)$", 1)))
    val dist = if (audit) st.stage("distinct_url", eager = true)(dist0) else dist0
    // the verdict key: the URL itself (already distinct), or its hash —
    // robotsFilter's longest-match aggregation groups on whatever id
    // column it is handed, so the swap reaches inside the operator
    val idKey = if (cfg.hashKeys) "_uh" else "url"
    val rules = Robots.parseRules(robotsTxt, "host", "txt")
    val verdicts = Robots.robotsFilter(
      dist.select(col(idKey), col("host"), col("path")),
      idKey, "host", "path", rules, "host")
    val allowed0 = dist
      .join(verdicts.where(col("allowed")).select(idKey), Seq(idKey))
    val allowed =
      if (audit) st.stage("robots_allowed", eager = true)(allowed0) else allowed0

    // F7: the bounded per-site cap, then host re-derivation + the
    // per-host Crawl-delay annotation and the source join-back (the
    // robots frame is per-host small — AQE broadcasts it; the provenance
    // join is one narrow equi-join on the ≤ maxPerSite×domains output)
    val delays = directives.select(col("host"), col("crawl_delay"))
    // the heap's ranking key: purely the url's hash by default; under
    // usePriority a composite that ranks by (priority DESC, hash) while
    // staying EXACT in doubles — priorities quantize to the protocol's
    // 3-decimal grain (integer 0..1000) and scale by 2³¹, which strictly
    // dominates the hash term (< 2³¹), so the whole key is an integer
    // < 2⁴² representable exactly and any SQL engine replays the cut
    val urlHash = TextAnalysis.fingerprint(col("url")).cast("double")
    // under useInlinks the hash term extends to (evidence DESC, hash):
    // (1023 − min(n_ref, 1023))·2³¹ + hash < 2⁴¹, still integer-exact —
    // and the priority term's scale widens to 2⁴¹ to keep dominating
    val evKey =
      if (!cfg.useInlinks) urlHash
      else (lit(1023.0) -
          least(col("_nref"), lit(1023L)).cast("double")) *
        lit(2147483648.0) + urlHash
    val prioScale = if (cfg.useInlinks) lit(2199023255552.0)
      else lit(2147483648.0)
    val capKey = if (!cfg.usePriority) evKey else
      (lit(1000.0) - round(coalesce(col("_prio"), lit(0.5)) * 1000, 0)) *
        prioScale + evKey
    val tk = graft.functions.topk_distinct_strings(
      capKey, col("url"), cfg.maxPerSite).as("_tk")
    val capped =
      if (!cfg.hashKeys) allowed.groupBy(col("domain")).agg(tk)
      else allowed.groupBy(xxhash64(col("domain")).as("_dh"))
        .agg(min(col("domain")).as("domain"), tk)
    val srcCols = Seq(col("source")) ++
      (if (cfg.usePriority)
        Seq(coalesce(col("_prio"), lit(0.5)).as("priority")) else Nil) ++
      (if (cfg.useInlinks) Seq(col("_nref").as("n_ref_domains")) else Nil)
    val outCols = Seq(col("url"), col("host"), col("domain"),
      col("crawl_delay"), col("site_capped"), col("source")) ++
      (if (cfg.usePriority) Seq(col("priority")) else Nil) ++
      (if (cfg.useInlinks) Seq(col("n_ref_domains")) else Nil)
    val withDelay = capped
      .select(col("domain"), col("_tk.capped").as("site_capped"),
        explode(col("_tk.kept")).as("url"))
      .withColumn("host",
        lower(regexp_extract(col("url"), "(?i)https?://([^/?#]+)", 1)))
      .join(delays, Seq("host"), "left")
    val out = st.stage("site_cap", eager = true)(
      (if (!cfg.hashKeys)
        withDelay.join(allowed.select(col("url") +: srcCols: _*), Seq("url"))
      else withDelay.withColumn("_uh", xxhash64(col("url")))
        .join(allowed.select(col("_uh") +: srcCols: _*), Seq("_uh")))
      .select(outCols: _*))

    // the frontier is fully materialized — the wave's fetched URLs may
    // now accrete into the persistent store (deferred commit: a crash
    // anywhere above left the store untouched)
    fetchedAppend()

    val funnel = st.funnel(if (!audit) Nil else {
      Seq(
        ("extracted", flagged.where(col("_src") === "link").count()),
        ("seeded", flagged.where(col("_src") =!= "redirect").count())) ++
        // the redirect union is the second discovery row (like `seeded`,
        // it may exceed its predecessor); absent when not composed
        (if (redirects.isDefined) Seq(("redirected", flagged.count()))
         else Seq.empty) ++ Seq(
        ("resolved_http", flagged.where(col("_http")).count()),
        ("blocklist",
          flagged.where(col("_http") && !col("_blocked")).count()),
        ("not_fetched", flagged.where(col("_http") && !col("_blocked") &&
          !col("_fetched")).count())) ++
        (if (aliasSrcs.isDefined) Seq(("alias_screen", pass.count()))
         else Seq.empty) ++
        (if (cfg.fetchedDir.nonEmpty) Seq(("seen_store", screened.count()))
         else Seq.empty) ++ Seq(
        ("distinct_url", dist.count()),
        ("robots_allowed", allowed.count()),
        ("site_cap", out.count()))
    }, "n_urls")

    // the fetch list is checkpointed and the funnel is a literal frame;
    // keep only the final barrier alive for the caller
    st.releaseExcept(out)
    Frontier(out, funnel)
  }

  /** Politeness SCHEDULER — the consumer of [[buildFrontier]]'s
    * (url, crawl_delay) output and the last piece of the crawling half:
    * turn a frontier into per-host fetch SLOTS that respect each host's
    * Crawl-delay. Every URL gets `slot` (its position in the host's
    * fetch sequence: 0, 1, 2, … in deterministic
    * ([[TextAnalysis.fingerprint]] hash, url) order — the same priority
    * convention as the per-site cap, so any SQL engine replays the
    * assignment) and `start_sec` = slot × the host's delay (`delayCol`,
    * `defaultDelaySec` where the host declared none) — the earliest
    * politeness-compliant fetch offset within the wave. A fetch executor
    * maps slot r of every host to its r-th request round; hosts with
    * more URLs simply extend further into the wave.
    *
    * `lastStart` (optional) is the INTER-WAVE politeness carryover: a
    * per-host frame of earliest next-fetch offsets — typically the
    * previous wave's [[nextStartOffsets]] — added to every `start_sec`
    * of that host, so a host fetched at the end of wave N is NOT hit
    * again at t=0 of wave N+1 regardless of its Crawl-delay. Hosts
    * absent from the frame (newly discovered) start at 0. Without it,
    * slots restart at 0 each wave (the single-wave behavior).
    *
    * Scale shape: ONE narrow keyed exchange on the host (the window's
    * partition key); per-host state is the window sort, bounded by the
    * upstream `maxPerSite` cap; the carryover is one equi-join against a
    * one-row-per-host frame (AQE broadcasts it at any realistic host
    * count). Output: the input columns + (slot, start_sec).
    */
  def scheduleFrontier(frontier: DataFrame, urlCol: String, hostCol: String,
                       delayCol: String,
                       defaultDelaySec: Double = 1.0,
                       lastStart: Option[DataFrame] = None,
                       lastHostCol: String = "host",
                       lastStartCol: String = "next_start_sec",
                       priorityCol: String = ""): DataFrame = {
    require(defaultDelaySec >= 0.0,
      s"defaultDelaySec must be >= 0, got $defaultDelaySec")
    // priorityCol (optional — buildFrontier's `priority` output under
    // usePriority): higher-priority URLs take earlier slots, quantized
    // to the protocol's 3-decimal grain; the deterministic (hash, url)
    // tie-break is preserved within each priority class
    val order =
      (if (priorityCol.isEmpty) Nil
       else Seq(round(coalesce(col(priorityCol), lit(0.5)) * 1000, 0).desc)) ++
      Seq(TextAnalysis.fingerprint(col(urlCol)).cast("double").asc,
        col(urlCol).asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hostCol))
      .orderBy(order: _*)
    val slotted = frontier
      .withColumn("slot", (row_number().over(w) - 1).cast("long"))
    lastStart match {
      case None => slotted.withColumn("start_sec",
        col("slot") * coalesce(col(delayCol), lit(defaultDelaySec)))
      case Some(ls) => slotted
        .join(ls.select(col(lastHostCol).as("_ls_host"),
            col(lastStartCol).cast("double").as("_ls_off")),
          col(hostCol) === col("_ls_host"), "left")
        .withColumn("start_sec",
          coalesce(col("_ls_off"), lit(0.0)) +
            col("slot") * coalesce(col(delayCol), lit(defaultDelaySec)))
        .drop("_ls_host", "_ls_off")
    }
  }

  /** The carryover frame for [[scheduleFrontier]]'s next wave: per host,
    * the earliest politeness-compliant fetch offset AFTER this wave's
    * schedule — max(start_sec) + the host's delay. One row per host;
    * feed it back as the next wave's `lastStart`.
    */
  def nextStartOffsets(schedule: DataFrame, hostCol: String,
                       delayCol: String,
                       defaultDelaySec: Double = 1.0): DataFrame = {
    require(defaultDelaySec >= 0.0,
      s"defaultDelaySec must be >= 0, got $defaultDelaySec")
    schedule.groupBy(col(hostCol).as("host"))
      .agg(max(col("start_sec") +
        coalesce(col(delayCol), lit(defaultDelaySec))).as("next_start_sec"))
  }

  /** Compact the curation half's persistent seen-fingerprint store
    * (`CurateConfig.seenDir`) — see [[compactScreenStore]]. */
  def compactSeen(spark: org.apache.spark.sql.SparkSession,
                  seenDir: String, targetFileBytes: Long = 128L << 20): Long =
    compactScreenStore(spark, seenDir, targetFileBytes)

  /** Compact the crawling half's persistent fetched-URL store
    * (`FrontierConfig.fetchedDir`) — see [[compactScreenStore]]. */
  def compactFetched(spark: org.apache.spark.sql.SparkSession,
                     fetchedDir: String, targetFileBytes: Long = 128L << 20): Long =
    compactScreenStore(spark, fetchedDir, targetFileBytes)

  /** Small-files compaction for the incremental screen stores: every
    * wave appends its own parquet file set to `seenDir`/`fetchedDir`
    * forever, so a continuous crawl's screen pays an ever-growing file
    * listing within weeks — the exact problem [[Quantizer.compact]]
    * solves for the quant store, solved the same way. Rewrites the
    * accumulated files into ~`targetFileBytes`-sized ones (sized by the
    * store's on-disk bytes, so a thousand tiny wave files fold into a
    * handful regardless of cluster width) and swaps the rewrite in
    * through [[StoreSwap.replace]]. Content is row-identical — compaction
    * never dedups, reorders semantics, or drops lanes; the screens'
    * anti-joins read the same multiset. Returns the compacted row count
    * (0 when the store does not exist yet — nothing accreted, nothing to
    * do).
    */
  def compactScreenStore(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String,
                         targetFileBytes: Long = 128L << 20): Long = {
    require(storeDir.nonEmpty, "compactScreenStore: empty store path")
    require(targetFileBytes > 0,
      s"compactScreenStore: targetFileBytes must be > 0, got $targetFileBytes")
    if (!StoreSwap.open(spark, storeDir)) return 0L
    val store = new org.apache.hadoop.fs.Path(storeDir)
    val bytes = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(store).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val rows = spark.read.parquet(storeDir)
    StoreSwap.replace(spark, storeDir)(rows.repartition(nFiles).write.parquet(_))
    spark.read.parquet(storeDir).count()
  }
}
