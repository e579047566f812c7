package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data pipelines: composite
  * quality filtering, benchmark decontamination, deterministic stratified
  * sampling, token-budget sequence packing, and vocabulary extraction.
  *
  * These sit downstream of [[TextAnalysis]] (per-row signals) and
  * [[Dedup]] (near-duplicate removal) in a real pipeline. Like those
  * modules, everything here is built from codegen'd Spark built-ins — no
  * UDFs — and all cross-engine comparisons (filter thresholds) are exact
  * integer cross-multiplications, never float comparisons, so the DuckDB
  * oracle agrees row for row at any partitioning.
  *
  * Scale notes per operator are on each method; the common theme: the
  * corpus-sized side never shuffles unless the semantics demand a global
  * order (packing), and the small side (benchmark n-grams, chunk offsets,
  * overlap hits) broadcasts.
  */
object Curation {

  /** Lowercased printable-ASCII text: the shared normalization for all
    * token-level curation ops. Non-printable ASCII (tabs/newlines
    * included) is stripped, so the only whitespace left is ' '.
    */
  private[ops] def cleanText(text: Column): Column =
    lower(TextAnalysis.asciiOnly(text))

  /** Non-empty tokens of the cleaned text. The `filter` drops the empty
    * string that `split("", ...)` yields for blank documents.
    */
  def cleanTokens(text: Column): Column =
    filter(split(trim(cleanText(text)), " +"), t => t =!= "")

  /** Distinct word n-grams (space-joined) over the cleaned tokens; empty
    * array when the document has fewer than n words.
    */
  def wordNgrams(text: Column, n: Int): Column =
    // bind the token array once: an unbound `ws` would inline the FULL
    // tokenize into every element_at and re-evaluate it per n-gram
    // position — O(len²) per row, measured 10-100× on crawl-sized docs
    TextAnalysis.bound(cleanTokens(text), ws =>
      when(size(ws) < n, array().cast("array<string>")).otherwise(
        array_distinct(transform(sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j)): _*)))))

  // ---------------- composite quality filter ----------------

  /** Failure-bit layout of [[qualityFilter]]'s `fail_mask`. */
  val FailTooFewWords = 1L      // n_words outside [minWords, maxWords]
  val FailWordLength = 2L       // mean word length outside [3, 12]
  val FailSymbolRatio = 4L      // >25% of characters are symbols
  val FailNoStopwords = 8L      // fewer than 2 stopword hits
  val FailRepetition = 16L      // top word takes >30% of the document

  /** Gopher-style composite quality filter: five cheap per-document rules
    * folded into a `fail_mask` bitmask (0 = keep). One scan, zero
    * shuffles, all signals codegen'd built-ins — at 100 TB this is the
    * cheapest pass of the pipeline and runs fused with the parquet scan.
    *
    * Thresholds are compared by integer cross-multiplication (e.g.
    * `mean_wlen < 3` is tested as `n_chars < 3 * n_words`), so the
    * keep/drop decision is exact — no float rounding can flip a document
    * across an engine boundary. The reported ratio columns are rounded to
    * 6 dp for display only.
    */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 10, maxWords: Int = 100000): DataFrame = {
    val base = qualityStats(df, idCol, textCol, Nil)
    val mask = failMaskCol(minWords, maxWords)
    base.select(
      col(idCol), col("n_words"),
      round(col("n_chars").cast("double") / greatest(col("n_words"), lit(1L)), 6).as("mean_wlen"),
      round(col("n_symbols").cast("double") / greatest(col("n_total"), lit(1L)), 6).as("symbol_frac"),
      col("n_stop"),
      round(col("top_word").cast("double") / greatest(col("n_words"), lit(1L)), 6).as("top_word_frac"),
      mask.as("fail_mask"),
      (mask === 0L).as("keep"))
  }

  /** The per-row stat pass shared by [[qualityFilter]] and
    * [[curationLog]]: one select over the text; the named `extra`
    * passthrough columns ride the same scan so composed consumers never
    * pay a join back onto the corpus.
    */
  private def qualityStats(df: DataFrame, idCol: String, textCol: String,
                           extra: Seq[Column]): DataFrame = {
    val ws = cleanTokens(col(textCol))
    val ac = cleanText(col(textCol))
    df.select(Seq(
      col(idCol),
      size(ws).cast("long").as("n_words"),
      // sum of token lengths == chars minus spaces (only ' ' survives cleanText)
      length(regexp_replace(ac, " ", "")).cast("long").as("n_chars"),
      regexp_count(ac, lit("[^a-z0-9 ]")).cast("long").as("n_symbols"),
      length(ac).cast("long").as("n_total"),
      size(filter(ws, t => array_contains(
        array(TextAnalysis.EnStopwords.map(lit): _*), t))).cast("long").as("n_stop"),
      TextAnalysis.runStats(sort_array(ws)).getField("best").cast("long").as("top_word")) ++
      extra: _*)
  }

  /** [[qualityFilter]]'s five-rule bitmask over [[qualityStats]]' columns
    * — integer cross-multiplied, never a float comparison. */
  private def failMaskCol(minWords: Int, maxWords: Int): Column =
    failMask(col("n_words"), col("n_chars"), col("n_symbols"),
      col("n_total"), col("n_stop"), col("top_word"), minWords, maxWords)

  private def failMask(nWords: Column, nChars: Column, nSymbols: Column,
                       nTotal: Column, nStop: Column, topWord: Column,
                       minWords: Int, maxWords: Int): Column = {
    val failWords = nWords < minWords || nWords > maxWords
    val failWlen = nChars < lit(3L) * nWords || nChars > lit(12L) * nWords
    val failSym = lit(4L) * nSymbols > nTotal
    val failStop = nStop < 2
    val failRep = lit(10L) * topWord > lit(3L) * nWords
    when(failWords, lit(FailTooFewWords)).otherwise(lit(0L)) +
      when(failWlen, lit(FailWordLength)).otherwise(lit(0L)) +
      when(failSym, lit(FailSymbolRatio)).otherwise(lit(0L)) +
      when(failStop, lit(FailNoStopwords)).otherwise(lit(0L)) +
      when(failRep, lit(FailRepetition)).otherwise(lit(0L))
  }

  /** [[qualityFilter]]'s decision as a pure COLUMN — the same five-rule
    * bitmask computed inline on the text, so a composed pipeline threads
    * quality as a flag (`qualityFailMask(text) === 0` to keep) on the
    * frame it already has, instead of running [[qualityFilter]] and
    * joining its survivor ids back onto the corpus. Per-row, zero
    * shuffle, zero joins; Catalyst's subexpression elimination shares the
    * tokenize across the rule terms.
    */
  def qualityFailMask(text: Column, minWords: Int = 10,
                      maxWords: Int = 100000): Column = {
    val ws = cleanTokens(text)
    val ac = cleanText(text)
    // bind the six stats once — the five-rule when-chain would otherwise
    // re-tokenize (and re-sort for the repetition rule) per CASE branch
    TextAnalysis.bound(struct(
      size(ws).cast("long").as("n_words"),
      length(regexp_replace(ac, " ", "")).cast("long").as("n_chars"),
      regexp_count(ac, lit("[^a-z0-9 ]")).cast("long").as("n_symbols"),
      length(ac).cast("long").as("n_total"),
      size(filter(ws, t => array_contains(
        array(TextAnalysis.EnStopwords.map(lit): _*), t))).cast("long").as("n_stop"),
      TextAnalysis.runStats(sort_array(ws)).getField("best").cast("long").as("top_word")),
      st => failMask(st.getField("n_words"), st.getField("n_chars"),
        st.getField("n_symbols"), st.getField("n_total"),
        st.getField("n_stop"), st.getField("top_word"), minWords, maxWords))
  }

  // ---------------- benchmark decontamination ----------------

  /** Benchmark decontamination: per training document, how many of its
    * distinct word n-grams appear anywhere in the benchmark corpus
    * (the standard eval-contamination check run before training).
    *
    * Scale design: the benchmark side (eval suites — thousands of
    * documents) is reduced to its distinct n-gram set and BROADCAST, so
    * the corpus scan never shuffles to find hits; the per-document hit
    * counts then aggregate on the narrow id key. The hits-to-base join
    * back is deliberately UNHINTED: with word n-grams against a realistic
    * benchmark suite the overlapping-document fraction of a web corpus is
    * unbounded (boilerplate phrases alone hit), so a forced broadcast of
    * the hits frame is an OOM waiting for real data — AQE broadcasts it
    * at runtime when it measures small and falls back to one id-keyed
    * shuffle when it doesn't, which is exactly the trade the semantics
    * allow. Net corpus shuffles: zero when the contaminated set is small,
    * one narrow id-keyed exchange worst-case.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 3): DataFrame = {
    val benchSet = bench.select(explode(wordNgrams(col(textCol), n)).as("ng")).distinct()
    val base = train.select(col(idCol), wordNgrams(col(textCol), n).as("ngs"))
    val hits = base.select(col(idCol), explode(col("ngs")).as("ng"))
      .join(broadcast(benchSet), "ng")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
    base.join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        size(col("ngs")).cast("long").as("n_ngrams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contam_frac",
        round(col("n_overlap").cast("double") / greatest(col("n_ngrams"), lit(1L)), 6))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** [[decontaminate]]'s hit SIDE only: the ids of training documents
    * sharing at least one word n-gram with the benchmark corpus — the
    * frame a composed pipeline anti-joins against its corpus (one
    * benchmark-set broadcast + one narrow id aggregation; the per-doc
    * n_ngrams denominator, which would force a second corpus pass, never
    * computes).
    */
  def contaminatedIds(train: DataFrame, bench: DataFrame, idCol: String,
                      textCol: String, n: Int = 3): DataFrame = {
    val benchSet = bench.select(explode(wordNgrams(col(textCol), n)).as("ng")).distinct()
    train.select(col(idCol), explode(wordNgrams(col(textCol), n)).as("ng"))
      .join(broadcast(benchSet), "ng")
      .select(col(idCol)).distinct()
  }

  // ---------------- deterministic stratified sampling ----------------

  /** Multiplicative id hash in exact BIGINT arithmetic — the same
    * restatable form [[Ann.ivfCentroids]] uses for its deterministic
    * sample order: products stay under 2^63 for any id, and every engine
    * computes it identically.
    */
  def idHash(id: Column): Column =
    pmod(pmod(id, lit(1000003L)) * lit(2654435761L), lit(1000000007L))

  /** Full-range deterministic id hash for per-row PRIORITIES (not
    * buckets): both 31-bit halves of the id feed two independent
    * multiplicative mixes, combined into a value in [0, 2^53) — exact in
    * BIGINT (every intermediate stays under 2^63, so DuckDB restates it
    * verbatim) and exact when cast to double (< 2^53). Unlike [[idHash]]
    * (which reduces to ≤1000003 residues first — fine for permille
    * buckets, but a key with >1M rows would see large tie classes broken
    * by ascending id, biasing selection toward low ids), this yields
    * ~8×10^15 distinct priorities: collision-free in expectation up to
    * ~10^8 rows per key.
    */
  def idHash53(id: Column): Column = {
    val lo = pmod(id, lit(2147483648L))           // low 31 bits
    // (id - lo) is an exact multiple of 2^31, so the double division is
    // lossless for ANY long id (a raw id/2^31 would round past 2^53)
    val hi = ((id - lo) / lit(2147483648L)).cast("long")
    val h1 = pmod(lo * lit(2654435761L) + hi * lit(40503L), lit(1000000007L))
    val h2 = pmod(lo * lit(2246822519L) + hi * lit(69069L), lit(8388593L))
    h1 * lit(8388608L) + h2                        // < 2^53
  }

  /** Deterministic stratified sampling: keep a row iff its id-hash bucket
    * (0..999) falls under the stratum's per-mille rate. A pure filter —
    * zero shuffles, trivially reproducible (re-running on the same ids
    * selects the same rows, the property training-data curation needs for
    * audit), and rates are exact: bucket occupancy is uniform over ids.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       ratesPermille: Map[String, Int],
                       defaultPermille: Int): DataFrame = {
    val rate = ratesPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("sample_bucket", pmod(idHash(col(idCol)), lit(1000L)))
      .where(col("sample_bucket") < rate)
  }

  /** Deterministic train/validation/test assignment: the id-hash bucket
    * (0..99) is compared against cumulative percent cut points —
    * `< trainPct` → train, `< trainPct+valPct` → val, else test. A pure
    * projection (zero shuffles) whose assignment is a function of the id
    * alone, so (a) re-runs and incremental appends land every document in
    * the same split — no leakage when the corpus grows — and (b) any
    * engine can recompute the assignment for audit (exact BIGINT hash,
    * [[idHash]]). The split column partitions a write cleanly
    * (`partitionBy("split")` → three directories, no shuffle).
    */
  def assignSplit(df: DataFrame, idCol: String,
                  trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percents ($trainPct, $valPct)")
    val bucket = pmod(idHash(col(idCol)), lit(100L))
    df.withColumn("split",
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + valPct, lit("val"))
        .otherwise(lit("test")))
  }

  /** Per-key document cap — crawl curation's "at most n pages per domain".
    * Selection is deterministic: each key keeps the n rows with the
    * smallest ([[idHash53]], id) priority, i.e. a reproducible uniform
    * sample of the key's rows rather than "whatever arrived first". The
    * priority is full-range (~2^53 values, exact in both BIGINT and
    * double), so selection stays unbiased even on mega-keys.
    *
    * Scale shape: ONE shuffle on the key into the bounded-heap
    * [[graft.functions.knn_topk]] aggregate — O(n) state per key per task,
    * partial aggregation map-side, only per-task winners cross the
    * exchange. The window-function alternative (`row_number() OVER
    * (PARTITION BY key)`) must sort every key's full row set and breaks
    * down on a skewed mega-domain; the heap never holds more than n
    * entries regardless of skew.
    */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, n: Int): DataFrame =
    df.groupBy(col(keyCol))
      .agg(graft.functions.knn_topk(
        idHash53(col(idCol)).cast("double"), col(idCol), n).as("_kept"))
      .select(col(keyCol), explode(col("_kept")).as("_k"))
      .select(col(keyCol), col("_k.id").as(idCol))

  /** [[capPerKey]]'s decision as a THRESHOLD table: one row per key with
    * the n-th smallest ([[idHash53]], id) pair — `(cut_h, cut_id)` — so a
    * composed pipeline keeps a row iff its own (hash, id) pair is
    * lexicographically ≤ its key's cutoff. Selects exactly
    * [[capPerKey]]'s rows (a key with fewer than n rows gets its max
    * pair, which keeps everything), but the frame joined back onto the
    * corpus is one row per KEY instead of n — broadcastable n× longer,
    * and the corpus text never exchanges while it is.
    */
  def capThresholds(df: DataFrame, keyCol: String, idCol: String, n: Int): DataFrame =
    df.groupBy(col(keyCol))
      .agg(graft.functions.knn_topk(
        idHash53(col(idCol)).cast("double"), col(idCol), n).as("_kept"))
      .select(col(keyCol), element_at(col("_kept"), size(col("_kept"))).as("_cut"))
      .select(col(keyCol), col("_cut.distance").as("cut_h"), col("_cut.id").as("cut_id"))

  /** The row-side keep predicate matching [[capThresholds]]' cutoff
    * columns: (idHash53(id), id) ≤ (cut_h, cut_id) lexicographically.
    * Exact in double — idHash53 < 2^53.
    */
  def capKeepCol(id: Column, cutH: Column, cutId: Column): Column = {
    val h = idHash53(id).cast("double")
    h < cutH || (h === cutH && id <= cutId)
  }

  /** Weighted resampling WITH repetition — the data-mixing step that
    * up-samples low-resource strata (weights > 1000‰ replicate rows) and
    * down-samples others, deterministically: a stratum at weight w‰ emits
    * `w div 1000` copies of every row plus one more iff the row's hash
    * bucket falls under `w mod 1000`. Expected multiplicity is exactly
    * w/1000 per row, realized multiplicity differs by at most 1, and the
    * selection is reproducible from ids alone.
    *
    * Scale: one `explode` over a per-row `sequence` — no shuffle, no join;
    * output size is the mixture's inherent size. `copy` (0-based) lets
    * downstream consumers salt the replicas apart (e.g. into different
    * packs of [[packSequences]]).
    */
  def resampleWeighted(df: DataFrame, idCol: String, strataCol: String,
                       weightsPermille: Map[String, Int],
                       defaultPermille: Int): DataFrame = {
    val w = weightsPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val wl = w.cast("long")
    val copies = floor(wl / 1000.0).cast("long") +
      when(pmod(idHash(col(idCol)), lit(1000L)) < pmod(wl, lit(1000L)), 1L)
        .otherwise(0L)
    df.withColumn("n_copies", copies)
      .where(col("n_copies") > 0)
      .select(col("*"), explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
      .drop("n_copies")
  }

  /** Temperature-flattened domain mixture — the α-scaled sampling of
    * multilingual/multi-domain LM corpora (mC4 / XLM-R style): domain d
    * holding n_d of the corpus's N rows is resampled toward share
    * n_d^α / Σ n_d^α. α = 1 keeps the natural mixture, α → 0 approaches
    * uniform-over-domains; α ∈ (0, 1) upweights small domains, possibly
    * past rate 1.0, in which case their rows repeat
    * ([[resampleWeighted]]'s copy semantics).
    *
    * Everything is declarative and engine-exact, so the mixture is
    * auditable by restatement: per-domain counts are one narrow
    * aggregate; n_d^α is rounded to 9 dp and summed as DECIMAL(38,9)
    * (exact, order-independent); the per-mille rate is
    * `floor(1000·(p_d/S)·N/n_d + 0.5)` evaluated in doubles with an
    * identical expression tree on any engine; per-row multiplicity comes
    * from the exact-BIGINT [[idHash]] bucket exactly as in
    * [[resampleWeighted]].
    *
    * Scale: one count shuffle on the domain key + a broadcast of the
    * per-domain rate table back onto the corpus — the corpus itself never
    * shuffles, and the output is the mixture's inherent size. Appends
    * `permille` (the domain's realized rate) and `copy` (0-based replica
    * index) to the input columns.
    */
  def temperatureMixture(df: DataFrame, idCol: String, domainCol: String,
                         alpha: Double): DataFrame = {
    val sizes = df.groupBy(col(domainCol).as("_dom")).agg(count(lit(1)).as("_n"))
    val weighted = sizes.withColumn("_p",
      round(pow(col("_n").cast("double"), lit(alpha)), 9).cast("decimal(38,9)"))
    val tot = weighted.agg(sum(col("_p")).as("_s"), sum(col("_n")).as("_t"))
    val rates = weighted.crossJoin(broadcast(tot)).select(col("_dom"),
      floor(lit(1000.0) * (col("_p").cast("double") / col("_s").cast("double"))
          * col("_t") / col("_n") + lit(0.5))
        .cast("long").as("permille"))
    val copies = floor(col("permille") / 1000.0).cast("long") +
      when(pmod(idHash(col(idCol)), lit(1000L)) < pmod(col("permille"), lit(1000L)), 1L)
        .otherwise(0L)
    df.join(broadcast(rates), col(domainCol) === col("_dom"))
      .withColumn("n_copies", copies)
      .where(col("n_copies") > 0)
      .select(df.columns.map(col) ++ Seq(col("permille"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy")): _*)
  }

  // ---------------- token-budget sequence packing ----------------

  /** Concat-and-split sequence packing: documents are laid end to end in
    * id order (subword token counts, [[TextAnalysis.subwordTokenCount]])
    * and the stream is cut every `budget` tokens — each document gets its
    * `start_offset` in the global token stream, its `pack_id`
    * (= start_offset div budget), and whether it straddles a pack
    * boundary (`crosses`). This is the packed-pretraining layout where
    * documents may span batch boundaries.
    *
    * A global running sum is inherently sequential, so it is computed as
    * a two-level prefix sum rather than one single-partition window:
    * per-chunk windows (chunk = id div `chunkSpan`, preserving id order)
    * run fully parallel, and only the chunk TOTALS — corpus/`chunkSpan`
    * rows — pass through the small ordered window before broadcasting
    * back as per-chunk base offsets. At 10^11 documents and the default
    * span that second level is ~10^7 skinny rows; if even that outgrows
    * one task, the same scheme applies to it recursively.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Long = 2048L, chunkSpan: Long = 4096L): DataFrame = {
    val t = df.select(col(idCol),
      TextAnalysis.subwordTokenCount(col(textCol)).as("n_tokens"))
      .withColumn("chunk", expr(s"$idCol div $chunkSpan"))
    val w = Window.partitionBy("chunk").orderBy(idCol)
    val cum = t.withColumn("cum_incl", sum(col("n_tokens")).over(w))
    // chunk-level rollup is ~rows/chunkSpan entries (bounded, see scaladoc);
    // the explicit single-bucket partition key (pmod(chunk,1) ≡ 0,
    // non-foldable so it survives optimization) documents the spec
    // instead of WindowExec's implicit empty one
    val bases = t.groupBy("chunk").agg(sum("n_tokens").as("chunk_tot"))
      .withColumn("chunk_base",
        coalesce(sum("chunk_tot").over(
          Window.partitionBy(pmod(col("chunk"), lit(1L))).orderBy("chunk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("chunk", "chunk_base")
    cum.join(broadcast(bases), "chunk")
      .select(col(idCol), col("n_tokens"),
        (col("chunk_base") + col("cum_incl") - col("n_tokens")).as("start_offset"))
      .withColumn("pack_id", expr(s"start_offset div $budget"))
      .withColumn("crosses", col("n_tokens") > 0 &&
        expr(s"(start_offset + n_tokens - 1) div $budget") =!= col("pack_id"))
  }

  /** [[packSequences]] with the input frame's columns CARRIED through the
    * prefix-sum window — the composed-pipeline form: the corpus crosses
    * exactly ONE chunk-keyed exchange (the window partitioning) and never
    * joins back by id to reattach its payload (the bases rollup is a
    * narrow second scan feeding a broadcast). Output = df's columns +
    * (n_tokens, start_offset, pack_id, crosses), same values as
    * [[packSequences]].
    */
  def packSequencesCarry(df: DataFrame, idCol: String, textCol: String,
                         budget: Long = 2048L, chunkSpan: Long = 4096L): DataFrame = {
    val t = df.withColumn("n_tokens", TextAnalysis.subwordTokenCount(col(textCol)))
      .withColumn("_chunk", expr(s"$idCol div $chunkSpan"))
    val w = Window.partitionBy("_chunk").orderBy(idCol)
    val cum = t.withColumn("_cum_incl", sum(col("n_tokens")).over(w))
    val bases = t.groupBy("_chunk").agg(sum("n_tokens").as("_chunk_tot"))
      .withColumn("_chunk_base",
        coalesce(sum("_chunk_tot").over(
          Window.partitionBy(pmod(col("_chunk"), lit(1L))).orderBy("_chunk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_chunk"), col("_chunk_base"))
    cum.join(broadcast(bases), "_chunk")
      .withColumn("start_offset",
        col("_chunk_base") + col("_cum_incl") - col("n_tokens"))
      .withColumn("pack_id", expr(s"start_offset div $budget"))
      .withColumn("crosses", col("n_tokens") > 0 &&
        expr(s"(start_offset + n_tokens - 1) div $budget") =!= col("pack_id"))
      .drop("_chunk", "_cum_incl", "_chunk_base")
  }

  /** NO-SPLIT sequence packing by first-fit-decreasing over the LENGTH
    * HISTOGRAM — the padding-minimizing counterpart to [[packSequences]]
    * (which concatenates and lets documents straddle pack boundaries):
    * every document lands wholly inside one pack of capacity `budget`,
    * and the assignment is computed from the length histogram alone, so
    * the driver never sees per-document state (the idea behind
    * histogram-based packing in Krell et al. 2021, "Efficient Sequence
    * Packing without Cross-contamination", arXiv:2107.02027 — there
    * SPFHP; here count-space best-fit-decreasing, which is the FFD
    * item order with bins grouped by content).
    *
    * Mechanics: one groupBy(n_tokens) histogram (≤ `budget` rows — a
    * bounded driver read), a count-space FFD producing pack STRATEGIES
    * (distinct content multisets with occurrence counts — bins never
    * materialize individually, so corpus size never touches the driver),
    * then a broadcast slot table maps each document's rank WITHIN its
    * length class to (pack, slot) by pure arithmetic. Docs longer than
    * `budget` fail fast (chunk first). Deterministic: ranks order by id,
    * strategies by construction order — re-running reproduces the same
    * packing bit for bit (spec-asserted, any partitioning).
    *
    * Ranking within a length class is TWO-LEVEL (the [[packSequences]]
    * scheme applied per class): ranks are local to (class, id-chunk)
    * windows and a broadcast per-(class, chunk) base table lifts them to
    * class-global — so a corpus where one length dominates (the
    * fixed-width-chunk corpus: most docs identical length) still ranks
    * across rows/chunkSpan parallel tasks instead of serializing the
    * class into one. The base rollup is ≤ #classes × #chunks rows, the
    * same boundedness argument as packSequences' chunk bases. Output:
    * (id, n_tokens, pack_id, slot); pack_id dense from 0, Σ n_tokens ≤
    * budget per pack.
    */
  def packBinsFfd(df: DataFrame, idCol: String, textCol: String,
                  budget: Long = 2048L, chunkSpan: Long = 4096L): DataFrame = {
    require(chunkSpan >= 1, s"chunkSpan must be >= 1, got $chunkSpan")
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val lens = df.select(col(idCol),
      TextAnalysis.subwordTokenCount(col(textCol)).as("n_tokens"))
    val hist = lens.groupBy("n_tokens").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    require(hist.isEmpty || hist.head._1 <= budget,
      s"packBinsFfd: longest document (${hist.headOption.map(_._1).getOrElse(0L)} tokens) " +
        s"exceeds budget=$budget — chunk before packing")
    // count-space FFD: strategies are (content multiset, remaining,
    // occurrence count); placing length l fills the BEST-FIT class
    // (smallest remaining >= l, ties to oldest strategy) to capacity,
    // exactly the item-by-item FFD order
    final case class Strat(content: Map[Long, Long], rem: Long, n: Long, ord: Int)
    var strats = Vector.empty[Strat]
    var nextOrd = 0
    for ((len, count0) <- hist if len > 0) {
      var c = count0
      while (c > 0) {
        val fit = strats.zipWithIndex
          .filter { case (s, _) => s.rem >= len && s.n > 0 }
          .sortBy { case (s, _) => (s.rem, s.ord) }.headOption
        fit match {
          case None =>
            // open fresh bins: fill each to capacity m with this length
            val m = budget / len
            val fullBins = c / m
            if (fullBins > 0) {
              strats :+= Strat(Map(len -> m), budget - m * len, fullBins, nextOrd); nextOrd += 1
            }
            val partial = c - fullBins * m
            if (partial > 0) {
              strats :+= Strat(Map(len -> partial), budget - partial * len, 1L, nextOrd); nextOrd += 1
            }
            c = 0
          case Some((s, i)) =>
            val m = s.rem / len                 // capacity per bin of this class
            val binsNeeded = (c + m - 1) / m
            val fullBins = math.min(s.n, c / m)
            val useBins = math.min(s.n, binsNeeded)
            // full bins take m items; one partial bin (if room in this class)
            if (fullBins > 0) {
              strats :+= Strat(s.content.updated(len, s.content.getOrElse(len, 0L) + m),
                s.rem - m * len, fullBins, nextOrd); nextOrd += 1
              c -= fullBins * m
            }
            if (useBins > fullBins && c > 0) {
              strats :+= Strat(s.content.updated(len, s.content.getOrElse(len, 0L) + c),
                s.rem - c * len, 1L, nextOrd); nextOrd += 1
              c = 0
            }
            val used = math.max(fullBins, math.min(useBins, fullBins + 1))
            strats = strats.updated(i, s.copy(n = s.n - used))
        }
        strats = strats.filter(_.n > 0)
        require(strats.size <= 100000,
          "packBinsFfd: strategy explosion — raise budget granularity or pre-bucket lengths")
      }
    }
    // freeze: deterministic pack-id bases in strategy order
    val finalStrats = strats.sortBy(_.ord)
    val packBases = finalStrats.scanLeft(0L)((acc, s) => acc + s.n)
    // slot table: per (length, strategy): rank base within the length
    // class, slots per occurrence, occurrences, pack base
    val slotRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]
    val rankBase = scala.collection.mutable.Map.empty[Long, Long]
    for ((s, si) <- finalStrats.zipWithIndex) {
      var slotBase = 0L // global slot index within the pack, across lengths
      for ((len, nSlots) <- s.content.toSeq.sortBy(_._1)) {
        val base = rankBase.getOrElse(len, 0L)
        slotRows += ((len, base, nSlots, s.n, packBases(si), slotBase))
        rankBase(len) = base + nSlots * s.n
        slotBase += nSlots
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    val slots = slotRows.toSeq
      .toDF("n_tokens", "rank_base", "n_slots", "occurrences", "pack_base", "slot_base")
    // two-level rank: local row_number within (class, id-chunk), lifted
    // by broadcast per-(class, chunk) bases — identical to the global
    // per-class id rank (spec-asserted across chunkSpans), parallel in
    // rows/chunkSpan tasks even when one length class dominates
    val lens2 = lens.where(col("n_tokens") > 0)
      .withColumn("_chunk", expr(s"$idCol div $chunkSpan"))
    val local = lens2.withColumn("_lr", row_number().over(
      Window.partitionBy(col("n_tokens"), col("_chunk")).orderBy(col(idCol)))
        .cast("long") - 1L)
    val bases = lens2.groupBy("n_tokens", "_chunk").agg(count(lit(1)).as("_cnt"))
      .withColumn("_cbase", coalesce(sum("_cnt").over(
        Window.partitionBy("n_tokens").orderBy("_chunk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("n_tokens", "_chunk", "_cbase")
    val ranked = local.join(broadcast(bases), Seq("n_tokens", "_chunk"))
      .withColumn("_rank", col("_cbase") + col("_lr"))
    ranked.join(broadcast(slots), Seq("n_tokens"))
      .where(col("_rank") >= col("rank_base") &&
        col("_rank") < col("rank_base") + col("n_slots") * col("occurrences"))
      .select(col(idCol), col("n_tokens"),
        // exact integral division: Column `/` on longs detours through
        // IEEE double, which can truncate to the wrong pack near 2^53 and
        // silently diverges from the oracle's integral `//`
        (col("pack_base") +
          graft.functions.long_div(col("_rank") - col("rank_base"), col("n_slots"))).as("pack_id"),
        (col("slot_base") + pmod(col("_rank") - col("rank_base"), col("n_slots"))).as("slot"))
  }

  // ---------------- vocabulary extraction ----------------

  /** Corpus vocabulary: the `topN` most frequent cleaned tokens, ordered
    * by (count desc, token asc) — the seed list for tokenizer training
    * and stopword mining. Partial aggregation combines counts map-side,
    * so the shuffle carries one (token, count) pair per distinct token
    * per task, not one row per occurrence; the top-N itself is a
    * TakeOrdered, never a global sort.
    */
  def vocabTop(df: DataFrame, textCol: String, topN: Int = 100): DataFrame =
    df.select(explode(cleanTokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(topN)

  /** Exact top-N vocabulary WITHOUT a full-vocabulary shuffle — the
    * 100 TB form of [[vocabTop]]. [[vocabTop]]'s `groupBy(token)`
    * exchanges the corpus-wide vocabulary (billions of keys on web text);
    * here a Misra-Gries sketch ([[graft.functions.freq_items_sketch]])
    * folds each partition into ≤ `sketchK` counters, only sketch-sized
    * summaries cross the wire, and the ≤ sketchK candidates are then
    * exactly recounted via a broadcast semi-join and ranked.
    *
    * The output is EXACT (not approximate) whenever the true N-th count
    * exceeds n_tokens/(sketchK+1): Misra-Gries guarantees every such item
    * is in the candidate set, and the recount restores exact counts.
    * Size sketchK ≥ ~50× topN for comfortable margins on Zipfian text.
    */
  def heavyHitters(df: DataFrame, textCol: String, topN: Int,
                   sketchK: Int, certify: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val toks = df.select(explode(cleanTokens(col(textCol))).as("token"))
    // ONE scan produces both the sketch and the exact token total — the
    // total certifies the result below at zero extra passes
    val skRow = toks.agg(
      graft.functions.freq_items_sketch(col("token"), sketchK).as("sk"),
      count(lit(1)).as("n_tokens")).head()
    val nTokens = skRow.getLong(1)
    val candTokens = skRow.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    import spark.implicits._
    val cands = candTokens.toDF("token")
    val out = toks.join(broadcast(cands), "token")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(topN)
    if (!certify) return out
    // Exactness certificate (free: the rows are topN and already needed):
    // Misra-Gries guarantees presence only for counts > n/(k+1). If the
    // weakest returned count clears that bound, NO absent token can beat
    // it, so the top-N is provably exact; otherwise fail fast rather than
    // return a silently-unverifiable list (raise sketchK or lower topN).
    val rows = out.collect()
    val bound = nTokens / (sketchK + 1L)
    if (rows.nonEmpty)
      require(rows.last.getLong(1) > bound,
        s"heavyHitters uncertifiable: rank-${rows.length} count ${rows.last.getLong(1)} " +
          s"<= n/(k+1) = $bound (n=$nTokens, sketchK=$sketchK) — raise sketchK")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Out-of-vocabulary rate per document against the corpus top-`topN`
    * vocabulary — the cheap gibberish/foreign-text signal (a doc whose
    * tokens mostly miss the corpus head vocabulary is noise, code, or
    * the wrong language; CCNet-style pipelines threshold exactly this).
    *
    * Scale shape: [[vocabTop]]'s narrow-key (token, count) aggregation
    * is the only exchange; the ≤`topN`-row vocabulary (a bounded driver
    * read, enforced) then rides into the scoring scan as a literal MAP —
    * `map_contains_key` is an O(1) hash probe per token (an
    * `array_contains` literal would be an O(topN) linear scan per token,
    * 10⁴× slower at the cap) — so the corpus never shuffles for scoring
    * and the pass is one scan. The cap (10⁴) bounds the plan-embedded
    * literal to ~100 KB (the repo's oversized-literal rule: huge plan
    * constants make every plan dump unwieldy); a larger head vocabulary
    * wants the broadcast-join formulation instead. `oov_frac` lands on
    * the q20 binary grid (round(x·2²⁰)/2²⁰): the scaling is exact IEEE,
    * so both engines round the identical double and cross-engine hashes
    * match at any SF.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              topN: Int = 100): DataFrame = {
    require(topN >= 1 && topN <= 10000,
      s"oovRate: topN must be in [1, 10000], got $topN (broadcast-join a bigger vocab)")
    val vocab = vocabTop(df, textCol, topN).select("token")
      .collect().map(_.getString(0)).toSeq
    val inVocab: Column => Column =
      if (vocab.isEmpty) _ => lit(false)
      else {
        val m = map(vocab.flatMap(v => Seq(lit(v), lit(true))): _*)
        t => coalesce(map_contains_key(m, t), lit(false))
      }
    val toks = cleanTokens(col(textCol))
    df.select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => !inVocab(t))).cast("long").as("n_oov"))
      .withColumn("oov_frac",
        round(col("n_oov").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double") * 1048576.0) / 1048576.0)
  }

  /** Blocklist ("bad words") document filter — the C4-style step that
    * drops any document containing a blocklisted word OR PHRASE at the
    * cleaned-token grain ("assess" never matches a blocked "ass", and a
    * blocked "slow key" only matches those two tokens ADJACENT; substring
    * matching is the classic false-positive bug this operator
    * deliberately avoids). Returns every document with its hit count
    * (every occurrence of every blocked entry) and the keep verdict so
    * callers can audit the cut rather than silently lose rows (the same
    * observability contract as [[qualityFilter]]'s fail-mask).
    *
    * Scale shape: entries group by word count; each length-k group rides
    * as a literal MAP probed against the document's k-gram stream (O(1)
    * per gram, same rationale as [[oovRate]]) — one codegen'd pass over
    * the token array per distinct phrase length, zero shuffle,
    * plan-literal bounded by the 10⁴ entry cap.
    */
  def blocklistFilter(df: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.size <= 10000,
      s"blocklistFilter: terms must be in [1, 10000], got ${terms.size}")
    // normalize each entry with the SAME chain as the document side
    // ([[cleanTokens]]: printable-ASCII strip, THEN lowercase — order
    // matters for chars like U+212A that lowercase INTO ASCII — then
    // space-split). An entry a document token stream can never produce
    // (all chars non-printable-ASCII) is rejected rather than silently
    // dead.
    val cleaned = terms.map(t =>
      t.replaceAll("[^ -~]", "").toLowerCase.trim.split(" +").toSeq.filter(_.nonEmpty))
    require(cleaned.forall(_.nonEmpty),
      "blocklistFilter: each term must contain at least one printable-ASCII word " +
        "(entries are matched at the cleaned-token grain and would otherwise never hit)")
    require(cleaned.forall(_.size <= 8),
      "blocklistFilter: phrases longer than 8 words are unsupported")
    val toks = cleanTokens(col(textCol))
    val hitCount = cleaned.groupBy(_.size).toSeq.sortBy(_._1).map {
      case (k, entries) =>
        val m = map(entries.map(_.mkString(" ")).distinct
          .flatMap(v => Seq(lit(v), lit(true))): _*)
        val grams =
          if (k == 1) toks
          else when(size(toks) < k, array().cast("array<string>")).otherwise(
            transform(sequence(lit(1), size(toks) - (k - 1)),
              i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*)))
        size(filter(grams, g => coalesce(map_contains_key(m, g), lit(false))))
    }.reduce(_ + _)
    df.select(col(idCol), hitCount.cast("long").as("n_blocked"))
      .withColumn("kept", col("n_blocked") === 0L)
  }

  /** Per-group z-score normalization — the feature-scaling stage of a
    * curation/mixing pipeline ("normalize quality scores within each
    * language"), with the statistics made engine-exact: Σx and Σx² are
    * exact DECIMAL sums over ONE window shuffle on the group key, and the
    * per-row (x − μ)/σ is the identical double expression tree on any
    * engine (the variance_by_lang contract applied per row; sample
    * variance, n − 1). Single-row and zero-variance groups normalize to
    * z = 0. Output: input columns + `z` (rounded 6 dp).
    */
  def zscoreByGroup(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val n = count(lit(1)).over(w)
    val s1 = sum(col(valueCol).cast("decimal(38,0)")).over(w).cast("double")
    val s2 = sum((col(valueCol) * col(valueCol)).cast("decimal(38,0)")).over(w).cast("double")
    val variance = (s2 - s1 * s1 / n) / (n - 1)
    df.withColumn("z",
      when(n === 1 || variance <= 0, lit(0.0))
        .otherwise(round((col(valueCol) - s1 / n) / sqrt(variance), 6)))
  }

  /** Count-min-sketch point-frequency estimates for `candidates`, checked
    * against the exact counts — the fixed-size (width × depth counters)
    * frequency summary that answers "how often does key k appear" over a
    * 100 TB stream without a per-key shuffle, next to Misra-Gries
    * ([[heavyHitters]], top-N identity) and HLL (hll_distinct,
    * cardinality) in the sketch family.
    *
    * Built with Spark's distributed `count_min_sketch` aggregate (merged
    * map-side; counter adds commute, so the sketch is deterministic for a
    * fixed seed regardless of row order/partitioning). Output rows carry
    * the CMS guarantee as an `ok` flag: est ∈ [exact, exact + 3·eps·N]
    * — one-sided error is structural (CMS never undercounts), and with
    * depth = ⌈ln 1/(1−confidence)⌉ rows the chance any query exceeds
    * 3·eps·N is ≤ (3e)^-depth per query (Markov per row, min over rows),
    * vanishing at the defaults.
    */
  def cmsCounts(df: DataFrame, keyCol: String, candidates: Seq[Long],
                eps: Double = 1e-4, confidence: Double = 0.999,
                seed: Int = 1): DataFrame = {
    val spark = df.sparkSession
    val skBytes = df.agg(
      expr(s"count_min_sketch($keyCol, CAST($eps AS DOUBLE), CAST($confidence AS DOUBLE), $seed)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    val bound = math.ceil(3.0 * eps * cms.totalCount()).toLong
    import spark.implicits._
    val est = broadcast(candidates.map(k => (k, cms.estimateCount(k)))
      .toDF(keyCol, "est"))
    df.where(col(keyCol).isin(candidates: _*))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("exact_n"))
      .join(est, keyCol)
      .select(col(keyCol), col("exact_n"),
        (col("est") >= col("exact_n") && col("est") <= col("exact_n") + bound).as("ok"))
  }

  /** Linear quality classifier — the fastText-style model-scoring stage
    * of a curation pipeline, with the inference arithmetic made exact:
    * weights are given in integer MICROS over integer-exact text features
    * (word, stopword, symbol counts), so the logit is an exact BIGINT
    * computed per-row in codegen, zero shuffle. The accept decision is
    * sign-exact without evaluating any transcendental:
    * sigmoid(z) > 0.5 ⇔ z > 0, so classification never touches exp().
    * A trained model slots in by replacing the weight map.
    */
  def scoreLinear(df: DataFrame, idCol: String, textCol: String,
                  wMicro: Map[String, Long] = Map(
                    "bias" -> -3000000L, "n_words" -> 40000L,
                    "n_stop" -> 300000L, "n_symbols" -> -200000L)): DataFrame = {
    val ws = cleanTokens(col(textCol))
    val ac = cleanText(col(textCol))
    df.select(col(idCol),
        size(ws).cast("long").as("n_words"),
        regexp_count(ac, lit("[^a-z0-9 ]")).cast("long").as("n_symbols"),
        size(filter(ws, t => array_contains(
          array(TextAnalysis.EnStopwords.map(lit): _*), t))).cast("long").as("n_stop"))
      .select(col(idCol),
        (lit(wMicro("bias")) + lit(wMicro("n_words")) * col("n_words") +
          lit(wMicro("n_stop")) * col("n_stop") +
          lit(wMicro("n_symbols")) * col("n_symbols")).as("logit_micro"))
      .select(col(idCol), col("logit_micro"),
        (col("logit_micro") > 0).as("accept"))
  }

  /** Distributed training for the quality classifier — the half of the
    * fastText-style pipeline [[scoreLinear]] only infers: batch
    * gradient-descent logistic regression over exact per-document text
    * features, FineWeb-class pipelines train such classifiers on-corpus.
    *
    * Engine-exact by construction, the [[Graph.pageRank]] round-replay
    * recipe: features sit on binary grids (counts / 2^k — exact in
    * double), the sigmoid is the softsign surrogate
    * `σ̃(z) = 0.5 + 0.5·z/(1+|z|)` (only +,*,/,abs — IEEE-identical on
    * every engine, where exp() is not required to be correctly rounded),
    * per-document gradient terms `(σ̃(w·x) − y)·x_j` are rounded to 9 dp
    * and summed as DECIMAL(38,9) (exact, order-independent — the
    * distributed reduce cannot jitter), and the weight update
    * `w_j − lr·(G_j/n)` re-rounds to 9 dp. A fixed round count replays
    * verbatim on an independent SQL engine.
    *
    * Labels are the stopword-density rule `4·n_stop ≥ n_words` — the
    * weak-supervision signal a curation pipeline would bootstrap from
    * (any engine-exact labeling rule slots in via `labelCol` logic
    * below). Scale shape: the feature projection is one scan
    * (materialized once via localCheckpoint — swap for a parquet stage
    * on a real cluster); each round is ONE aggregation job whose shuffle
    * is 4 decimals per partition, plus a driver-side 4-scalar update.
    *
    * Returns the weight vector [bias, w_words/128, w_stop/32,
    * w_symbols/64] as 9-dp decimals.
    */
  def logregTrain(df: DataFrame, idCol: String, textCol: String,
                  rounds: Int = 3, lr: Double = 0.5): Array[java.math.BigDecimal] = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = df.sparkSession
    val ws = cleanTokens(col(textCol))
    val ac = cleanText(col(textCol))
    val (feats, releaseFeats) = Dedup.materialize(df.select(
        size(ws).cast("long").as("n_words"),
        regexp_count(ac, lit("[^a-z0-9 ]")).cast("long").as("n_symbols"),
        size(filter(ws, t => array_contains(
          array(TextAnalysis.EnStopwords.map(lit): _*), t))).cast("long").as("n_stop"))
      .select(
        lit(1.0).as("x0"),
        (col("n_words").cast("double") / 128.0).as("x1"),
        (col("n_stop").cast("double") / 32.0).as("x2"),
        (col("n_symbols").cast("double") / 64.0).as("x3"),
        when(col("n_stop") * 4L >= col("n_words"), 1.0).otherwise(0.0).as("y")),
      Dedup.Barrier.LocalCheckpoint)
    var w = Array.fill(4)(java.math.BigDecimal.ZERO.setScale(9))
    for (_ <- 1 to rounds) {
      val z = lit(w(0).doubleValue) * col("x0") + lit(w(1).doubleValue) * col("x1") +
        lit(w(2).doubleValue) * col("x2") + lit(w(3).doubleValue) * col("x3")
      val e = lit(0.5) + (lit(0.5) * z) / (lit(1.0) + abs(z)) - col("y")
      def g(xj: String) =
        sum(graft.functions.fast_round(e * col(xj), 9).cast("decimal(38,9)"))
      val row = feats.agg(g("x0"), g("x1"), g("x2"), g("x3"), count(lit(1))).head()
      val n = row.getLong(4).toDouble
      // the 4-scalar update runs through the SAME fast_round expression
      // the per-row terms used, so driver and oracle round identically
      val upd = spark.range(1).select((0 to 3).map { j =>
        graft.functions.fast_round(
          lit(w(j).doubleValue) - lit(lr) * (lit(row.getDecimal(j).doubleValue) / lit(n)),
          9).cast("decimal(38,9)").as(s"w$j")
      }: _*).head()
      w = Array.tabulate(4)(j => upd.getDecimal(j))
    }
    releaseFeats() // free the feature checkpoint's executor blocks
    w
  }

  /** Inference with a [[logregTrain]] model: per-document softsign
    * probability (6 dp) and the sign-exact accept decision
    * (`σ̃(z) > 0.5 ⇔ z > 0`, no transcendental — same guarantee as
    * [[scoreLinear]]). One codegen'd scan, zero shuffle.
    */
  def logregScore(df: DataFrame, idCol: String, textCol: String,
                  w: Array[java.math.BigDecimal]): DataFrame = {
    require(w.length == 4, s"expected 4 weights, got ${w.length}")
    val ws = cleanTokens(col(textCol))
    val ac = cleanText(col(textCol))
    df.select(col(idCol),
        size(ws).cast("long").as("n_words"),
        regexp_count(ac, lit("[^a-z0-9 ]")).cast("long").as("n_symbols"),
        size(filter(ws, t => array_contains(
          array(TextAnalysis.EnStopwords.map(lit): _*), t))).cast("long").as("n_stop"))
      .select(col(idCol),
        (lit(w(0).doubleValue) * lit(1.0) +
          lit(w(1).doubleValue) * (col("n_words").cast("double") / 128.0) +
          lit(w(2).doubleValue) * (col("n_stop").cast("double") / 32.0) +
          lit(w(3).doubleValue) * (col("n_symbols").cast("double") / 64.0)).as("z"))
      .select(col(idCol),
        graft.functions.fast_round(
          lit(0.5) + (lit(0.5) * col("z")) / (lit(1.0) + abs(col("z"))), 6).as("score"),
        (col("z") > 0.0).as("accept"))
  }

  /** PII redaction: masks email addresses, IPv4 addresses and
    * international-format phone numbers with typed placeholders. A chain
    * of codegen'd `regexp_replace` calls — no UDF — restricted to
    * RE2-safe syntax (character classes + bounded repetition, no
    * lookaround or backreferences) so the exact semantics are restatable
    * on any RE2-family engine. Order matters: emails first (their local
    * parts may contain digits and '+'), then IPv4 (dotted digit runs
    * would otherwise half-match the phone pattern), then phones.
    */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val phone = "\\+[0-9]{7,15}"
    regexp_replace(regexp_replace(regexp_replace(text, email, "<EMAIL>"),
      ip, "<IP>"), phone, "<PHONE>")
  }

  /** C4-style line-wise cleaning (Raffel et al. 2020 §2.2, the documented
    * deterministic subset): a line survives only if it (a) ends in a
    * terminal punctuation mark (`.` `!` `?` `"`), (b) carries at least
    * `minWords` whitespace-separated words, and (c) does not contain
    * `javascript` (case-insensitive substring — the "enable JavaScript"
    * banner class). The two PAGE-level C4 signals ride along as audit
    * flags rather than a silent drop: `has_brace` (any `{` — the code
    * heuristic) and `has_lorem` (`lorem ipsum` placeholder text); the
    * caller decides whether flagged docs die. Output: (idCol,
    * clean_text, n_lines, n_kept, has_brace, has_lorem).
    *
    * One codegen'd per-row pass (split → filter → rejoin), zero shuffle,
    * RE2-restatable (anchored character class, no lookaround). Distinct
    * from [[graft.ops.Dedup.lineDedup]] (cross-document repeats) — this
    * is the PER-document structural cleaner that runs before it.
    */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
                   minWords: Int = 5): DataFrame = {
    require(minWords >= 1 && minWords <= 100, s"minWords must be in [1, 100], got $minWords")
    val lines = split(col(textCol), "\n")
    val kept = c4KeptLines(col(textCol), minWords)
    df.select(col(idCol),
      array_join(kept, "\n").as("clean_text"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      col(textCol).contains("{").as("has_brace"),
      lower(col(textCol)).contains("lorem ipsum").as("has_lorem"))
  }

  private def c4KeptLines(text: Column, minWords: Int): Column =
    filter(split(text, "\n"), l => {
      val t = trim(l)
      t.rlike("[.!?\"]$") &&
        size(split(t, "\\s+")) >= minWords &&
        !lower(t).contains("javascript")
    })

  /** [[c4LineFilter]]'s cleaned text as a pure COLUMN — the
    * composed-pipeline form: the cleaner rides the frame the caller
    * already has (no survivor select, no join back for carried columns).
    */
  def c4CleanText(text: Column, minWords: Int = 5): Column = {
    require(minWords >= 1 && minWords <= 100, s"minWords must be in [1, 100], got $minWords")
    array_join(c4KeptLines(text, minWords), "\n")
  }

  /** Luhn-validated payment-card redaction — the precision upgrade over
    * pattern-only masking ([[redactPii]]'s class of rule): a 13-19-digit
    * run (optional space/dash separators) is masked ONLY if it passes
    * the Luhn mod-10 check (ISO/IEC 7812), so order numbers, tracking
    * ids and timestamps that merely look card-shaped survive. Chain:
    * candidates via one RE2-safe `regexp_extract_all` (word-bounded, so
    * longer digit runs never half-match), per-candidate Luhn arithmetic
    * as an in-row integer fold, then an in-row fold replacing each valid
    * match (in extraction order) with `<CARD>`.
    *
    * Application is STRING-level: every occurrence of a validated card
    * string redacts, including one embedded in a longer non-matching
    * digit run — over-redaction is the safe failure mode for PII.
    * Returns struct(n_cards, clean); n_cards counts valid MATCHES.
    * Codegen'd per-row pass, zero shuffle, restatable verbatim in
    * DuckDB (`regexp_extract_all` + `list_filter` + `list_reduce`).
    */
  def redactCards(text: Column): Column = {
    val cands = regexp_extract_all(text,
      lit("\\b(?:[0-9][ -]?){12,18}[0-9]\\b"), lit(0))
    val valid = filter(cands, c => {
      val d = regexp_replace(c, "[ -]", "")
      val n = length(d)
      val luhn = aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
        val v = d.substr(n - i + 1, lit(1)).cast("int")
        acc + when(i % 2 === 0,
          when(v * 2 > 9, v * 2 - 9).otherwise(v * 2)).otherwise(v)
      })
      n.between(13, 19) && luhn % 10 === 0
    })
    val clean = aggregate(valid, text, (acc, c) => replace(acc, c, lit("<CARD>")))
    struct(size(valid).cast("long").as("n_cards"), clean.as("clean"))
  }

  /** Context-window chunking: each document's token sequence split into
    * width-`width` windows starting every `stride` tokens (overlapping
    * when stride < width) — the training-prep stage that turns documents
    * into model-context-sized pieces. Pure per-row array ops
    * (sequence → slice), zero shuffle; an empty document contributes
    * zero rows; the tail window may be shorter than `width`.
    */
  /** Weighted sampling WITHOUT replacement (Efraimidis-Spirakis 2006):
    * row i gets key uᵢ^(1/wᵢ) with uᵢ uniform in (0,1]; the k largest
    * keys are a weighted sample without replacement — exactly, not
    * approximately. Ranking by ln(uᵢ)/wᵢ is the same order with no
    * overflow at extreme weights. uᵢ here is the DETERMINISTIC uniform
    * (idHash53+1)/2^53 — exact in a double, reproducible from ids alone
    * (same audit contract as [[stratifiedSample]]), and keys are rounded
    * to 9 dp with an id tiebreak so the rank order is engine-portable.
    *
    * Scale: a pure projection + one TakeOrdered top-k (per-partition
    * bounded heaps, k-row driver merge) — no shuffle, no sort. This is
    * the one-shot form of weighted reservoir sampling; a streaming
    * reservoir keeps the same keys in a bounded heap.
    *
    * Rows with weight ≤ 0 or NULL never sample. Appends `sample_key`.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (idHash53(col(idCol)) + 1L).cast("double") / lit(9007199254740992.0) // 2^53
    df.where(weightCol.isNotNull && weightCol > 0)
      .withColumn("sample_key",
        graft.functions.fast_round(log(u) / weightCol.cast("double"), 9))
      .orderBy(col("sample_key").desc, col(idCol)).limit(k)
  }

  /** Per-key heavy hitters — [[heavyHitters]] grouped (top terms per
    * language/domain/source, the data-card drill-down): ONE scan builds
    * a Misra-Gries sketch AND the exact token total per key (mergeable
    * ≤sketchK-counter summaries, so the shuffle carries sketch rows, not
    * tokens), candidates broadcast back for an exact recount, and each
    * key's top-N certifies independently against its own n/(k+1) bound —
    * provably exact per key or fail fast, never silently approximate.
    * Output: (keyCol, rank, token, n).
    *
    * The per-key sketch table (one row per key, ≤sketchK candidates
    * each) is a DRIVER read, so key cardinality is a checked assumption:
    * `maxKeys` bounds it via a cheap distinct count before the collect
    * (the rrfFuse maxListRows / unimaxAllocation maxDomains convention)
    * — a high-cardinality keyCol fails fast instead of silently becoming
    * an unbounded driver read. String keys only (the sketch candidates
    * are token strings keyed by key string); any other type fails the
    * upfront schema check.
    */
  def heavyHittersByKey(df: DataFrame, keyCol: String, textCol: String,
                        topN: Int, sketchK: Int,
                        certify: Boolean = true, maxKeys: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    require(df.schema(keyCol).dataType == org.apache.spark.sql.types.StringType,
      s"heavyHittersByKey: $keyCol must be a string column, got ${df.schema(keyCol).dataType}")
    val nKeys = df.agg(countDistinct(col(keyCol))).head().getLong(0)
    require(nKeys <= maxKeys,
      s"heavyHittersByKey: $nKeys distinct $keyCol keys exceed maxKeys=$maxKeys — " +
        "the per-key sketch table is a driver read; raise maxKeys deliberately or pre-filter keys")
    val toks = df.select(col(keyCol).as("key"),
      explode(cleanTokens(col(textCol))).as("token"))
    val sk = toks.groupBy("key").agg(
      graft.functions.freq_items_sketch(col("token"), sketchK).as("sk"),
      count(lit(1)).as("n_tokens")).collect()
    val nByKey = sk.map(r => r.get(0) -> r.getLong(2)).toMap
    import spark.implicits._
    val cands = sk.flatMap { r =>
      val key = r.getString(0)
      r.getSeq[org.apache.spark.sql.Row](1).map(c => (key, c.getString(0)))
    }.toSeq.toDF("key", "token")
    val w = Window.partitionBy(col("key")).orderBy(col("n").desc, col("token"))
    val top = toks.join(broadcast(cands), Seq("key", "token"))
      .groupBy("key", "token").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= topN)
      .select(col("key").as(keyCol), col("rk").cast("long").as("rank"),
        col("token"), col("n"))
    if (!certify) return top
    val rows = top.collect()
    rows.groupBy(_.get(0)).foreach { case (key, rs) =>
      val weakest = rs.map(_.getLong(3)).min
      val bound = nByKey(key) / (sketchK + 1L)
      require(weakest > bound,
        s"heavyHittersByKey uncertifiable for key $key: weakest count $weakest " +
          s"<= n/(k+1) = $bound — raise sketchK")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
  }

  /** Corpus data card: the one-table summary a dataset release ships
    * with — sizes, token volume, exact duplicate rate (via the 16-byte
    * content fingerprint, text never shuffles), mean quality, and token
    * length quartiles — emitted long-format (metric, value) so the card
    * grows without schema changes. Three aggregation jobs total (corpus
    * scalars, fingerprint distinct, percentiles), every number exact and
    * restatable; per-language shares ride [[stratifiedSample]]-style
    * grouping separately if needed. All values 6-dp rounded doubles.
    */
  def dataCard(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    val toks = graft.ops.TextAnalysis.tokenCount(col(textCol)).cast("double")
    val base = df.select(col(idCol), col(textCol), toks.as("n_tok"),
      length(col(textCol)).cast("double").as("n_chr"),
      graft.ops.TextAnalysis.qualityScore(col(textCol)).as("q"))
    // integer-valued doubles sum exactly in any order (< 2^53); the 6-dp
    // quality scores go through DECIMAL(38,6) so the reduce order can't
    // jitter the mean's last ulp
    val row = base.agg(
      count(lit(1)).cast("double").as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      avg(col("n_chr")).as("mean_chars"),
      (sum(col("q").cast("decimal(38,6)")).cast("double") / count(lit(1))).as("mean_quality"),
      expr("percentile(n_tok, array(0.25, 0.5, 0.75))").as("tq")).head()
    val distinctTexts = Dedup.fingerprints(df, textCol).distinct().count()
    val nDocs = row.getDouble(0)
    def r6(x: Double): Double = graft.kernels.Quantize.roundHalfUp(x, 6)
    val tq = row.getSeq[Double](4)
    import spark.implicits._
    Seq(
      ("n_docs", nDocs),
      ("n_tokens", row.getDouble(1)),
      ("mean_chars", r6(row.getDouble(2))),
      ("mean_quality", r6(row.getDouble(3))),
      ("exact_dup_rate", r6(if (nDocs == 0) 0.0 else (nDocs - distinctTexts) / nDocs)),
      ("tokens_p25", r6(tq(0))),
      ("tokens_p50", r6(tq(1))),
      ("tokens_p75", r6(tq(2)))
    ).toDF("metric", "value")
  }

  /** Quality-curriculum binning: exact corpus quantile cut points over
    * `scoreCol` (one counting-aggregate job — no global sort; the 100 TB
    * swap is `approx_percentile` with the same plan shape, the
    * approx_quantile_ok trade), then a pure-projection bin assignment
    * `bin = Σ (score > cutᵢ)` against the 6-dp-rounded cut literals.
    * Deterministic and append-stable given the cuts; curriculum
    * schedulers order training from bin 0 upward (or sample per-bin
    * rates via [[stratifiedSample]] on the bin column).
    * Output: (idCol, score, bin ∈ [0, |fractions|]).
    *
    * Cut points land on the q20 BINARY grid (k/2²⁰), not a 6-dp decimal
    * one: quantile interpolation over 6-dp scores routinely yields exact
    * decimal halves (the median of an even count), where Spark's
    * HALF_UP and DuckDB's multiply-based double round can disagree by
    * 1e-6 and shift bin membership — a binary .5 is exactly
    * representable, so every engine rounds it identically (the
    * kmeans_iter handoff convention).
    */
  def curriculumBins(df: DataFrame, idCol: String, scoreCol: Column,
                     fractions: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(fractions.nonEmpty && fractions == fractions.sorted
      && fractions.forall(f => f > 0.0 && f < 1.0),
      s"fractions must be sorted in (0,1), got $fractions")
    val scored = df.select(col(idCol), scoreCol.as("score"))
    val fracExpr = fractions.mkString("array(", ", ", ")")
    val row = scored.agg(expr(s"percentile(score, $fracExpr)").as("c")).head()
    if (row.isNullAt(0))
      return scored.select(col(idCol), col("score"), lit(0L).as("bin")).limit(0)
    val cuts = row.getSeq[Double](0).map(x =>
      graft.kernels.Quantize.roundHalfUp(x * 1048576.0, 0) / 1048576.0)
    val bin = cuts.foldLeft(lit(0))((acc, c) => acc + (col("score") > lit(c)).cast("int"))
    scored.withColumn("bin", bin.cast("long"))
  }

  /** Weighted per-key cap — [[capPerKey]]'s selection upgraded from
    * uniform to weight-proportional: within each key keep k rows sampled
    * without replacement ∝ `weightCol`, via the Efraimidis-Spirakis key
    * `ln(u)/w` off the deterministic [[idHash53]] uniform (the
    * [[weightedSample]] math, per key). The per-key winner selection
    * rides the bounded `knn_topk` heap on the NEGATED sample key —
    * O(k) state per key regardless of skew (a window would sort the
    * whole mega-key) and ties break exactly like weightedSample's
    * (key desc, id asc). Reproducible from ids alone; k×keys rows cross
    * the shuffle. Output: (keyCol, rank, idCol, sample_key).
    */
  def weightedCapPerKey(df: DataFrame, idCol: String, keyCol: String,
                        weightCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (idHash53(col(idCol)) + 1L).cast("double") / lit(9007199254740992.0) // 2^53
    df.where(weightCol.isNotNull && weightCol > 0)
      .withColumn("_sk", graft.functions.fast_round(log(u) / weightCol.cast("double"), 9))
      .groupBy(col(keyCol))
      .agg(graft.functions.knn_topk(-col("_sk"), col(idCol), k).as("_tk"))
      .select(col(keyCol), posexplode(col("_tk")))
      .select(col(keyCol), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), (-col("col.distance")).as("sample_key"))
  }

  /** Exact token-budget selection: keep the highest-quality documents
    * until a corpus token budget is exhausted — "give me the best
    * `budget` tokens", the data-budget cut every compute-constrained
    * pretraining run makes. Selection ranks on the 6-dp-rounded score
    * (the round-before-cut convention) with a deterministic
    * ([[idHash53]], id) tie order inside the cut bucket, so the kept set
    * is exactly reproducible from ids alone.
    *
    * NO global sort: scores on a 6-dp grid have bounded distinct values,
    * so the plan is (1) one aggregate over (score bucket → token sum),
    * (2) a driver walk of the ≤`maxBuckets` buckets best-first to find
    * the cut score and the residual budget (the checked-collect
    * convention — cardinality is require-checked BEFORE the collect),
    * (3) a pure filter keeps every doc above the cut, and (4) only the
    * single cut bucket pays a windowed running sum (partition-bounded by
    * that bucket's size — a corpus where most documents share one score
    * degrades this to a single-task sort, the same degeneracy any exact
    * budget cut has among exact ties). A 100 TB corpus therefore moves:
    * one (8-byte key, long) rollup, a broadcast of two scalars, and the
    * tie bucket — never a total order of the corpus.
    *
    * Rows with NULL/NaN score never select; NULL token counts count 0.
    * Output: (idCol, score_key, n_tokens) of the KEPT docs.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: Column,
                        tokensCol: Column, budget: Long,
                        maxBuckets: Int = 1 << 21): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val scored = df.select(col(idCol).as("id"),
        graft.functions.fast_round(scoreCol, 6).as("score_key"),
        coalesce(tokensCol.cast("long"), lit(0L)).as("n_tokens"))
      .where(col("score_key").isNotNull && !isnan(col("score_key")))
    val out = scored.select(col("id"), col("score_key"), col("n_tokens"))
    val nb = scored.agg(countDistinct(col("score_key")).as("nb")).head().getLong(0)
    require(nb <= maxBuckets,
      s"tokenBudgetSelect: $nb distinct score buckets exceed maxBuckets=$maxBuckets — " +
        "the bucket walk is a driver read; coarsen the score or raise maxBuckets deliberately")
    val buckets = scored.groupBy(col("score_key")).agg(sum(col("n_tokens")).as("bt"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(-_._1)
    // greedy best-first: full buckets are a PREFIX of the desc order, so
    // "kept entirely" reduces to score_key > cutKey
    var rem = budget
    var cut: Option[(Double, Long)] = None
    for ((k, bt) <- buckets if cut.isEmpty) {
      if (bt <= rem) rem -= bt else cut = Some((k, rem))
    }
    cut match {
      case None => out // the whole corpus fits the budget
      case Some((cutKey, tieBudget)) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("score_key"))
          .orderBy(col("_h"), col("id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val tie = scored.where(col("score_key") === lit(cutKey))
          .withColumn("_h", idHash53(col("id")))
          .withColumn("_cum", sum(col("n_tokens")).over(w))
          .where(col("_cum") <= tieBudget)
          .select(col("id"), col("score_key"), col("n_tokens"))
        out.where(col("score_key") > lit(cutKey)).unionByName(tie)
    }
  }

  /** Per-key quality floor: drop each key's bottom `frac` quantile of
    * `scoreCol` — the per-dump/per-language floor FineWeb-style curation
    * applies so a low-quality domain can't ride a global threshold that
    * high-quality domains set. Exact per-key percentile cuts (counting
    * aggregate per key, no global sort; the 100 TB swap is
    * `approx_percentile`, the approx_quantile_ok trade), joined back
    * (one row per key — AQE broadcasts it at any sane key count and
    * falls back to a shuffle join on key-explosion corpora, so no forced
    * hint caps cardinality), then a pure filter keeps rows STRICTLY
    * above the floor.
    *
    * Exactness: the percentile runs over the INTEGER scale-6 score
    * (`round(score·10⁶)` — exact for 6-dp-grid scores), and `frac` must
    * be a binary fraction (k/2²⁰). Then the linear interpolation
    * a + (b−a)·g has integer endpoints and an exactly-representable g,
    * so EVERY evaluation order yields the same double — engines with
    * different quantile formulas (Spark `percentile` vs DuckDB
    * `quantile_cont`) agree bit for bit, with no rounding step left to
    * diverge. The cut comparison and both outputs stay on that grid
    * (÷10⁶ is the identical IEEE op everywhere).
    *
    * Output: (idCol, keyCol, score, cut), score > cut.
    */
  def qualityFloorPerKey(df: DataFrame, idCol: String, keyCol: String,
                         scoreCol: Column, frac: Double): DataFrame = {
    require(frac > 0.0 && frac < 1.0, s"frac must be in (0,1), got $frac")
    require(frac * 1048576.0 == math.floor(frac * 1048576.0),
      s"frac must be a binary fraction k/2^20 for cross-engine-exact interpolation, got $frac")
    val scored = df.select(col(idCol).as("id"), col(keyCol).as("key"),
      round(graft.functions.fast_round(scoreCol, 6) * 1e6).cast("long").as("_s6"))
    val cuts = scored.groupBy(col("key"))
      .agg(expr(s"percentile(_s6, $frac)").as("_q6"))
    scored.join(cuts, Seq("key"))
      .where(col("_s6").cast("double") > col("_q6"))
      .select(col("id"), col("key"),
        (col("_s6").cast("double") / 1e6).as("score"),
        (col("_q6") / 1e6).as("cut"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
    * language's documents into equal-count head / middle / tail thirds
    * by LM score — the canonical "train on the head, inspect the tail"
    * quality stratification. Feed the score from
    * [[TextAnalysis.unigramLogProb]] (HIGHER mean logprob = more
    * LM-typical = head, matching CCNet's lower-perplexity-is-better
    * orientation).
    *
    * Buckets are rank-based (`ntile`) over the deterministic
    * (score desc, id) order — exactly engine-restatable where a 1/3
    * quantile interpolation is not (1/3 has no finite binary form), and
    * exactly CCNet's equal-thirds split. Output: df's columns +
    * `bucket` ∈ {head, middle, tail}.
    *
    * Scale: one shuffle on the language key + a per-key sort (the
    * window). At 100 TB swap the window for per-key `approx_percentile`
    * cuts and a broadcast threshold join — the same plan-shape swap
    * `token_percentiles` documents; the thirds then hold approximately
    * instead of exactly, which is what CCNet itself does.
    */
  def ccnetBuckets(df: DataFrame, idCol: String, keyCol: String,
                   scoreCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(scoreCol.desc, col(idCol))
    df.withColumn("_nt", ntile(3).over(w))
      .withColumn("bucket",
        when(col("_nt") === 1, lit("head"))
          .when(col("_nt") === 2, lit("middle"))
          .otherwise(lit("tail")))
      .drop("_nt")
  }

  /** The composed per-document curation DECISION LOG — the release
    * artifact a pipeline run publishes next to its corpus ("kept X%,
    * dropped Y% by rule Z"): every input document attributed to exactly
    * one outcome, in stage-priority order:
    *
    *  1. `quality:*` — the document failed [[qualityFilter]]'s bitmask;
    *     the reason names the LOWEST set bit (words → word_length →
    *     symbols → stopwords → repetition), so attribution is
    *     deterministic when several rules fail at once;
    *  2. `exact_dup` — a quality-SURVIVING document whose two-lane
    *     content fingerprint already has a surviving keeper with a
    *     smaller id ([[Dedup.exact]]'s smallest-id-wins rule; failed
    *     docs can't claim first occurrence);
    *  3. `key_cap` — a surviving keeper beyond the per-key cap, i.e. not
    *     among its key's `capN` smallest (idHash53, id) — exactly
    *     [[capPerKey]]'s deterministic selection;
    *  4. `kept` — everything else; `keep` is true only here.
    *
    * Scale: ONE text pass computes the quality stats AND the content
    * fingerprints ([[qualityStats]]' passthrough — no join back onto the
    * corpus), materialized behind the chosen [[Dedup.Barrier]] as a
    * narrow (id, key, fp, mask) table the three decision stages re-read
    * (LocalCheckpoint locally; pass `ReliableCheckpoint`/`Stage` on a
    * cluster — the SCALING.md extrapolation note; the barrier's release
    * handle is discarded here, the GC-managed contract the TVF builders
    * document); the stages exchange 16-byte fingerprints and 8-byte ids
    * only — corpus text NEVER shuffles. Keeper election is one
    * fingerprint-keyed rollup + join-back; the cap is the bounded
    * O(capN)-per-key heap.
    *
    * Output: (id, key, fail_mask, keep, reason).
    */
  def curationLog(df: DataFrame, idCol: String, textCol: String,
                  keyCol: String, capN: Int, minWords: Int = 10,
                  maxWords: Int = 100000,
                  barrier: Dedup.Barrier = Dedup.Barrier.LocalCheckpoint): DataFrame = {
    require(capN >= 1, s"capN must be >= 1, got $capN")
    val base = Dedup.materialize(qualityStats(df, idCol, textCol,
        col(keyCol).as("key") +: Dedup.fingerprintLanes(col(textCol), "_ck1", "_ck2"))
      .withColumn("fail_mask", failMaskCol(minWords, maxWords))
      .select(col(idCol).as("id"), col("key"), col("_ck1"), col("_ck2"),
        col("fail_mask")), barrier)._1
    val survivors = base.where(col("fail_mask") === 0L)
    val keepers = survivors.groupBy(col("_ck1"), col("_ck2"))
      .agg(min(col("id")).as("_keeper"))
    val inCap = capPerKey(
        survivors.join(keepers, Seq("_ck1", "_ck2"))
          .where(col("id") === col("_keeper")).select(col("key"), col("id")),
        "key", "id", capN)
      .withColumn("_in_cap", lit(true))
    val qualityReason =
      when(col("fail_mask").bitwiseAND(lit(FailTooFewWords)) =!= 0L, lit("quality:words"))
        .when(col("fail_mask").bitwiseAND(lit(FailWordLength)) =!= 0L, lit("quality:word_length"))
        .when(col("fail_mask").bitwiseAND(lit(FailSymbolRatio)) =!= 0L, lit("quality:symbols"))
        .when(col("fail_mask").bitwiseAND(lit(FailNoStopwords)) =!= 0L, lit("quality:stopwords"))
        .otherwise(lit("quality:repetition"))
    val reason = when(col("fail_mask") =!= 0L, qualityReason)
      .when(col("id") =!= col("_keeper"), lit("exact_dup"))
      .when(col("_in_cap").isNull, lit("key_cap"))
      .otherwise(lit("kept"))
    base.join(keepers, Seq("_ck1", "_ck2"), "left")
      .join(inCap, Seq("key", "id"), "left")
      .select(col("id"), col("key"), col("fail_mask"),
        (reason === "kept").as("keep"), reason.as("reason"))
  }

  /** Population Stability Index between a REFERENCE corpus snapshot and
    * a CURRENT one over any per-row score — the per-dump QA monitor a
    * continuously-fed pipeline alarms on ("did this crawl's quality
    * distribution drift from last month's?"): `nBins` equal-frequency
    * bins are cut from the REFERENCE's quantiles, both snapshots are
    * histogrammed into them, and each bin contributes
    * `(q−p)·ln(q/p)` with Laplace-smoothed shares `p=(n_ref+1)/(N_ref+B)`,
    * `q=(n_cur+1)/(N_cur+B)` (smoothing keeps empty bins finite). The
    * usual reading: Σ psi_term < 0.1 stable, 0.1–0.25 moderate, > 0.25
    * drifted — re-examine the feed before training on it.
    *
    * Exactness: scores land on the scale-6 integer grid first (the
    * [[qualityFloorPerKey]] convention), `nBins` must be a power of two
    * so every cut fraction k/B is a binary fraction — quantile
    * interpolation over integer endpoints is then evaluation-order-exact
    * across engines — and each term is one identical double tree over
    * exact BIGINT counts (the pmi_pairs contract), rounded at 6 dp.
    *
    * Scale: two counting quantile/histogram aggregations (no global
    * sort), B−1 cut scalars + two count scalars to the driver, a B-row
    * result — the corpus-sized sides never shuffle more than (bin, n).
    *
    * Output: (bin 1..nBins, n_ref, n_cur, psi_term), ordered by bin.
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, refScore: Column,
               curScore: Column, nBins: Int = 8): DataFrame = {
    require(nBins >= 2 && (nBins & (nBins - 1)) == 0,
      s"nBins must be a power of two >= 2 for binary-fraction quantile cuts, got $nBins")
    def s6(df: DataFrame, c: Column) = df.select(
      round(graft.functions.fast_round(c, 6) * 1e6).cast("long").as("_s6"))
    val r = s6(ref, refScore)
    val q = s6(cur, curScore)
    val fracs = (1 until nBins).map(k => k.toDouble / nBins)
    val cuts = r.agg(expr(s"percentile(_s6, array(${fracs.mkString(",")}))"))
      .head().getSeq[Double](0)
    val nR = r.count(); val nQ = q.count()
    require(nR > 0 && nQ > 0, "psiDrift: empty snapshot")
    def binned(df: DataFrame, outCol: String) = df.select(
        cuts.foldLeft(lit(1))((acc, cut) =>
          acc + when(col("_s6").cast("double") > lit(cut), 1).otherwise(0)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(outCol))
    val p = (col("n_ref") + 1L).cast("double") / lit((nR + nBins).toDouble)
    val qq = (col("n_cur") + 1L).cast("double") / lit((nQ + nBins).toDouble)
    ref.sparkSession.range(1, nBins + 1).select(col("id").cast("int").as("bin"))
      .join(binned(r, "n_ref"), Seq("bin"), "left")
      .join(binned(q, "n_cur"), Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round((qq - p) * log(qq / p), 6).as("psi_term"))
      .orderBy("bin")
  }

  /** Corpus snapshot diff: classify every document id across two corpus
    * snapshots as `added` (id only in `cur`), `removed` (id only in
    * `ref`) or `changed` (present in both with different content);
    * unchanged ids are dropped so the output is proportional to the
    * CHANGE volume, not the corpus. The audit primitive for dataset
    * versioning — which documents moved between two pipeline runs —
    * complementing [[psiDrift]] (distribution drift) and the store-level
    * upsert/tombstone lifecycle (row-level merge).
    *
    * Scale: each side is projected to (id, xxhash64(text)) BEFORE the
    * join, so the id-keyed full-outer shuffle carries 16-byte rows — the
    * document bodies never leave their scan stage. Content equality is
    * decided on the 64-bit fingerprint (collision odds ~n²/2⁶⁵; at 10⁹
    * docs that is ~10⁻²), matching the repo's fingerprint-keyed exchange
    * convention. Ids must be unique per snapshot (it is an id-grain
    * diff); duplicate ids fail fast rather than silently multiplying
    * through the join.
    */
  def snapshotDiff(ref: DataFrame, cur: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    // the duplicate-id guard rides INSIDE the diff's own aggregation (no
    // pre-flight jobs, no second corpus scan): each side reduces to one
    // (id, fp) row via the groupBy the join needs anyway, and a duplicate
    // id trips raise_error AT that aggregate — a diff over non-unique ids
    // is a semantic error, not a bigger diff, and it fails on execution
    // of the one pass the operator already pays for
    def fp(df: DataFrame, side: String) = df
      .select(col(idCol), xxhash64(col(textCol)).as("_fp"))
      .groupBy(idCol).agg(count(lit(1)).as("_n"), min(col("_fp")).as("_fp"))
      .select(col(idCol),
        when(col("_n") > 1, raise_error(concat(
          lit(s"snapshotDiff: duplicate $idCol "), col(idCol).cast("string"),
          lit(s" in $side snapshot — snapshots must be id-unique"))))
          .otherwise(col("_fp")).as(s"_fp_$side"))
    val r = fp(ref, "ref"); val c = fp(cur, "cur")
    r.join(c, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_fp_ref").isNull, lit("added"))
          .when(col("_fp_cur").isNull, lit("removed"))
          .when(col("_fp_ref") =!= col("_fp_cur"), lit("changed"))
          .as("status"))
      .where(col("status").isNotNull)
  }

  // ---------- UniMax mixture allocation ----------

  /** UniMax token-budget allocation across domains (Chung et al., ICLR
    * 2023): visit domains in increasing size order and give each
    * `min(maxEpochs·sizeᵢ, remaining/‖remaining domains‖)` — small
    * domains are fully used up to the epoch cap (never oversampled past
    * it), the rest split the leftover budget evenly. The sequential
    * waterfill has a closed form because the cap set is a PREFIX of the
    * size order (f(i) = E·sᵢ·(n−i+1) + E·S_{i−1} is nondecreasing, so
    * "cap binds" flips at most once) and the even share is constant once
    * it starts (R/k is invariant under R ← R−R/k, k ← k−1): one window
    * prefix sum decides cappedness, one aggregate over the capped prefix
    * yields the even share — no iteration, fully restatable in SQL.
    *
    * Plan: one shuffle to domain grain (map-side combined), then a
    * single-partition window over the DOMAIN table — a mixture has tens
    * to thousands of rows, which is the point of the operator; the
    * `maxDomains` require turns that size assumption into a checked one
    * (the rrfFuse convention). Overflow note: E·sᵢ·n must stay under
    * 2⁶³ — at 10¹³ tokens/domain, 10³ domains, E≤100 the headroom is
    * ~100×; shard the budget before allocation beyond that.
    *
    * Output: (domain, n_tokens, allocation (6 dp), epochs = alloc/size).
    */
  def unimaxAllocation(df: DataFrame, domainCol: String, weightCol: Column,
                       budget: Long, maxEpochs: Int,
                       maxDomains: Int = 1 << 20): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val sizes = df.groupBy(col(domainCol).as("domain"))
      .agg(sum(weightCol).as("n_tokens"))
      .where(col("n_tokens") > 0)
    val n = sizes.count()
    require(n >= 1, "unimaxAllocation: no non-empty domains")
    require(n <= maxDomains,
      s"unimaxAllocation: $n domains exceed maxDomains=$maxDomains (single-partition window bound)")
    val e = maxEpochs.toLong
    val wOrd = Window.orderBy(col("n_tokens"), col("domain"))
    val ranked = sizes
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("pfx", sum(col("n_tokens")).over(wOrd))
      .withColumn("capped",
        lit(e) * col("n_tokens") * (lit(n) - col("rk") + 1)
          + lit(e) * (col("pfx") - col("n_tokens")) <= lit(budget))
    val capStats = ranked.where(col("capped"))
      .agg(count(lit(1)).as("m"), coalesce(sum(col("n_tokens")), lit(0L)).as("s_cap"))
    ranked.crossJoin(broadcast(capStats))
      .withColumn("allocation", graft.functions.fast_round(
        when(col("capped"), (lit(e) * col("n_tokens")).cast("double"))
          .otherwise((lit(budget) - lit(e) * col("s_cap")).cast("double")
            / (lit(n) - col("m")).cast("double")), 6))
      .withColumn("epochs",
        graft.functions.fast_round(col("allocation") / col("n_tokens").cast("double"), 6))
      .select(col("domain"), col("n_tokens"), col("allocation"), col("epochs"))
  }

  // ---------- DSIR importance resampling (hashed-token LLR scores) ----------

  /** DSIR-style per-document importance scores (Xie et al., "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023): hash every token into one of `buckets` feature buckets,
    * estimate the bucket distribution of the TARGET slice
    * (`targetPred`, e.g. a trusted high-quality source) and of the RAW
    * corpus, both Laplace-smoothed, and score each document by its
    * summed per-token log-likelihood ratio — log of how much more
    * target-like than raw-like its hashed token profile is. Resampling
    * ∝ exp(score) ([[dsirSample]]) then shifts the corpus toward the
    * target distribution, the standard pretraining-data reweighting
    * move.
    *
    * Plan at 100 TB: one token explode; two BUCKET-sized rollups (≤
    * `buckets` rows each, map-side combine) build the broadcast LLR
    * lookup; the per-instance join is a broadcast hash join (nothing
    * but the B-row table moves); the per-doc rollup is the only
    * doc-keyed exchange, one row per document after partial
    * aggregation. The bucket key is the SQL-restatable
    * `string_hash61` (the oracle recomputes it from character codes),
    * and the ratio is computed as a four-ln double tree over exact
    * BIGINT counts — no count product that could overflow at corpus
    * scale — with each token's term rounded to 9 dp and summed as
    * DECIMAL(38,9) so the reduce is order-independent (the lm_logprob
    * exactness contract).
    *
    * Output: (idCol, dsir_score (6 dp), n_tokens).
    */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
                 targetPred: Column, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // curation-normalized tokens (lowercased printable ASCII): the hash
    // runs over single-code-unit characters on every engine, so the
    // oracle's per-codepoint restatement is exact; docs with no clean
    // tokens contribute nothing and don't appear
    val toks = df.select(col(idCol), targetPred.as("_t"),
        explode(cleanTokens(col(textCol))).as("term"))
      .select(col(idCol), col("_t"),
        pmod(graft.functions.string_hash61(col("term")), lit(buckets.toLong)).as("b"))
    val raw = toks.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = toks.where(col("_t")).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val totR = raw.agg(sum(col("cr")).as("nr"))
    val totT = tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    val lut = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(totR)).crossJoin(broadcast(totT))
      .select(col("b"),
        round((log((coalesce(col("ct"), lit(0L)) + 1L).cast("double"))
            - log((col("nt") + buckets.toLong).cast("double")))
          - (log((col("cr") + 1L).cast("double"))
            - log((col("nr") + buckets.toLong).cast("double"))), 9)
          .cast("decimal(38,9)").as("lr"))
    toks.join(broadcast(lut), "b")
      .groupBy(col(idCol))
      .agg(round(sum(col("lr")).cast("double"), 6).as("dsir_score"),
        count(lit(1)).as("n_tokens"))
  }

  /** Gumbel top-k selection ∝ exp(scoreCol) — DSIR's resampling step,
    * deterministic: the per-row uniform comes from [[idHash53]] (audit
    * property: re-running selects the same rows), the Gumbel perturbation
    * `−ln(−ln u)` added to the log-weight realizes sampling without
    * replacement proportional to exp(score) (Gumbel-max), and the cut is
    * on the 9-dp rounded key with id tiebreak — the round-before-cut
    * convention, so engines can't disagree on boundary membership. A pure
    * projection + TakeOrdered: no shuffle beyond the k-row driver merge.
    */
  def dsirSample(scored: DataFrame, idCol: String, scoreCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (idHash53(col(idCol)) + 1L).cast("double") / lit(9007199254740992.0) // 2^53
    scored.withColumn("sample_key",
        graft.functions.fast_round(scoreCol + -log(-log(u)), 9))
      .orderBy(col("sample_key").desc, col(idCol)).limit(k)
  }

  /** Deterministic global corpus shuffle — the pretraining "shuffle once,
    * audit forever" primitive: every row gets a stable position in a
    * pseudorandom total order defined purely by its id, so re-running on
    * the same corpus reproduces the identical order and an appended
    * corpus re-shuffles without coordination.
    *
    * The order is (bucket, [[idHash53]], id) with bucket =
    * idHash53 mod `nBuckets` — pseudorandom because the hash leads both
    * levels. Positions come from a TWO-LEVEL prefix sum (same shape as
    * [[packSequences]]): a per-bucket window ranks rows inside each
    * bucket while a broadcast of the nBuckets-row cumulative bucket sizes
    * supplies the global base — no global sort, no single-partition
    * window, shuffle keyed on the bucket only. Size nBuckets ≈ the
    * cluster's task count × a small factor.
    *
    * Appends `shuffle_pos` (0-based, dense, a permutation of row ranks).
    */
  def shufflePositions(df: DataFrame, idCol: String, nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val h = idHash53(col(idCol))
    val withBucket = df.withColumn("_h", h).withColumn("_bkt", pmod(col("_h"), lit(nBuckets.toLong)))
    val within = row_number().over(
      Window.partitionBy(col("_bkt")).orderBy(col("_h"), col(idCol))).cast("long") - 1L
    val bases = withBucket.groupBy("_bkt").agg(count(lit(1)).as("_n"))
      .withColumn("_base",
        coalesce(sum(col("_n")).over(
          Window.partitionBy(pmod(col("_bkt"), lit(1L))).orderBy(col("_bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_bkt"), col("_base"))
    withBucket
      .join(broadcast(bases), "_bkt")
      .withColumn("shuffle_pos", col("_base") + within)
      .drop("_h", "_bkt", "_base")
  }

  /** Shuffled training-shard writer — the final-mile step that turns a
    * curated corpus into the N-shard store a training loader streams:
    * every row gets its [[shufflePositions]] pseudorandom position, shard
    * `(pos·nShards) div N` slices the order into N CONTIGUOUS, ±1-equal
    * ranges (global order = shards read in shard order — the loader
    * never needs a second shuffle pass), and the store is written
    * Hive-partitioned by shard with rows ordered by position inside each
    * shard file.
    *
    * Returns the MANIFEST, computed by reading the written store back —
    * it certifies what landed on disk, not what the plan intended: per
    * shard the doc count, Σ`weightCol` (pass the token count; training
    * budgets are token-denominated), the position range (contiguity
    * check: last−first+1 = n_docs), and `bit_xor` of the rows' id
    * hashes — an order-independent membership fingerprint, so a dropped
    * or duplicated row anywhere in the write path flips the shard's
    * fingerprint.
    *
    * Scale: one count rollup for N, the [[shufflePositions]] two-level
    * prefix sum (bucket-keyed shuffle, no global sort), one range
    * exchange into shard order for the write, and a shard-keyed rollup
    * over the readback. Everything is deterministic from ids alone:
    * re-running on the same corpus rewrites byte-identical shard
    * membership (spec-asserted), which is what makes the manifest an
    * audit artifact rather than a log line.
    */
  def writeTrainingShards(df: DataFrame, idCol: String, weightCol: Column,
                          outDir: String, nShards: Int,
                          nBuckets: Int = 1024): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val n = df.count()
    require(n > 0, "writeTrainingShards: empty corpus")
    val pos = shufflePositions(df.withColumn("_w", weightCol), idCol, nBuckets)
      .withColumn("shard",
        expr(s"CAST((shuffle_pos * ${nShards}L) DIV ${n}L AS INT)"))
    pos.repartitionByRange(nShards, col("shard"), col("shuffle_pos"))
      .sortWithinPartitions(col("shard"), col("shuffle_pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    df.sparkSession.read.parquet(outDir)
      .withColumn("_h53", idHash53(col(idCol)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_w")).as("n_tokens"),
        min(col("shuffle_pos")).as("first_pos"),
        max(col("shuffle_pos")).as("last_pos"),
        expr("bit_xor(_h53)").as("id_xor"))
  }

  /** Content-defined chunking (CDC): split each document at positions
    * where a `window`-char polynomial hash of the trailing window is
    * ≡ 0 mod `divisor` — the rsync/LBFS boundary rule. Unlike
    * fixed-width [[chunk]]ing, an insertion early in a document shifts
    * only the chunk it lands in: downstream boundaries re-align because
    * they depend on local content, not absolute offsets. That makes the
    * (fp, chunk) table a delta-dedup store — shared boilerplate between
    * document versions hashes to identical chunks.
    *
    * Expected chunk length is `divisor` chars (boundary probability
    * 1/divisor per position); documents shorter than `window` are one
    * chunk; empty/NULL documents emit nothing. The hash is the repo's
    * polynomial fingerprint (base 31 mod 1e9+7, printable-ASCII — see
    * [[TextAnalysis.fingerprint]]) over the trailing window, recomputed
    * per position (window·len work, all inside one per-row projection —
    * zero shuffle; a rolling-update custom Expression is the constant
    * optimization at 100 TB, same semantics). Every value — boundaries,
    * offsets, per-chunk fingerprints — is exact BIGINT arithmetic,
    * restatable verbatim in SQL.
    *
    * Output: (id, chunk_idx 0-based, start_off 0-based char offset into
    * the ASCII-cleaned text, chunk_len, fp).
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                window: Int = 8, divisor: Int = 64): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val t = col("_t"); val len = col("_len")
    // boundary marks strictly inside (0, len) — i == len is excluded (by
    // the kernel's loop bound) so the appended final bound never
    // duplicates, keeping the list sorted-unique without an
    // order-sensitive distinct. One codegen'd pass over the bytes
    // ([[graft.expressions.CdcBoundaries]]); the oracle runs the
    // equivalent per-position fold.
    val marks = graft.functions.cdc_boundaries(t, window, divisor)
    val bounds = concat(array(lit(0)), marks, array(len))
    val chunks = when(len > 0,
        transform(sequence(lit(1), size(col("_b")) - 1), k =>
          struct((k - 1).cast("long").as("chunk_idx"),
            element_at(col("_b"), k).cast("long").as("start"),
            (element_at(col("_b"), k + 1) - element_at(col("_b"), k)).cast("long").as("chunk_len"))))
      .otherwise(array().cast("array<struct<chunk_idx:long,start:long,chunk_len:long>>"))
    df.where(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.asciiOnly(col(textCol)).as("_t"))
      .withColumn("_len", length(t))
      .withColumn("_b", bounds)
      .select(col(idCol), t, explode(chunks).as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.start").as("start_off"),
        col("c.chunk_len"),
        TextAnalysis.fingerprint(
          t.substr((col("c.start") + 1).cast("int"), col("c.chunk_len").cast("int"))).as("fp"))
  }

  def chunk(df: DataFrame, idCol: String, textCol: String,
            width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0, "width and stride must be positive")
    df.select(col(idCol), cleanTokens(col(textCol)).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("ws")) - 1, lit(stride)),
        start => slice(col("ws"), start + 1, lit(width)))))
      .toDF(idCol, "chunk_idx", "chunk")
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }
}
