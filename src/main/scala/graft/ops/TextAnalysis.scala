package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID, document fingerprinting.
  *
  * All built from codegen'd Spark SQL built-ins (no UDFs) so they run
  * inside WholeStageCodegen and are restatable in ANSI SQL for the oracle.
  * Deterministic integer/ratio math only — no floating accumulation across
  * rows, so results are partition-order independent at any scale.
  */
object TextAnalysis {

  /** Strip non-printable-ASCII so char-level ops (fingerprint, shingles)
    * are byte/codepoint-agnostic across engines.
    */
  def asciiOnly(text: Column): Column = regexp_replace(text, "[^ -~]", "")

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text))).cast("long")

  /** BPE-ish subword unit pattern: letter runs, single digits, single
    * punctuation marks. Digit- and punctuation-splitting mirror how
    * merge-based vocab tokenizers (BPE) pre-tokenize, so the count tracks
    * (and upper-bounds) real tokenizer output far better than whitespace
    * words on code/numeric text. Alternation is unambiguous (disjoint
    * character classes), so any leftmost-match regex engine agrees on the
    * count — the property the SQL restatement relies on.
    */
  val SubwordPattern = "[A-Za-z]+|[0-9]|[^\\sA-Za-z0-9]"

  /** Subword-unit count per [[SubwordPattern]] — a codegen'd built-in
    * (`regexp_count`), no UDF.
    */
  def subwordTokenCount(text: Column): Column =
    regexp_count(text, lit(SubwordPattern)).cast("long")

  /** Number of tokens that are English stopwords (fixed small list). */
  val EnStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordCount(text: Column, words: Seq[String] = EnStopwords): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(tokens(text), t => array_contains(arr, t))).cast("long")
  }

  /** Quality score in [0,1]: length saturation, lexical diversity,
    * stopword presence — the classic cheap pre-filter for LLM corpora.
    *
    * Exactness: the entire score is INTEGER arithmetic on the scale-9
    * decimal grid — each quarter-weighted term is an exactly-rounded
    * rational (half-up integral division, `(2a+b) div 2b`), the sum is a
    * BIGINT add, the 6-dp display rounding drops three digits with one
    * more half-up integral division, and only the final ≤10⁶ integer is
    * converted to double (exact, and /10⁶ is the identical IEEE op on
    * every engine). No double ever carries an intermediate, so there is
    * nothing left to round differently across engines. The earlier
    * round-9-then-decimal-sum form still rounded DOUBLE terms, and a
    * data-dependent denominator (nDis/(4·nTok) with nTok = 2ᵃ·5ᵇ, e.g. a
    * 1280-token doc) can land exactly on a non-binary-representable 9-dp
    * half where the engines' round-to-9 disagrees by one ulp.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val nDis = distinctTokenCount(text)
    val nChr = length(text).cast("long")
    val nStop = stopwordCount(text)
    val g = greatest(nTok, lit(1L))
    // half-up a/b at integer scale: (2a + b) div 2b, exact for a,b >= 0
    def hdiv(a: Column, b: Column): Column =
      graft.functions.long_div(a * 2L + b, b * 2L)
    // each term = round9(raw/4) * 1e9 as an exact integer
    val t1 = when(nTok <= 100L, nTok * 2500000L).otherwise(lit(250000000L))
    val t2 = hdiv(nDis * 1000000000L, g * 4L)
    val t3 = when(nChr <= 500L, nChr * 500000L).otherwise(lit(250000000L))
    val t4 = least(hdiv(nStop * 5000000000L, g * 4L), lit(250000000L))
    val s9 = t1 + t2 + t3 + t4
    (graft.functions.long_div(s9 + 500L, lit(1000L)).cast("double") / 1000000.0)
  }

  /** N-gram-free language ID: stopword-hit voting over a per-language
    * marker list; deterministic argmax with fixed priority order.
    * 20 voted languages across three scripts (15 Latin, 3 Cyrillic,
    * 2 Arabic-script); the single-language scripts (Greek, Devanagari,
    * kana, Han, Hangul) need no markers — [[langIdScript]] maps them
    * straight from the script profile. Function-word markers chosen to
    * minimize cross-language collisions within a script (e.g. ru его /
    * uk його, es con / pt com, sv att / da at).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "it", "that", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "pour", "que", "pas", "vous"),
    "es" -> Seq("el", "los", "una", "es", "por", "que", "no", "para", "con", "más"),
    "pt" -> Seq("não", "uma", "os", "das", "em", "para", "com", "mais", "são", "do"),
    "it" -> Seq("il", "di", "che", "la", "per", "con", "del", "si", "sono", "non"),
    "nl" -> Seq("de", "het", "een", "van", "en", "niet", "dat", "met", "voor", "zijn"),
    "pl" -> Seq("nie", "się", "na", "do", "że", "jest", "po", "jak", "ale", "co"),
    "sv" -> Seq("och", "att", "det", "som", "en", "på", "är", "av", "för", "med"),
    "da" -> Seq("og", "det", "at", "en", "den", "til", "er", "som", "på", "ikke"),
    "tr" -> Seq("bir", "ve", "bu", "için", "ile", "gibi", "çok", "ama", "daha", "kadar"),
    "ro" -> Seq("și", "la", "cu", "un", "este", "pentru", "nu", "care", "mai", "din"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "dari", "ini", "akan"),
    "cs" -> Seq("je", "se", "na", "že", "to", "pro", "jako", "ale", "tak", "když"),
    "vi" -> Seq("của", "và", "các", "có", "được", "trong", "là", "cho", "không", "một"),
    "ru" -> Seq("это", "как", "что", "не", "на", "его", "но", "из", "при", "был"),
    "uk" -> Seq("це", "як", "що", "не", "на", "його", "але", "із", "при", "був"),
    "bg" -> Seq("това", "като", "че", "не", "на", "се", "да", "от", "при", "той"),
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "هذا", "عن", "كان", "مع", "التي"),
    "fa" -> Seq("در", "که", "از", "به", "را", "است", "این", "با", "برای", "آن")
  )

  /** Which voted languages compete within each multi-language script —
    * the [[langIdScript]] candidate sets. */
  val ScriptLangs: Map[String, Seq[String]] = Map(
    "latin" -> Seq("en", "de", "fr", "es", "pt", "it", "nl", "pl", "sv", "da",
      "tr", "ro", "id", "cs", "vi"),
    "cyrillic" -> Seq("ru", "uk", "bg"),
    "arabic" -> Seq("ar", "fa"))

  /** Single-evaluation LET binding: evaluates `v` once per row and hands
    * it to `f` as a bound lambda variable. CaseWhen branches re-evaluate
    * shared subtrees (Catalyst's subexpression elimination does not
    * cross conditional branches, and CollapseProject re-inlines struct
    * columns into their consumers), so branch-heavy deciders whose
    * conditions share an expensive input — a tokenize, a script profile,
    * a stats struct — bind it here: measured 20-50× on the language and
    * quality deciders, which otherwise re-tokenize per CASE branch.
    */
  private[ops] def bound(v: Column, f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  def langHits(text: Column, lang: String): Column =
    hitsIn(tokens(lower(text)), lang)

  private def hitsIn(toks: Column, lang: String): Column = {
    val words = LangMarkers.toMap.apply(lang)
    val arr = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t))).cast("long")
  }

  /** Marker-vote argmax over a BOUND token array: every language's hit
    * count evaluates exactly once (strict array construction), the
    * argmax is one fold keeping the earliest maximum — the same
    * first-in-table tie-break as the original when-chain, without its
    * per-branch re-evaluation of the shared tokenize.
    */
  private def voteIn(toks: Column, langs: Seq[String]): Column = {
    val entries = array(langs.map { l =>
      struct(hitsIn(toks, l).as("n"), lit(l).as("lang"))
    }: _*)
    val best = aggregate(
      slice(entries, 2, langs.length - 1),
      element_at(entries, 1),
      (acc, e) => when(e.getField("n") > acc.getField("n"), e).otherwise(acc))
    when(best.getField("n") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Predicted language: argmax of marker hits; 'und' (undetermined) when
    * all counts are zero; ties resolve in LangMarkers order.
    */
  def langId(text: Column): Column =
    bound(tokens(lower(text)), toks => voteIn(toks, LangMarkers.map(_._1)))

  /** Japanese-only kanji markers for [[hanLang]]: kokuji (characters
    * coined in Japan — 込 働 峠 畑 枠) and shinjitai simplifications that
    * differ from BOTH simplified and traditional Chinese forms (駅 円 気
    * 様 変). A Chinese page contains none of these.
    */
  val JaKanjiMarkers: String = "込働峠畑枠駅円気様変"

  /** Chinese-side markers for [[hanLang]]: the highest-frequency written
    * particles (的 了 是 不 我) plus simplified-only forms Japanese never
    * uses (们 这 个 没 说). A few appear in Japanese compounds at low
    * frequency — the decision is a count VOTE, not a presence test, and
    * kana presence short-circuits to ja before the vote.
    */
  val ZhHanMarkers: String = "的了是不我们这个没说"

  /** zh/ja discrimination WITHIN Han-dominant text (the top practical
    * lang-id failure a script split alone can't resolve): any kana at
    * Han dominance is decisive for Japanese (Chinese text contains
    * none); an all-kanji page (headlines, lists) falls to a marker-count
    * vote over [[JaKanjiMarkers]] vs [[ZhHanMarkers]], Chinese on ties —
    * the unmarked-Han default. Korean never reaches here (Hangul
    * dominates its own script class). Per-row strip-and-count, zero
    * shuffle, RE2-restatable.
    */
  def hanLang(text: Column): Column = {
    val kana = regexp_count(text, lit("[぀-ヿ]")).cast("long")
    val ja = regexp_count(text, lit(s"[$JaKanjiMarkers]")).cast("long")
    val zh = regexp_count(text, lit(s"[$ZhHanMarkers]")).cast("long")
    when(kana > 0, lit("ja")).when(ja > zh, lit("ja")).otherwise(lit("zh"))
  }

  /** Script-gated language ID — the breadth path: [[scriptMix]]'s
    * dominant script first splits the decision exactly (a Cyrillic page
    * never competes against Latin marker lists), then only the
    * single-script candidate set votes. Single-language scripts map
    * directly (Greek → el, Devanagari → hi, kana → ja, Hangul → ko);
    * Han dominance — where Japanese and Chinese share a script — falls
    * to [[hanLang]]'s kana-presence + kanji/hanzi marker vote, so a
    * kanji-heavy Japanese page with even one particle of kana reads ja.
    * All per-row codegen'd string work, zero shuffle; Catalyst's
    * subexpression elimination shares the tokenize across the per-lang
    * hit counts.
    */
  def langIdScript(text: Column): Column =
    // bind the script profile AND the token array once — the when-chain's
    // branch conditions would otherwise re-run scriptMix's eight regex
    // scans per branch and each vote its own tokenize
    bound(scriptMix(text).getField("dominant"), dom =>
      bound(tokens(lower(text)), toks =>
        when(dom === "greek", lit("el"))
          .when(dom === "devanagari", lit("hi"))
          .when(dom === "kana", lit("ja"))
          .when(dom === "cjk", hanLang(text))
          .when(dom === "hangul", lit("ko"))
          .when(dom === "cyrillic", voteIn(toks, ScriptLangs("cyrillic")))
          .when(dom === "arabic", voteIn(toks, ScriptLangs("arabic")))
          .when(dom === "latin", voteIn(toks, ScriptLangs("latin")))
          .otherwise(lit("und"))))

  // ---------- repetition signals (Gopher-style quality filters) ----------

  /** Run-length statistics over a SORTED string array: the longest run
    * (= the max multiplicity of any element) and the total number of
    * elements belonging to runs longer than 1 (= how many elements are
    * duplicates of something). One `aggregate` fold — per-row, inside
    * codegen'd expression eval, NO shuffle: the whole repetition analysis
    * of a 100 TB corpus is a single scan with zero exchanges, where the
    * groupBy-on-(doc, token) restatement would shuffle every token.
    *
    * The sentinel prev="" cannot collide with a real token because a run
    * only extends when `run > 0`.
    */
  private[ops] def runStats(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"), lit(0L).as("dup")),
      (acc, w) => {
        val same = acc.getField("run") > 0 && w === acc.getField("prev")
        val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
        // a run reaching length 2 contributes both its elements; each
        // further extension contributes one more
        val dup = acc.getField("dup") +
          when(same, when(acc.getField("run") === 1L, lit(2L)).otherwise(lit(1L))).otherwise(lit(0L))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"), dup.as("dup"))
      },
      acc => struct(acc.getField("best").as("best"), acc.getField("dup").as("dup")))

  /** Adjacent word 2-grams, joined with a single space. Empty for
    * single-word text (`slice` with length 0, never a negative-step
    * `sequence`).
    */
  def bigrams(text: Column): Column = {
    val ws = tokens(text)
    zip_with(
      slice(ws, lit(1), size(ws) - 1),
      slice(ws, lit(2), size(ws) - 1),
      (a, b) => concat(a, lit(" "), b))
  }

  /** Repetition signals per document, the classic LLM-corpus quality
    * filters: `top_word_frac` (most frequent word's share), `dup_word_frac`
    * (share of words that are repeats of something), `dup_2gram_frac`
    * (same at adjacent-bigram level — catches boilerplate phrase loops
    * that word-level stats miss). All exact integer/ratio math, rounded
    * to 6 dp; restated independently by a group-by-multiplicity oracle.
    */
  def repetitionSignals(text: Column): Column = {
    val ws = runStats(sort_array(tokens(text)))
    val nWords = size(tokens(text)).cast("double")
    val bg = runStats(sort_array(bigrams(text)))
    val nBigrams = (size(tokens(text)) - 1).cast("double")
    struct(
      round(ws.getField("best").cast("double") / nWords, 6).as("top_word_frac"),
      round(ws.getField("dup").cast("double") / nWords, 6).as("dup_word_frac"),
      when(nBigrams <= 0, lit(0.0))
        .otherwise(round(bg.getField("dup").cast("double") / nBigrams, 6)).as("dup_2gram_frac"))
  }

  /** Character-level Shannon entropy (bits/char) over the printable-ASCII
    * projection — the corpus-filter signal that catches base64 blobs and
    * key-mash (high entropy) and repeated-padding boilerplate (low
    * entropy) that token-level stats miss. Per-row fold over the distinct
    * characters of the document (O(len·alphabet), alphabet ≤ 95): no
    * shuffle, no UDF, restatable in SQL. Empty text → 0.0. Rounded to
    * 6 dp; p·log₂p uses IEEE-double ln on both engines (≤ 1 ulp apart,
    * far inside the rounding).
    */
  def charEntropy(text: Column): Column = {
    val t = asciiOnly(text)
    val n = length(t).cast("double")
    val chars = transform(sequence(lit(1), length(t)), i => substring(t, i, lit(1)))
    // sorted distinct chars: the float accumulation order is part of the
    // contract (the SQL restatement folds the same sorted list)
    val uniq = array_sort(array_distinct(chars))
    when(length(t) === 0, lit(0.0)).otherwise(round(
      aggregate(uniq, lit(0.0d), (acc, c) => {
        val p = size(filter(chars, x => x === c)).cast("double") / n
        acc - p * log(2.0, p)
      }), 6))
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram language model — the CCNet-style LM quality signal (docs far
    * below the corpus mean read as gibberish/key-mash; far above as
    * boilerplate). logp(token) = ln(tf_corpus) − ln(N_corpus).
    *
    * Exactness contract: each per-token logp is rounded to 9 dp and
    * accumulated as decimal(38,9) — order-independent exact sums, so the
    * unordered shuffle reduce cannot produce run-to-run float jitter; the
    * mean is rounded to 6 dp at the end (ln itself agrees across engines
    * well inside 9 dp, as the green tfidf/entropy gates already rely on).
    *
    * Plan shape: explode → corpus-LM aggregate on the term key → join
    * tokens back to the LM on the term key → per-doc aggregate. The LM
    * side is vocabulary-sized; Catalyst/AQE broadcasts it when small and
    * shuffle-joins on the term key when not — both linear, no driver-side
    * loops, the scalar corpus total rides a 1-row broadcast cross join.
    */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val lm = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = lm.agg(sum(col("tf")).as("n_total"))
    toks.join(lm, "term")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        round(log(col("tf")) - log(col("n_total")), 9)
          .cast("decimal(38,9)").as("logp"))
      .groupBy(col(idCol))
      .agg(round((sum(col("logp")).cast("double") / count(lit(1))), 6)
        .as("mean_logp"), count(lit(1)).as("n_tokens"))
  }

  /** Per-(document, term) TF-IDF: tf = in-document term count, df =
    * number of documents containing the term, idf = ln(N / df), score =
    * tf · idf. Two shuffles — (doc, term) then term — both on narrow
    * integer/short-string keys, plus one N-count scan; the df table is
    * vocabulary-sized (broadcastable in practice, left to AQE so a
    * 100 M-term vocab falls back to a shuffle join rather than OOM).
    *
    * The score is rounded to 6 dp. ln() is the one non-rational step:
    * IEEE doubles from two correctly-rounded libms agree to ≤ 1 ulp,
    * far inside the rounding, and exact ties (equal (tf, df)) are decided
    * by the caller's (term, id) tie-break rather than the score.
    */
  def tfIdf(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val n = df.count()
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6).as("tfidf"))
  }

  /** Okapi BM25 document scoring against a literal query-term list — the
    * classical retrieval scorer next to [[tfIdf]]:
    * idf(t) = ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) (the non-negative
    * Robertson form), score(d) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·len/avgdl)).
    *
    * Scale: tf for ONLY the query terms is a per-row codegen'd array fold
    * — the corpus never shuffles; the (N, Σlen, df_t…) statistics are ONE
    * scalar aggregation (a handful of numbers over the whole corpus), and
    * the score pass is a second zero-shuffle projection. Determinism: the
    * stats are exact BIGINTs, ln() agrees across correctly-rounded libms
    * to ≤ 1 ulp, and the score is rounded to 6 dp (same convention as
    * [[tfIdf]]).
    */
  def bm25(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val projCols = col(idCol) +: size(tokens(col(textCol))).cast("long").as("dl") +:
      queryTerms.zipWithIndex.map { case (t, i) =>
        size(filter(tokens(col(textCol)), x => x === lit(t))).cast("long").as(s"tf$i")
      }
    val withTf = df.select(projCols: _*)
    // one row of global statistics: N, Σlen and one df per query term
    val statCols = count(lit(1)).as("n") +: sum(col("dl")).as("sumlen") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val statsRow = withTf.agg(statCols.head, statCols.tail: _*).head()
    val n = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / n
    val score = queryTerms.indices.map { i =>
      val dfT = statsRow.getLong(2 + i)
      val idf = math.log(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
      lit(idf) * col(s"tf$i") * (k1 + 1.0) /
        (col(s"tf$i") + lit(k1) * (lit(1.0 - b) + lit(b / avgdl) * col("dl")))
    }.reduce(_ + _)
    withTf.select(col(idCol), round(score, 6).as("score"))
  }

  /** Edit-distance-1 vocabulary pairing (typo clustering) via
    * SymSpell-style deletion blocking: two distinct words within
    * Levenshtein distance 1 always share a string in {w} ∪ deletes₁(w)
    * (the blocking is LOSSLESS in that direction only — sharing a
    * deletion variant does not imply distance ≤ 1: "ab"/"ba" share "a"
    * at distance 2, which is why the exact `levenshtein` filter below is
    * load-bearing, not belt-and-braces),
    * so candidates come from ONE equi-join on a deletion-variant key
    * (≤ len+1 keys per word — linear in corpus vocabulary) instead of a
    * quadratic all-pairs, and the final filter is the exact built-in
    * `levenshtein`. The blocking is lossless, so the output is the EXACT
    * distance-≤1 pair set: (a, b) with a < b, distinct.
    *
    * Scale: bound word length upstream (vocabularies obey Zipf; a 30-char
    * cap keeps the variant fan-out ≤ 31× on outliers) — the join keys are
    * short strings, the pair space is output-proportional.
    */
  def editPairs(df: org.apache.spark.sql.DataFrame, wordCol: String): org.apache.spark.sql.DataFrame = {
    val words = df.select(col(wordCol).as("w"))
      .where(col("w").isNotNull && length(col("w")) > 0).distinct()
    val variants = words.select(col("w"), explode(array_distinct(concat(
      array(col("w")),
      transform(sequence(lit(1), length(col("w"))), i =>
        concat(col("w").substr(lit(1), i - 1),
               col("w").substr(i + 1, length(col("w")))))))).as("v"))
    val l = variants.select(col("v"), col("w").as("wa"))
    val r = variants.select(col("v"), col("w").as("wb"))
    l.join(r, "v").where(col("wa") < col("wb"))
      .select(col("wa").as("a"), col("wb").as("b")).distinct()
      .where(levenshtein(col("a"), col("b")) <= 1)
  }

  /** Inverted index: one posting row (term, doc, tf) per distinct term
    * occurrence — the classic retrieval layout, built with ONE shuffle on
    * the (term, doc) key with map-side partial counts. At 100 TB write it
    * `partitionBy` a term hash-bucket (same pattern as the ANN bucket
    * store): a query then lists only its own terms' bucket directories.
    */
  def invertedIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  /** Conjunctive (AND) Boolean retrieval over an [[invertedIndex]]: docs
    * containing EVERY query term, ranked by total query-term frequency
    * (desc, doc_id tiebreak). The plan never touches the corpus text:
    * filter the posting table to the |q| query terms (partition pruning
    * when the index is bucket-partitioned), one groupBy on doc_id over
    * those postings — candidate volume is Σ df(term), the retrieval
    * lower bound — and a HAVING count = |q| for the intersection.
    */
  def conjunctiveSearch(index: org.apache.spark.sql.DataFrame,
                        queryTerms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "conjunctiveSearch needs at least one term")
    val distinctTerms = queryTerms.distinct
    index.where(col("term").isin(distinctTerms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_sum"))
      .where(col("n_terms") === distinctTerms.size)
      .select(col("doc_id"), col("tf_sum"))
      .orderBy(col("tf_sum").desc, col("doc_id")).limit(k)
  }

  /** Sparse document-to-document similarity ("more like this"): top-k
    * neighbors per document by TF-IDF cosine over the inverted index —
    * the SPARSE counterpart to the dense embedding ANN suite, and the
    * retrieval shape BM25-era dedup/recommendation pipelines run when no
    * embeddings exist. Weights `w(d,t) = tf · ln((N+1)/(df+1))` (9-dp
    * rounded), per-doc norms from 9-dp-rounded squared terms summed as
    * DECIMAL(38,9), pair dot products likewise — the lm_logprob
    * exactness contract applied to retrieval, so the whole pipeline is
    * restatable.
    *
    * Plan: candidates come from the posting self-join on the term key —
    * pair volume is Σ_t df(t)², which is why `maxDf` exists: terms in
    * more than `maxDf` documents are EXCLUDED from candidate generation
    * (their IDF ≈ 0 contribution is retrieval noise anyway — the classic
    * stop-posting cut); exact weights still include them via the norm,
    * so scores of surviving pairs are exact. One term-keyed shuffle for
    * candidates, map-side-combined decimal dot rollup per pair, then the
    * bounded `knn_topk` heap per doc — N×k rows cross the final
    * exchange. Same corpus caveat as [[graft.ops.Dedup.containmentPairs]]:
    * on template text where EVERY term is a hub (tiny vocabulary),
    * Σ df² is quadratic and maxDf is the only lever — size it from the
    * df distribution, accepting that pairs sharing ONLY cut terms go
    * unscored (boilerplate-similarity pairs by definition).
    *
    * Output: (idCol, rank, other, cosine) — both orientations of each
    * pair rank (a neighbor list per document).
    */
  final case class SparseSimRun(neighbors: org.apache.spark.sql.DataFrame,
                                cutTerms: () => Long)

  def similarDocsSparse(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, k: Int,
                        maxDf: Int = 1 << 20): org.apache.spark.sql.DataFrame =
    similarDocsSparseRun(df, idCol, textCol, k, maxDf).neighbors

  /** [[similarDocsSparse]] plus the over-cap observer (`cutTerms()` —
    * how many terms the maxDf stop-posting cut removed from candidate
    * generation), the repo's standard contract for every capped pair
    * space: the cut never bites silently.
    */
  def similarDocsSparseRun(df: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String, k: Int,
                           maxDf: Int = 1 << 20): SparseSimRun = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val idx = invertedIndex(df, idCol, textCol) // (term, doc_id, tf)
    val dfreq = idx.groupBy("term").agg(count(lit(1)).as("tdf"))
    val nDocs = df.select(col(idCol)).distinct().count()
    val w = idx.join(dfreq, "term")
      .select(col("term"), col("doc_id"), col("tdf"),
        graft.functions.fast_round(
          col("tf").cast("double")
            * log((lit(nDocs) + 1L).cast("double") / (col("tdf") + 1L).cast("double")), 9)
          .as("w"))
    val norms = w
      .select(col("doc_id"),
        graft.functions.fast_round(col("w") * col("w"), 9).cast("decimal(38,9)").as("w2"))
      .groupBy("doc_id")
      .agg(sqrt(sum(col("w2")).cast("double")).as("nrm"))
    val live = w.where(col("tdf") <= maxDf)
    val dots = live.select(col("term"), col("doc_id").as("a"), col("w").as("wa"))
      .join(live.select(col("term"), col("doc_id").as("b"), col("w").as("wb")), "term")
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        graft.functions.fast_round(col("wa") * col("wb"), 9).cast("decimal(38,9)").as("p"))
      .groupBy(col("a"), col("b")).agg(sum(col("p")).cast("double").as("dot"))
    val scored = dots
      .join(norms.select(col("doc_id").as("a"), col("nrm").as("na")), "a")
      .join(norms.select(col("doc_id").as("b"), col("nrm").as("nb")), "b")
      // a zero norm (every term of the doc in every doc) would make the
      // division NaN; such docs carry no retrieval signal — excluded
      .where(col("na") > 0.0 && col("nb") > 0.0)
      .select(col("a"), col("b"),
        graft.functions.fast_round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
    val neighbors = scored
      .select(col("a"),
        graft.functions.fast_round(lit(1.0) - col("cosine"), 6).as("_d"), col("b"))
      .groupBy(col("a"))
      .agg(graft.functions.knn_topk(col("_d"), col("b"), k).as("_tk"))
      .select(col("a").as(idCol), posexplode(col("_tk")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("other"),
        graft.functions.fast_round(lit(1.0) - col("col.distance"), 6).as("cosine"))
    lazy val cut: Long = dfreq.where(col("tdf") > maxDf).count()
    SparseSimRun(neighbors, () => cut)
  }

  /** Cross-document repeated token n-grams — the corpus-level "memorized
    * span" signal of Lee et al. 2022 (Deduplicating Training Data Makes
    * Language Models Better): n-grams occurring in ≥ `minDocs` distinct
    * documents, with doc- and occurrence-counts. Unlike
    * [[graft.ops.Dedup.repeatedSpans]] (within one document, zero
    * shuffle), this shuffles — but NEVER on the gram string: every
    * exchange keys on the gram's 128-bit content fingerprint
    * ([[graft.ops.Dedup.fingerprintLanes]]), so a 100 TB corpus moves
    * 16-byte keys where the naive plan moves full n-gram text (~n×
    * heavier). Strings are recovered
    * for the SURVIVORS only, by one hash-keyed join back against a
    * second local gram pass — two corpus scans total, the classic
    * scan-vs-shuffle trade that wins whenever the exchange, not the
    * read, is the bottleneck (always, at cluster scale). Map-side
    * partial aggregation collapses the recovery join's duplicate
    * strings before they cross the wire, so that shuffle is
    * survivors × partitions at worst. A fingerprint collision would
    * merge two distinct grams — probability < 2⁻⁸⁰ even at 10¹²
    * distinct grams, the same budget [[graft.ops.Dedup.minhashLshRun]]
    * documents.
    */
  def crossDocNgrams(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, n: Int, minDocs: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // NB: guard short docs BEFORE sequence() — sequence(1, 0) yields a
    // DESCENDING [1, 0] (see fingerprint), and slice() rejects start 0.
    // The tokenization is projected ONCE per row (referencing tokens()
    // twice in one projection would split the text twice).
    val toks = col("_toks")
    val cnt = size(toks) - (n - 1)
    val grams = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"),
        explode(when(cnt > 0,
            transform(sequence(lit(1), cnt), i => array_join(slice(toks, i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
    // two explicit stages instead of countDistinct's Expand: the (hash,
    // doc) pre-aggregate collapses within-doc repeats map-side, then the
    // hash rollup counts docs and sums occurrences — both exchanges carry
    // 16-byte keys, the gram string is dropped before the first one
    val counts = grams
      .select(col("doc_id") +: gramLanes: _*)
      .groupBy("h1", "h2", "doc_id").agg(count(lit(1)).as("_c"))
      .groupBy("h1", "h2")
      .agg(count(lit(1)).as("n_docs"), sum(col("_c")).as("n_occurrences"))
      .where(col("n_docs") >= minDocs)
    // survivor string recovery: re-derive grams locally (second scan),
    // inner-join the output-sized survivor set (AQE broadcasts it when
    // small), and collapse each fingerprint's identical strings map-side
    grams.select(gramLanes :+ col("gram"): _*)
      .join(counts, Seq("h1", "h2"))
      .groupBy("h1", "h2", "n_docs", "n_occurrences")
      .agg(min(col("gram")).as("gram"))
      .select(col("gram"), col("n_docs"), col("n_occurrences"))
  }

  /** The gram's 128-bit fingerprint as `(h1, h2)`
    * ([[graft.ops.Dedup.fingerprintLanes]]).
    */
  private def gramLanes = Dedup.fingerprintLanes(col("gram"), "h1", "h2")

  /** Corpus-novelty score: the fraction of a document's DISTINCT token
    * n-grams that appear in no other document — high novelty marks
    * original content, low novelty marks boilerplate/templated/near-dup
    * text, and benchmark contamination shows up as novelty collapsing
    * for exactly the contaminated slice. The distinct-gram side of
    * [[crossDocNgrams]]: same gram construction, same 128-bit-fingerprint
    * exchanges, then a per-doc rollup. Better still than crossDocNgrams:
    * the OUTPUT carries no gram strings, so no recovery pass exists at
    * all — the string dies in the mapper and the whole plan (distinct,
    * doc-frequency rollup, per-doc join-back) moves only (id, 16-byte
    * hash) rows. One corpus scan, three hash-keyed exchanges.
    *
    * Output: (id, n_distinct_grams, n_novel, novelty) with novelty =
    * n_novel / n_distinct_grams rounded to 6 dp. Documents shorter than
    * n tokens have no grams and don't appear.
    */
  def noveltyScores(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = col("_toks")
    val cnt = size(toks) - (n - 1)
    val grams = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        explode(when(cnt > 0,
            transform(sequence(lit(1), cnt), i => array_join(slice(toks, i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .select(col(idCol) +: gramLanes: _*)
      .distinct()
    val dfreq = grams.groupBy("h1", "h2").agg(count(lit(1)).as("gdf"))
    grams.join(dfreq, Seq("h1", "h2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_distinct_grams"),
        sum(when(col("gdf") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        graft.functions.fast_round(
          col("n_novel").cast("double") / col("n_distinct_grams"), 6))
  }

  /** Interpolated bigram LM score — [[unigramLogProb]] with context: each
    * adjacent pair (prev, cur) scores
    * `ln(λ·c(prev,cur)/ctx(prev) + (1−λ)·c(cur)/N)` where ctx(prev) is
    * the CONTEXT count (pairs starting with prev, not the raw unigram
    * count — a document-final token is never a context), and a document's
    * score is the mean over its pairs. Linear interpolation with the
    * unigram floor means unseen-in-context words degrade gracefully
    * instead of hitting ln(0) — the classic Jelinek-Mercer smoothing that
    * perplexity-based quality filtering (CCNet-style) actually uses.
    *
    * Exactness contract is lm_logprob's: every count is an exact BIGINT,
    * the interpolation and ln are ONE double tree per pair, each term is
    * rounded to 9 dp and summed as DECIMAL(38,9) (unordered reduce
    * exact), the mean re-rounded to 6 dp. Shuffles ride (prev, cur) /
    * prev / cur keys — vocabulary-sized, AQE broadcasts the LM tables.
    * Documents with fewer than two tokens have no pairs and don't appear.
    */
  /** Kneser-Ney smoothed bigram LM score — the LM-quality ladder's top
    * rung above [[bigramLogProb]]'s Jelinek-Mercer: absolute discounting
    * with the CONTINUATION back-off,
    * `P(w|v) = max(c(v,w)−D, 0)/c(v·) + D·N₁₊(v·)/c(v·) · N₁₊(·w)/N₁₊(··)`,
    * which scores a word by how many distinct contexts it follows rather
    * than raw frequency — the fix for the "San Francisco" pathology
    * (frequent-but-context-bound words stop leaking probability mass),
    * and the smoothing KenLM-style perplexity filters actually ship.
    * In-corpus pairs make every denominator ≥ 1 (a pair's own context
    * and continuation exist), so ln never sees 0.
    *
    * Exactness: all five count tables are exact BIGINTs on vocabulary-
    * sized keys (AQE broadcasts them); the probability is ONE explicitly
    * cast double tree per pair, each term rounded to 9 dp and summed as
    * DECIMAL(38,9) — the lm_logprob contract. Output: (id, mean_logp,
    * n_pairs), documents with < 2 tokens absent.
    */
  def kneserNeyLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(discount > 0.0 && discount < 1.0, s"discount must be in (0,1), got $discount")
    val toksDf = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val pairs = toksDf.select(col(idCol),
        explode(when(size(col("_toks")) >= 2,
            transform(sequence(lit(2), size(col("_toks"))), i =>
              struct(element_at(col("_toks"), i - 1).as("prev"),
                element_at(col("_toks"), i).as("cur"))))
          .otherwise(array().cast("array<struct<prev:string,cur:string>>"))).as("p"))
      .select(col(idCol), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val bigram = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val ctx = pairs.groupBy("prev").agg(count(lit(1)).as("ca"))
    val fanout = bigram.groupBy("prev").agg(count(lit(1)).as("n1f"))
    val contin = bigram.groupBy("cur").agg(count(lit(1)).as("n1b"))
    val nPairsDistinct = bigram.agg(count(lit(1)).as("nbg"))
    val d = lit(discount)
    pairs
      .join(bigram, Seq("prev", "cur"))
      .join(ctx, Seq("prev"))
      .join(fanout, Seq("prev"))
      .join(contin, Seq("cur"))
      .crossJoin(broadcast(nPairsDistinct))
      .select(col(idCol),
        round(log(
            greatest(col("cb").cast("double") - d, lit(0.0)) / col("ca").cast("double")
              + d * col("n1f").cast("double") / col("ca").cast("double")
                * (col("n1b").cast("double") / col("nbg").cast("double"))), 9)
          .cast("decimal(38,9)").as("logp"))
      .groupBy(col(idCol))
      .agg(round(sum(col("logp")).cast("double") / count(lit(1)), 6).as("mean_logp"),
        count(lit(1)).as("n_pairs"))
  }

  def bigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, lambda: Double = 0.7): org.apache.spark.sql.DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0,1), got $lambda")
    val toksDf = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val pairs = toksDf.select(col(idCol),
        explode(when(size(col("_toks")) >= 2,
            transform(sequence(lit(2), size(col("_toks"))), i =>
              struct(element_at(col("_toks"), i - 1).as("prev"),
                element_at(col("_toks"), i).as("cur"))))
          .otherwise(array().cast("array<struct<prev:string,cur:string>>"))).as("p"))
      .select(col(idCol), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val bigram = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val ctx = pairs.groupBy("prev").agg(count(lit(1)).as("ca"))
    val uni = toksDf.select(explode(col("_toks")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).as("n_total"))
    pairs
      .join(bigram, Seq("prev", "cur"))
      .join(ctx, Seq("prev"))
      .join(uni.select(col("t").as("cur"), col("cu")), Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col(idCol),
        round(log(lit(lambda) * col("cb") / col("ca")
            + (lit(1.0) - lit(lambda)) * col("cu") / col("n_total")), 9)
          .cast("decimal(38,9)").as("logp"))
      .groupBy(col(idCol))
      .agg(round(sum(col("logp")).cast("double") / count(lit(1)), 6).as("mean_logp"),
        count(lit(1)).as("n_pairs"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the hybrid-retrieval
    * combiner: each input is a SHORTLIST (id + an ordering column), each
    * list contributes 1/(c + rank) per id, and ids are scored by the sum.
    * The standard way to merge BM25 and vector-search rankings without
    * score calibration, since only ranks enter the formula.
    *
    * Exactness: ranks are row_numbers over the caller's (ordering, id)
    * sort; each 1/(c+rank) term is rounded to 9 dp and summed as
    * DECIMAL(38,9), so with ≥ 3 lists the unordered reduce still cannot
    * reassociate doubles. The per-list window is single-partition BY
    * DESIGN — inputs are top-N shortlists (the k·overscan rows a
    * retrieval stage emits), never corpora; fusing pre-ranked lists of
    * thousands of rows is driver-scale work no matter the cluster. That
    * design assumption is CHECKED, not hoped: each list is counted (a
    * distributed count, cheap at any scale) and a list longer than
    * `maxListRows` fails fast BEFORE the single-partition sort would
    * silently swallow a corpus-sized input. The window keys on a constant
    * partition column so the plan carries an explicit (single-bucket)
    * partition spec rather than WindowExec's implicit empty one.
    *
    * Output: (id, rrf_score, n_lists), fused rank order =
    * (rrf_score desc, id).
    */
  def rrfFuse(lists: Seq[(org.apache.spark.sql.DataFrame, Column)], idCol: String,
              c: Int = 60, topN: Int = 20,
              maxListRows: Long = 1L << 20): org.apache.spark.sql.DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranking")
    require(c >= 1, s"c must be >= 1, got $c")
    require(maxListRows >= 1, s"maxListRows must be >= 1, got $maxListRows")
    lists.zipWithIndex.foreach { case ((df, _), i) =>
      val n = df.limit((maxListRows + 1).min(Int.MaxValue.toLong).toInt).count()
      require(n <= maxListRows,
        s"rrfFuse list $i has > $maxListRows rows — inputs must be pre-ranked " +
          "SHORTLISTS (cut with orderBy(...).limit(k) upstream); fusing a " +
          "corpus-sized list would single-partition the whole input")
    }
    val ranked = lists.map { case (df, ord) =>
      // pmod(hash, 1) ≡ 0 but is NOT foldable, so the single-bucket
      // partition spec survives optimization (a lit(0) key gets
      // constant-folded away and WindowExec reverts to the implicit
      // empty spec)
      df.select(col(idCol),
        row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(xxhash64(col(idCol)), lit(1L)))
            .orderBy(ord, col(idCol)))
          .cast("long").as("_rank"))
    }
    ranked.reduce(_ unionAll _)
      .groupBy(idCol)
      .agg(
        sum(graft.functions.fast_round(lit(1.0) / (lit(c.toDouble) + col("_rank")), 9)
          .cast("decimal(38,9)")).as("_s"),
        count(lit(1)).as("n_lists"))
      .select(col(idCol), col("_s").cast("double").as("rrf_score"), col("n_lists"))
      .orderBy(col("rrf_score").desc, col(idCol)).limit(topN)
  }

  /** Pointwise mutual information of ADJACENT token pairs — collocation
    * mining ("machine learning"-style multiword detection). Pairs are
    * unordered (lexicographically normalized); counts are exact BIGINTs
    * from two narrow-key shuffles (pair key, then unigram broadcast-join
    * sized by the vocabulary); the score
    * `ln(c_ab·N² / (P·c_a·c_b))` is one double expression tree over
    * exact counts, rounded to 6 dp — restatable on any engine with a
    * correctly-rounded libm ln (same convention as bm25's idf).
    *
    * Output: (a, b, n_pair, pmi) for pairs with n_pair ≥ minCount — the
    * count floor is the standard guard against PMI's low-frequency blowup
    * AND what keeps the output vocabulary-sized rather than corpus-sized.
    */
  def pmiPairs(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
               minCount: Long): org.apache.spark.sql.DataFrame = {
    val toksDf = df.select(tokens(col(textCol)).as("_toks"))
    val pairs = toksDf.select(
        explode(when(size(col("_toks")) >= 2,
            transform(sequence(lit(1), size(col("_toks")) - 1), i =>
              struct(least(element_at(col("_toks"), i), element_at(col("_toks"), i + 1)).as("a"),
                greatest(element_at(col("_toks"), i), element_at(col("_toks"), i + 1)).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .where(col("a") =!= "" && col("b") =!= "")
      .groupBy("a", "b").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
    val uni = toksDf.select(explode(col("_toks")).as("t")).where(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("n_uni"))
    // N = unigram events, P = ALL adjacent-pair events (pre-minCount — the
    // count floor prunes the output, not the probability normalization)
    val totals = uni.agg(sum(col("n_uni")).as("n_total"))
      .crossJoin(toksDf.agg(
        sum(greatest(size(col("_toks")) - 1, lit(0))).as("p_total")))
    pairs
      .join(uni.select(col("t").as("a"), col("n_uni").as("n_a")), "a")
      .join(uni.select(col("t").as("b"), col("n_uni").as("n_b")), "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("n_pair"),
        graft.functions.fast_round(
          log(col("n_pair").cast("double") * col("n_total") * col("n_total")
            / (col("p_total").cast("double") * col("n_a") * col("n_b"))), 6).as("pmi"))
  }

  /** Rolling polynomial hash (mod 1e9+7, base 31) over the printable-ASCII
    * codepoints — a deterministic document fingerprint computable in pure
    * SQL on any engine. All arithmetic stays within Long range.
    */
  def fingerprint(text: Column): Column = {
    val clean = asciiOnly(text)
    // NB: guard the empty case — Spark's sequence(1, 0) yields a DESCENDING
    // [1, 0], not an empty list.
    when(length(clean) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), length(clean)), i => ascii(substring(clean, i, lit(1)))),
        lit(0L),
        (acc, c) => (acc * 31L + c.cast("long")) % 1000000007L
      ))
  }

  // ---------- markup removal + sentence segmentation ----------

  /** Strip HTML/XML markup down to visible text — the crawl-to-corpus
    * extraction step (C4/CCNet run this shape over every fetched page
    * before any quality or dedup pass). Four structural removals, each a
    * codegen'd `regexp_replace` with RE2-COMPATIBLE patterns (non-greedy
    * dot-all; no lookaround — Java and RE2 agree leftmost-match by
    * construction, the property the SQL oracle relies on), then literal
    * entity decodes, then whitespace collapse:
    *
    *  1. `<script …>…</script>` and `<style …>…</style>` blocks drop
    *     WITH their contents (code/CSS is not corpus text),
    *  2. `<!-- … -->` comments drop,
    *  3. remaining tags (`<p class="x">`, `</div>`, `<!DOCTYPE …>`)
    *     drop structurally: a tag must open with `[A-Za-z!/]`, so a bare
    *     "a < b" comparison in prose survives,
    *  4. entities decode ([[decodeEntities]]): numeric character
    *     references (`&#NNN;`/`&#xHH;`, BMP profile with the HTML5
    *     windows-1252 C1 remap, RE2-safe
    *     separator-injection split) plus the named table via LITERAL
    *     `replace`, `&amp;` deliberately LAST and `&#38;` routed through
    *     a placeholder so double-escaped text ("&amp;lt;", "&#38;amp;")
    *     single-decodes exactly as a spec HTML unescaper's one pass
    *     would,
    *  5. whitespace (incl. what replaced the blocks) collapses to single
    *     spaces, trimmed.
    *
    * Entities decoded AFTER tag removal stay literal text ("&lt;b&gt;" →
    * "<b>" is CONTENT, not markup) — the correct one-pass unescape
    * semantics. Malformed markup degrades gracefully: an unterminated
    * `<script>` loses only its open tag (contents surface as text),
    * never errors. Zero shuffle, one pass, whole-stage codegen.
    */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[A-Za-z!/][^>]*>", " ")
    trim(regexp_replace(decodeEntities(noTags), "\\s+", " "))
  }

  /** NUMERIC character references (`&#NNN;` / `&#xHH;`, BMP profile) +
    * the named-entity table, with one-pass unescape semantics — real HTML
    * uses numeric forms constantly, and a decoder without them leaves
    * `&#8217;`-class residue in every extracted corpus.
    *
    * RE2-safe mechanism (no lookaround, replayable verbatim in any SQL
    * engine): numeric references are bracketed with an injected U+0001
    * separator, the string splits on it, and each entity segment decodes
    * via `cp → 2 UTF-16BE bytes → decode` (Spark's `chr` is mod-256; the
    * byte path is exact for the whole BMP). Profile: cp ∈ {9, 10, 13} ∪
    * [32, 126] ∪ [160, 0xFFFD] minus surrogates decodes; 160 (nbsp)
    * maps to a plain space like the named `&nbsp;`; anything else (NUL,
    * other C0 controls, DEL, unmapped C1, astral planes, malformed)
    * stays LITERAL — graceful, never an error.
    * Pre-existing U+0001/U+0002 control bytes strip first (the injected
    * separator and the `&` placeholder must not collide with raw crawl
    * control bytes; C0 controls carry no corpus signal).
    *
    * C1-range references (`&#128;`-`&#159;`) follow the HTML5
    * numeric-character-reference rule: they remap through the
    * windows-1252 table ([[Win1252Refs]] — `&#146;` is the curly
    * apostrophe every legacy CMS emits, not a control char); the five
    * code points windows-1252 leaves unmapped (129/141/143/144/157) and
    * DEL (127) stay LITERAL like the other controls.
    *
    * One-pass semantics across BOTH decoders: numeric decode runs first
    * but emits `&#38;`/`&#x26;` as a U+0002 PLACEHOLDER, the named fold
    * runs with `&amp;` last, and the placeholder resolves to `&` at the
    * very end — so `&#38;amp;` yields the literal text "&amp;" and
    * `&amp;#65;` yields "&#65;", exactly as a spec HTML unescaper's
    * single left-to-right pass would.
    */
  /** The HTML5 windows-1252 remap for numeric references in the C1
    * range (WHATWG HTML numeric-character-reference end state) — shared
    * with the oracle SQL generator so both engines decode from the SAME
    * table.
    */
  private[graft] val Win1252Refs: Seq[(Int, Int)] = Seq(
    128 -> 0x20AC, 130 -> 0x201A, 131 -> 0x0192, 132 -> 0x201E,
    133 -> 0x2026, 134 -> 0x2020, 135 -> 0x2021, 136 -> 0x02C6,
    137 -> 0x2030, 138 -> 0x0160, 139 -> 0x2039, 140 -> 0x0152,
    142 -> 0x017D, 145 -> 0x2018, 146 -> 0x2019, 147 -> 0x201C,
    148 -> 0x201D, 149 -> 0x2022, 150 -> 0x2013, 151 -> 0x2014,
    152 -> 0x02DC, 153 -> 0x2122, 154 -> 0x0161, 155 -> 0x203A,
    156 -> 0x0153, 158 -> 0x017E, 159 -> 0x0178)

  /** Occurrences of the two separator/placeholder control bytes
    * (U+0001/U+0002) that [[decodeEntities]] strips from raw markup
    * before decoding — the OBSERVABILITY metric for that documented
    * data-loss class: genuine C0 control bytes in crawl content do not
    * survive extraction byte-exactly, and a corpus audit sums this
    * column over the raw captures to measure exactly how much text the
    * profile touched (almost always zero — C0 bytes carry no corpus
    * signal and most decoders reject them outright). One codegen'd
    * per-row length diff, zero shuffle.
    */
  def collisionByteCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\u0001\u0002]", ""))).cast("long")

  private def decodeEntities(x: Column): Column = {
    // fast paths, semantics-preserving — the pipeline's extraction chain
    // calls this per BLOCK/ANCHOR, and the overwhelmingly common
    // fragment carries no entity at all:
    //  1. the whole function is an IDENTITY on text without '&' and
    //     without the two separator/placeholder control bytes — one
    //     cheap codegen'd three-scan guard skips every replace, the
    //     numeric mark/split/transform and the named fold outright;
    //  2. inside the numeric split, only segments that BEGIN with "&#"
    //     (exactly the bracketed references, plus the rare unmatched
    //     "&#garbage" prose) pay the regexp_extract + decode CASE —
    //     the in-between prose segments take one startsWith;
    //  3. the control strip and the split/transform keep their own
    //     contains guards for the mixed case (has '&', no entities).
    // Oracles replay the UNGUARDED chain: every guard is an identity on
    // its skipped branch, so values cannot differ.
    val clean = when(x.contains("\u0001") || x.contains("\u0002"),
      regexp_replace(x, "[\u0001\u0002]", "")).otherwise(x)
    val marked = regexp_replace(clean,
      "(&#(?:[0-9]{1,7}|[xX][0-9a-fA-F]{1,6});)", "\u0001$1\u0001")
    val numericFull = array_join(transform(split(marked, "\u0001"), s =>
      when(!s.startsWith("&#"), s).otherwise {
      val dec = regexp_extract(s, "^&#([0-9]{1,7});$", 1)
      val hx = regexp_extract(s, "^&#[xX]([0-9a-fA-F]{1,6});$", 1)
      val cp = when(dec =!= "", dec.cast("long"))
        .when(hx =!= "", conv(hx, 16, 10).cast("long"))
      // general profile: tab/LF/CR, printable ASCII, and the BMP above
      // nbsp minus surrogates; 127 and the C1 range are NOT general —
      // C1 goes through the windows-1252 remap, leftovers stay literal
      val gen = cp === 9 || cp === 10 || cp === 13 ||
        (cp >= 32 && cp <= 126) ||
        (cp >= 160 && cp <= 65533 && !(cp >= 55296 && cp <= 57343))
      val head = when(cp.isNull, s)
        .when(cp === 38, lit("\u0002"))
        .when(cp === 160, lit(" "))
      Win1252Refs.foldLeft(head) { case (acc, (k, u)) =>
          acc.when(cp === k, lit(new String(Character.toChars(u))))
        }
        .when(gen, decode(unhex(lpad(hex(cp), 4, "0")), "UTF-16BE"))
        .otherwise(s)
      }), "")
    val numeric = when(!clean.contains("&#"), clean).otherwise(numericFull)
    val named = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&apos;" -> "'", "&amp;" -> "&"
    ).foldLeft(numeric) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    val full = replace(named, lit("\u0002"), lit("&"))
    when(!x.contains("&") && !x.contains("\u0001") && !x.contains("\u0002"), x)
      .otherwise(full)
  }

  /** Entity-decode + inline-tag-strip + whitespace-collapse for ONE block
    * of markup — [[stripHtml]]'s steps 3–5 as a reusable sub-expression
    * (shared by the per-block and per-anchor passes of
    * [[extractMainContent]] and by [[extractLinks]]' anchor text).
    */
  private def cleanFragment(x: Column): Column = {
    val noTags = regexp_replace(x, "(?s)<[A-Za-z!/][^>]*>", " ")
    trim(regexp_replace(decodeEntities(noTags), "\\s+", " "))
  }

  /** HTML MAIN-CONTENT extraction (boilerplate removal) — the biggest
    * text-quality lever in a crawl-to-corpus pipeline, and the step
    * [[stripHtml]] deliberately does not take: markup removal keeps nav
    * bars, cookie banners, sidebars and footers as prose, which then
    * pollute every downstream quality / dedup / LM-score pass. This is
    * the rule-based core of what trafilatura / jusText / Boilerpipe do,
    * restated as a deterministic, RE2-restatable block rule (no DOM, no
    * classifier — the oracle replays it verbatim in any SQL engine):
    *
    *  1. `<script>`/`<style>`/comments drop with contents ([[stripHtml]]
    *     steps 1–3);
    *  2. SEMANTIC boilerplate elements drop whole —
    *     `<nav> <footer> <aside> <header> <head> <form>` with contents
    *     (non-greedy to the matching close tag; `<head…` patterns require
    *     a space-or-`>` after the name so `<head>` never eats `<header>`);
    *  3. ATTRIBUTE-blocklisted containers drop whole — a `<div>`,
    *     `<section>` or `<ul>` whose open tag carries one of
    *     `cookie|consent|banner|breadcrumb|sidebar|menu|social` in any
    *     attribute (the class/id convention every cookie-consent and
    *     share widget follows). Expanded per tag name — RE2 has no
    *     backreferences;
    *  4. the remainder splits into BLOCKS at block-level tag boundaries
    *     (`p div section article main ul ol li table … h1-h6 blockquote
    *     pre br hr td th tr thead tbody`), each block cleans to visible
    *     text ([[cleanFragment]]), and a block survives iff
    *       words ≥ `minWords`  AND  anchor-text chars ≤ `maxLinkDensity`
    *       × total chars
    *     — the jusText/Boilerpipe word-count × link-density rule. Link
    *     farms die twice over: each `<li><a>…</a></li>` item is its own
    *     short block, and longer "Related:" rows exceed the density cap;
    *  5. survivors join with single spaces in document order.
    *
    * Nested same-name elements degrade gracefully (non-greedy close
    * matches the first close tag — a nested `<div>` inside a blocklisted
    * `<div>` truncates the removal early, surfacing extra text rather
    * than losing content). Zero shuffle: one per-row expression tree,
    * whole-stage codegen, no UDF.
    */
  def extractMainContent(text: Column, minWords: Int = 5,
                         maxLinkDensity: Double = 0.5): Column = {
    require(minWords >= 1 && minWords <= 1000,
      s"minWords must be in [1, 1000], got $minWords")
    require(maxLinkDensity >= 0.0 && maxLinkDensity <= 1.0,
      s"maxLinkDensity must be in [0, 1], got $maxLinkDensity")
    val sep = "\u0001"
    val noScript = regexp_replace(replace(text, lit(sep), lit("")),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noSemantic = Seq("nav", "footer", "aside", "header", "head", "form")
      .foldLeft(noComment) { (c, t) =>
        regexp_replace(c, s"(?is)<$t(\\s[^>]*)?>.*?</$t\\s*>", " ")
      }
    val attrWords = "(cookie|consent|banner|breadcrumb|sidebar|menu|social)"
    val noBlocklisted = Seq("div", "section", "ul")
      .foldLeft(noSemantic) { (c, t) =>
        regexp_replace(c, s"(?is)<$t\\s[^>]*$attrWords[^>]*>.*?</$t\\s*>", " ")
      }
    val blockTags = "p|div|section|article|main|ul|ol|li|table|thead|tbody|tr|td|th" +
      "|h1|h2|h3|h4|h5|h6|blockquote|pre|br|hr"
    val marked = regexp_replace(noBlocklisted, s"(?is)</?($blockTags)(\\s[^>]*)?>", sep)
    val scored = transform(split(marked, sep), b =>
      struct(
        cleanFragment(b).as("txt"),
        coalesce(aggregate(
          regexp_extract_all(b, lit("(?is)<a(\\s[^>]*)?>(.*?)</a\\s*>"), lit(2)),
          lit(0), (acc, a) => acc + length(cleanFragment(a))), lit(0)).as("link_len")))
    val kept = filter(scored, s => {
      val txt = s.getField("txt")
      val words = when(txt === "", lit(0)).otherwise(size(split(txt, " ")))
      words >= minWords &&
        s.getField("link_len").cast("double") <= lit(maxLinkDensity) * length(txt)
    })
    array_join(transform(kept, s => s.getField("txt")), " ")
  }

  /** Sentence-ALIGNED context chunking — the RAG/embedding chunker: split
    * into sentences ([[splitSentences]]' rule), then greedily accumulate
    * whole sentences into chunks of at most `maxTokens` whitespace
    * tokens; a sentence never splits across chunks (the property
    * embedding pipelines need — half sentences embed garbage), so a
    * single over-long sentence becomes its own over-budget chunk rather
    * than being cut. Distinct from [[Curation.chunk]] (fixed token
    * windows, mid-sentence cuts) and the packers (cross-document).
    *
    * `overlapSentences` prepends that many TRAILING sentences of the
    * previous chunk to each chunk AFTER the boundaries are computed
    * (boundary-then-extend: boundaries are identical to overlap = 0, the
    * overlap is pure added context and does not count against the budget
    * — documented semantics, chosen because they keep chunk boundaries
    * stable as the overlap knob turns and restate in SQL without a
    * second recursion).
    *
    * One per-row `aggregate` fold over the sentence array finds the
    * chunk-start indices inside codegen'd expression eval — zero shuffle
    * at any corpus size; the oracle replays the same greedy fold as a
    * per-document recursive CTE. Output: (id, chunk_id dense from 0,
    * chunk_text, n_tokens).
    */
  def sentenceChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, maxTokens: Int,
                     overlapSentences: Int = 0): org.apache.spark.sql.DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlapSentences >= 0 && overlapSentences <= 8,
      s"overlapSentences must be in [0, 8], got $overlapSentences")
    val sep = "\u0001"
    val marked = regexp_replace(
      replace(trim(col(textCol)), lit(sep), lit("")), "([.!?])\\s+", "$1" + sep)
    val sents = filter(transform(split(marked, sep), s => trim(s)), s => s =!= "")
    // overlap=0 fast path: build the chunk texts directly in the fold
    // (no index structs, no range slices) — ~3x cheaper per row, and the
    // general path below provably agrees (spec-asserted)
    val chunksDirect = aggregate(
      sents,
      struct(lit(0).as("cur"),
        array().cast("array<array<string>>").as("chunks")),
      (acc, sc) => {
        val n = size(split(sc, "\\s+"))
        val cur = acc.getField("cur")
        val cs = acc.getField("chunks")
        val needNew = size(cs) === 0 || (cur + n) > maxTokens
        struct(
          when(needNew, n).otherwise(cur + n).as("cur"),
          when(needNew, concat(cs, array(array(sc))))
            .otherwise(concat(slice(cs, lit(1), size(cs) - 1),
              array(concat(element_at(cs, -1), array(sc))))).as("chunks"))
      },
      acc => transform(acc.getField("chunks"), c => array_join(c, " ")))
    // greedy boundary fold: 1-based chunk-start indices
    // NB: sequence(1, 0) is DESCENDING — guard the empty-document case
    val starts = aggregate(
      when(size(sents) === 0,
        array().cast("array<struct<i:int,s:string>>")).otherwise(
        transform(sequence(lit(1), size(sents)),
          i => struct(i.as("i"), element_at(sents, i).as("s")))),
      struct(lit(0).as("cur"), array().cast("array<int>").as("starts")),
      (acc, e) => {
        val n = size(split(e.getField("s"), "\\s+"))
        val cur = acc.getField("cur")
        val st = acc.getField("starts")
        val needNew = size(st) === 0 || (cur + n) > maxTokens
        struct(
          when(needNew, n).otherwise(cur + n).as("cur"),
          when(needNew, concat(st, array(e.getField("i")))).otherwise(st).as("starts"))
      },
      acc => acc.getField("starts"))
    // chunk j spans [max(1, start_j - overlap), start_{j+1} - 1 (or n)]
    val chunksRanged = when(size(sents) === 0, array().cast("array<string>")).otherwise(
      zip_with(
        starts,
        concat(slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
          array(size(sents) + 1)),
        (from, next) => array_join(
          slice(sents, greatest(from - overlapSentences, lit(1)),
            next - greatest(from - overlapSentences, lit(1))), " ")))
    val chunks = if (overlapSentences == 0) chunksDirect else chunksRanged
    df.select(col(idCol), posexplode(chunks).as(Seq("chunk_id", "chunk_text")))
      .withColumn("chunk_id", col("chunk_id").cast("long"))
      .withColumn("n_tokens", size(split(col("chunk_text"), "\\s+")).cast("long"))
  }

  /** Extract absolute http(s) URLs and their lowercased hosts from text —
    * the crawl-frontier / per-domain-statistics primitive (per-domain
    * caps, URL-level dedup, domain blocklists all start from this
    * table; the extraction inverse of [[Curation.redactPii]]).
    *
    * One RE2-safe `regexp_extract_all` per row (no lookaround, so Java
    * and RE2 agree leftmost-longest on the greedy class), trailing
    * sentence punctuation stripped (prose URLs end "…com/page." far more
    * often than a real path does), host = the authority up to the first
    * `/?#`, lowercased (hosts are case-insensitive; paths are NOT and
    * keep their case). The host keeps an explicit port and bracketed
    * IPv6 literals verbatim ("example.com:8080", "[::1]:443") — port
    * stripping is a policy choice the caller applies, not something the
    * extractor should silently decide. One generator per row, zero
    * shuffle; downstream per-domain aggregation is the caller's
    * narrow-key groupBy.
    *
    * Output: (id, url, host), one row per extracted URL in document
    * order.
    */
  def urlHosts(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String): org.apache.spark.sql.DataFrame = {
    // (?i): URL schemes are case-insensitive (RFC 3986 §3.1) — crawl text
    // carries "HTTP://" often enough that a case-sensitive extractor
    // silently drops real links
    val raw = regexp_extract_all(col(textCol), lit("(?i)https?://[^\\s\"<>]+"), lit(0))
    val cleaned = transform(raw, u => regexp_replace(u, "[.,;:!?)]+$", ""))
    df.select(col(idCol), explode(cleaned).as("url"))
      .select(col(idCol), col("url"),
        lower(regexp_extract(col("url"), "(?i)https?://([^/?#]+)", 1)).as("host"))
  }

  /** HTML hyperlink extraction — the web-GRAPH builder ([[urlHosts]]
    * finds URLs in prose; this walks `<a href>` markup): one row per
    * anchor element with its href target and the visible anchor text,
    * in document order. The edge list (page URL → href) is what link
    * graphs, anchor-text retrieval corpora and crawl frontiers are
    * built from.
    *
    * Matching contracts: `(?is)` — tag and attribute names are
    * case-insensitive, anchors span lines; href values in double OR
    * single quotes (the quoted group strips its own delimiters);
    * `<a>` elements without an href (anchors, `name=` targets) yield
    * nothing; anchor text drops nested markup, decodes entities (named
    * AND numeric — [[cleanFragment]], the same chain main-content blocks
    * get) and collapses whitespace.
    * Documented subset: unquoted href values and (invalid) nested `<a>`
    * elements are out of profile — the non-greedy body stops at the
    * FIRST `</a>`. ONE `regexp_extract_all` scan of the page (group 0 —
    * the full anchor elements), then the two groups re-extract from each
    * short match string (a self-contained re-match of the same pattern,
    * so the groups are identical to the aligned-two-scans form this
    * replaced at half the page-regex cost). RE2-safe, no lookaround,
    * zero shuffle. Output: (id, link_idx, href, anchor).
    */
  def extractLinks(df: org.apache.spark.sql.DataFrame, idCol: String,
                   htmlCol: String): org.apache.spark.sql.DataFrame =
    extractLinksFrom(df.select(col(idCol), col(htmlCol)), idCol, htmlCol, Nil)

  /** Spread a CPU-heavy per-row chain's INPUT to the session's default
    * parallelism when the incoming plan carries fewer partitions. Small
    * corpora arrive as one or two file splits (file-split sizing is
    * byte-based, and a 5 MB corpus is one split), so a chain whose cost
    * is per-row CPU — parse/regex walks at seconds per MB — runs nearly
    * serial on a many-core box; a round-robin repartition of the raw
    * input is a tiny narrow-row shuffle there. Scale-adaptive by
    * construction: at real corpus widths the plan already carries
    * ≥ parallelism partitions and this returns the frame UNCHANGED (the
    * condition reads the compiled plan's partition count; it never
    * reshuffles data that is already wide).
    */
  private[ops] def spreadInput(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // Two fixes over the plain `df.repartition(p)` this replaces:
    //
    // (1) The width probe reads df.rdd.getNumPartitions, and under AQE
    // Dataset.rdd FINALIZES the adaptive plan — for an exchange-bearing
    // input that would EXECUTE every intermediate shuffle stage just to
    // read a partition count, work then discarded and recomputed by the
    // real job. So probe (and spread) only when the analyzed plan is a
    // narrow chain — projections / filters / generators over leaf scans:
    // there .rdd is a plan compile, no job. Anything wider skips
    // spreading entirely — a frame that already crossed an exchange
    // carries the session's shuffle parallelism by construction.
    //
    // (2) The round-robin injects at the LEAVES, not above the frame:
    // callers hand in frames whose narrow chain already carries the
    // expensive per-row work (a WARC parse, a fixture-synth UDF + image
    // decode), and a top-level repartition evaluates that chain map-side
    // BEFORE the exchange — serializing the exact work the spread is
    // meant to parallelize. Repartitioning directly above each leaf puts
    // every projection/filter/generator AFTER the exchange; the column
    // pruner still narrows the shuffled rows to the columns the chain
    // reads. Row-multiset identical either way.
    import org.apache.spark.sql.catalyst.plans.logical._
    // a COALESCE (Repartition shuffle=false — e.g. the byte-adaptive
    // post-barrier compaction of the Stages runner) is narrow too, and
    // when the chain spreads it is DROPPED: the injected round-robin is
    // about to re-widen the rows for the chain's per-row work, and a
    // surviving coalesce above it would fold everything straight back
    // to one partition (multiset unchanged either way)
    def isCoalesce(n: LogicalPlan): Boolean = n match {
      case r: Repartition => !r.shuffle
      case _ => false
    }
    val analyzed = df.queryExecution.analyzed
    val narrow = analyzed.collectFirst {
      case n if !(n.isInstanceOf[Project] || n.isInstanceOf[Filter] ||
        n.isInstanceOf[Generate] || n.isInstanceOf[Union] ||
        n.isInstanceOf[SubqueryAlias] || isCoalesce(n) ||
        n.children.isEmpty) => n
    }.isEmpty
    if (!narrow) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= p) df
      else {
        def inject(n: LogicalPlan): LogicalPlan =
          if (n.children.isEmpty) Repartition(p, shuffle = true, n)
          else if (isCoalesce(n)) inject(n.children.head)
          else n.withNewChildren(n.children.map(inject))
        org.apache.spark.sql.GraftColumnShim.ofRows(df.sparkSession, inject(analyzed))
      }
    }
  }

  /** [[extractLinks]] with the page's own URL carried through the
    * explode — the frontier / anchor-text / link-graph composition shape.
    * Skips the exploded-rows-back-to-pages equi-join those callers
    * otherwise pay (one exchange + a second compute of the page frame):
    * the url column rides the generator input instead. Output: (id,
    * _page_url, link_idx, href, anchor) — row-identical to
    * `extractLinks(pages).join(pages.select(id, url))` when ids are
    * unique (they are: one row per fetched page).
    */
  private[graft] def extractLinksCarry(pages: org.apache.spark.sql.DataFrame,
                                       idCol: String, urlCol: String,
                                       htmlCol: String): org.apache.spark.sql.DataFrame =
    extractLinksFrom(
      pages.select(col(idCol), col(urlCol).as("_page_url"), col(htmlCol)),
      idCol, htmlCol, Seq("_page_url"))

  private def extractLinksFrom(df: org.apache.spark.sql.DataFrame,
                               idCol: String, htmlCol: String,
                               carryCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val linkRe = "(?is)<a\\s[^>]*href[ \t]*=[ \t]*(\"[^\"]*\"|'[^']*')[^>]*>(.*?)</a>"
    val matches = regexp_extract_all(col(htmlCol), lit(linkRe), lit(0))
    val keep = (col(idCol) +: carryCols.map(col)) ++
      Seq(posexplode(matches).as(Seq("link_idx", "_m")))
    val h = regexp_extract(col("_m"), linkRe, 1)
    df.select(keep: _*)
      .select((col(idCol) +: carryCols.map(col)) ++ Seq(
        col("link_idx").cast("long").as("link_idx"),
        h.substr(lit(2), length(h) - 2).as("href"),
        cleanFragment(regexp_extract(col("_m"), linkRe, 2)).as("anchor")): _*)
  }

  /** Anchor-text corpus — the classic weak-supervision signal for
    * retrieval training (anchor text ≈ a query for the page it points
    * at): every page's links extract ([[extractLinks]]), resolve against
    * the page's own URL ([[resolveUrl]]), and group by TARGET — one row
    * per linked-to URL with its incoming-anchor count and the sorted
    * distinct anchor strings. Empty anchors (image links) drop.
    *
    * Scale shape: link extraction + resolution are the per-row chains;
    * the one aggregation keys on the target URL, and the per-target
    * anchor-set state is BOUNDED at `maxAnchorsPerTarget` by the
    * [[graft.functions.topk_distinct_strings]] heap — the common case at
    * 100 TB is a homepage-scale hot target whose in-degree (and distinct
    * anchor vocabulary) is corpus-sized, which an unbounded
    * `collect_set` would concentrate onto one reducer. Selection is the
    * deterministic smallest-k by ([[fingerprint]] hash, anchor) — a
    * reproducible uniform sample of the target's distinct anchors, and
    * any SQL engine replays the cut. Targets that lost anchors to the
    * cap carry `anchors_capped` = true (exact, never silent); the
    * incoming-anchor COUNT stays exact regardless.
    *
    * `hashKeys` = true is the 100 TB exchange-key swap: the aggregation
    * keys on the target URL's 8-byte xxhash64 instead of the string —
    * the shuffle's partitioning keys and sort comparisons are
    * fixed-width, and URL-length skew stops mattering to the exchange —
    * while ONE representative string per group rides as `min(dst_url)`
    * payload (strictly cheaper than a separate name-carrier aggregation
    * + hash join-back, which ships the identical strings once more).
    * Results are identical unless two distinct target URLs share a
    * 64-bit hash (~2⁻⁶⁴ per pair — the documented sketch-free grain;
    * the exact path has none). Output: (dst_url, n_anchors, anchors
    * '|'-joined sorted distinct-capped, anchors_capped).
    */
  def anchorTexts(pages: org.apache.spark.sql.DataFrame, idCol: String,
                  urlCol: String, htmlCol: String,
                  maxAnchorsPerTarget: Int = 64,
                  hashKeys: Boolean = false): org.apache.spark.sql.DataFrame = {
    // spreadInput must accompany extractLinksCarry: the join-back this
    // op used to pay incidentally re-partitioned the exploded rows, so
    // a one-split input would otherwise run extraction + resolution +
    // the partial aggregation on one core (no-op at real widths)
    val pairs = extractLinksCarry(spreadInput(pages), idCol, urlCol, htmlCol)
      .select(resolveUrl(col("_page_url"), col("href")).as("dst_url"),
        col("anchor"))
      .where(col("anchor") =!= "")
    val grouped =
      if (!hashKeys)
        pairs.groupBy(col("dst_url"))
          .agg(count(lit(1)).as("n_anchors"),
            graft.functions.topk_distinct_strings(
              fingerprint(col("anchor")).cast("double"), col("anchor"),
              maxAnchorsPerTarget).as("_tk"))
      else
        pairs.groupBy(xxhash64(col("dst_url")).as("_uh"))
          .agg(count(lit(1)).as("n_anchors"),
            graft.functions.topk_distinct_strings(
              fingerprint(col("anchor")).cast("double"), col("anchor"),
              maxAnchorsPerTarget).as("_tk"),
            min(col("dst_url")).as("dst_url"))
    grouped.select(col("dst_url"), col("n_anchors"),
      array_join(sort_array(col("_tk.kept")), "|").as("anchors"),
      col("_tk.capped").as("anchors_capped"))
  }

  /** Host-level web link graph — the crawl-analytics aggregate over
    * [[extractLinks]] + [[resolveUrl]]: one row per (src_host,
    * dst_host) pair with the link count; relative hrefs land on the
    * page's own host. `hashKeys` = true keys the aggregation exchange
    * on the hosts' 8-byte xxhash64 pair instead of the strings (the
    * anchorTexts swap: fixed-width partitioning keys, one
    * representative string payload per group, ~2⁻¹²⁸ per-pair collision
    * grain since BOTH lanes must collide). Output: (src_host, dst_host,
    * n_links).
    */
  def webLinkGraph(pages: org.apache.spark.sql.DataFrame, idCol: String,
                   urlCol: String, htmlCol: String,
                   hashKeys: Boolean = false): org.apache.spark.sql.DataFrame = {
    def hostOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lower(regexp_extract(c, "(?i)https?://([^/?#]+)", 1))
    val edges = extractLinksCarry(spreadInput(pages), idCol, urlCol, htmlCol)
      .select(hostOf(col("_page_url")).as("src_host"),
        hostOf(resolveUrl(col("_page_url"), col("href"))).as("dst_host"))
    if (!hashKeys)
      edges.groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("n_links"))
    else
      edges.groupBy(xxhash64(col("src_host")).as("_h1"),
          xxhash64(col("dst_host")).as("_h2"))
        .agg(min(col("src_host")).as("src_host"),
          min(col("dst_host")).as("dst_host"),
          count(lit(1)).as("n_links"))
        .select(col("src_host"), col("dst_host"), col("n_links"))
  }

  /** RFC 3986 §5 relative-reference resolution for crawl frontiers —
    * the step between [[extractLinks]]' raw hrefs (mostly relative:
    * `/about`, `img.png`, `../up`, `?page=2`, `//cdn.example/lib.js`)
    * and an absolute URL a frontier can fetch or
    * [[canonicalUrl]] can key.
    *
    * Covered forms: absolute references pass through; protocol-relative
    * `//host/...` takes the base's scheme; root-relative `/...`
    * replaces the path; `?...` replaces the query; the empty reference
    * returns the base; relative paths merge with the base DIRECTORY and
    * then dot segments (`.` / `..`) remove via an in-row fold (`..` at
    * the root is a no-op, a trailing `.`/`..` leaves the RFC's trailing
    * slash). Crawl profile: FRAGMENTS DROP from every output (they
    * never reach the server — the same contract as [[canonicalUrl]]);
    * bases are hierarchical http(s) URLs. Pure column expressions, one
    * codegen'd per-row pass, zero shuffle.
    */
  def resolveUrl(base: org.apache.spark.sql.Column,
                 ref: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val scheme = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    val host = regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val bp0 = regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val basePath = when(bp0 === "", lit("/")).otherwise(bp0)
    val baseQ = regexp_extract(base, "^[^?#]*(\\?[^#]*)", 1)
    val r = regexp_replace(ref, "#.*$", "") // crawl profile: fragments drop
    val isAbs = r.rlike("^[A-Za-z][A-Za-z0-9+.-]*:")
    val isProtoRel = r.startsWith("//")
    val isRoot = r.startsWith("/") && !isProtoRel
    val rPath = regexp_extract(r, "^([^?]*)", 1)
    val rQ = when(locate("?", r) > 0,
      r.substr(locate("?", r), length(r))).otherwise(lit(""))
    // merge (RFC 3986 §5.3): root-relative keeps its own path, otherwise
    // the reference extends the base path's directory
    val dir = regexp_replace(basePath, "[^/]*$", "")
    val merged = when(isRoot, rPath).otherwise(concat(dir, rPath))
    // remove_dot_segments (§5.2.4) as a fold over "/"-split segments:
    // "." drops, ".." pops (never past the leading root marker), empty
    // mid segments (a//b) are kept verbatim per the RFC
    val folded = aggregate(split(merged, "/"),
      array().cast("array<string>"),
      (acc, s) =>
        when(s === ".", acc)
          .when(s === "..",
            when(size(acc) > 1, slice(acc, lit(1), size(acc) - 1)).otherwise(acc))
          .otherwise(concat(acc, array(s))))
    val joined0 = array_join(folded, "/")
    val joined = when(joined0 === "", lit("/"))
      .otherwise(when(rPath.rlike("(^|/)\\.\\.?$"), concat(joined0, lit("/")))
        .otherwise(joined0))
    when(isAbs, r)
      .when(isProtoRel, concat(scheme, lit(":"), r))
      .when(r === "", concat(scheme, lit("://"), host, basePath, baseQ))
      .when(r.startsWith("?"), concat(scheme, lit("://"), host, basePath, r))
      .otherwise(concat(scheme, lit("://"), host, joined, rQ))
  }

  /** Canonical form of one extracted URL column — the normalization that
    * makes URL-level dedup (the cheapest first pass in every crawl
    * pipeline) actually collapse recrawls of the same page:
    *
    *  1. scheme and host lowercase (RFC 3986 §6.2.2.1; path and query
    *     keep their case — they are case-SENSITIVE),
    *  2. default ports strip (`:80` for http, `:443` for https; explicit
    *     non-default ports stay),
    *  3. the fragment drops entirely (`#…` never reaches the server),
    *  4. tracking parameters drop from the query — `utm_*`, `gclid`,
    *     `fbclid` (the split-filter-rejoin runs on the parameter list,
    *     not a regex loop, so separators heal exactly),
    *  5. an empty or bare-`/` path with no surviving query collapses to
    *     `scheme://host` (the `example.com/` = `example.com` identity).
    *
    * All RE2-safe (no lookaround; replacement backreferences are not
    * used), every step a codegen'd expression — zero shuffle.
    */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val scheme = lower(regexp_extract(url, "(?i)^(https?)://", 1))
    val hostport = lower(regexp_extract(url, "(?i)^https?://([^/?#]+)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(regexp_replace(hostport, ":443$", ""))
    val rest = regexp_extract(url, "(?i)^https?://[^/?#]+([^#]*)", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val query = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[a-z0-9]+|gclid|fbclid)="))
    val q = when(size(params) === 0, lit("")).otherwise(
      concat(lit("?"), array_join(params, "&")))
    when(path.isin("", "/") && q === "", concat(scheme, lit("://"), host))
      .otherwise(concat(scheme, lit("://"), host, path, q))
  }

  /** [[urlHosts]] plus the canonical form: (id, url, canon_url, host),
    * one row per extracted URL in document order.
    */
  def canonicalUrls(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame =
    urlHosts(df, idCol, textCol)
      .select(col(idCol), col("url"), canonicalUrl(col("url")).as("canon_url"), col("host"))

  /** Keep-first URL-level dedup over a one-URL-per-row crawl table: the
    * row with the smallest `idCol` survives per canonical URL. The
    * exchange is keyed (xxhash64(canon), canon) — the 8-byte hash
    * prefix spreads skew and makes comparisons cheap while the string
    * rides along for EXACT grouping (no collision budget at all, unlike
    * the sketch paths); URLs are short, so the shuffle stays narrow. One
    * aggregation + one broadcast-friendly semi-join back on the winning
    * ids; the full-width rows never shuffle.
    *
    * Output: the surviving input rows + their `canon_url`.
    */
  def dedupByCanonicalUrl(df: org.apache.spark.sql.DataFrame, idCol: String,
                          urlCol: String): org.apache.spark.sql.DataFrame = {
    val canon = df.select(col(idCol), canonicalUrl(col(urlCol)).as("canon_url"))
    val winners = canon
      .groupBy(xxhash64(col("canon_url")).as("_h"), col("canon_url"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("canon_url"))
    df.join(winners, Seq(idCol), "inner")
  }

  /** Rule-based sentence segmentation: split after `.`/`!`/`?` followed
    * by whitespace — the standard cheap segmenter for per-sentence dedup
    * and decontamination grains. Implemented as separator INJECTION
    * (capture-group `regexp_replace` keeps the terminator with its
    * sentence) + split on the injected control byte, so the whole split
    * is lookaround-free and restatable verbatim in RE2 for the oracle.
    * The sentinel is made SAFE, not assumed: any pre-existing U+0001 in
    * the text (crawl data carries control bytes) is stripped before
    * injection on both engines, so in-band collisions cannot create
    * spurious splits. Known rule-based limits (abbreviations like
    * "Dr. Smith" split) are accepted: the op is deterministic and
    * engine-portable, which the downstream exactness gates need more
    * than linguistic nuance.
    *
    * Output: (id, sent_id, sentence) — sent_id dense from 0 in document
    * order, sentences trimmed, empties dropped. One generator per row
    * (`posexplode`), zero shuffle.
    */
  def splitSentences(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val sep = "\u0001"
    val marked = regexp_replace(
      replace(trim(col(textCol)), lit(sep), lit("")), "([.!?])\\s+", "$1" + sep)
    val sents = filter(transform(split(marked, sep), s => trim(s)), s => s =!= "")
    df.select(col(idCol), posexplode(sents).as(Seq("sent_id", "sentence")))
      .withColumn("sent_id", col("sent_id").cast("long"))
  }

  /** Abbreviations whose trailing `.` does NOT end a sentence under
    * [[splitSentencesAbbrev]]. Case-sensitive on purpose: titles match
    * capitalized (how they appear before a name), the latin/common tails
    * match lowercase (how they appear mid-sentence). The alternation is
    * compiled into ONE protection regex, so the list stays the single
    * source of truth for both the Spark chain and the oracle
    * restatement.
    */
  val SentenceAbbrevs: Seq[String] = Seq(
    "Dr", "Mr", "Mrs", "Ms", "Prof", "St", "Jr", "Sr", "Rev", "Gen",
    "Col", "Capt", "Sgt", "Lt", "No", "Fig", "Vol", "Inc", "Ltd",
    "Corp", "Co", "vs", "etc", "al", "approx", "dept", "est")

  /** [[splitSentences]] with an abbreviation blocklist — the documented
    * limitation of the bare rule ("Dr. Smith" split mid-name) closed
    * while staying deterministic and RE2-restatable. The chain:
    *
    *  1. strip BOTH in-band sentinels (U+0001 split marker, U+0002
    *     protected-dot marker) from the raw text,
    *  2. protect the two-letter latinisms `e.g.` / `i.e.` and the
    *     meridiems `a.m.` / `p.m.` (both dots -> U+0002; `\b` anchors
    *     the first letter, so `cap.m.` is untouched),
    *  3. protect single-token abbreviations from [[SentenceAbbrevs]]
    *     (`\b(Dr|…)\.` -> group + U+0002),
    *  4. inject the U+0001 split marker after `[.!?]` + whitespace
    *     exactly as [[splitSentences]],
    *  5. split, trim, restore U+0002 -> `.`, drop empties.
    *
    * Accepted rule limit (documented, not hidden): an abbreviation at a
    * TRUE sentence end ("… and so on, etc. Next point.") never splits —
    * a blocklist cannot see intent. Every step is a codegen'd
    * expression, no lookaround, replacements use only a group reference
    * — restatable verbatim in DuckDB's RE2 (`\1 || chr(2)`). Zero
    * shuffle, one generator per row.
    */
  def splitSentencesAbbrev(df: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String): org.apache.spark.sql.DataFrame = {
    val sep = "\u0001"
    val dot = "\u0002"
    val t0 = replace(replace(trim(col(textCol)), lit(sep), lit("")), lit(dot), lit(""))
    val t1 = regexp_replace(t0, "\\b([eE])\\.([gG])\\.", "$1" + dot + "$2" + dot)
    val t2 = regexp_replace(t1, "\\b([iI])\\.([eE])\\.", "$1" + dot + "$2" + dot)
    val t3 = regexp_replace(t2, "\\b([apAP])\\.([mM])\\.", "$1" + dot + "$2" + dot)
    val t4 = regexp_replace(t3, "\\b(" + SentenceAbbrevs.mkString("|") + ")\\.", "$1" + dot)
    val marked = regexp_replace(t4, "([.!?])\\s+", "$1" + sep)
    val sents = filter(
      transform(split(marked, sep), s => replace(trim(s), lit(dot), lit("."))),
      s => s =!= "")
    df.select(col(idCol), posexplode(sents).as(Seq("sent_id", "sentence")))
      .withColumn("sent_id", col("sent_id").cast("long"))
  }

  /** The UTF-8-read-as-CP1252 mojibake table: each left-hand sequence is
    * the EXACT CP1252 misdecode of the right-hand character's UTF-8
    * bytes (é = C3 A9 → "Ã©", ’ = E2 80 99 → "â€™", « = C2 AB → "Â«") —
    * the single most common text corruption in crawled corpora (a page
    * served as UTF-8, labeled or transcoded as Latin-1/CP1252 somewhere
    * upstream). Entries are restricted to sequences whose CP1252 bytes
    * are all PRINTABLE (no NBSP/soft-hyphen/undefined-byte forms, which
    * would put invisible characters in this table and in the oracle
    * restatement). All left-hand sides start with Ã/â/Â and have
    * distinct continuations; no right-hand side contains a left-hand
    * side — so the replacement chain is order-independent and
    * single-pass confluent. The table is the single source of truth for
    * both [[fixMojibake]] and the gate's SQL restatement.
    */
  val MojibakeTable: Seq[(String, String)] = Seq(
    "Ã©" -> "é", "Ã¡" -> "á", "Ã³" -> "ó", "Ãº" -> "ú", "Ã±" -> "ñ",
    "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü", "ÃŸ" -> "ß", "Ã§" -> "ç",
    "Ã¨" -> "è", "Ãª" -> "ê", "Ã´" -> "ô",
    "â€™" -> "’", "â€œ" -> "“", "â€“" -> "–",
    "â€”" -> "—", "â€¦" -> "…",
    "Â«" -> "«", "Â»" -> "»", "Â°" -> "°")

  /** Repair one round of UTF-8/CP1252 mojibake (the ftfy core case,
    * restricted to the deterministic printable table above): a chain of
    * literal `replace` passes, no regex, no charset round-trip (a real
    * `encode(…, 'CP1252')` repair is lossy on characters outside CP1252
    * and unrestatable in a SQL oracle — the table IS the contract).
    * Doubly-encoded text (mojibake of mojibake) needs one call per
    * round, by design. Codegen'd per-row pass, zero shuffle.
    */
  def fixMojibake(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    MojibakeTable.foldLeft(c) { case (acc, (bad, good)) =>
      replace(acc, lit(bad), lit(good))
    }

  /** Flesch Reading Ease (Flesch 1948; the readability score reading-age
    * curricula and several published pretraining filters use): `206.835
    * − 1.015·(words/sentences) − 84.6·(syllables/words)`. Syllables use
    * the classic deterministic heuristic — count `[aeiouy]+` vowel
    * groups, drop one for a silent final `e` (not `le`), floor at 1 —
    * which is what every practical implementation ships (true syllable
    * counts need a pronunciation dictionary); sentences reuse
    * [[splitSentences]]' separator-injection rule so the two operators
    * can't disagree about boundaries; words are the cleaned-token count.
    *
    * Exactness: counts are integers; the score is one fixed-order IEEE
    * double tree over them (division → multiply-by-literal → subtract),
    * bit-identical across engines, snapped to the q20 binary grid for
    * the hash compare (the oov_rate convention — decimal 6-dp halves are
    * engine-ambiguous, binary halves are not). One codegen'd per-row
    * pass, zero shuffle. Output: (idCol, n_words, n_sentences,
    * n_syllables, flesch); an empty document scores with the
    * greatest(1, ·) floors rather than dividing by zero.
    */
  def fleschScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val sep = "\u0001"
    val marked = regexp_replace(trim(col(textCol)), "([.!?])\\s+", "$1" + sep)
    val nSent = size(filter(split(marked, sep), s => trim(s) =!= ""))
    val toks = Curation.cleanTokens(col(textCol))
    val syll = (w: org.apache.spark.sql.Column) => {
      val g = size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0)))
      greatest(lit(1),
        when(w.endsWith("e") && !w.endsWith("le") && g > 1, g - 1).otherwise(g))
    }
    val q20 = (c: org.apache.spark.sql.Column) => round(c * 1048576.0) / 1048576.0
    df.select(col(idCol),
        size(toks).cast("long").as("n_words"),
        greatest(nSent, lit(1)).cast("long").as("n_sentences"),
        aggregate(toks, lit(0), (acc, w) => acc + syll(w)).cast("long").as("n_syllables"))
      .withColumn("flesch", q20(lit(206.835)
        - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
        - lit(84.6) * (col("n_syllables").cast("double") /
            greatest(col("n_words"), lit(1L)).cast("double"))))
  }

  /** Registered-domain (eTLD+1) extraction under a caller-supplied
    * public-suffix snapshot — the grain per-domain crawl policy actually
    * wants: `www.shop.example.co.uk` and `cdn.example.co.uk` are the
    * same SITE (`example.co.uk`), and host-grain caps/stats would treat
    * a multi-label suffix's subdomains as unrelated. Matching follows
    * the Public Suffix List algorithm's core: the LONGEST listed suffix
    * that is the host or a `.`-anchored suffix of it wins; an unlisted
    * TLD falls back to the PSL default rule (the last label is the
    * suffix); the registered domain is the suffix plus one label, and a
    * BARE suffix has none (empty). The suffix list is a parameter — a
    * PSL snapshot is data, not code, and planting it keeps both engines
    * on the identical table. Wildcard/exception PSL rules (`*.ck`,
    * `!www.ck`) are out of scope, documented.
    *
    * One in-row fold over the literal suffix array — zero shuffle, no
    * UDF, restatable in SQL list ops. Returns
    * struct(suffix, registered_domain).
    */
  def registeredDomain(host: org.apache.spark.sql.Column,
                       suffixes: Seq[String]): org.apache.spark.sql.Column = {
    require(suffixes.nonEmpty && suffixes.size <= 100000, "suffixes must be non-empty")
    val suf = array(suffixes.map(lit): _*)
    val best = aggregate(suf, lit(""), (acc, s) =>
      when((host === s || host.endsWith(concat(lit("."), s))) &&
        length(s) > length(acc), s).otherwise(acc))
    val suffix = when(best === "", element_at(split(host, "\\."), -1)).otherwise(best)
    val stem = host.substr(lit(1), length(host) - length(suffix) - 1)
    val reg = when(host === suffix, lit(""))
      .otherwise(concat(element_at(split(stem, "\\."), -1), lit("."), suffix))
    struct(suffix.as("suffix"), reg.as("registered_domain"))
  }

  /** Script classes as EXPLICIT code-point ranges (regex character-class
    * bodies), deliberately not `\p{Script=…}` properties: property
    * tables differ across regex engines and Unicode versions, while
    * literal BMP ranges mean the Spark pass and the SQL restatement
    * classify every character identically forever. Ranges cover the
    * dominant block of each script (Latin incl. the 00C0-024F extended
    * letters; CJK = the unified-ideograph block); characters outside
    * every class — punctuation, digits, astral-plane symbols — simply
    * don't count. Single source of truth for [[scriptMix]] and the
    * gate's oracle.
    */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-zÀ-ɏ",
    "greek" -> "Ͱ-Ͽ",
    "cyrillic" -> "Ѐ-ӿ",
    "arabic" -> "؀-ۿ",
    "devanagari" -> "ऀ-ॿ",
    "kana" -> "぀-ヿ",
    "cjk" -> "一-鿿",
    "hangul" -> "가-힯")

  /** Per-document script profile — the language-ID companion a
    * multilingual crawl needs BEFORE n-gram language models apply (a
    * Cyrillic page scored by Latin-trained n-grams is noise; script is
    * the cheap, exact first split): one count per [[ScriptClasses]]
    * entry (strip-and-measure — `length` after deleting the class
    * complement, one RE2-safe regex per script) plus the dominant
    * script under (max count, then first-in-table/min-name tie-break;
    * `und` when no class matched). One codegen'd per-row pass, zero
    * shuffle. Returns struct(n_latin, …, n_hangul, dominant).
    */
  def scriptMix(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // regexp_count of the class, not length(regexp_replace) of its
    // complement: same count, no per-row replacement-string build
    val counts = ScriptClasses.map { case (nm, cls) =>
      nm -> regexp_count(text, lit(s"[$cls]")).cast("long")
    }
    val entries = array(counts.map { case (nm, c) =>
      struct(c.as("n"), lit(nm).as("script"))
    }: _*)
    // seedless argmax (first entry is the seed) so the SQL restatement's
    // list_reduce — which has no init parameter — is the identical fold
    val best = aggregate(
      slice(entries, 2, ScriptClasses.length - 1),
      element_at(entries, 1),
      (acc, e) => when(e.getField("n") > acc.getField("n") ||
          (e.getField("n") === acc.getField("n") &&
            e.getField("script") < acc.getField("script")), e)
        .otherwise(acc))
    val total = counts.map(_._2).reduce(_ + _)
    struct((counts.map { case (nm, c) => c.as(s"n_$nm") } :+
      when(total === 0L, lit("und")).otherwise(best.getField("script"))
        .as("dominant")): _*)
  }
}
