package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) record extraction — the ingestion
  * format every large-scale crawl corpus (Common Crawl and its
  * derivatives) arrives in. One crawl capture file concatenates records
  * framed as:
  *
  * {{{
  * WARC/1.0\r\n
  * <header-name>: <value>\r\n ...        (named header block)
  * \r\n                                  (blank line)
  * <Content-Length bytes of payload>
  * \r\n\r\n                              (record terminator)
  * }}}
  *
  * The parser here honors **Content-Length framing**: after each header
  * block it SKIPS exactly `Content-Length` characters of payload and
  * resumes at the next record boundary — a payload that itself contains
  * the `WARC/1.0` magic (any HTML page quoting a WARC spec, any
  * crawl-of-a-crawl) parses correctly, where a naive split on the magic
  * string would shear the record. This is the text profile: offsets and
  * Content-Length are in CHARACTERS of the decoded string column (for
  * ASCII payloads identical to bytes); a byte-exact binary profile would
  * swap the column type to binary and the substrings to byte slices
  * with the same walk.
  *
  * Malformed tails stop the walk leniently: a position that doesn't
  * start with the version magic, a header block with no blank-line
  * terminator, or a missing/unparseable Content-Length ends the record
  * list with everything parsed so far (crawl files end in truncated
  * records routinely; dropping the tail record is the standard recovery).
  *
  * Scale shape: one codegen'd in-row fold per capture row — zero
  * shuffle, no UDF, state bounded by `maxRecords` (a capture blob is a
  * bounded batch of records by construction; raise the knob for bigger
  * batches). Everything is `substr`/`locate`/RE2-safe `regexp_extract`,
  * so a SQL engine restates the walk verbatim.
  */
object Warc {

  private val Magic = "WARC/1.0\r\n"

  /** One row per record: (idCol, rec_idx, warc_type, target_uri,
    * content_length, payload). `rec_idx` is the record's 0-based
    * position in the capture blob. Absent headers parse as empty
    * strings (`WARC-Target-URI` is optional on `warcinfo`/`metadata`
    * records).
    */
  def warcRecords(df: DataFrame, idCol: String, warcCol: String,
                  maxRecords: Int = 16): DataFrame = {
    require(maxRecords >= 1 && maxRecords <= 4096,
      s"maxRecords must be in [1, 4096], got $maxRecords")
    val s = col(warcCol)
    val recType = "array<struct<warc_type:string,target_uri:string," +
      "content_length:long,payload:string>>"
    val walked = aggregate(
      sequence(lit(1), lit(maxRecords)),
      struct(lit(1L).as("off"), array().cast(recType).as("rs")),
      (acc, _) => {
        val off = acc.getField("off")
        val stopped = struct((length(s).cast("long") + lit(2L)).as("off"),
          acc.getField("rs").as("rs"))
        // relative position of the header-terminating blank line
        val rel = locate("\r\n\r\n", s.substr(off, length(s) - off + 1)).cast("long")
        val he = rel + off - 1L // absolute 1-based start of "\r\n\r\n"
        val header = s.substr(off, he - off)
        // lazy CASE keeps ANSI mode happy on a header with no
        // Content-Length (the empty extract must not reach the cast).
        // All three extracts anchor to a line START (\r\n prefix — the
        // field can never be the first line, the version magic is), so a
        // header NAME or VALUE embedding the literal "Content-Length: N"
        // (an X-Content-Length extension, a URI quoting it) cannot
        // supply the wrong length and shear every later record.
        val clenS = regexp_extract(header, "\r\nContent-Length: ([0-9]+)", 1)
        val clen = when(clenS === "", lit(null).cast("long"))
          .otherwise(clenS.cast("long"))
        val rec = struct(
          regexp_extract(header, "\r\nWARC-Type: ([^\r]*)", 1).as("warc_type"),
          regexp_extract(header, "\r\nWARC-Target-URI: ([^\r]*)", 1).as("target_uri"),
          clen.as("content_length"),
          s.substr(he + 4, clen).as("payload"))
        when(off > length(s), acc).otherwise(
          when(s.substr(off, lit(Magic.length)) =!= Magic || rel === 0 || clen.isNull,
            stopped)
          .otherwise(struct((he + 4 + clen + 4).as("off"),
            concat(acc.getField("rs"), array(rec)).as("rs"))))
      },
      acc => acc.getField("rs"))
    df.select(col(idCol), posexplode(walked).as(Seq("rec_idx", "r")))
      .select(col(idCol), col("rec_idx").cast("long").as("rec_idx"),
        col("r.warc_type").as("warc_type"), col("r.target_uri").as("target_uri"),
        col("r.content_length").as("content_length"), col("r.payload").as("payload"))
  }

  // ---------- byte-exact gzip profile (the Common Crawl layout) ----------

  /** Decompressed-size cap for [[gzRecordRows]]: a crafted kilobyte-sized
    * gzip bomb would otherwise allocate the executor to death before the
    * walk even starts (same rationale as MediaCodec's pixel cap).
    */
  private val MaxInflated: Int = 1 << 28 // 256 MB

  private val MagicBytes = Magic.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val BlankBytes = "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val ClenRe = "\r\nContent-Length: ([0-9]+)".r
  private val TypeRe = "\r\nWARC-Type: ([^\r]*)".r
  private val UriRe = "\r\nWARC-Target-URI: ([^\r]*)".r

  /** Static entry point for [[graft.expressions.WarcRecordsGzExpr]]'s
    * generated code: decompress a `.warc.gz` blob (each record its own
    * gzip member, members concatenated — the Common Crawl layout;
    * `GZIPInputStream` walks the member chain natively) and then walk the
    * records BYTE-exactly: `Content-Length` counts payload BYTES, not
    * characters, so a multi-byte-UTF-8 payload frames correctly where a
    * character-offset walk would shear. Headers decode as ISO-8859-1
    * (byte-transparent; WARC named headers are ASCII), payloads as UTF-8.
    * Lenient tail like the text profile: a truncated gzip stream, a
    * position without the version magic, a header without terminator or
    * Content-Length ends the walk with everything parsed so far.
    */
  def gzRecordRows(blob: Array[Byte], maxRecords: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (blob == null || blob.length < 2 ||
      (blob(0) & 0xff) != 0x1f || (blob(1) & 0xff) != 0x8b) return null
    val out = new java.io.ByteArrayOutputStream()
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(blob))
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n > 0 && out.size() <= MaxInflated) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      in.close()
    } catch { case _: java.io.IOException => () } // truncated member: keep the parsed prefix
    if (out.size() > MaxInflated) return null
    val b = out.toByteArray

    def matchesAt(off: Int, pat: Array[Byte]): Boolean = {
      if (off + pat.length > b.length) return false
      var i = 0
      while (i < pat.length) { if (b(off + i) != pat(i)) return false; i += 1 }
      true
    }
    def indexOf(from: Int, pat: Array[Byte]): Int = {
      var i = from
      while (i + pat.length <= b.length) { if (matchesAt(i, pat)) return i; i += 1 }
      -1
    }

    val recs = scala.collection.mutable.ArrayBuffer.empty[Any]
    var off = 0
    var ok = true
    while (ok && recs.length < maxRecords && off < b.length) {
      if (!matchesAt(off, MagicBytes)) ok = false
      else {
        val he = indexOf(off, BlankBytes) // start of the \r\n\r\n terminator
        if (he < 0) ok = false
        else {
          val header = new String(b, off, he - off,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          ClenRe.findFirstMatchIn(header).map(_.group(1).toLong) match {
            case Some(clen) if clen <= Int.MaxValue && he + 4 + clen + 4 <= b.length =>
              val wt = TypeRe.findFirstMatchIn(header).map(_.group(1)).getOrElse("")
              val uri = UriRe.findFirstMatchIn(header).map(_.group(1)).getOrElse("")
              recs += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](
                  org.apache.spark.unsafe.types.UTF8String.fromString(wt),
                  org.apache.spark.unsafe.types.UTF8String.fromString(uri),
                  clen,
                  org.apache.spark.unsafe.types.UTF8String.fromBytes(
                    java.util.Arrays.copyOfRange(b, he + 4, he + 4 + clen.toInt))))
              off = he + 4 + clen.toInt + 4
            case _ => ok = false
          }
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(recs.toArray)
  }

  /** One row per record of a binary `.warc.gz` column — the byte-exact
    * companion to [[warcRecords]] (same output schema; `content_length`
    * counts payload bytes). Per-row codegen'd decompress + walk, zero
    * shuffle.
    */
  def warcRecordsGz(df: DataFrame, idCol: String, warcCol: String,
                    maxRecords: Int = 16): DataFrame = {
    require(maxRecords >= 1 && maxRecords <= 4096,
      s"maxRecords must be in [1, 4096], got $maxRecords")
    val walked = org.apache.spark.sql.GraftColumnShim.column(
      graft.expressions.WarcRecordsGzExpr(
        org.apache.spark.sql.GraftColumnShim.expression(col(warcCol)), maxRecords))
    df.select(col(idCol), posexplode(walked).as(Seq("rec_idx", "r")))
      .select(col(idCol), col("rec_idx").cast("long").as("rec_idx"),
        col("r.warc_type").as("warc_type"), col("r.target_uri").as("target_uri"),
        col("r.content_length").as("content_length"), col("r.payload").as("payload"))
  }

  /** Over-cap observer for either record reader (the repo's
    * no-silent-caps rule): captures whose parsed record count REACHED
    * `maxRecords` — a conservative upper bound on silently truncated
    * captures (a capture holding exactly `maxRecords` records counts
    * too; one holding more parsed only the first `maxRecords`). Feed it
    * the reader's own output frame; one narrow per-capture count, no
    * payload shuffle.
    */
  def cappedCaptures(records: DataFrame, idCol: String, maxRecords: Int): Long =
    records.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
      .where(col("_n") >= maxRecords).count()

  // ---------- HTTP response payloads (what `response` records carry) ----------

  /** Parse a WARC `response` record payload as an HTTP/1.x response —
    * the actual content of every Common Crawl `response` record is not
    * bare HTML but `status line + header block + \r\n\r\n + body`, and a
    * pipeline that hands the raw payload to an HTML extractor feeds it
    * header noise and keeps 404 bodies and JSON blobs it should have
    * dropped.
    *
    * Returns a struct: `status` (the 3-digit code, null when the payload
    * is not an HTTP response), `mime` (the Content-Type media type,
    * lowercased and parameter-stripped; null when absent), `charset`
    * (the Content-Type charset parameter, lowercased, quotes tolerated;
    * null when absent), `headers` (the raw header block), `body`
    * (everything after the FIRST blank line — a body containing its own
    * `\r\n\r\n` stays intact; null when the header block never
    * terminates, the truncated-capture case).
    *
    * Parsing contracts: the Content-Type match anchors to a line START
    * (`\r\n` prefix — the field can never be the first line, the status
    * line is), so an `X-Content-Type:` extension header cannot supply
    * the wrong media type; field names match case-insensitively per RFC
    * 9110. Everything is `locate`/`substr`/RE2-safe `regexp_extract`
    * column expressions — one codegen'd per-row pass, zero shuffle, and
    * an independent SQL engine restates the identical chain.
    */
  def httpResponse(payload: Column): Column = {
    val isHttp = payload.startsWith("HTTP/")
    val he = locate("\r\n\r\n", payload) // 1-based start of the blank line; 0 = absent
    val headers = when(he > 0, payload.substr(lit(1), he - 1)).otherwise(payload)
    val statusS = regexp_extract(payload, "^HTTP/[0-9.]+ ([0-9]{3})", 1)
    val ct = regexp_extract(headers, "(?i)\r\ncontent-type:[ \t]*([^\r\n]*)", 1)
    val mimeS = lower(trim(regexp_extract(ct, "^([^;]*)", 1)))
    val charsetS = lower(regexp_extract(ct, "(?i)charset=\"?([A-Za-z0-9._-]+)", 1))
    struct(
      when(isHttp && statusS =!= "", statusS.cast("int")).as("status"),
      when(isHttp && ct =!= "", mimeS).as("mime"),
      when(isHttp && charsetS =!= "", charsetS).as("charset"),
      when(isHttp, headers).as("headers"),
      when(isHttp && he > 0,
        payload.substr(he + 4, length(payload) - he - 3)).as("body"))
  }

  /** One row per input row with the HTTP parse exploded next to it —
    * the frame-level companion to [[httpResponse]] for a record frame
    * from [[warcRecords]]/[[warcRecordsGz]]: adds (http_status, mime,
    * charset, body); non-HTTP payloads yield nulls. Per-row, zero
    * shuffle; the struct is projected once so the parse chain is not
    * re-evaluated per extracted field.
    */
  def httpResponses(records: DataFrame, payloadCol: String): DataFrame =
    records.withColumn("_h", httpResponse(col(payloadCol)))
      .withColumn("http_status", col("_h.status"))
      .withColumn("mime", col("_h.mime"))
      .withColumn("charset", col("_h.charset"))
      .withColumn("headers", col("_h.headers"))
      .withColumn("body", col("_h.body"))
      .drop("_h")

  /** Redirect edges from response records: one (src, dst) row per 3xx
    * redirect (301/302/303/307/308 — 303 "See Other" occurs in real crawl
    * corpora after form posts and content-negotiation hops, and its
    * Location is an alias edge like any other; 300/304/305 stay excluded:
    * they are not location-following redirects) whose header block
    * carries a `Location:` field — the alias edges URL canonicalization alone cannot see (a
    * recrawl corpus keys the same page under every hop of its redirect
    * chain until these collapse). Same line-start-anchored,
    * case-insensitive header extraction as [[httpResponse]]; non-HTTP
    * payloads, non-redirect statuses and Location-less redirects yield
    * nothing. Per-row, zero shuffle.
    */
  def redirectEdges(records: DataFrame, urlCol: String,
                    payloadCol: String): DataFrame =
    redirectEdgesWithStatus(records, urlCol, payloadCol)
      .select(col("src"), col("dst"))

  /** [[redirectEdges]] plus the PERMANENCE verdict: `permanent` = true
    * for 301/308 (RFC 9110: the resource has moved — the source URL is
    * an alias a crawler should stop spending fetch budget on), false for
    * 302/303/307 (temporary — the source stays the canonical fetch
    * target). The input to [[Pipeline.buildFrontier]]'s
    * `redirectPermanentCol` alias screen. Output: (src, dst, permanent).
    */
  def redirectEdgesWithStatus(records: DataFrame, urlCol: String,
                              payloadCol: String): DataFrame =
    records.withColumn("_h", httpResponse(col(payloadCol)))
      .where(col("_h.status").isin(301, 302, 303, 307, 308))
      .withColumn("dst", regexp_extract(col("_h.headers"),
        "(?i)\r\nlocation:[ \t]*([^\r\n]*)", 1))
      .where(col("dst") =!= "")
      .select(col(urlCol).as("src"), col("dst"),
        col("_h.status").isin(301, 308).as("permanent"))

  /** Resolve redirect chains to their final targets: for every source
    * URL in `edges`, follow (src → dst) hops until a URL with no
    * outgoing edge (`terminal` = true) or until `maxHops` (`terminal` =
    * false — the cycle / over-long-chain verdict; `final_url` is then
    * wherever the walk stopped, deterministically). A source with
    * several recorded targets (conflicting recrawls) follows the
    * smallest dst — deterministic; callers wanting the conflict count
    * can `groupBy(src).count()` the edge frame first.
    *
    * Scale shape — saturating POINTER DOUBLING (path doubling), not a
    * hop-at-a-time chase: a jump table J_k maps every source x to the
    * node min(2^k, dist-to-sink(x)) edges ahead (sinks saturate — a
    * lookup that misses leaves the row in place), built by joining J_k
    * with itself, so ⌈log₂ maxHops⌉ rounds cover what the sequential
    * walk needed maxHops rounds for (3 materialized joins instead of 7
    * at the default 8, and planted cycles no longer force the full
    * round count — they just never saturate). The final positions then
    * decompose maxHops over the built jump tables (lazy — folded into
    * one last materialization with the terminal verdict, a left join
    * against the edge sources). Every join keys on the 8-byte-hashable
    * URL; per-round barriers truncate lineage and are released when the
    * call returns or throws (a round that throws frees every earlier
    * round's blocks).
    * Output: (src, final_url, hops, terminal) — hops = edges actually
    * walked (≤ maxHops), terminal = the final position has no outgoing
    * edge; identical to the sequential chase by construction.
    */
  def resolveRedirects(edges: DataFrame, srcCol: String, dstCol: String,
                       maxHops: Int = 8): DataFrame = {
    require(maxHops >= 1 && maxHops <= 16,
      s"maxHops must be in [1, 16], got $maxHops")
    // no job labels: the caller's stage (the frontier's `redirected`)
    // labels these jobs
    Stages.run(edges.sparkSession, "redirects") { st =>
      // the (deduplicated) edge table doubles as J_0: follow 1 edge.
      // Lazy barrier: the first consumer's job materializes it (the
      // baseline-sum probe below when probing is on, else the first
      // doubling round / final materialization) — no standalone job.
      val e = st.barrier(
        edges.groupBy(col(srcCol).as("_es")).agg(min(col(dstCol)).as("_ed")),
        eager = false)
      // jump tables J_0..J_k (spans 1, 2, 4, …): (_jx, _jp, _jd) = from
      // _jx, following min(span, dist-to-sink) edges lands on _jp after
      // _jd edges
      var jumps = List(
        (1L, e.select(col("_es").as("_jx"), col("_ed").as("_jp"), lit(1L).as("_jd"))))
      // Early-exit probe (the shrinking-set exit the sequential chase had):
      // Σ_jd is strictly monotone while any chain can still extend (every
      // row's _jd is non-decreasing across doublings), so an unchanged sum
      // means EVERY row saturated within the current span — the remaining
      // doublings would rebuild identical tables, and the decomposition
      // below covers maxHops with the shorter spans (capacity 2·span−1 ≥
      // span ≥ every true distance, so saturated positions stop moving).
      // ZERO extra jobs: each round's table is a LAZY barrier and the sum
      // is its materializing action — the join, the checkpoint and the
      // probe ride one job (cycle-bearing corpora never saturate and run
      // all ⌈log₂ maxHops⌉ rounds exactly as before); for the common
      // all-short-chain corpus the later full-width self-joins are skipped
      // outright. Probing is on only when ≥2 doubling rounds exist
      // (maxHops ≥ 4) — with a single round there is nothing to skip.
      def jdSum(j: DataFrame): Long = {
        val r = j.agg(sum(col("_jd"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      val probing = maxHops >= 4
      // baseline Σ_jd over J_1 = |E| — this probe doubles as the edge
      // table's materializing action (the job the eager barrier ran before)
      var lastSum = if (probing) jdSum(jumps.head._2) else -1L
      var saturated = false
      while (!saturated && jumps.head._1 * 2 <= maxHops.toLong) {
        val (span, j) = jumps.head
        val b = j.select(col("_jx").as("_bx"), col("_jp").as("_bp"),
          col("_jd").as("_bd"))
        val next = st.barrier(
          j.join(b, col("_jp") === col("_bx"), "left")
            .select(col("_jx"), coalesce(col("_bp"), col("_jp")).as("_jp"),
              (col("_jd") + coalesce(col("_bd"), lit(0L))).as("_jd")),
          eager = false)
        jumps = (span * 2, next) :: jumps
        // probe only while another doubling round remains to be skipped;
        // the sum is ALSO this round's materializing action
        if (probing && jumps.head._1 * 2 <= maxHops.toLong) {
          val s = jdSum(next)
          if (s == lastSum) saturated = true
          lastSum = s
        }
      }
      // walk maxHops edges from every source, saturating at sinks: apply
      // each set bit's jump table (largest first; composition of
      // min(c, dist) segments is order-free). All lookups stay lazy and
      // fold into the final materialization below.
      var live = e.select(col("_es").as("src"), col("_es").as("_pos"),
        lit(0L).as("_d"))
      var remaining = maxHops.toLong
      for ((span, j) <- jumps if span <= remaining) {
        remaining -= span
        val b = j.select(col("_jx").as("_bx"), col("_jp").as("_bp"),
          col("_jd").as("_bd"))
        live = live.join(b, col("_pos") === col("_bx"), "left")
          .select(col("src"), coalesce(col("_bp"), col("_pos")).as("_pos"),
            (col("_d") + coalesce(col("_bd"), lit(0L))).as("_d"))
      }
      // terminal verdict: the final position has no outgoing edge. The
      // result's own eager barrier is not the runner's: it outlives the call
      // (freed with the frame), uncompacted.
      val (result, _) = Dedup.materialize(
        live.join(e.select(col("_es"), lit(true).as("_has_out")),
            live("_pos") === col("_es"), "left")
          .select(col("src"), col("_pos").as("final_url"), col("_d").as("hops"),
            col("_has_out").isNull.as("terminal")),
        Dedup.Barrier.LocalCheckpoint)
      st.releaseExcept()
      result
    }
  }

  /** Deterministic `.warc.gz` fixture for the gate (JVM-side, wrapped in
    * a fixture-synthesis udf by the caller): two records, EACH its own
    * gzip member, concatenated — the Common Crawl layout [[gzRecordRows]]
    * decompresses across. The response payload repeats the multi-byte
    * string "café " (6 bytes, 5 chars per repeat), so `content_length`
    * (bytes) ≠ `length(payload)` (chars) and a character-offset walk
    * would shear every subsequent record; every 7th metadata payload
    * embeds the record magic (the split-on-magic trap). The oracle's
    * expected rows derive from THESE formulas, never from a second parse.
    */
  def gzCaptureFixture(id: Long, lang: String): Array[Byte] = {
    val uri = s"https://example.com/doc/$id"
    val respPayload = "café " * (1 + (id % 5).toInt)
    val metaPayload = (if (id % 7 == 0) "seen: WARC/1.0\r\n" else "") + "lang: " + lang
    gzMember("response", Some(uri), respPayload) ++
      gzMember("metadata", None, metaPayload)
  }

  /** One WARC record as its OWN gzip member (the Common Crawl layout
    * [[gzRecordRows]] walks member-by-member) — the fixture builder the
    * gz gates share. `Content-Length` counts payload BYTES of the UTF-8
    * encoding, so multi-byte payloads frame byte-exactly.
    */
  def gzMember(wtype: String, uri: Option[String], payload: String): Array[Byte] = {
    val pb = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val head = new StringBuilder(Magic)
    head.append(s"WARC-Type: $wtype\r\n")
    uri.foreach(u => head.append(s"WARC-Target-URI: $u\r\n"))
    head.append(s"Content-Length: ${pb.length}\r\n\r\n")
    val rec = head.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      pb ++ "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(rec); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** Deterministic HTTP-response payload fixture for the `http_parse`
    * gate: per-document status/Content-Type/body variations chosen so
    * every parse branch fires — 404/301 statuses, case-varied field
    * names, a quoted charset, a parameter-free media type, a missing
    * Content-Type, an `X-Content-Type:` trap header (the line-start
    * anchor test), a body embedding its own `\r\n\r\n` (first-blank-line
    * framing test), a truncated header block and a non-HTTP payload.
    * Pure column expressions; the oracle's expected values derive from
    * THESE formulas — the parse chain never appears in it.
    */
  def httpPayloadFixture(idCol: Column, textCol: Column, langCol: Column): Column = {
    val codephrase = when(idCol % 13 === 5, lit("404 Not Found"))
      .when(idCol % 17 === 2, lit("301 Moved Permanently"))
      .otherwise(lit("200 OK"))
    val ctLine = when(idCol % 4 === 0, lit("Content-Type: text/html; charset=UTF-8"))
      .when(idCol % 4 === 1, lit("content-type: TEXT/HTML;charset=\"utf-8\""))
      .when(idCol % 4 === 2, lit("Content-Type: application/json"))
      .otherwise(lit("Content-Type: text/plain; charset=ISO-8859-1"))
    val hdrBlock = concat(
      lit("HTTP/1.1 "), codephrase, lit("\r\n"),
      lit("X-Content-Type: evil/mime; charset=evil-x\r\n"),
      lit("Server: srv"), (idCol % 5).cast("string"),
      when(idCol % 23 === 3, lit("")).otherwise(concat(lit("\r\n"), ctLine)))
    val body = concat(textCol,
      when(idCol % 7 === 1, lit(" tail\r\n\r\nafter blank")).otherwise(lit("")))
    when(idCol % 19 === 6, concat(lit("plain metadata lang: "), langCol))
      .otherwise(concat(hdrBlock,
        when(idCol % 29 === 9, lit("\r\n"))
          .otherwise(concat(lit("\r\n\r\n"), body))))
  }

  /** Deterministic capture fixture for the gate: a two-record WARC blob
    * per document — a `response` record carrying the document text and a
    * `metadata` record whose payload, for every 7th document, embeds the
    * literal `WARC/1.0` magic (the case that shears a naive
    * split-on-magic parser; the oracle's expected rows are derived from
    * THIS formula, not from a second parse, so framing bugs value-fail).
    * Pure column expressions — the identical construction restates in SQL.
    */
  def captureFixture(idCol: Column, textCol: Column, langCol: Column): Column = {
    val uri = concat(lit("https://example.com/doc/"), idCol.cast("string"))
    val metaPayload = concat(
      when(idCol % 7 === 0, lit("seen: WARC/1.0\r\n")).otherwise(lit("")),
      lit("lang: "), langCol)
    def record(wtype: String, payload: Column, withUri: Boolean): Column = concat(
      lit(Magic),
      lit(s"WARC-Type: $wtype\r\n"),
      if (withUri) concat(lit("WARC-Target-URI: "), uri, lit("\r\n")) else lit(""),
      lit("Content-Length: "), length(payload).cast("string"), lit("\r\n"),
      lit("\r\n"), payload, lit("\r\n\r\n"))
    concat(record("response", textCol, withUri = true),
      record("metadata", metaPayload, withUri = false))
  }
}
