package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Pipeline, Stages}

/** Structural invariants of the end-to-end crawl → shards composition
  * ([[graft.ops.Pipeline.curateCrawl]]) on a small synthetic crawl.
  * Value-level correctness is the `pipeline_e2e` gate's staged-replay
  * oracle; this spec pins the contract surface: schema, stage-drop
  * classes reaching the output, the per-domain cap, the packing prefix
  * sum and the shard partitioning — cheap enough to run in `sbt test`.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private def crawl(n: Int): DataFrame = {
    val did = col("doc_id")
    val body = concat(
      lit("the quick brown fox number "), did.cast("string"),
      lit(" jumps over one lazy dog. it runs near marker m"), did.cast("string"),
      lit("a and m"), did.cast("string"), lit("b then m"), did.cast("string"),
      lit("c every single day with speed."))
    val url = concat(lit("https://site"), (did % 3).cast("string"), lit(".com"),
      when(did % 5 === 4, lit("/blocked/")).otherwise(lit("/ok/")),
      did.cast("string"))
    val html = concat(lit("<html><body><article><p>"), body,
      lit("</p></article></body></html>"))
    val warc = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), url,
      lit("\r\nContent-Length: "), length(html).cast("string"),
      lit("\r\n\r\n"), html, lit("\r\n\r\n"))
    spark.range(n).select(col("id").as("doc_id"), warc.as("warc"))
  }

  test("curateCrawl: schema, robots drops, cap, pack prefix sum, shard range") {
    val out = java.nio.file.Files.createTempDirectory("graft_pspec").toString + "/shards"
    val robots = spark.range(3).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      lit("user-agent: *\ndisallow: /blocked/\n").as("txt"))
    val bench = spark.range(1).select(lit("completely unrelated benchmark sentence").as("text"))
    val res = Pipeline.curateCrawl(crawl(60), "doc_id", "warc",
      robots, "host", "txt", bench, "text", out,
      Pipeline.CurateConfig(capPerDomain = 12, packBudget = 128,
        nShards = 2, shardBuckets = 8)).cache()

    assert(res.columns.toSeq === Seq("doc_id", "domain", "text", "n_tokens",
      "start_offset", "pack_id", "crosses", "shuffle_pos", "shard"))

    val rows = res.orderBy("doc_id").collect()
    assert(rows.nonEmpty)
    // robots: every doc_id ≡ 4 (mod 5) hit the /blocked/ path (lowercase
    // field names + the literal-prefix rule) and must be absent
    assert(rows.forall(_.getLong(0) % 5 != 4))
    // per-domain cap
    val perDomain = res.groupBy("domain").count().collect()
    assert(perDomain.forall(_.getLong(1) <= 12))
    // packing: start_offset is the exact prefix sum of n_tokens in id order
    var cum = 0L
    rows.foreach { r =>
      assert(r.getLong(4) === cum, s"offset mismatch at doc ${r.getLong(0)}")
      cum += r.getLong(3)
      assert(r.getLong(5) === r.getLong(4) / 128) // pack_id = offset div budget
    }
    // shards: ids in [0, nShards), every shard non-empty at this size,
    // and shuffle_pos is a permutation of 0..n-1
    val shards = rows.map(_.getInt(8)).toSet
    assert(shards.subsetOf(Set(0, 1)) && shards.size === 2)
    assert(rows.map(_.getLong(7)).sorted.toSeq === (0L until rows.length).toSeq)
    res.unpersist()
  }

  test("curateCrawl job labels: exactly the stage set perfbench's CurateProbe reads") {
    val out = java.nio.file.Files.createTempDirectory("graft_plabel").toString + "/shards"
    val robots = spark.range(3).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      lit("user-agent: *\ndisallow: /blocked/\n").as("txt"))
    val bench = spark.range(1).select(lit("completely unrelated benchmark sentence").as("text"))
    val sc = spark.sparkContext
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    }
    sc.addSparkListener(listener)
    // one input partition, the way a small corpus arrives as one file
    // split: the spread's exchange then runs under the ingest label
    try Pipeline.curateCrawl(crawl(60).coalesce(1), "doc_id", "warc", robots, "host", "txt",
      bench, "text", out, Pipeline.CurateConfig(capPerDomain = 12,
        packBudget = 128, nShards = 2, shardBuckets = 8))
    finally {
      org.apache.spark.sql.GraftColumnShim.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    assert(labels.asScala.filter(_.startsWith("curate:")).toSet ===
      Seq("ingest", "lang", "near_dup", "decontam", "domain_cap", "written")
        .map(l => s"curate: $l").toSet)
    assert(sc.getLocalProperty("spark.job.description") === null)
  }

  test("curateCrawl over a persisted capture frame: every curate label has a job") {
    val out = java.nio.file.Files.createTempDirectory("graft_plabel_p").toString + "/shards"
    val robots = spark.range(3).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      lit("user-agent: *\ndisallow: /blocked/\n").as("txt"))
    val bench = spark.range(1).select(lit("completely unrelated benchmark sentence").as("text"))
    // persisted and counted first, as a serving loop holds its captures:
    // no job before the stages reads the raw input
    val captures = crawl(60).persist()
    captures.count()
    val sc = spark.sparkContext
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    }
    org.apache.spark.sql.GraftColumnShim.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try Pipeline.curateCrawl(captures, "doc_id", "warc", robots, "host", "txt",
      bench, "text", out, Pipeline.CurateConfig(capPerDomain = 12,
        packBudget = 128, nShards = 2, shardBuckets = 8)).count()
    finally {
      org.apache.spark.sql.GraftColumnShim.drainListenerBus(sc)
      sc.removeSparkListener(listener)
      captures.unpersist()
    }
    import scala.jdk.CollectionConverters._
    val jobs = labels.asScala.toSeq
    for (l <- Seq("ingest", "lang", "near_dup", "decontam", "domain_cap", "written"))
      assert(jobs.count(_ == s"curate: $l") >= 1, s"no job labelled curate: $l in $jobs")
  }

  test("Stages.run: a throwing body frees every barrier and outside release, label cleared") {
    val sc = spark.sparkContext
    val persisted0 = sc.getPersistentRDDs.size
    var outsideRan = false
    val e = intercept[IllegalStateException] {
      Stages.run(spark, "spec") { st =>
        st.barrier(spark.range(0, 4000, 1, 8).toDF(), eager = true)
        st.barrier(spark.range(0, 10, 1, 2).toDF(), eager = false)
        st.onRelease(() => outsideRan = true)
        assert(sc.getPersistentRDDs.size === persisted0 + 2)
        st.timed("boom")(throw new IllegalStateException("boom"))
      }
    }
    assert(e.getMessage === "boom")
    assert(sc.getPersistentRDDs.size === persisted0)
    assert(outsideRan)
    assert(sc.getLocalProperty("spark.job.description") === null)
  }

  test("Stages.timed: one label timed twice sums its seconds; untimed rows are NULL") {
    val f = Stages.run(spark, "spec") { st =>
      val label = st.timed("a") {
        Thread.sleep(60)
        spark.sparkContext.getLocalProperty("spark.job.description")
      }
      assert(label === "spec: a")
      st.timed("a")(Thread.sleep(60))
      st.funnel(Seq("a" -> 3L, "b" -> 2L), "n_items")
    }
    assert(f.columns.toSeq === Seq("stage_idx", "stage", "n_items", "seconds"))
    val rows = f.orderBy("stage_idx").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((0L, "a", 3L), (1L, "b", 2L)))
    assert(rows(0).getDouble(3) >= 0.12)
    assert(rows(1).isNullAt(3))
  }

  test("resolveRedirects: a round that throws frees the barriers declared before it") {
    val sc = spark.sparkContext
    val persisted0 = sc.getPersistentRDDs.size
    // AQE off: a lazy barrier's declaration then runs no job, so the edge
    // table's barrier is persisted before the baseline probe first
    // computes the failing row. A range, not a local relation, which the
    // optimizer would fold (and throw) at declaration.
    val boom = udf((s: String) => { if (s == "u2") throw new IllegalStateException("boom"); s })
    val edges = spark.range(3).select(
      boom(concat(lit("u"), col("id").cast("string"))).as("src"),
      concat(lit("u"), (col("id") + 1).cast("string")).as("dst"))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try intercept[Exception](graft.ops.Warc.resolveRedirects(edges, "src", "dst", maxHops = 8))
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(sc.getPersistentRDDs.size === persisted0)
  }

  test("decisionAndPack: text crosses exactly ONE exchange (the packing window)") {
    val sd = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("https://site"), (col("id") % 5).cast("string"),
        lit(".com/x/"), col("id").cast("string")).as("url"),
      concat(lit("site"), (col("id") % 5).cast("string"), lit(".com")).as("host"),
      concat(lit("the quick brown fox jumps over one lazy dog number "),
        col("id").cast("string"), lit(" and it runs for that every day.")).as("text"))
      .localCheckpoint()
    val bench = spark.range(1)
      .select(lit("completely unrelated benchmark sentence").as("text"))
    // identity materialize: the whole S10-S13 span lands in one plan
    val (_, packed) = Pipeline.decisionAndPack(sd, bench, "text", "doc_id",
      Pipeline.CurateConfig(capPerDomain = 30, packBudget = 128), (_, df) => df)
    val plan = packed.queryExecution.executedPlan
    // collect through the AQE wrapper (plain collect stops at its boundary)
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = {
      val here = p match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.output.exists(_.name == "text") => Seq(e)
        case _ => Nil
      }
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case _ => p.children
      }
      here ++ kids.flatMap(exchanges)
    }
    val textExchanges = exchanges(plan)
    assert(textExchanges.size == 1,
      s"expected exactly one text-carrying exchange (the pack window), got " +
        s"${textExchanges.size}:\n$plan")
    // the decision frames (contam ids, cap thresholds) must ride
    // broadcasts, never pull the corpus into a sort-merge exchange
    assert(!plan.toString.contains("SortMergeJoin"), plan.toString)
    assert(packed.count() > 0)
  }

  test("decontaminate: the hits-to-base join carries no forced broadcast hint") {
    val train = spark.range(50).select(col("id"),
      concat(lit("alpha beta gamma delta epsilon zeta "),
        col("id").cast("string")).as("text"))
    val bench = spark.range(1).select(lit("alpha beta gamma").as("text"))
    val out = graft.ops.Curation.decontaminate(train, bench, "id", "text")
    val outer = out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter => j
    }
    assert(outer.nonEmpty, "expected the hits left join in the plan")
    assert(outer.forall(j => j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty),
      "the unbounded hits frame must be left to AQE, not force-broadcast")
    // the bounded benchmark n-gram set DOES keep its explicit broadcast
    assert(out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.rightHint.exists(_.strategy.nonEmpty) ||
          j.hint.leftHint.exists(_.strategy.nonEmpty) => j
    }.nonEmpty)
  }

  test("audited funnel: nine monotone stages ending in the on-disk written count") {
    val out = java.nio.file.Files.createTempDirectory("graft_pfun").toString + "/shards"
    val robots = spark.range(3).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      lit("user-agent: *\ndisallow: /blocked/\n").as("txt"))
    val bench = spark.range(1)
      .select(lit("completely unrelated benchmark sentence").as("text"))
    val cur = Pipeline.curateCrawlAudited(crawl(60), "doc_id", "warc",
      robots, "host", "txt", bench, "text", out,
      Pipeline.CurateConfig(capPerDomain = 12, packBudget = 128,
        nShards = 2, shardBuckets = 8))
    val f = cur.funnel.orderBy("stage_idx").collect()
    assert(f.map(_.getString(1)).toSeq === Seq("ingest", "robots", "lang",
      "url_dedup", "near_dup", "decontam", "quality", "domain_cap", "written"))
    // survivor counts never increase stage-over-stage
    assert(f.sliding(2).forall(p => p(1).getLong(2) <= p(0).getLong(2)))
    // the shard write is lossless here: written == domain_cap == result rows
    assert(f.last.getLong(2) === f(7).getLong(2))
    assert(f.last.getLong(2) === cur.docs.count())
    // the seconds column: every timed boundary is non-negative, the
    // shared-barrier rows (robots, url_dedup, quality) are NULL, and the
    // timed set is exactly the documented one
    val secs = f.map(r => r.getString(1) -> (if (r.isNullAt(3)) None
      else Some(r.getDouble(3)))).toMap
    assert(Seq("ingest", "lang", "near_dup", "decontam", "domain_cap",
      "written").forall(st => secs(st).exists(_ >= 0.0)), secs.toString)
    assert(Seq("robots", "url_dedup", "quality").forall(st => secs(st).isEmpty))
    // two records per capture, far under the default cap
    assert(cur.cappedCaptures() === 0L)
  }

  test("incremental seenDir: the store accretes across waves; earlier content never re-enters") {
    val base = java.nio.file.Files.createTempDirectory("graft_pinc").toString
    import spark.implicits._
    val robots = Seq(("site0.com", ""), ("site1.com", ""), ("site2.com", ""))
      .toDF("host", "txt")
    val bench = spark.range(1).select(lit("zzz never matches zzz").as("text"))
    val cfg = Pipeline.CurateConfig(seenDir = base + "/seen",
      qualityMinWords = 1, capPerDomain = 100, packBudget = 256, nShards = 2,
      shardBuckets = 8)
    def wave(ids: Seq[Long], n: Int): DataFrame = {
      // re-key the SAME content (crawl's body is a function of doc_id) under
      // fresh ids so later waves recrawl earlier pages under new capture ids
      val c = crawl(64).where(col("doc_id").isin(ids: _*))
        .withColumn("doc_id", col("doc_id") + lit(1000L * n))
      Pipeline.curateCrawl(c, "doc_id", "warc", robots, "host", "txt",
        bench, "text", base + s"/shards$n", cfg)
    }
    assert(wave(Seq(1L, 2L, 3L), 0).count() === 3)
    // wave 1: one fresh page + two recrawls of wave-0 content -> 1 survives
    assert(wave(Seq(2L, 3L, 6L), 1).count() === 1)
    // wave 2: recrawls of wave-0 AND wave-1 content -> only 8 is fresh
    val w2 = wave(Seq(1L, 6L, 8L), 2)
    assert(w2.select("text").collect().map(_.getString(0)).toSeq
      .forall(_.contains("number 8")))
    assert(w2.count() === 1)
  }

  test("incremental seenDir: a crash between screen and shard write loses nothing on retry") {
    val base = java.nio.file.Files.createTempDirectory("graft_pcrash").toString
    import spark.implicits._
    val robots = Seq(("site0.com", ""), ("site1.com", ""), ("site2.com", ""))
      .toDF("host", "txt")
    val bench = spark.range(1).select(lit("zzz never matches zzz").as("text"))
    val cfg = Pipeline.CurateConfig(seenDir = base + "/seen",
      qualityMinWords = 1, capPerDomain = 100, packBudget = 256, nShards = 2,
      shardBuckets = 8)
    def run(ids: Seq[Long], n: Int, shardDir: String): DataFrame = {
      val c = crawl(64).where(col("doc_id").isin(ids: _*))
        .withColumn("doc_id", col("doc_id") + lit(1000L * n))
      Pipeline.curateCrawl(c, "doc_id", "warc", robots, "host", "txt",
        bench, "text", shardDir, cfg)
    }
    // wave 0 seeds the store with content 1, 2, 3
    assert(run(Seq(1L, 2L, 3L), 0, base + "/shards0").count() === 3)
    val seenAfter0 = spark.read.parquet(base + "/seen").count()
    // wave 1 (content 6 is fresh) CRASHES at the shard write: the shard
    // path sits under a regular FILE, so the parquet commit throws after
    // the seen screen already ran
    java.nio.file.Files.write(java.nio.file.Paths.get(base + "/blockfile"),
      "x".getBytes)
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      run(Seq(2L, 6L), 1, base + "/blockfile/shards")
    }
    // the release-on-failure path freed every checkpoint block
    assert(spark.sparkContext.getPersistentRDDs.size === persisted0)
    // the store did NOT advance past the crash — the wave's own
    // fingerprints were never persisted...
    assert(spark.read.parquet(base + "/seen").count() === seenAfter0)
    // ...so the RETRIED wave lands its documents instead of being
    // screened out by them (the silent-wave-loss failure mode)
    val retry = run(Seq(2L, 6L), 1, base + "/shards1")
    assert(retry.count() === 1)
    assert(retry.select("text").head.getString(0).contains("number 6"))
    // and the retry's append did run: wave 2 recrawling content 6 is
    // fully screened — the pipeline surfaces the empty wave loudly (the
    // writeTrainingShards empty-corpus require), never a silent 0-row
    // shard store
    val e = intercept[IllegalArgumentException] {
      run(Seq(6L), 2, base + "/shards2")
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("incremental seenDir: seenBloom prefilter yields identical results") {
    val base = java.nio.file.Files.createTempDirectory("graft_pbloom").toString
    import spark.implicits._
    val robots = Seq(("site0.com", ""), ("site1.com", ""), ("site2.com", ""))
      .toDF("host", "txt")
    val bench = spark.range(1).select(lit("zzz never matches zzz").as("text"))
    def cfg(dir: String, bloom: Boolean) = Pipeline.CurateConfig(
      seenDir = base + dir, seenBloom = bloom, seenBloomItems = 1L << 10,
      seenBloomBits = 1L << 14, qualityMinWords = 1, capPerDomain = 100,
      packBudget = 256, nShards = 2, shardBuckets = 8)
    def wave(ids: Seq[Long], n: Int, dir: String, bloom: Boolean): DataFrame = {
      val c = crawl(64).where(col("doc_id").isin(ids: _*))
        .withColumn("doc_id", col("doc_id") + lit(1000L * n))
      Pipeline.curateCrawl(c, "doc_id", "warc", robots, "host", "txt",
        bench, "text", base + s"/sh$dir$n", cfg(dir, bloom))
    }
    // same two waves under both settings: identical surviving ids
    def ids(df: DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    wave(Seq(1L, 2L, 3L), 0, "/exact", bloom = false)
    wave(Seq(1L, 2L, 3L), 0, "/bloom", bloom = true)
    val exact = ids(wave(Seq(2L, 3L, 6L, 8L), 1, "/exact", bloom = false))
    val bloom = ids(wave(Seq(2L, 3L, 6L, 8L), 1, "/bloom", bloom = true))
    assert(exact === bloom)
    assert(exact.nonEmpty) // 6 and 8 are fresh
  }

  test("screen stores: hand-written (ck1, ck2) and (uh1, uh2) stores screen; waves append the same lanes") {
    val base = java.nio.file.Files.createTempDirectory("graft_pfmt").toString
    import spark.implicits._
    // the on-disk lane formulas, restated here on purpose: a renamed lane
    // or a flipped seed order orphans every store already written
    def lanes(xs: Seq[String], n1: String, n2: String): DataFrame =
      xs.toDF("x").select(xxhash64(col("x")).as(n1),
        xxhash64(lit(0x9E3779B97F4A7C15L), col("x")).as(n2))
    def content(dir: String): Seq[(Long, Long)] = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def expected(xs: Seq[String]): Seq[(Long, Long)] = lanes(xs, "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // curate: pre-seed the seen store with the screened texts of pages 1
    // and 2 (crawl's body after C4 line rendering: one sentence a line)
    def screened(n: Int) = s"the quick brown fox number $n jumps over one lazy dog.\n" +
      s"it runs near marker m${n}a and m${n}b then m${n}c every single day with speed."
    val robots = Seq(("site0.com", ""), ("site1.com", ""), ("site2.com", ""))
      .toDF("host", "txt")
    val bench = spark.range(1).select(lit("zzz never matches zzz").as("text"))
    val seen = base + "/seen"
    lanes(Seq(screened(1), screened(2)), "ck1", "ck2").write.parquet(seen)
    // a recrawl of 1, 2 under fresh ids drops exactly them; 3 and 6 pass
    val wave = Pipeline.curateCrawl(crawl(64).where(col("doc_id").isin(1L, 2L, 3L, 6L))
        .withColumn("doc_id", col("doc_id") + lit(1000L)),
      "doc_id", "warc", robots, "host", "txt", bench, "text", base + "/shards",
      Pipeline.CurateConfig(seenDir = seen, qualityMinWords = 1, capPerDomain = 100,
        packBudget = 256, nShards = 2, shardBuckets = 8))
    assert(wave.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1003L, 1006L))
    // the append keeps the store's column names and lane values
    assert(spark.read.parquet(seen).columns.toSeq === Seq("ck1", "ck2"))
    assert(content(seen) === expected(Seq(1, 2, 3, 6).map(screened)))

    // frontier: pre-seed the fetched store with two of wave {p3, p15}'s
    // four candidates (p4, x3, p0, x15)
    val hosts = Seq(("h0.com", "")).toDF("host", "txt")
    val fetched = base + "/fetched"
    lanes(Seq("https://h0.com/p4", "https://f.net/x15"), "uh1", "uh2").write.parquet(fetched)
    val w = Pipeline.buildFrontier(frontierPagesFor(Seq(3L, 15L)), "doc_id",
      "page_url", "html", hosts, "host", "txt",
      Pipeline.FrontierConfig(maxPerSite = 10, fetchedDir = fetched))
    assert(w.select("url").collect().map(_.getString(0)).toSet ===
      Set("https://f.net/x3", "https://h0.com/p0"))
    assert(spark.read.parquet(fetched).columns.toSeq === Seq("uh1", "uh2"))
    assert(content(fetched) === expected(Seq("https://h0.com/p4", "https://f.net/x15",
      "https://h0.com/p3", "https://h0.com/p15")))
  }

  test("cappedCaptures: captures hitting warcMaxRecords are surfaced, never silent") {
    // four records per capture blob (crawl() emits one response record each)
    val four = crawl(8).select(col("doc_id"),
      concat(col("warc"), col("warc"), col("warc"), col("warc")).as("warc"))
    val recs = graft.ops.Warc.warcRecords(four, "doc_id", "warc", maxRecords = 3)
    // the walk stops at 3 records per capture...
    assert(recs.groupBy("doc_id").count().collect().forall(_.getLong(1) === 3L))
    // ...and the observer reports every capture that hit the cap
    assert(graft.ops.Warc.cappedCaptures(recs, "doc_id", 3) === 8L)
    assert(graft.ops.Warc.cappedCaptures(
      graft.ops.Warc.warcRecords(four, "doc_id", "warc", maxRecords = 16),
      "doc_id", 16) === 0L)
  }

  private def frontierPagesFor(ids: Seq[Long]): DataFrame = {
    // each page links the NEXT page (mod 16) — a cross-wave target when
    // the next id sits in an earlier wave — plus a never-fetched f.net URL
    val next = (col("doc_id") + 1) % 16
    spark.range(16).select(col("id").as("doc_id"))
      .where(col("doc_id").isin(ids: _*))
      .select(col("doc_id"),
        concat(lit("https://h0.com/p"), col("doc_id").cast("string"))
          .as("page_url"),
        concat(lit("<a href=\"https://h0.com/p"), next.cast("string"),
          lit("\">next</a> <a href=\"https://f.net/x"),
          col("doc_id").cast("string"), lit("\">f</a>")).as("html"))
  }

  test("frontier fetchedDir: a crash mid-composition leaves the store untouched; retry loses nothing") {
    val base = java.nio.file.Files.createTempDirectory("graft_fcrash").toString
    import spark.implicits._
    val robots = Seq(("h0.com", "")).toDF("host", "txt")
    val store = base + "/fetched"
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    // wave 0 with an invalid cap CRASHES at the site-cap stage — after
    // extraction and the (empty-store) screen already ran, before the
    // deferred append
    intercept[IllegalArgumentException] {
      Pipeline.buildFrontier(frontierPagesFor(Seq(0L, 1L, 2L)), "doc_id",
        "page_url", "html", robots, "host", "txt",
        Pipeline.FrontierConfig(maxPerSite = 0, fetchedDir = store))
    }
    // deferred commit: the aborted run never touched the store, and the
    // release-on-failure path freed every checkpoint block
    assert(!new java.io.File(store).exists())
    assert(spark.sparkContext.getPersistentRDDs.size === persisted0)
    // the RETRIED wave loses nothing: its in-wave screen drops p1/p2
    // (this wave fetched them), the store screen drops nothing
    val cfg = Pipeline.FrontierConfig(maxPerSite = 10, fetchedDir = store)
    val w0 = Pipeline.buildFrontier(frontierPagesFor(Seq(0L, 1L, 2L)), "doc_id",
      "page_url", "html", robots, "host", "txt", cfg)
    assert(w0.select("url").collect().map(_.getString(0)).toSet ===
      Set("https://h0.com/p3", "https://f.net/x0", "https://f.net/x1",
        "https://f.net/x2"))
    // wave 1: doc 15's next link targets p0 — fetched by wave 0, so the
    // STORE screen (not the in-wave one) must drop it; doc 3's next
    // link p4 was never fetched and survives
    val w1 = Pipeline.buildFrontier(frontierPagesFor(Seq(3L, 15L)), "doc_id",
      "page_url", "html", robots, "host", "txt", cfg)
    assert(w1.select("url").collect().map(_.getString(0)).toSet ===
      Set("https://h0.com/p4", "https://f.net/x3", "https://f.net/x15"))
    // the store accreted both waves' fetched URLs (3 + 2 hash pairs)
    assert(spark.read.parquet(store).count() === 5)
  }

  test("compactFetched: content identical, file count shrinks, the screen reads the same store") {
    val base = java.nio.file.Files.createTempDirectory("graft_fcomp").toString
    import spark.implicits._
    val robots = Seq(("h0.com", "")).toDF("host", "txt")
    val store = base + "/fetched"
    val cfg = Pipeline.FrontierConfig(maxPerSite = 10, fetchedDir = store)
    // three waves accrete three file sets
    Seq(Seq(0L, 1L), Seq(2L, 3L), Seq(4L, 5L)).foreach { ids =>
      Pipeline.buildFrontier(frontierPagesFor(ids), "doc_id",
        "page_url", "html", robots, "host", "txt", cfg).count()
    }
    def files() = new java.io.File(store).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    def content() = spark.read.parquet(store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val before = content()
    val filesBefore = files()
    assert(filesBefore >= 3, s"expected >= 3 wave file sets, got $filesBefore")
    val n = Pipeline.compactFetched(spark, store)
    assert(n === before.size.toLong)
    // row-identical multiset, fewer files
    assert(content() === before)
    assert(files() < filesBefore, s"${files()} !< $filesBefore")
    // the next wave screens against the compacted store identically:
    // doc 6's next link p7 is fresh, doc 15's next link p0 was fetched
    val w = Pipeline.buildFrontier(frontierPagesFor(Seq(15L)), "doc_id",
      "page_url", "html", robots, "host", "txt", cfg)
    assert(w.select("url").collect().map(_.getString(0)).toSet ===
      Set("https://f.net/x15"))
  }

  test("compactScreenStore: crash states (partial stage, mid-swap) recover to a readable store") {
    val base = java.nio.file.Files.createTempDirectory("graft_fcrash2").toString
    import spark.implicits._
    val store = base + "/fetched"
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("uh1", "uh2")
      .write.mode("append").parquet(store)
    def content() = spark.read.parquet(store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expect = content()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // (a) crash DURING the stage write: partial tmp without _SUCCESS —
    // the old files stay readable and the next compact discards the junk
    val staged = graft.ops.StoreSwap.stagingPath(new org.apache.hadoop.fs.Path(store)).toString
    val tmp = new java.io.File(staged); tmp.mkdirs()
    java.nio.file.Files.write(tmp.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(Pipeline.compactFetched(spark, store) === 3L)
    assert(content() === expect)
    assert(!tmp.exists())
    // (b) crash BETWEEN the two swap renames: store stepped aside whole,
    // staged copy complete (_SUCCESS present) — recovery rolls FORWARD
    spark.read.parquet(store).write.parquet(staged)
    assert(fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store + "_old")))
    assert(Pipeline.compactFetched(spark, store) === 3L)
    assert(content() === expect)
    assert(!new java.io.File(store + "_old").exists())
    // (c) crash during the stage write AFTER a previous step-aside: only
    // store_old is whole — recovery rolls BACK; the incremental screen's
    // own probe performs it too (an append never forks a fresh store)
    assert(fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store + "_old")))
    val robots = Seq(("h0.com", "")).toDF("host", "txt")
    Pipeline.buildFrontier(frontierPagesFor(Seq(6L)), "doc_id",
      "page_url", "html", robots, "host", "txt",
      Pipeline.FrontierConfig(maxPerSite = 10, fetchedDir = store)).count()
    // rolled back, then the wave appended its own fetched URL (p6)
    assert(content().size === 4)
    assert(content().containsSlice(expect))
  }

  test("frontier funnel: seconds on timed boundaries only; seen_store row appears with fetchedDir") {
    val base = java.nio.file.Files.createTempDirectory("graft_ffsec").toString
    import spark.implicits._
    val robots = Seq(("h0.com", "")).toDF("host", "txt")
    val cfg = Pipeline.FrontierConfig(maxPerSite = 10,
      fetchedDir = base + "/fetched")
    val f = Pipeline.buildFrontierAudited(frontierPagesFor(Seq(0L, 1L, 2L)),
      "doc_id", "page_url", "html", robots, "host", "txt", cfg)
      .funnel.orderBy("stage_idx").collect()
    assert(f.map(_.getString(1)).toSeq === Seq("extracted", "seeded",
      "resolved_http", "blocklist", "not_fetched", "seen_store",
      "distinct_url", "robots_allowed", "site_cap"))
    val secs = f.map(r => r.getString(1) -> (if (r.isNullAt(3)) None
      else Some(r.getDouble(3)))).toMap
    // timed = the materialization boundaries; filter-only rows are NULL
    // (seeded is NULL here — no sitemaps were composed in)
    assert(Seq("extracted", "seen_store", "distinct_url", "robots_allowed",
      "site_cap").forall(st => secs(st).exists(_ >= 0.0)), secs.toString)
    assert(Seq("seeded", "resolved_http", "blocklist", "not_fetched")
      .forall(st => secs(st).isEmpty), secs.toString)
    // counts: 6 candidates -> the wave's own 2 drop -> no store rows yet
    assert(f.map(r => r.getString(1) -> r.getLong(2)).toMap ===
      Map("extracted" -> 6L, "seeded" -> 6L, "resolved_http" -> 6L,
        "blocklist" -> 6L, "not_fetched" -> 4L, "seen_store" -> 4L,
        "distinct_url" -> 4L, "robots_allowed" -> 4L, "site_cap" -> 4L))
  }

  test("frontier useInlinks: offsite-distinct evidence, onsite zero, cap by evidence; hashKeys twin agrees") {
    import spark.implicits._
    // 12 pages across 4 hosts: every page links the shared hub.net/top
    // (4 distinct offsite referrers), its own hub.net/one{i} (exactly
    // one), and its host's ONSITE /self (zero — no self-voting)
    val pages = spark.range(12).select(col("id").as("doc_id"),
      concat(lit("https://h"), (col("id") % 4).cast("string"),
        lit(".com/p"), col("id").cast("string")).as("page_url"),
      concat(lit("<a href=\"https://hub.net/top\">t</a> "),
        lit("<a href=\"https://hub.net/one"), col("id").cast("string"),
        lit("\">o</a> <a href=\"/self\">s</a>")).as("html"))
    val robots = Seq.empty[(String, String)].toDF("host", "txt")
    val cfg = Pipeline.FrontierConfig(maxPerSite = 3, useInlinks = true)
    val out = Pipeline.buildFrontier(pages, "doc_id", "page_url", "html",
      robots, "host", "txt", cfg).cache()
    assert(out.columns.contains("n_ref_domains"))
    val top = out.where(col("url") === "https://hub.net/top").collect()
    assert(top.length === 1 && top(0).getAs[Long]("n_ref_domains") === 4L)
    // hub.net capped at 3 over 13 candidates: the evidence-4 URL MUST
    // survive over the one-referrer crowd regardless of hash rank
    assert(out.where(col("domain") === "hub.net").count() === 3L)
    assert(out.where(col("url").endsWith("/one") === false &&
      col("domain") === "hub.net" && col("n_ref_domains") === 4L).count() === 1L)
    // onsite self-links carry zero evidence
    val selfs = out.where(col("url").endsWith("/self")).collect()
    assert(selfs.length === 4 &&
      selfs.forall(_.getAs[Long]("n_ref_domains") === 0L))
    // the hash-keyed twin returns identical rows
    val hk = Pipeline.buildFrontier(pages, "doc_id", "page_url", "html",
      robots, "host", "txt", cfg.copy(hashKeys = true))
    assert(out.orderBy("url").collect().toSeq ===
      hk.orderBy("url").collect().toSeq)
    out.unpersist()
  }
}
