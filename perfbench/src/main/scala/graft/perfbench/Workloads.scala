package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length, lit, sum, when}

import graft.{QuantParams, VectorConfig}
import graft.catalog.VectorCatalog
import graft.ops.{Ann, Knn, Pipeline, Quantizer}

/** What a workload run shares: the session, the seed, a private work
  * directory and the number of cores.
  */
final case class Ctx(spark: SparkSession, seed: Long, work: String, cores: Int)

/** A workload: input generation (untimed), a set-up that can be
  * repeated, an untimed warm-up, and a closed loop with one client.
  */
trait Workload {
  def prepare(): Unit
  def setup(h: Harness): Unit
  def warmup(h: Harness): Unit
  /** Runs rounds for about `seconds`, and at least two; round i is
    * recorded by `h(i)`, so a traced run can interleave untraced and
    * traced rounds.
    */
  def loop(h: Int => Harness, seconds: Double): Unit
  /** Per-op figures measured by the closed loop (any harness). */
  def opFigures(h: Harness, out: mutable.Map[String, Double]): Unit
  /** Figures that need the listener, spans or extra probe jobs, from
    * the traced set-ups `s` and the traced loop `h`.
    */
  def layerFigures(s: Harness, h: Harness, out: mutable.Map[String, Double]): Unit
}

object Workloads {
  val Dim = 768
  val K = 10

  val names: Seq[String] = Seq("quant_serve_50k768", "exact_serve_10k768")

  /** The workload whose traced run also runs the curation probe. */
  val CurateHost = "quant_serve_50k768"

  /** The workload whose traced run also runs the ingest waves as a probe. */
  val IngestHost = "exact_serve_10k768"

  /** Untimed warm-up before the set-ups and the loop: at least this long,
    * so the JIT has compiled the loop's hot paths before it is timed.
    */
  val WarmupSeconds = 6.0

  /** Floor for a run's mean recall@10 of the quantized scan; below it the
    * run counts one failed op. The paper claims > 0.95 at 1M rows; here 36
    * runs over seeds 51 to 310 read 0.944 to 0.987 (16 probes a run, so
    * one miss in a probe's top 10 moves the mean by 0.006).
    */
  val RecallFloor = 0.90

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "quant_serve_50k768" => new QuantServe(ctx)
    case "exact_serve_10k768" => new ExactServe(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Queries per second of time spent inside the named ops. */
  def perSec(h: Harness, ops: String*): Double = {
    val xs = ops.flatMap(h.lat)
    if (xs.isEmpty) 0.0 else xs.size / (xs.sum / 1e3)
  }

  /** Calls `round(i)` for i = 0, 1, ... until `seconds` have passed and
    * at least `min` rounds have run.
    */
  def runFor(seconds: Double, min: Int)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { round(i); i += 1 }
  }

  /** The top-k ids and distances of a collected (id, distance) result. */
  def idsAndDists(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).doubleValue))

  def round6(d: Double): Double = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** k rows with distinct ids, every one of them in the corpus. */
  def checkTopK(h: Harness, what: String, got: Seq[(Long, Double)], inCorpus: Long => Boolean): Unit = {
    val ids = got.map(_._1)
    h.check(ids.size == K && ids.distinct.size == K && ids.forall(inCorpus),
      s"$what: expected $K distinct corpus ids, got ${ids.mkString(",")}")
  }

  /** Per-op Spark runtime, median over the op's calls. */
  def runtimeFigures(h: Harness, out: mutable.Map[String, Double]): Unit =
    h.runtime.foreach { case (op, rs) =>
      out(s"$op.driver.jobs") = p50(rs.map(_.jobs.toDouble).toSeq)
      out(s"$op.driver.gap_ms") = p50(rs.map(_.gapMs).toSeq)
      out(s"$op.executor.cpu_ms") = p50(rs.map(_.cpuMs).toSeq)
      out(s"$op.executor.gc_ms") = p50(rs.map(_.gcMs).toSeq)
      out(s"$op.shuffle.bytes") = p50(rs.map(_.shuffleBytes).toSeq)
      out(s"$op.spill.bytes") = p50(rs.map(_.spillBytes).toSeq)
    }

  /** Bytes and parquet part files under a directory. */
  def dirUsage(spark: SparkSession, dir: String): (Long, Int) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    var bytes = 0L
    var files = 0
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_")) {
        bytes += f.getLen
        if (n.endsWith(".parquet")) files += 1
      }
    }
    (bytes, files)
  }

  /** Recall ground truth: the exact top-k (distance, id) of every probe,
    * in one pass over the stored corpus with the engine's double L2.
    */
  def exactTopK(base: DataFrame, probes: Array[Array[Float]]): Array[Seq[(Double, Long)]] = {
    val ps = probes
    val partial = base.select("id", "vec").queryExecution.toRdd.mapPartitions { it =>
      val heaps = Array.fill(ps.length)(mutable.PriorityQueue.empty[(Double, Long)])
      it.foreach { r =>
        val id = r.getLong(0)
        val v = r.getArray(1).toFloatArray()
        var p = 0
        while (p < ps.length) {
          val d = (graft.kernels.Distances.l2Double(v, ps(p)), id)
          val hp = heaps(p)
          if (hp.size < K) hp.enqueue(d)
          else if (Ordering[(Double, Long)].lt(d, hp.head)) { hp.dequeue(); hp.enqueue(d) }
          p += 1
        }
      }
      Iterator.single(heaps.map(_.toSeq))
    }.collect()
    ps.indices.map(p => partial.flatMap(_(p)).toSeq.sorted.take(K)).toArray
  }

  def cachedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble
}

import Workloads._

/** The paper's serving shape: a preloaded global min-max INT8 code
  * store, probed by the quantized top-k scan.
  */
final class QuantServe(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val rows = 50000L
  private val nProbes = 16
  private val space = Gen.Space(Dim, clusters = 64, signed = true, spread = 0.35)
  private var base: DataFrame = _
  private var probes: Array[Array[Float]] = _
  private var truth: Array[Set[Long]] = Array.empty
  private var params: QuantParams = _
  private var cached: DataFrame = _
  private var next = 0
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val cacheHits = mutable.ArrayBuffer.empty[Boolean]

  def prepare(): Unit = {
    base = Gen.writeCorpus(spark, ctx.seed, space, 0L, rows, ctx.cores * 2, s"${ctx.work}/corpus")
    probes = Gen.probes(ctx.seed, space, nProbes)
    truth = exactTopK(base, probes).map(_.map(_._2).toSet)
  }

  def setup(h: Harness): Unit = {
    if (cached != null) Quantizer.cleanup(cached)
    params = h.span("quantizer.computeParams")(Quantizer.computeParams(base, "vec"))
    val codes = Quantizer.quantizeCodes(base, "id", "vec", params)
    // traced only: time the code projection apart from caching it
    if (h.traced) h.span("quantizer.quantizeCodes")(codes.agg(sum(length(col("code")))).collect())
    cached = h.span("quantizer.preload")(Quantizer.preload(codes))
  }

  private def query(h: Harness): Unit = {
    val i = next % nProbes
    next += 1
    h.round {
      val (df, res) = h.op("quant_knn")(h.span("quantizer.quantScan") {
        val df = Quantizer.quantScan(cached, probes(i), params, K, "sq_l2")
        (df, df.collect())
      })
      val got = idsAndDists(res)
      checkTopK(h, s"quant_knn probe $i", got, id => id >= 0 && id < rows)
      recalls += got.count(g => truth(i).contains(g._1)).toDouble / K
      if (h.traced) cacheHits += Layers.Plans.scansCache(df)
    }
  }

  // the JIT's progress on the query path follows the number of queries
  // run, so the warm-up runs a fixed number of them at the least
  def warmup(h: Harness): Unit = runFor(WarmupSeconds, 150)(_ => query(h))

  def loop(h: Int => Harness, seconds: Double): Unit = {
    recalls.clear()
    runFor(seconds, 2)(i => query(h(i)))
  }

  def opFigures(h: Harness, out: mutable.Map[String, Double]): Unit = {
    val q = h.lat("quant_knn")
    out("quant_knn_p50_ms") = p50(q)
    Stats.tail(q).foreach { case (_, v, _) => out("quant_knn_tail_ms") = v }
    out("queries_per_s") = perSec(h, "quant_knn")
    val recall = Stats.mean(recalls.toSeq)
    out("recall_at_10") = recall
    h.check(recall >= RecallFloor, f"quant_knn: mean recall@10 $recall%.4f is below $RecallFloor")
    out("store_bytes_per_vector") = cachedBytes(spark) / rows
  }

  def layerFigures(s: Harness, h: Harness, out: mutable.Map[String, Double]): Unit = {
    out("quantizer.params_ms") = p50(s.tracer.durationsMs("quantizer.computeParams"))
    out("quantizer.codes_ms") = p50(s.tracer.durationsMs("quantizer.quantizeCodes"))
    out("cache.preload_ms") = p50(s.tracer.durationsMs("quantizer.preload"))
    out("cache.bytes") = cachedBytes(spark)
    out("cache.hit_ratio") =
      if (cacheHits.isEmpty) 0.0 else cacheHits.count(identity).toDouble / cacheHits.size
    out ++= Layers.codeStages(cached, probes(0), params, rows)
    out ++= Layers.vecStages(base, probes(0), rows)
  }
}

/** The exact-result paths over an f32 parquet store with a preloaded
  * INT8 code view: the brute-force scan, the certified two-stage plan
  * from Scala, and the SQL table function that picks the certified plan.
  */
final class ExactServe(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val rows = 10000L
  private val nProbes = 16
  private val space = Gen.Space(Dim, clusters = 64, signed = true, spread = 0.35)
  private var base: DataFrame = _
  private var probes: Array[Array[Float]] = _
  private var probeJson: Array[String] = _
  private var params: QuantParams = _
  private var cached: DataFrame = _
  private var next = 0
  private val shortlist = mutable.ArrayBuffer.empty[Double]

  def prepare(): Unit = {
    base = Gen.writeCorpus(spark, ctx.seed, space, 0L, rows, ctx.cores * 2, s"${ctx.work}/corpus")
    probes = Gen.probes(ctx.seed, space, nProbes)
    probeJson = probes.map(Layers.probeJson)
    graft.sql.GraftTableFunctions.register(spark)
  }

  def setup(h: Harness): Unit = {
    if (cached != null) Quantizer.cleanup(cached)
    params = h.span("quantizer.computeParams")(Quantizer.computeParams(base, "vec"))
    cached = h.span("quantizer.preload")(Quantizer.preload(Quantizer.quantizeCodes(base, "id", "vec", params)))
    h.span("catalog.register") {
      base.createOrReplaceTempView("corpus")
      VectorCatalog.init("corpus", "vec", VectorConfig(Dim), Some(base))
      VectorCatalog.putQuantParams("corpus", "vec", params)
      cached.createOrReplaceTempView("vector0_corpus_vec")
    }
  }

  private def probeRound(h: Harness): Unit = {
    val i = next % nProbes
    next += 1
    val probe = probes(i)
    h.round {
      val exact = idsAndDists(h.op("exact_knn")(h.span("knn.fullScan")(
        Knn.fullScan(base, "id", "vec", probe, K, "l2").collect())))
      val (certDf, cert) = h.op("certified_knn") {
        val df = h.span("quantizer.certified_prepare")(
          Quantizer.certifiedTopK(base, "id", "vec", cached, probe, params, K, "l2"))
        (df, idsAndDists(h.span("quantizer.certified_rerank")(df.collect())))
      }
      val sqlText = s"SELECT id, distance FROM vector_scan('corpus', 'vec', '${probeJson(i)}', $K)"
      val viaSql = idsAndDists(h.op("sql_scan") {
        val df = h.span("sql.analyze")(spark.sql(sqlText))
        h.span("sql.plan")(df.queryExecution.executedPlan)
        h.span("sql.exec")(df.collect())
      })
      checkTopK(h, s"exact_knn probe $i", exact, id => id >= 0 && id < rows)
      val want = exact.map { case (id, d) => (id, round6(d)) }
      h.check(cert.map { case (id, d) => (id, round6(d)) } == want,
        s"certified_knn probe $i differs from the exact scan: $cert vs $exact")
      h.check(viaSql.map { case (id, d) => (id, round6(d)) } == want,
        s"vector_scan probe $i differs from the exact scan: $viaSql vs $exact")
      if (h.traced) shortlist += Layers.Plans.shortlistRows(certDf).toDouble
    }
  }

  def warmup(h: Harness): Unit = runFor(WarmupSeconds, 3)(_ => probeRound(h))

  def loop(h: Int => Harness, seconds: Double): Unit = runFor(seconds, 2)(i => probeRound(h(i)))

  def opFigures(h: Harness, out: mutable.Map[String, Double]): Unit = {
    out("exact_knn_p50_ms") = p50(h.lat("exact_knn"))
    out("certified_knn_p50_ms") = p50(h.lat("certified_knn"))
    out("sql_scan_p50_ms") = p50(h.lat("sql_scan"))
    out("queries_per_s") = perSec(h, "exact_knn", "certified_knn", "sql_scan")
  }

  def layerFigures(s: Harness, h: Harness, out: mutable.Map[String, Double]): Unit = {
    val t = h.tracer
    out("quantizer.params_ms") = p50(s.tracer.durationsMs("quantizer.computeParams"))
    out("cache.preload_ms") = p50(s.tracer.durationsMs("quantizer.preload"))
    out("quantizer.certified_prepare_ms") = p50(t.durationsMs("quantizer.certified_prepare"))
    out("quantizer.certified_rerank_ms") = p50(t.durationsMs("quantizer.certified_rerank"))
    out("quantizer.shortlist_rows") = p50(shortlist.toSeq)
    out("quantizer.shortlist_ratio") = p50(shortlist.toSeq) / rows
    out("sql.analyze_ms") = p50(t.durationsMs("sql.analyze"))
    out("sql.plan_ms") = p50(t.durationsMs("sql.plan"))
    out("sql.exec_ms") = p50(t.durationsMs("sql.exec"))
    out("cache.bytes") = cachedBytes(spark)
    out ++= Layers.vecStages(base, probes(0), rows)
    out ++= Layers.codeStages(cached, probes(0), params, rows)
  }
}

/** Writes beside reads: UINT8 quant store and IVF store appended wave by
  * wave, read back from disk after every wave, compacted periodically.
  * Not a workload of its own: the traced run of `IngestHost` runs it as a
  * probe after its loop.
  */
final class IngestWaves(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val baseRows = 6000L
  private val waves = 5
  private val waveRows = 2000L
  private val compactEvery = 5
  private val cells = 16
  private val nprobe = 2
  private val nProbes = 16
  private val space = Gen.Space(Dim, clusters = 64, signed = false, spread = 0.3)
  private var base: DataFrame = _
  private var waveFrames: IndexedSeq[DataFrame] = _
  private var warmWave: DataFrame = _
  private var probes: Array[Array[Float]] = _
  private var setups = 0
  private var quantPath: String = _
  private var ivfPath: String = _
  private var cents: Seq[Seq[Float]] = _
  private var params: QuantParams = _
  private val ranges = mutable.ArrayBuffer.empty[(Long, Long)]
  private var next = 0
  private val appendBytes = mutable.ArrayBuffer.empty[Double]
  private val compactBytes = mutable.ArrayBuffer.empty[Double]
  private val filesRead = mutable.ArrayBuffer.empty[Double]
  private var quantFiles = 0.0
  private var skew = 0.0


  private def waveStart(w: Int): Long = baseRows + w * waveRows

  def prepare(): Unit = {
    // the base store (part 0), every wave and the warm-up wave (parts
    // 1 to waves + 1) in one write
    Gen.corpus(spark, ctx.seed, space, 0L, waveStart(waves + 1), ctx.cores * 2)
      .withColumn("part", when(col("id") < baseRows, 0)
        .otherwise(((col("id") - baseRows) / waveRows).cast("int") + 1))
      .write.option("parquet.enable.dictionary", "false").partitionBy("part").parquet(s"${ctx.work}/input")
    val parts = (0 to waves + 1).map(p => spark.read.parquet(s"${ctx.work}/input/part=$p"))
    base = parts(0)
    waveFrames = parts.slice(1, waves + 1)
    warmWave = parts(waves + 1)
    probes = Gen.probes(ctx.seed, space, nProbes)
  }

  def setup(h: Harness): Unit = {
    setups += 1
    quantPath = s"${ctx.work}/store_$setups/quant"
    ivfPath = s"${ctx.work}/store_$setups/ivf"
    params = h.span("quantizer.quantize")(Quantizer.quantize(base, "id", "vec", quantPath, dim = Dim))._1
    cents = h.span("ann.ivfCentroids")(Ann.ivfCentroids(base, "id", "vec", cells))
    h.span("ann.writeIvf")(Ann.writeIvf(base, "vec", ivfPath, cents))
    ranges.clear()
    ranges += ((0L, baseRows))
  }

  private def ingested: Long = ranges.map { case (a, b) => b - a }.sum

  private def inStore(id: Long): Boolean = ranges.exists { case (a, b) => id >= a && id < b }

  private def readPair(h: Harness): Unit = {
    val probe = probes(next % nProbes)
    next += 1
    val q = idsAndDists(h.op("quant_knn")(h.span("quantizer.quantScan")(
      Quantizer.quantScan(Quantizer.readStore(spark, quantPath), probe, params, K, "sq_l2").collect())))
    checkTopK(h, "quant_knn over the on-disk store", q, inStore)
    // ivfTopK probes the centroids, lists the probed cells and reads
    // their footers before it returns, so building the frame is timed too
    val (ivfDf, ivfRows) = h.op("ivf_probe")(h.span("ann.ivfTopK") {
      val df = Ann.ivfTopK(spark, ivfPath, "id", "vec", probe, K, "l2", cents, nprobe)
      (df, df.collect())
    })
    checkTopK(h, "ivf_probe", idsAndDists(ivfRows), inStore)
    if (h.traced) filesRead += Layers.Plans.filesRead(ivfDf).toDouble / dirUsage(spark, ivfPath)._2
  }

  private def wave(h: Harness, w: Int, compact: Boolean): Unit = h.round {
    val from = waveStart(w)
    val wf = if (w == waves) warmWave else waveFrames(w)
    if (h.traced) h.span("quantizer.waveExtrema")(Quantizer.waveExtrema(wf, "vec"))
    val before = if (h.traced) dirUsage(spark, quantPath)._1 else 0L
    val added = h.op("append")(h.span("quantizer.quantizeAppend")(
      Quantizer.quantizeAppend(wf, "id", "vec", quantPath, dim = Dim)))
    h.check(added == waveRows, s"append: expected $waveRows rows, appended $added")
    if (h.traced) appendBytes += (dirUsage(spark, quantPath)._1 - before).toDouble
    h.op("ivf_append")(h.span("ann.appendIvf")(Ann.appendIvf(wf, "vec", ivfPath, cents)))
    ranges += ((from, from + waveRows))
    if (compact) {
      h.op("compact")(h.span("quantizer.compact")(Quantizer.compact(spark, quantPath, dim = Dim)))
      if (h.traced) compactBytes += dirUsage(spark, quantPath)._1.toDouble
    }
    val sidecar = VectorCatalog.readSidecar(s"$quantPath/_vector_meta.json").rows
    val stored = spark.read.parquet(quantPath).count()
    h.check(stored == sidecar && stored == ingested,
      s"quant store holds $stored rows, sidecar says $sidecar, ingested $ingested")
    readPair(h)
    if (h.traced) {
      quantFiles = dirUsage(spark, quantPath)._2.toDouble
      val counts = Ann.ivfCellCounts(spark, ivfPath).collect().map(_.getLong(1).toDouble)
      skew = counts.max / Stats.mean(counts.toSeq)
    }
  }

  def warmup(h: Harness): Unit = {
    wave(h, waves, compact = true)
    readPair(h)
  }

  /** A fixed number of waves on the last set-up's store; between them,
    * reads continue until the wave's share of `seconds` is used up.
    */
  def loop(h: Int => Harness, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    for (w <- 0 until waves) {
      wave(h(w), w, compact = (w + 1) % compactEvery == 0)
      while ((System.nanoTime() - t0) / 1e9 < seconds * (w + 1) / waves) readPair(h(w))
    }
  }

  def opFigures(h: Harness, out: mutable.Map[String, Double]): Unit = {
    out("quant_knn_p50_ms") = p50(h.lat("quant_knn"))
    out("append_p50_ms") = p50(h.lat("append"))
    out("ivf_append_p50_ms") = p50(h.lat("ivf_append"))
    out("ivf_probe_p50_ms") = p50(h.lat("ivf_probe"))
    out("compact_p50_ms") = p50(h.lat("compact"))
    out("queries_per_s") = perSec(h, "quant_knn", "ivf_probe")
    out("store_bytes_per_vector") = dirUsage(spark, quantPath)._1.toDouble / ingested
  }

  def layerFigures(s: Harness, h: Harness, out: mutable.Map[String, Double]): Unit = {
    out("quantizer.drift_check_ms") = p50(h.tracer.durationsMs("quantizer.waveExtrema"))
    out("ann.ivf_files_read_ratio") = p50(filesRead.toSeq)
    out("ann.ivf_cell_skew") = skew
    out("store.quant_files") = quantFiles
    out("store.append_bytes_written") = p50(appendBytes.toSeq)
    out("store.compact_bytes_rewritten") = p50(compactBytes.toSeq)
    out("store.bytes_per_user_byte") = dirUsage(spark, quantPath)._1.toDouble / (ingested * Dim * 4.0)
    val reader = Quantizer.readStore(spark, quantPath)
    out ++= Layers.codeStages(reader, probes(0), params, ingested)
  }
}

/** The crawl-to-shards curation composition over synthetic WARC
  * captures made by the pipeline gate's fixture formulas. No vector
  * layer is involved. It is not a workload of its own: the traced run of
  * `CurateHost` runs it after its loop.
  */
final class CurateProbe(ctx: Ctx) {
  private val spark = ctx.spark
  private val docs = 200L
  private val compositions = 3
  // doc ids move with the seed, so each seed drops a different mix of
  // documents at each stage
  private val firstId = 1000000L * (1L + java.lang.Math.floorMod(ctx.seed, 997L))
  // the XL pipeline row's configuration: a cap that keeps the fixture's
  // ten domains from truncating the corpus and 8 minhash bands
  private val cfg = Pipeline.CurateConfig(capPerDomain = 200000, minhashBands = 8,
    packBudget = 2048, nShards = 8, shardBuckets = 1024)

  /** Writes the captures (untimed), loads them and the robots rules into
    * memory, then runs `compositions` compositions on the traced harness
    * `h`, each into a fresh shard directory. The first is the JVM's
    * first curation, so the pipeline's code and codegen are cold in it,
    * as in a batch job's fresh driver.
    */
  def run(h: Harness, out: mutable.Map[String, Double]): Unit = {
    graft.Queries.pipeCaptures(spark.range(firstId, firstId + docs, 1, ctx.cores).select(col("id").as("doc_id")))
      .write.mode("overwrite").parquet(s"${ctx.work}/captures")
    val captures = spark.read.parquet(s"${ctx.work}/captures").persist()
    val robots = graft.Queries.pipeRobots(spark).persist()
    captures.count()
    robots.count()
    val bench = spark.range(1).select(lit(graft.Queries.PipeBench).as("text"))
    var expected: Option[(Long, Long)] = None
    for (run <- 1 to compositions) h.round {
      val dir = s"${ctx.work}/shards_$run"
      val n = h.op("curate")(h.span("pipeline.curateCrawl")(
        Pipeline.curateCrawl(captures, "doc_id", "warc", robots, "host", "txt", bench, "text", dir, cfg).count()))
      val shardRows = spark.read.parquet(dir).count()
      h.check(n > 0, s"curate run $run produced no documents")
      expected match {
        case None => expected = Some((n, shardRows))
        case Some(e) => h.check((n, shardRows) == e,
          s"curate run $run: (docs, shard rows) = ($n, $shardRows), first run had $e")
      }
    }
    captures.unpersist()
    robots.unpersist()
    out("curate_p50_s") = p50(h.lat("curate")) / 1e3
    h.runtime.get("curate").foreach { rs =>
      out("curate.jobs") = p50(rs.map(_.jobs.toDouble).toSeq)
      out("curate.driver_gap_s") = p50(rs.map(_.gapMs / 1e3).toSeq)
      CurateProbe.Stages.foreach { stage =>
        val desc = if (stage == "other") "" else s"curate: $stage"
        out(s"curate.stage.$stage.job_s") = p50(rs.map(_.jobSecsByDesc.getOrElse(desc, 0.0)).toSeq)
      }
    }
  }
}

object CurateProbe {
  /** `curate: <label>` job descriptions set by Pipeline's stage runner;
    * `other` collects jobs that carry no label.
    */
  val Stages: Seq[String] = Seq("ingest", "lang", "near_dup", "decontam", "domain_cap", "written", "other")
}
