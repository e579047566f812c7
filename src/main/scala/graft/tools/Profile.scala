package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc profiling entry: times named pieces of the bench pipeline and
  * prints formatted plans — local iteration only, never driver-run.
  * Usage: runMain graft.tools.Profile <sfDir> <what,...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val what = if (args.length > 1) args(1).split(",").toSet else Set("all")
    def on(n: String) = what.contains("all") || what.contains(n)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[profile] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    // Job-level decomposition listener: counts jobs and sums in-job wall
    // time between probe marks, so (elapsed - jobs wall) reads as
    // driver-side planning/scheduling gaps — the §1 instrument for the
    // composition rows whose cost is not in any task.
    val jobWall = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    // per-job records for the optional breakdown print:
    // (jobId, seconds, nTasks, callSite)
    val jobLog = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, Int, String)]())
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        val stage = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        val site = desc.map(d => s"$d | $stage").getOrElse(stage)
        val tasks = j.stageInfos.map(_.numTasks).sum
        jobStarts.put(j.jobId, (System.nanoTime(), site, tasks))
        jobCount.incrementAndGet(); ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val rec = jobStarts.remove(j.jobId)
        if (rec != null) {
          val d = System.nanoTime() - rec._1
          jobWall.addAndGet(d)
          jobLog.add((j.jobId, d / 1e9, rec._3, rec._2)); ()
        }
      }
    })
    val jobsVerbose = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    // codegen compiles (CodegenMetrics) and their total time (ns), read
    // per window so a per-query recompile shows up as compiles > 0
    def codegenTotals() = (
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    def timeJobs[T](name: String)(body: => T): T = {
      // drain the previous window's events first, so none of them lands here
      org.apache.spark.sql.GraftColumnShim.drainListenerBus(spark.sparkContext)
      jobWall.set(0L); jobCount.set(0); jobLog.clear(); jobStarts.clear()
      val (c0, ns0) = codegenTotals()
      val t0 = System.nanoTime()
      val r = body
      val el = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftColumnShim.drainListenerBus(spark.sparkContext)
      val (c1, ns1) = codegenTotals()
      println(f"[profile] $name: $el%.3f s, jobs=${jobCount.get}, " +
        f"jobs_wall=${jobWall.get / 1e9}%.3f s, driver_gap=${el - jobWall.get / 1e9}%.3f s, " +
        f"compiles=${c1 - c0}, compile_ms=${(ns1 - ns0) / 1e6}%.1f")
      if (jobsVerbose) {
        val snap = jobLog.toArray(Array.empty[(Int, Double, Int, String)])
        snap.sortBy(-_._2).take(25).foreach { case (id, sec, tasks, site) =>
          println(f"[profile]   job $id%4d $sec%7.3f s $tasks%5d tasks  $site")
        }
      }
      r
    }

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val benchDir = java.nio.file.Files.createTempDirectory("graft_prof").toString
    graft.Bench.syntheticVectors(li).write.mode("overwrite").parquet(s"$benchDir/vectors")
    val vecs = spark.read.parquet(s"$benchDir/vectors")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // Generic named-query modes:
    //   q:<name>     -> run Queries.queries(<name>).count() twice with job counts
    //   plan:<name>  -> write .explain(formatted) to $SPARK_GRAFT_PLAN_DIR/<name>_<tag>.txt
    // (tag from $SPARK_GRAFT_PLAN_TAG, default "plan")
    val qNames = what.filter(_.startsWith("q:")).map(_.stripPrefix("q:"))
    val planNames = what.filter(_.startsWith("plan:")).map(_.stripPrefix("plan:"))
    if (qNames.nonEmpty || planNames.nonEmpty) {
      // same one-off warm as Bench: JIT the distance + dedup kernels
      graft.ops.Knn.fullScan(vecs.limit(1000), "id", "vec", graft.Queries.probe, 5, "l2").count()
      val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
      qNames.toSeq.sorted.foreach { n =>
        for (rep <- 1 to reps)
          timeJobs(s"$n[$rep]")(graft.Queries.queries(n)(spark, sfDir).count())
      }
      val planDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r17")
      val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "plan")
      planNames.toSeq.sorted.foreach { n =>
        val df = graft.Queries.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(planDir, s"${n}_$tag.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
        println(s"[profile] plan -> $p")
      }
      spark.stop(); return
    }

    if (on("quant")) {
      // warm
      graft.ops.Knn.fullScan(vecs.limit(1000), "id", "vec", graft.Queries.probe, 5, "l2").count()
      for (rep <- 1 to 2) {
        val params = time(s"quantize_params[$rep]")(graft.ops.Quantizer.computeParams(vecs, "vec"))
        val codes = graft.ops.Quantizer.quantizeCodes(vecs, "id", "vec", params)
        time(s"quantize_codes.count[$rep]")(codes.count())
        time(s"vec_scan_only.count[$rep]")(vecs.where(col("vec").isNotNull).count())
      }
      val params = graft.ops.Quantizer.computeParams(vecs, "vec")
      graft.ops.Quantizer.quantizeCodes(vecs, "id", "vec", params).explain("formatted")
    }

    if (on("dup")) {
      for (rep <- 1 to 2) {
        val sh = docs.select(col("doc_id"), graft.functions.simhash64(
          graft.ops.Dedup.simhashTokens(col("text"))).as("sh"))
        time(s"simhash_only.count[$rep]")(sh.count())
        val pairs = graft.ops.Dedup.simhashPairs(docs, "doc_id", "text", 3)
        time(s"simhash_pairs.count[$rep]")(pairs.count())
        time(s"dup_clusters[$rep]")(
          graft.Queries.queries("dup_clusters")(spark, sfDir).count())
      }
    }

    if (on("annjoin")) {
      val probes = vecs.where(col("id") < 650)
      for (rep <- 1 to 2) {
        time(s"annJoin64[$rep]")(
          graft.ops.Ann.annJoin(probes, "id", "vec", vecs, "id", "vec", 10, "l2", 8, 64).count())
        time(s"annJoin64_bcastL[$rep]")(
          graft.ops.Ann.annJoin(broadcast(probes), "id", "vec", vecs, "id", "vec", 10, "l2", 8, 64).count())
        val r = graft.ops.Ann.withBuckets(vecs.where(col("vec").isNotNull), "vec", 8, 64, 42L)
        time(s"rightBuckets.count[$rep]")(r.count())
      }
      graft.ops.Ann.annJoin(broadcast(probes), "id", "vec", vecs, "id", "vec", 10, "l2", 8, 64)
        .explain("formatted")
      // sub-plans: join+distance only, then agg of the joined rows
      val masks = (0L until 256L).filter(m => java.lang.Long.bitCount(m) <= 1)
      val l = graft.ops.Ann.withBuckets(probes.where(col("vec").isNotNull), "vec", 8, 64, 42L)
        .select(col("id").as("_l_id"), col("vec").as("_l_v"),
          explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
      val r2 = graft.ops.Ann.withBuckets(vecs.where(col("vec").isNotNull), "vec", 8, 64, 42L)
        .select(col("bucket"), col("id").as("_r_id"), col("vec").as("_r_v"))
      val joined = broadcast(l).join(r2, "bucket")
        .select(col("_l_id"),
          round(graft.functions.vector_distance(col("_l_v"), col("_r_v"), "l2"), 6).as("_d"),
          col("_r_id"))
      for (rep <- 1 to 2) {
        time(s"join_rows.count[$rep]")(joined.count())
        time(s"join_dist.sum[$rep]")(joined.agg(sum(col("_d"))).head().getDouble(0).toLong)
        time(s"join_agg[$rep]")(joined.groupBy(col("_l_id"))
          .agg(graft.functions.knn_topk(col("_d"), col("_r_id"), 10).as("_tk")).count())
      }
      println(s"[profile] joined rows = ${joined.count()}")
      r2.groupBy("bucket").count().orderBy(col("count").desc).limit(5).collect()
        .foreach(x => println(s"[profile] top bucket ${x.getLong(0)} -> ${x.getLong(1)}"))
      // distance microbench baseline: same 64-float arrays, crossJoin form
      val probes8 = broadcast(vecs.orderBy("id").limit(64)
        .select(col("id").as("pid"), col("vec").as("pv")))
      val cj = vecs.crossJoin(probes8).where(pmod(col("id") + col("pid"), lit(28L)) === 0)
        .select(round(graft.functions.vector_distance(col("vec"), col("pv"), "l2"), 6).as("_d"))
      for (rep <- 1 to 2)
        time(s"cross_dist_1.37M.sum[$rep]")(cj.agg(sum(col("_d"))).head().getDouble(0).toLong)
    }

    if (on("jacc")) {
      for (rep <- 1 to 2) {
        time(s"ngram_jaccard_top[$rep]")(
          graft.Queries.queries("ngram_jaccard_top")(spark, sfDir).count())
        time(s"minhash_lsh_pairs[$rep]")(
          graft.Queries.queries("minhash_lsh_pairs")(spark, sfDir).count())
      }
    }
    spark.stop()
  }
}
