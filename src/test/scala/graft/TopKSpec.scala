package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftColumnShim, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** The engine-owned exact rank ([[KnnTopK]]) against the sort it
  * replaced, and the certified plan ([[CertifiedTopK]]) against the
  * exact scan: partition shapes, the shortlist cap, jobs and threads.
  */
class TopKSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  // ---------- the exact rank ----------

  private val idTypes: Seq[(DataType, Int => Any)] = Seq(
    IntegerType -> (i => i), LongType -> (i => i.toLong * 3000000000L), StringType -> (i => s"id$i"))

  private val doubles: Gen[Any] = Gen.frequency(
    4 -> Gen.choose(0, 5).map(_.toDouble), 1 -> Gen.const(-0.0), 1 -> Gen.const(0.0),
    1 -> Gen.const(Double.NaN), 1 -> Gen.const(null), 1 -> Gen.choose(-1e3, 1e3))
  private val longs: Gen[Any] = Gen.frequency(6 -> Gen.choose(-3L, 3L), 1 -> Gen.const(null))

  /** One drawn frame: id and distance types, rows, a partition count and k. */
  private val frames = for {
    (idType, idOf) <- Gen.oneOf(idTypes)
    double <- Gen.oneOf(true, false)
    n <- Gen.choose(0, 40)
    rows <- Gen.listOfN(n, Gen.zip(Gen.frequency(8 -> Gen.choose(0, 12).map(idOf), 1 -> Gen.const(null)),
      if (double) doubles else longs))
    parts <- Gen.choose(1, 8)
    k <- Gen.oneOf(0, 1, n, n + 5)
  } yield (idType, if (double) DoubleType else LongType, rows, parts, k)

  /** Rows with -0.0 read as 0.0 (one key, so either may stand for it)
    * and NaN as a name (a boxed NaN equals nothing).
    */
  private def normalized(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double if d == 0.0 => 0.0
    case d: Double if d.isNaN => "NaN"
    case v => v
  })

  test("KnnTopK returns orderBy(distance, id).limit(k)'s rows in its order, for any id and distance type") {
    val prop = Prop.forAll(frames) { case (idType, distType, rows, parts, k) =>
      val schema = StructType(Seq(StructField("id", idType), StructField("distance", distType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (i, d) => Row(i, d) }, parts), schema)
      val got = Knn.topK(df, col("distance"), col("id"), k)
      val want = df.orderBy(col("distance").asc, col("id").asc).limit(k)
      normalized(got) == normalized(want) &&
        got.queryExecution.executedPlan.exists(_.isInstanceOf[KnnTopKExec])
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(result.passed, result)
  }

  test("KnnTopK over an expression key, under a projection and under a count") {
    val df = spark.range(0, 50, 1, 4).select(col("id"), (col("id") % 7).as("d"))
    val top = Knn.topK(df, col("d") * -1, col("id"), 5)
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(6L, 13L, 20L, 27L, 34L))
    assert(top.select("id").collect().map(_.getLong(0)).toSeq == Seq(6L, 13L, 20L, 27L, 34L))
    assert(top.count() == 5)
    // a key the frame projected away: the analyzer resolves it below a projection that drops it again
    val dropped = Knn.topK(df.select("id"), col("d") * -1, col("id"), 5)
    assert(dropped.columns.toSeq == Seq("id"))
    assert(dropped.collect().map(_.getLong(0)).toSeq == Seq(6L, 13L, 20L, 27L, 34L))
  }

  // ---------- the certified plan ----------

  private val dim = 8

  /** (id, vec) over four partitions: 3 rows (fewer than k), none, 100
    * mixed rows with the 5 nearest to the probe, and 60 copies of one
    * vector far from it — more local candidates than a small cap holds,
    * none of them in the global shortlist.
    */
  private lazy val (base, codes, params) = {
    val rnd = new scala.util.Random(17)
    def vec(f: => Float) = Seq.fill(dim)(f)
    val few = (0 until 3).map(i => (1000L + i, vec(0.3f + rnd.nextFloat() * 0.2f)))
    val mixed = (0 until 5).map(i => (2000L + i, vec(rnd.nextFloat() * 0.02f))) ++
      (5 until 100).map(i => (2000L + i, vec(rnd.nextFloat() * 2f - 1f)))
    val far = (0 until 60).map(i => (3000L + i, Seq.fill(dim)(-0.9f)))
    val schema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
    val b = spark.createDataFrame(spark.sparkContext.parallelize(Seq(few, Nil, mixed, far), 4)
      .flatMap(identity).map { case (i, v) => Row(i, v) }, schema)
    val p = Quantizer.computeParams(b, "vec")
    // the codes keep the four partitions: no exchange between them and the base rows
    (b, Quantizer.quantizeCodes(b, "id", "vec", p), p)
  }
  private val probe = Array.fill(dim)(0.01f)

  private def exact(pr: Array[Float], k: Int): Seq[(Long, Double)] =
    Knn.fullScan(base, "id", "vec", pr, k, "l2").collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  private def certMetrics(df: DataFrame): Map[String, Long] =
    df.queryExecution.executedPlan.collect { case c: CertifiedTopKExec => c }.head.metrics.map {
      case (name, m) => name -> m.value
    }

  test("certified over a preloaded store and an on-disk frame: short, empty and overflowing partitions") {
    assert(codes.rdd.glom().map(_.length).collect().toSeq == Seq(3, 0, 100, 60))
    val pinned = Quantizer.preload(codes)
    try for ((source, store) <- Seq("rows" -> codes, "blocks" -> pinned)) {
      // a cap of 10 holds the shortlist but not the far partition's local candidates
      val df = Quantizer.certifiedTopK(base, "id", "vec", store, probe, params, 5, "l2", maxBroadcastCand = 10)
      assert(df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))) == exact(probe, 5), source)
      val m = certMetrics(df)
      assert(m("rowsScanned") == 163 && m("overflowed") == 0, s"$source $m")
      assert(m("candidates") > m("shortlistRows") && m("shortlistRows") >= 5 && m("shortlistRows") <= 10,
        s"$source $m")
      assert((m("blocksRead") > 0) == (source == "blocks"), s"$source $m")
      // a cap below the shortlist: an exact pass over every vector
      val over = Quantizer.certifiedTopK(base, "id", "vec", store, probe, params, 5, "l2", maxBroadcastCand = 3)
      assert(over.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))) == exact(probe, 5), source)
      assert(certMetrics(over)("overflowed") == 1, source)
      // k past the rows of the short partition and past the whole store
      for (k <- Seq(4, 200))
        assert(Quantizer.certifiedTopK(base, "id", "vec", store, probe, params, k, "l2")
          .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))) == exact(probe, k), s"$source k=$k")
      val explain = df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
      assert(explain.contains("CertifiedTopK k=5") && explain.contains("cap=10"), explain)
      val qprobe = Quantizer.quantizeProbe(probe, params)
      assert(!explain.contains(qprobe.mkString(", ")) && !explain.contains("[B@"), explain)
    } finally Quantizer.cleanup(pinned)
  }

  /** Jobs started and shuffle bytes written while `f` runs. */
  private def jobsAndShuffle(f: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val (jobs, bytes) = (new AtomicLong(), new AtomicLong())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    GraftColumnShim.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { f; GraftColumnShim.drainListenerBus(sc) } finally sc.removeSparkListener(listener)
    (jobs.get.toInt, bytes.get)
  }

  test("one certified collect runs two jobs and shuffles nothing; building the frame runs none") {
    val pinned = Quantizer.preload(codes)
    try {
      base.createOrReplaceTempView("cert_jobs")
      catalog.VectorCatalog.init("cert_jobs", "vec", VectorConfig(dim))
      catalog.VectorCatalog.putQuantParams("cert_jobs", "vec", params)
      pinned.createOrReplaceTempView("vector0_cert_jobs_vec")
      graft.sql.GraftTableFunctions.register(spark)
      val sql = s"SELECT id, distance FROM vector_scan('cert_jobs', 'vec', '${probe.mkString("[", ",", "]")}', 5)"
      for ((path, build) <- Seq[(String, () => DataFrame)](
          "certifiedTopK" -> (() => Quantizer.certifiedTopK(base, "id", "vec", pinned, probe, params, 5, "l2")),
          "vector_scan" -> (() => spark.sql(sql)))) {
        var df: DataFrame = null
        assert(jobsAndShuffle { df = build() } == ((0, 0L)), path)
        var rows: Seq[Row] = Nil
        assert(jobsAndShuffle { rows = df.collect().toSeq } == ((2, 0L)), path)
        assert(rows.map(r => (r.getLong(0), r.getDouble(1))) == exact(probe, 5), path)
      }
    } finally Quantizer.cleanup(pinned)
  }

  test("certified: two threads with two probes each get their own answers") {
    val pinned = Quantizer.preload(codes)
    val probes = (0 until 4).map(i => Array.tabulate(dim)(j => ((i + 1) * (j - 3.5f)) / 10f))
    val want = probes.map(exact(_, 5))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = Seq(Seq(0, 1), Seq(2, 3)).map(mine => Future {
        (1 to 4).flatMap(_ => mine.map(i => i -> Quantizer.certifiedTopK(base, "id", "vec", pinned, probes(i),
          params, 5, "l2").collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))))
      })
      Await.result(Future.sequence(runs), 2.minutes).flatten.foreach { case (i, got) =>
        assert(got == want(i), s"probe $i")
      }
    } finally { pool.shutdown(); Quantizer.cleanup(pinned) }
  }
}
