package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftColumnShim, Row, SparkSession}
import org.apache.spark.sql.execution.{ExtendedMode, FormattedMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** The quantized top-k operator ([[QuantTopK]]) and the preloaded code
  * blocks it scans, against the declarative form it replaced:
  * `Knn.topK` over `quantStream` — an ORDER BY (distance, id) LIMIT k
  * over the code distances — with NULL codes filtered out.
  */
class QuantTopKSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def emb: DataFrame = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  val probe: Array[Float] = Queries.probe

  private def codes(qt: QType): (DataFrame, QuantParams) = {
    val p = Quantizer.computeParams(emb, "embedding", qt)
    (Quantizer.quantizeCodes(emb, "vec_id", "embedding", p), p)
  }

  private def oracle(store: DataFrame, pr: Array[Float], p: QuantParams, k: Int, metric: String): DataFrame =
    Knn.topK(Quantizer.quantStream(store.where(col("code").isNotNull), pr, p, metric),
      col("distance"), col("id"), k)

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def nodes(df: DataFrame) = df.queryExecution.executedPlan.collect { case e: QuantTopKExec => e }

  private def metric(df: DataFrame, name: String): Long = nodes(df).map(_.metrics(name).value).sum

  test("quantScan skips NULL codes like the reference skips NULL vectors") {
    val store = Seq((1L, Array[Byte](1, 2, 3)), (2L, null), (3L, Array[Byte](3, 2, 1))).toDF("id", "code")
    val p = QuantParams(QType.I8, 1.0, 0.0, 3L)
    val pr = Array(1f, 2f, 3f)
    for (s <- Seq(store, Quantizer.preload(store))) {
      val got = rows(Quantizer.quantScan(s, pr, p, 10, "sq_l2"))
      assert(got == Seq(Row(1L, 0L), Row(3L, 8L)), got)
      assert(Quantizer.quantScan(s, pr, p, 1, "l2").collect().head == Row(1L, 0.0))
      Quantizer.cleanup(s)
    }
  }

  test("certifiedTopK(k = 1) over a store with a NULL code equals fullScan") {
    val base = Seq((1L, Seq(0.1f, 0.2f, 0.3f)), (2L, null), (3L, Seq(-0.3f, 0.5f, 0.1f))).toDF("id", "vec")
    val p = Quantizer.computeParams(base, "vec")
    val store = Quantizer.quantizeCodes(base, "id", "vec", p)
      .union(Seq((2L, null.asInstanceOf[Array[Byte]])).toDF("id", "code"))
    val pr = Array(0.0f, 0.3f, 0.2f)
    for (k <- Seq(1, 2, 3)) {
      val got = rows(Quantizer.certifiedTopK(base, "id", "vec", store, pr, p, k, "l2"))
      assert(got.nonEmpty)
      assert(got == rows(Knn.fullScan(base, "id", "vec", pr, k, "l2")), s"k=$k")
    }
  }

  test("every metric x I8/U8, over rows and over blocks: the declarative form's rows, order and types") {
    for (qt <- Seq(QType.I8, QType.U8)) {
      val (store, p) = codes(qt)
      val pinned = Quantizer.preload(store)
      for (m <- Metric.all.map(_.name); s <- Seq(store, pinned)) {
        val got = Quantizer.quantScan(s, probe, p, 10, m)
        val want = oracle(store, probe, p, 10, m)
        assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)), s"$qt $m")
        assert(rows(got) == rows(want), s"$qt $m")
        assert(nodes(got).size == 1, got.queryExecution.executedPlan)
      }
      Quantizer.cleanup(pinned)
    }
  }

  test("k = 0, k past the row count, k = Int.MaxValue") {
    val (store, p) = codes(QType.Auto)
    val withNull = store.union(Seq((-1L, null.asInstanceOf[Array[Byte]])).toDF("id", "code"))
    val n = store.count()
    for (s <- Seq(withNull, Quantizer.preload(withNull))) {
      assert(Quantizer.quantScan(s, probe, p, 0, "sq_l2").collect().isEmpty)
      assert(Quantizer.quantScan(s, probe, p, -3, "sq_l2").count() == 0)
      val all = rows(Quantizer.quantScan(s, probe, p, n.toInt + 50, "sq_l2"))
      assert(all.size == n)
      assert(all == rows(oracle(withNull, probe, p, n.toInt + 50, "sq_l2")))
      // a slot array of Int.MaxValue would not fit the heap: the slots grow with the rows
      assert(rows(Quantizer.quantScan(s, probe, p, Int.MaxValue, "sq_l2")) == all)
      Quantizer.cleanup(s)
    }
  }

  test("ties are broken by id, across partitions and blocks") {
    // every code one of three, ids shuffled over four partitions
    val ids = scala.util.Random.shuffle((1L to 400L).toList)
    val store = ids.map(id => (id, Array.fill[Byte](8)((id % 3).toByte))).toDF("id", "code").repartition(4)
    val p = QuantParams(QType.U8, 1.0, 0.0, 400L)
    val pr = Array.fill(8)(1f)
    val want = rows(oracle(store, pr, p, 150, "l1"))
    assert(want.map(_.getLong(0)).take(3) == Seq(1L, 4L, 7L))
    val pinned = Quantizer.preload(store, 8 * 16)
    for (s <- Seq(store, pinned)) assert(rows(Quantizer.quantScan(s, pr, p, 150, "l1")) == want)
    Quantizer.cleanup(pinned)
  }

  test("count, joinBack and an int id over the operator") {
    val (store, p) = codes(QType.Auto)
    val pinned = Quantizer.preload(store)
    assert(Quantizer.quantScan(pinned, probe, p, 10, "sq_l2").count() == 10)
    val knn = Quantizer.quantScan(pinned, probe, p, 5, "sq_l2")
    val joined = Knn.joinBack(knn, emb, "id", "vec_id").select("vec_id", "distance").orderBy("distance", "vec_id")
    assert(rows(joined) == rows(knn))
    val intIds = store.select(col("id").cast("int").as("id"), col("code"))
    val pinnedInt = Quantizer.preload(intIds)
    val got = Quantizer.quantScan(pinnedInt, probe, p, 5, "sq_l2")
    assert(got.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(rows(got).map(_.getInt(0).toLong) == rows(knn).map(_.getLong(0)))
    Quantizer.cleanup(pinned)
    Quantizer.cleanup(pinnedInt)
  }

  test("two threads with two probes each get their own answers") {
    val (store, p) = codes(QType.Auto)
    val pinned = Quantizer.preload(store)
    val probes = (0 until 4).map(i => probe.map(_ * (1 + i)).reverse)
    val want = probes.map(pr => rows(oracle(store, pr, p, 10, "sq_l2")))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = Seq(Seq(0, 1), Seq(2, 3)).map(mine => Future {
        (1 to 5).flatMap(_ => mine.map(i => i -> rows(Quantizer.quantScan(pinned, probes(i), p, 10, "sq_l2"))))
      })
      Await.result(Future.sequence(runs), 2.minutes).flatten.foreach { case (i, got) =>
        assert(got == want(i), s"probe $i")
      }
    } finally pool.shutdown()
    Quantizer.cleanup(pinned)
  }

  test("a store larger than one block: many blocks, one job, the same answer; cleanup releases them") {
    val sc = spark.sparkContext
    val (store, p) = codes(QType.Auto)
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val base = persisted
    val dim = store.select(length(col("code"))).head().getInt(0)
    val pinned = Quantizer.preload(store, 7 * dim)
    val added = persisted -- base
    assert(added.size == 1)
    val n = store.count()
    assert(pinned.count() == n)
    assert(Quantizer.memoryBytes(pinned) == Quantizer.memoryBytes(store))
    val parts = store.rdd.getNumPartitions
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val df = Quantizer.quantScan(pinned, probe, p, 10, "sq_l2")
      GraftColumnShim.drainListenerBus(sc)
      jobs.set(0)
      val got = rows(df)
      GraftColumnShim.drainListenerBus(sc)
      assert(jobs.get() == 1)
      assert(got == rows(oracle(store, probe, p, 10, "sq_l2")))
      assert(metric(df, "blocksRead") >= math.max(parts, n / 7))
    } finally sc.removeSparkListener(listener)
    Quantizer.cleanup(pinned)
    assert((persisted & added).isEmpty)

    // the store-dropping cleanup releases a preloaded copy too, through a view
    val dir = java.nio.file.Files.createTempDirectory("qtk").toString + "/q"
    Quantizer.quantize(emb, "vec_id", "embedding", dir)
    val before = persisted
    Quantizer.preload(Quantizer.readStore(spark, dir)).createOrReplaceTempView("qtk_pinned")
    val viewed = persisted -- before
    assert(viewed.size == 1)
    Quantizer.cleanup(spark, dir, preloaded = Some(spark.table("qtk_pinned")))
    assert((persisted & viewed).isEmpty)
  }

  test("metrics and explain: rows scanned, blocks read, output rows; no probe bytes") {
    val (store, p) = codes(QType.Auto)
    val withNull = store.union(Seq((-1L, null.asInstanceOf[Array[Byte]])).toDF("id", "code"))
    val n = withNull.count()
    val qprobe = Quantizer.quantizeProbe(probe, p)
    val pinned = Quantizer.preload(withNull)
    val dir = java.nio.file.Files.createTempDirectory("qtkx").toString + "/q"
    withNull.write.parquet(dir)
    for ((s, blocks) <- Seq(pinned -> true, spark.read.parquet(dir) -> false)) {
      val df = Quantizer.quantScan(s, probe, p, 10, "sq_l2")
      df.collect()
      assert(metric(df, "rowsScanned") == n)
      assert(metric(df, "numOutputRows") == 10)
      assert((metric(df, "blocksRead") > 0) == blocks)
      for (mode <- Seq(ExtendedMode, FormattedMode)) {
        val text = df.queryExecution.explainString(mode)
        assert(text.contains("k=10") && text.contains("metric=SQUARED_L2"), text)
        assert(text.contains("blocks=") == blocks, text)
        assert(!text.contains(qprobe.take(6).mkString(", ")) && !text.contains("[B@"), text)
      }
    }
    Quantizer.cleanup(pinned)
  }

  test("the strategy comes with GraftExtensions and with the first scan of a plain session") {
    val fresh = spark.newSession()
    fresh.experimental.extraStrategies = Nil
    val (store, p) = codes(QType.Auto)
    val df = Quantizer.quantScan(fresh.createDataFrame(store.rdd, store.schema), probe, p, 3, "sq_l2")
    assert(fresh.experimental.extraStrategies == Seq(QuantTopK.Strategy))
    assert(df.count() == 3)
    Quantizer.quantScan(store, probe, p, 3, "sq_l2")
    assert(fresh.experimental.extraStrategies == Seq(QuantTopK.Strategy))
    val injected = scala.collection.mutable.ArrayBuffer.empty[Any]
    new graft.sql.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectPlannerStrategy(b: SparkSession => org.apache.spark.sql.execution.SparkStrategy): Unit =
        injected += b(spark)
    })
    assert(injected == Seq(QuantTopK.Strategy))
  }
}
