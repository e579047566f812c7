package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.VectorCatalog
import graft.expressions.IdSetMember
import graft.ops._

/** The prepared exact serving plans ([[Prepared]]): bound copies of one
  * template under two threads, each way a template goes stale, the cache
  * bound and a key seen once. Every answer is checked against
  * `orderBy(distance, id).limit(k)` over [[Knn.distanceStream]]. A key's
  * first call plans alone and its second keeps the template, so a spec
  * calls twice before it looks for a bound copy.
  */
class PreparedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private val dim = 8

  /** `n` rows `(id, vec)` from `seed` over four parquet files at a fresh
    * path (or `path`), every 13th vector NULL.
    */
  private def store(seed: Int, n: Int, path: String = ""): (DataFrame, String) = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      Row(i.toLong + 1000L * seed, if (i % 13 == 5) null else Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(FloatType, containsNull = false))))
    val dir = if (path.nonEmpty) path else java.nio.file.Files.createTempDirectory("graft_prep").toString + "/store"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).write.mode("overwrite").parquet(dir)
    (spark.read.parquet(dir), dir)
  }

  private def probe(i: Int): Array[Float] = Array.tabulate(dim)(j => math.sin(i * 7.0 + j).toFloat)

  private def ids(df: DataFrame): Seq[(Long, Double)] = df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  private def want(df: DataFrame, pr: Array[Float], k: Int, metric: String = "l2"): Seq[(Long, Double)] =
    ids(Knn.distanceStream(df, "id", "vec", pr, metric).orderBy(col("distance"), col("id")).limit(k))

  private def prepared(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[PreparedScan])

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }

  private def json(pr: Array[Float]): String = pr.mkString("[", ",", "]")

  private def scanSql(fn: String, view: String, pr: Array[Float], k: Int): DataFrame =
    spark.sql(s"SELECT id, distance FROM $fn('$view', 'vec', '${json(pr)}', $k)")

  /** Registers `df` as `view`, with a quantized shadow view when `quantize`. */
  private def register(view: String, df: DataFrame, quantize: Boolean): Option[QuantParams] = {
    df.createOrReplaceTempView(view)
    VectorCatalog.init(view, "vec", VectorConfig(dim))
    graft.sql.GraftTableFunctions.register(spark)
    if (!quantize) { VectorCatalog.dropQuantParams(view, "vec"); None }
    else {
      val p = Quantizer.computeParams(df, "vec")
      Quantizer.quantizeCodes(df, "id", "vec", p).createOrReplaceTempView(s"vector0_${view}_vec")
      VectorCatalog.putQuantParams(view, "vec", p)
      Some(p)
    }
  }

  /** Runs `call(i)` for probes 0..3 from two threads, four rounds each. */
  private def twoThreads(call: Int => Seq[(Long, Double)]): Seq[(Int, Seq[(Long, Double)])] = {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(Seq(Seq(0, 1), Seq(2, 3)).map(mine => Future {
      (1 to 4).flatMap(_ => mine.map(i => i -> call(i)))
    })), 2.minutes).flatten
    finally pool.shutdown()
  }

  test("Knn.fullScan and vector_scan: two threads with two probes on one template each get their own answers") {
    val (base, _) = store(1, 300)
    register("prep_conc", base, quantize = true)
    val wants = (0 until 4).map(i => want(base, probe(i), 7))
    // the second call of each keeps its plan as the template; the threads bind it
    val first = Knn.fullScan(base, "id", "vec", probe(9), 7, "l2")
    assert(ids(first) == want(base, probe(9), 7) && !prepared(first))
    val second = Knn.fullScan(base, "id", "vec", probe(8), 7, "l2")
    assert(ids(second) == want(base, probe(8), 7))
    for (i <- Seq(9, 8)) assert(ids(scanSql("vector_scan", "prep_conc", probe(i), 7)) == want(base, probe(i), 7))
    val again = Knn.fullScan(base, "id", "vec", probe(0), 7, "l2")
    assert(prepared(again) && prepared(scanSql("vector_scan", "prep_conc", probe(0), 7)))
    // a bound copy reads through the template's own scan
    assert(scans(second).size == 1 && scans(second).head.eq(scans(again).head))
    // and publishes its shortlist into a slot of its own, the one its rank's filter reads
    def slots(df: DataFrame) = {
      val plan = df.queryExecution.executedPlan
      val filters = plan.collect { case f: FilterExec => f.condition.collect { case m: IdSetMember => m.right } }.flatten
      val slot = plan.collect { case c: CertifiedTopKExec => c.slot }.head
      assert(filters.nonEmpty && filters.forall(_ eq slot))
      slot
    }
    assert(slots(scanSql("vector_scan", "prep_conc", probe(0), 7)) != slots(scanSql("vector_scan", "prep_conc", probe(1), 7)))
    for ((path, call) <- Seq[(String, Int => Seq[(Long, Double)])](
        "Knn.fullScan" -> (i => ids(Knn.fullScan(base, "id", "vec", probe(i), 7, "l2"))),
        "vector_scan" -> (i => ids(scanSql("vector_scan", "prep_conc", probe(i), 7)))))
      twoThreads(call).foreach { case (i, got) => assert(got == wants(i), s"$path probe $i") }
  }

  test("a replaced base view: vector_scan and vector_full_scan return the new rows") {
    val (a, _) = store(2, 120)
    val (b, _) = store(3, 140)
    for (fn <- Seq("vector_scan", "vector_full_scan")) {
      register("prep_view", a, quantize = fn == "vector_scan")
      for (i <- 1 to 2) assert(ids(scanSql(fn, "prep_view", probe(i), 5)) == want(a, probe(i), 5), fn)
      assert(prepared(scanSql(fn, "prep_view", probe(3), 5)), fn)
      register("prep_view", b, quantize = fn == "vector_scan")
      assert(ids(scanSql(fn, "prep_view", probe(1), 5)) == want(b, probe(1), 5), fn)
    }
  }

  test("VectorCatalog.putQuantParams with new params: vector_scan plans for the new params") {
    val (base, _) = store(4, 150)
    val p = register("prep_params", base, quantize = true).get
    def template(df: DataFrame) = df.queryExecution.analyzed.collectFirst { case s: PreparedScan => s.template }.get
    def codes(df: DataFrame) = df.queryExecution.executedPlan.collect { case c: CertifiedTopKExec => c }.head.probeCodes
    for (i <- Seq(4, 5)) assert(ids(scanSql("vector_scan", "prep_params", probe(i), 6)) == want(base, probe(i), 6))
    val before = scanSql("vector_scan", "prep_params", probe(3), 6)
    assert(ids(before) == want(base, probe(3), 6))
    assert(template(scanSql("vector_scan", "prep_params", probe(4), 6)) eq template(before))
    // the same codes under params that differ only in their row count: the
    // codes stay valid, and the scan must still plan for the params it is given
    val p2 = p.copy(rows = p.rows + 1)
    VectorCatalog.putQuantParams("prep_params", "vec", p2)
    for (i <- Seq(3, 4, 5)) {
      val after = scanSql("vector_scan", "prep_params", probe(i), 6)
      assert(ids(after) == want(base, probe(i), 6))
      assert(!prepared(after) || !(template(after) eq template(before)))
      assert(codes(after).sameElements(Quantizer.quantizeProbe(probe(i), p2)))
    }
    assert(prepared(scanSql("vector_scan", "prep_params", probe(3), 6)))
  }

  test("Quantizer.cleanup, re-preload and a replaced shadow view: the new store is read, no template keeps the old blocks") {
    val (base, _) = store(5, 200)
    val p = register("prep_pre", base, quantize = true).get
    val codes = Quantizer.quantizeCodes(base, "id", "vec", p)
    val pinned = Quantizer.preload(codes)
    pinned.createOrReplaceTempView("vector0_prep_pre_vec")
    for (i <- Seq(5, 6)) assert(ids(scanSql("vector_scan", "prep_pre", probe(i), 5)) == want(base, probe(i), 5))
    val blocks = CodeBlocks.of(pinned.queryExecution.analyzed).head
    def holding(rows: CodeBlockRows) = Prepared.plans.exists(_.exists {
      case c: CodeBlocksExec => c.rows eq rows
      case _ => false
    })
    assert(holding(blocks))
    Quantizer.cleanup(pinned)
    assert(!holding(blocks))
    // the new store holds the codes of the lower ids only: the certified
    // answer is the exact rank of those rows
    val lower = base.where(col("id") < 5100)
    val repinned = Quantizer.preload(codes.where(col("id") < 5100))
    try {
      repinned.createOrReplaceTempView("vector0_prep_pre_vec")
      assert(ids(scanSql("vector_scan", "prep_pre", probe(5), 5)) == want(lower, probe(5), 5))
      assert(want(lower, probe(5), 5) != want(base, probe(5), 5))
    } finally Quantizer.cleanup(repinned)
  }

  test("a fresh spark.read.parquet of a rewritten path: Knn.fullScan returns the new rows") {
    val (a, path) = store(6, 100)
    val old = want(a, probe(6), 5)
    assert(ids(Knn.fullScan(a, "id", "vec", probe(6), 5, "l2")) == old)
    assert(ids(Knn.fullScan(a, "id", "vec", probe(8), 5, "l2")) == want(a, probe(8), 5))
    assert(prepared(Knn.fullScan(a, "id", "vec", probe(7), 5, "l2")))
    val (b, _) = store(7, 90, path)
    assert(ids(Knn.fullScan(b, "id", "vec", probe(6), 5, "l2")) == want(b, probe(6), 5))
    assert(want(b, probe(6), 5) != old)
  }

  test("more keys than the cache holds: every answer exact, the cache at its bound") {
    val (base, _) = store(8, 80)
    for (k <- 1 to Prepared.MaxTemplates + 4; metric <- Seq("l2", "cosine"); i <- Seq(k, k + 1)) {
      assert(ids(Knn.fullScan(base, "id", "vec", probe(i), k, metric)) == want(base, probe(i), k, metric),
        s"k=$k $metric")
      assert(Prepared.plans.size <= Prepared.MaxTemplates)
    }
    assert(Prepared.plans.size == Prepared.MaxTemplates)
    // the oldest keys were dropped and are built again, still exact
    for (i <- 0 to 2) assert(ids(Knn.fullScan(base, "id", "vec", probe(i), 1, "l2")) == want(base, probe(i), 1))
    assert(Prepared.plans.size == Prepared.MaxTemplates)
  }

  test("a key seen once keeps no template: a fresh read per query plans alone and evicts nothing") {
    val (base, path) = store(9, 90)
    for (i <- 0 to 2) assert(ids(Knn.fullScan(base, "id", "vec", probe(i), 4, "l2")) == want(base, probe(i), 4))
    val before = Prepared.plans
    for (i <- 1 to Prepared.MaxTemplates + 4) {
      val fresh = spark.read.parquet(path)
      val df = Knn.fullScan(fresh, "id", "vec", probe(i), 4, "l2")
      assert(!prepared(df) && ids(df) == want(base, probe(i), 4), s"read $i")
    }
    assert(Prepared.plans.size == before.size && Prepared.plans.forall(p => before.exists(_ eq p)))
    assert(prepared(Knn.fullScan(base, "id", "vec", probe(3), 4, "l2")))
  }

  test("a changed SQL conf setting: the next plan follows it, and the old template serves the old setting") {
    val (base, _) = store(10, 110)
    val key = "spark.sql.parquet.enableVectorizedReader"
    def call(i: Int): DataFrame = {
      val df = Knn.fullScan(base, "id", "vec", probe(i), 6, "l2")
      assert(ids(df) == want(base, probe(i), 6), s"probe $i ${spark.conf.get(key)}")
      df
    }
    def columnar(df: DataFrame): Boolean = { val s = scans(df); assert(s.size == 1); s.head.supportsColumnar }
    call(0); call(1)
    assert(prepared(call(2)) && columnar(call(2)))
    val was = spark.conf.getAll.get(key)
    spark.conf.set(key, "false")
    try {
      val row = call(2)
      assert(!prepared(row) && !columnar(row))
      call(3)
      assert(prepared(call(4)) && !columnar(call(4)))
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(prepared(call(5)) && columnar(call(5)))
  }
}
