package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // fail LOUDLY if any generated code does not compile — without this
      // a Janino parse error silently falls back to interpreted eval and
      // only shows up as a performance cliff (caught one in round 9: a
      // generated line starting with '|' was eaten by a stripMargin pass)
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

class SparkOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"
  def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
  val probe: Array[Float] = Queries.probe

  // ---------- K1: exact k-NN vs an in-driver brute-force oracle ----------

  test("fullScan k-NN matches in-driver brute force on every metric") {
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    for (metric <- Seq("l2", "sq_l2", "cosine", "dot", "l1")) {
      val oracle = rows
        .map { case (id, v) => (id, kernels.Distances.onDouble(Metric.parse(metric))(v, probe)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSeq
      val got = Knn.fullScan(emb, "vec_id", "embedding", probe, 10, metric)
        .collect().map(_.getLong(0)).toSeq
      assert(got == oracle, s"metric $metric")
    }
  }

  test("k=0 returns empty; null vectors are skipped (sqlite-vector.c:1796,2093)") {
    assert(Knn.fullScan(emb, "vec_id", "embedding", probe, 0, "l2").count() == 0)
    val withNulls = emb.withColumn("embedding",
      when(col("vec_id") % 2 === 0, col("embedding")))
    val n = Knn.distanceStream(withNulls, "vec_id", "embedding", probe, "l2").count()
    assert(n == emb.count() / 2)
  }

  // ---------- every vector access path drops NULL values before its rank ----------

  /** One row per path of the shared rank and rerank: the path's input
    * carries a NULL vector, blob, code or signature on an id its
    * candidate set or shortlist holds (taken from the same path over the
    * un-nulled input), and no output row may carry a NULL distance.
    */
  private val nullRankCases: Seq[(String, () => DataFrame)] = {
    val dim = Queries.Dim
    def e = emb.where(col("embedding").isNotNull).select("vec_id", "embedding")
    def first(df: DataFrame): Long = df.head().getLong(0)
    def nullOn(df: DataFrame, c: String, id: Long, idCol: String = "vec_id"): DataFrame =
      df.withColumn(c, when(col(idCol) =!= id, col(c)))
    def dir(name: String): String = java.nio.file.Files.createTempDirectory(name).toString + "/store"
    def cents = Ann.ivfCentroids(e, "vec_id", "embedding", 16)
    def cb = Pq.codebook(e, "vec_id", "embedding", dim, 8, 16)
    def pqCodes = Pq.encode(e, "vec_id", "embedding", cb).withColumnRenamed("id", "vec_id")
    def sigs = BinaryQuant.signatures(e, "vec_id", "embedding", dim)
    def bucketed = Ann.withBuckets(e, "embedding", 8, dim)
    /** (store dir, centroids) of an IVF store whose nearest probed row has a NULL vector. */
    def ivfStore: (String, Seq[Seq[Float]]) = {
      val (d, cs) = (dir("null_ivf"), cents)
      val assigned = Ann.withClusters(e, "embedding", cs)
      val top = first(Knn.fullScan(assigned.where(col("cluster").isin(Ann.probeClusters(probe, cs, 4): _*)),
        "vec_id", "embedding", probe, 1, "l2"))
      nullOn(assigned, "embedding", top).write.partitionBy("cluster").parquet(d)
      (d, cs)
    }
    /** An IVF-PQ store; with `nullCode`, its nearest probed id gets a
      * second row, with NULL codes, in the same cell.
      */
    def ivfPqStore(nullCode: Boolean): (String, Seq[Seq[Float]], Pq.PqCodebook) = {
      val (d, cs, b) = (dir("null_ivfpq"), cents, cb)
      Pq.writeIvfPq(e, "vec_id", "embedding", d, cs, b)
      if (nullCode) {
        val inCells = Ann.withClusters(e, "embedding", cs)
          .where(col("cluster").isin(Ann.probeClusters(probe, cs, 4): _*))
        val top = first(Pq.adcTopK(Pq.encode(inCells, "vec_id", "embedding", b), "id", "codes", probe, 1, b))
        inCells.where(col("vec_id") === top)
          .select(col("vec_id").as("id"), lit(null).cast("array<tinyint>").as("codes"), col("cluster"))
          .write.mode("append").partitionBy("cluster").parquet(s"$d/codes")
      }
      (d, cs, b)
    }
    def quantized: (DataFrame, QuantParams) = {
      val p = Quantizer.computeParams(e, "embedding")
      (Quantizer.quantizeCodes(e, "vec_id", "embedding", p), p)
    }
    Seq(
      "Knn.fullScan" -> { () =>
        val top = first(Knn.fullScan(e, "vec_id", "embedding", probe, 1, "l2"))
        Knn.fullScan(nullOn(e, "embedding", top), "vec_id", "embedding", probe, 10, "l2")
      },
      "Knn.fullScanPacked" -> { () =>
        val packed = e.select(col("vec_id"), graft.functions.pack_vector(col("embedding"), "f32").as("blob"))
        val top = first(Knn.fullScanPacked(packed, "vec_id", "blob", probe, 1, "l2", "f32"))
        Knn.fullScanPacked(nullOn(packed, "blob", top), "vec_id", "blob", probe, 10, "l2", "f32")
      },
      "Knn.distanceStream" -> { () =>
        val top = first(Knn.fullScan(e, "vec_id", "embedding", probe, 1, "l2"))
        Knn.distanceStream(nullOn(e, "embedding", top), "vec_id", "embedding", probe, "l2")
      },
      "Knn.mrlTopK" -> { () =>
        val top = first(Knn.mrlTopK(e, "vec_id", "embedding", probe, 16, 50, 1, "l2"))
        val dup = nullOn(e.where(col("vec_id") === top), "embedding", top)
        Knn.mrlTopK(e.union(dup), "vec_id", "embedding", probe, 16, 50, 10, "l2")
      },
      "Knn.mrlTopKStored" -> { () =>
        val store = e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("prefix"), col("embedding"))
        val top = first(Knn.mrlTopKStored(store, "vec_id", "prefix", "embedding", probe, 16, 50, 1, "l2"))
        val dup = nullOn(store.where(col("vec_id") === top), "embedding", top)
        Knn.mrlTopKStored(store.union(dup), "vec_id", "prefix", "embedding", probe, 16, 50, 10, "l2")
      },
      "BinaryQuant.hammingTopK" -> { () =>
        val top = first(BinaryQuant.hammingTopK(sigs, "vec_id", probe, dim, 1))
        BinaryQuant.hammingTopK(nullOn(sigs, "sig", top), "vec_id", probe, dim, 10)
      },
      "BinaryQuant.rerankTopK" -> { () =>
        val top = first(BinaryQuant.hammingTopK(sigs, "vec_id", probe, dim, 1))
        BinaryQuant.rerankTopK(sigs, nullOn(e, "embedding", top), "vec_id", "embedding",
          probe, dim, 50, 10, "l2")
      },
      "Ann.lshTopK" -> { () =>
        val top = first(Ann.lshTopK(bucketed, "vec_id", "embedding", probe, 1, "l2"))
        Ann.lshTopK(nullOn(bucketed, "embedding", top), "vec_id", "embedding", probe, 10, "l2")
      },
      "Ann.lshTopKPruned" -> { () =>
        val d = dir("null_lsh")
        val top = first(Ann.lshTopK(bucketed, "vec_id", "embedding", probe, 1, "l2"))
        nullOn(bucketed, "embedding", top).write.partitionBy("bucket").parquet(d)
        Ann.lshTopKPruned(spark, d, "vec_id", "embedding", probe, 10, "l2")
      },
      "Ann.ivfTopK" -> { () =>
        val (d, cs) = ivfStore
        Ann.ivfTopK(spark, d, "vec_id", "embedding", probe, 10, "l2", cs, 4)
      },
      "Ann.ivfTopKFiltered" -> { () =>
        val (d, cs) = ivfStore
        Ann.ivfTopKFiltered(spark, d, "vec_id", "embedding", probe, 10, "l2", cs, 4, col("vec_id") >= 0)
      },
      "Pq.adcTopK" -> { () =>
        val (codes, b) = (pqCodes, cb)
        val top = first(Pq.adcTopK(codes, "vec_id", "codes", probe, 1, b))
        Pq.adcTopK(nullOn(codes, "codes", top), "vec_id", "codes", probe, 10, b)
      },
      "Pq.rerankTopK" -> { () =>
        val (codes, b) = (pqCodes, cb)
        val top = first(Pq.adcTopK(codes, "vec_id", "codes", probe, 1, b))
        Pq.rerankTopK(codes, nullOn(e, "embedding", top), "vec_id", "codes", "embedding", probe, 10, b)
      },
      "Pq.ivfPqTopK" -> { () =>
        val (d, cs, b) = ivfPqStore(nullCode = true)
        Pq.ivfPqTopK(spark, d, probe, 10, cs, b, 4)
      },
      "Pq.ivfPqTopKFiltered" -> { () =>
        val (d, cs, b) = ivfPqStore(nullCode = true)
        Pq.ivfPqTopKFiltered(spark, d, probe, 10, cs, b, 4, col("id") >= 0)
      },
      "Pq.ivfPqRerank" -> { () =>
        val (d, cs, b) = ivfPqStore(nullCode = false)
        val top = first(Pq.ivfPqTopK(spark, d, probe, 1, cs, b, 4))
        Pq.ivfPqRerank(spark, d, nullOn(e, "embedding", top), "vec_id", "embedding", probe, 10, cs, b, 4)
      },
      "Quantizer.certifiedTopK" -> { () =>
        val (codes, p) = quantized
        val Seq(top, second) = Knn.fullScan(e, "vec_id", "embedding", probe, 2, "l2")
          .collect().map(_.getLong(0)).toSeq
        val nullCode = nullOn(codes.where(col("id") === second), "code", second, "id")
        Quantizer.certifiedTopK(nullOn(e, "embedding", top), "vec_id", "embedding",
          codes.union(nullCode), probe, p, 10, "l2")
      },
      "Quantizer.quantStream" -> { () =>
        val (codes, p) = quantized
        val top = first(Knn.topK(Quantizer.quantStream(codes, probe, p, "sq_l2"), col("distance"), col("id"), 1))
        Quantizer.quantStream(nullOn(codes, "code", top, "id"), probe, p, "sq_l2")
      })
  }

  for ((path, frame) <- nullRankCases)
    test(s"rank drops NULL values: $path") {
      val rows = frame().collect()
      assert(rows.nonEmpty)
      assert(!rows.exists(_.isNullAt(1)), rows.take(3).mkString(", "))
    }

  test("flagship plan shapes: KnnTopK, broadcast join-back, column pruning") {
    val knn = Knn.fullScan(emb, "vec_id", "embedding", probe, 10, "l2")
    val plan = knn.queryExecution.executedPlan.toString
    // top-k must fuse to per-partition bounded heaps + driver merge, never a global sort
    assert(plan.contains("KnnTopK"), plan)
    // join-back of k rows must broadcast, never shuffle the base table
    val joined = Knn.joinBack(knn, spark.read.parquet(s"$sfDir/documents.parquet"), "vec_id", "doc_id")
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // column pruning reaches the scan: only (vec_id, embedding) read
    val scan = knn.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.requiredSchema.fieldNames.toSet == Set("vec_id", "embedding"))
    // every rerank broadcasts its shortlist into the full-precision frame:
    // a BroadcastHashJoin built from the shortlist's top-k, a
    // KnnTopK, and no SortMergeJoin anywhere
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def isTopK(n: SparkPlan) = n.isInstanceOf[KnnTopKExec]
    val e = emb.where(col("embedding").isNotNull)
    val cb = Pq.codebook(e, "vec_id", "embedding", Queries.Dim, 8, 16)
    val cents = Ann.ivfCentroids(e, "vec_id", "embedding", 16)
    val ivfPqDir = java.nio.file.Files.createTempDirectory("shape_ivfpq").toString + "/store"
    Pq.writeIvfPq(e, "vec_id", "embedding", ivfPqDir, cents, cb)
    val reranks = Seq(
      "Knn.mrlTopK" -> Knn.mrlTopK(emb, "vec_id", "embedding", probe, 16, 50, 10, "l2"),
      "BinaryQuant.rerankTopK" -> BinaryQuant.rerankTopK(
        BinaryQuant.signatures(emb, "vec_id", "embedding", Queries.Dim), emb, "vec_id", "embedding",
        probe, Queries.Dim, 50, 10, "l2"),
      "Pq.rerankTopK" -> Pq.rerankTopK(
        Pq.encode(e, "vec_id", "embedding", cb).withColumnRenamed("id", "vec_id"), e,
        "vec_id", "codes", "embedding", probe, 10, cb),
      "Pq.ivfPqRerank" -> Pq.ivfPqRerank(spark, ivfPqDir, e, "vec_id", "embedding", probe, 10,
        cents, cb, 4))
    for ((path, df) <- reranks) {
      val p = df.queryExecution.executedPlan
      val joins = H.collect(p) { case j: BroadcastHashJoinExec => j }
      assert(joins.size == 1, s"$path:\n$p")
      val build = if (joins.head.buildSide == BuildLeft) joins.head.left else joins.head.right
      assert(build.find(isTopK).isDefined, s"$path: the broadcast side is not the shortlist\n$p")
      assert(H.find(p)(isTopK).isDefined, s"$path:\n$p")
      assert(H.find(p)(_.isInstanceOf[SortMergeJoinExec]).isEmpty, s"$path:\n$p")
    }
  }

  // ---------- Q1/K2: quantization pipeline + recall harness ----------

  test("quantize pipeline: params, store, sidecar round-trip, recall > 0.95") {
    val dir = java.nio.file.Files.createTempDirectory("quant").toString
    val (p, n) = Quantizer.quantize(emb, "vec_id", "embedding", s"$dir/q", QType.Auto, "embeddings", "embedding")
    assert(n == emb.count())
    assert(p.qType == QType.I8) // data has negatives -> AUTO resolves INT8
    assert(p.offset == 0.0)

    // sidecar round-trip (the _sqliteai_vector equivalent)
    val back = catalog.VectorCatalog.readSidecar(s"$dir/q/_vector_meta.json")
    assert(back == p)

    val quantDF = spark.read.parquet(s"$dir/q")
    assert(quantDF.schema.fieldNames.toSeq == Seq("id", "code"))
    // record width: dim bytes of codes (+8-byte id column) — the 4x
    // compression the reference documents (8 + dim bytes/vector)
    assert(quantDF.select(length(col("code"))).head().getInt(0) == Queries.Dim)

    // QUANTIZATION.md recall harness: > 0.95 at k=10
    val exact = Knn.fullScan(emb, "vec_id", "embedding", probe, 10, "sq_l2")
      .withColumnRenamed("vec_id", "id")
    val approx = Quantizer.quantScan(quantDF, probe, p, 10, "sq_l2")
    assert(Quantizer.recall(exact, approx) > 0.95)

    // Q2: preload memory accounting = sum(8 + len(code))
    assert(Quantizer.memoryBytes(quantDF) == n * (8 + Queries.Dim))

    // max_memory bounds records per output file like the reference's batch
    // sizing (max_vectors = max_memory / (8 + dim), sqlite-vector.c:1160-1186)
    val dir2 = java.nio.file.Files.createTempDirectory("quantb").toString
    Quantizer.quantize(emb, "vec_id", "embedding", s"$dir2/q", QType.Auto,
      maxMemory = (8L + Queries.Dim) * 10, dim = Queries.Dim)
    val batched = spark.read.parquet(s"$dir2/q")
    assert(batched.inputFiles.length > quantDF.inputFiles.length)
    assert(batched.count() == n)
  }

  test("cleanup drops the store dir, sidecar and catalog params; re-quantize rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("qclean").toString
    val store = s"$dir/q"
    Quantizer.quantize(emb, "vec_id", "embedding", store, QType.Auto, "t_clean", "embedding")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(store)))
    assert(catalog.VectorCatalog.quantParams("t_clean", "embedding").isDefined)

    val preloaded = Quantizer.preload(spark.read.parquet(store))
    Quantizer.cleanup(spark, store, "t_clean", "embedding", Some(preloaded))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store)), "store dir not deleted")
    assert(catalog.VectorCatalog.quantParams("t_clean", "embedding").isEmpty, "params not dropped")

    // idempotent on an already-clean store; then the lifecycle restarts
    Quantizer.cleanup(spark, store, "t_clean", "embedding")
    val (p2, n2) = Quantizer.quantize(emb, "vec_id", "embedding", store, QType.Auto, "t_clean", "embedding")
    assert(n2 == emb.count())
    assert(catalog.VectorCatalog.readSidecar(s"$store/_vector_meta.json") == p2)
  }

  test("quantized codes match driver-side Quantize.codes exactly") {
    val p = Quantizer.computeParams(emb, "embedding")
    val fromSpark = Quantizer.quantizeCodes(emb, "vec_id", "embedding", p)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    emb.select("vec_id", "embedding").collect().foreach { r =>
      val expected = kernels.Quantize.codes(r.getSeq[Float](1).toArray, p)
      assert(fromSpark(r.getLong(0)).sameElements(expected))
    }
  }

  test("array_min_max: one-pass extrema, NaN lanes skipped, all-NaN -> null") {
    val d = Seq(
      (1L, Array(3f, Float.NaN, -2f, 0.5f)),
      (2L, Array(Float.NaN, Float.NaN)),
      (3L, Array(7f))
    ).toDF("id", "v")
    val r = d.select(col("id"), graft.functions.array_min_max(col("v")).as("mm"))
      .collect().map(x => x.getLong(0) -> Option(x.getStruct(1)).map(s => (s.getDouble(0), s.getDouble(1)))).toMap
    assert(r(1L).contains((-2.0, 3.0)))
    assert(r(2L).isEmpty)
    assert(r(3L).contains((7.0, 7.0)))
    // params through the new path agree with the brute-force definition
    val p = Quantizer.computeParams(emb, "embedding")
    val flat = emb.collect().flatMap(_.getSeq[Float](1)).filter(x => !x.isNaN).map(_.toDouble)
    val expect = kernels.Quantize.params(QType.Auto, flat.min, flat.max, flat.min < 0, emb.count())
    assert(p == expect)
  }

  test("NULL vector lanes fail fast instead of silently reading as 0.0") {
    // getFloat on a null lane yields 0.0 with no error — these kernels must
    // reject sparse arrays, not quietly corrupt signatures/extrema/cells
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val sparse = new GenericArrayData(Array[Any](1.0f, null, 2.0f))
    val planes = kernels.Sketches.planes(4, 3, 42L)
    assertThrows[IllegalArgumentException](kernels.Sketches.hyperplaneSig(sparse, planes))
    assertThrows[IllegalArgumentException](
      kernels.Sketches.nearestCentroid(sparse, Array(Array(0f, 0f, 0f))))
    // expression path (exercises the codegen'd check through a real plan)
    val d = Seq(Tuple1(Seq[java.lang.Float](1.0f, null, 2.0f))).toDF("v")
    val ex = intercept[Exception](
      d.select(graft.functions.array_min_max(col("v").cast("array<float>"))).collect())
    def hasNullLaneMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("NULL lane")) || hasNullLaneMsg(t.getCause))
    assert(hasNullLaneMsg(ex))
  }

  test("IVF probes reject an empty centroid set") {
    // ivfCentroids returns no centroids for an empty or all-NULL corpus
    val noCells = Seq.empty[Seq[Float]]
    val probe = Array(1.0f, 0.0f)
    val e1 = intercept[IllegalArgumentException](
      Ann.ivfTopK(spark, "/nonexistent/ivf", "id", "v", probe, 3, "l2", noCells, 1))
    assert(e1.getMessage.contains("at least one centroid required"))
    val cb = Pq.PqCodebook(1, 2, Array(Array(Array(0f, 0f))))
    val e2 = intercept[IllegalArgumentException](
      Pq.ivfPqTopK(spark, "/nonexistent/ivfpq", probe, 3, noCells, cb, 1))
    assert(e2.getMessage.contains("at least one centroid required"))
  }

  // ---------- catalog ----------

  test("vector_init validation: idempotent re-init must match (sqlite-vector.c:2518-2540)") {
    catalog.VectorCatalog.clear()
    val cfg = VectorConfig(64, ElemType.F32, Metric.Cosine)
    catalog.VectorCatalog.init("t", "c", cfg, Some(emb.withColumnRenamed("embedding", "c")))
    catalog.VectorCatalog.init("t", "c", cfg) // same -> ok
    assertThrows[IllegalArgumentException](
      catalog.VectorCatalog.init("t", "c", cfg.copy(dim = 32)))
    assertThrows[IllegalArgumentException](
      catalog.VectorCatalog.init("t", "x", cfg, Some(emb))) // column missing
    assertThrows[IllegalArgumentException](
      catalog.VectorCatalog.init("t", "lang", cfg,
        Some(spark.read.parquet(s"$sfDir/documents.parquet")))) // wrong type
  }

  // ---------- dedup family on synthetic near-dups ----------

  val nearDupDocs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again", "a"),
    (2L, "the quick brown fox jumps over the lazy dog again and again!", "a"), // near-dup of 1
    (3L, "completely different content about spark vector engines at scale", "a"),
    (4L, "the quick brown fox jumps over the lazy dog again and again", "b")  // exact dup of 1
  ).toDF("id", "text", "src")

  test("minhash LSH finds the near-duplicate pair") {
    val pairs = Dedup.minhashLsh(nearDupDocs, "id", "text", 64, 16, 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L))) // exact dup -> jaccard 1.0
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash LSH routes identical content through the groupBy and caps band buckets") {
    // 200 clones of doc 1's text: with ids 1 and 4 that's a 202-member
    // identical-content cluster — the common degenerate case in web dedup
    val cluster = (0 until 200)
      .map(i => (1000L + i, "the quick brown fox jumps over the lazy dog again and again", "c"))
    val corpus = nearDupDocs.unionByName(cluster.toDF("id", "text", "src"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val run = Dedup.minhashLshRun(corpus, "id", "text", 64, 16, 3, 0.7, maxBucket = 8)
    // the run materializes its per-content projection eagerly (raw-row
    // checkpoint); track the block ids IT added — other suites share this
    // SparkContext, so global counts are not stable to assert on
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "expected the run to materialize its per-content projection")
    // the heavy plan must stay cartesian-free
    val plan = run.pairs.queryExecution.executedPlan.toString
    Seq("CartesianProduct", "BroadcastNestedLoopJoin")
      .foreach(b => assert(!plan.contains(b), s"LSH pairs plan contains $b"))
    // identical content collapses to ONE distinct-content row before
    // banding, so no band bucket exceeds 8 despite the 202-doc cluster
    assert(run.overCapBuckets() == 0L)
    val pairs = run.pairs.collect()
    // every within-cluster pair emitted at jaccard exactly 1.0
    assert(pairs.count(_.getDouble(2) == 1.0) == 202 * 201 / 2)
    // the genuinely-near (not identical) pair still arrives via LSH
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    // cross-group expansion: the near-dup doc 2 pairs with EVERY cluster
    // member at the representatives' jaccard
    val doc2cluster = pairs.filter(r => r.getLong(0) == 2L && r.getLong(1) >= 1000L)
    assert(doc2cluster.length == 200)
    assert(doc2cluster.map(_.getDouble(2)).distinct.length == 1)
    run.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet & added).isEmpty,
      "materialized projection not released")
  }

  test("minhash LSH bucket cap bites on near-identical DISTINCT contents and is reported") {
    // 12 distinct near-identical docs: most signature bands agree, so band
    // buckets of size 12 form; cap 5 must drop them from the join input
    val docs = (0 until 12).map(i =>
      (i.toLong, s"a very long common boilerplate sentence shared by every document copy $i", "x"))
      .toDF("id", "text", "src")
    val run = Dedup.minhashLshRun(docs, "id", "text", 64, 16, 3, 0.5, maxBucket = 5)
    assert(run.overCapBuckets() > 0L, "expected at least one over-cap bucket")
    run.pairs.collect() // the capped pipeline still executes end to end
    run.release()
  }

  test("minhash LSH barrier strategies produce identical pairs; stage/checkpoint release storage") {
    def pairSet(run: Dedup.LshRun): Set[(Long, Long, Double)] = {
      val s = run.pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      run.release()
      s
    }
    val local = pairSet(Dedup.minhashLshRun(nearDupDocs, "id", "text", 64, 16, 3, 0.7))

    val stageDir = java.nio.file.Files.createTempDirectory("lsh_stage").resolve("proj").toString
    val staged = Dedup.minhashLshRun(nearDupDocs, "id", "text", 64, 16, 3, 0.7,
      barrier = Dedup.Barrier.Stage(stageDir))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(stageDir)),
      "stage barrier must materialize the projection to its path")
    assert(pairSet(staged) == local)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stageDir)),
      "release() must delete the staged projection")

    val ckptDir = java.nio.file.Files.createTempDirectory("lsh_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    val reliable = Dedup.minhashLshRun(nearDupDocs, "id", "text", 64, 16, 3, 0.7,
      barrier = Dedup.Barrier.ReliableCheckpoint)
    assert(pairSet(reliable) == local)
  }

  test("simhash pairs finds near-dups within hamming radius") {
    val pairs = Dedup.simhashPairs(nearDupDocs, "id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical text -> hamming 0
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("PQ: encode matches driver argmin; ADC equals lut-sum; store round-trips") {
    import graft.ops.Pq
    val e = emb.where(col("embedding").isNotNull)
    val cb = Pq.codebook(e, "vec_id", "embedding", Queries.Dim, 8, 16)
    assert(cb.dsub == 8 && cb.nCodes == 16)

    // encode vs a driver-side argmin over the same codebook
    val sample = e.select("vec_id", "embedding").limit(50).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val enc = Pq.encode(e.where(col("vec_id").isin(sample.keys.toSeq: _*)), "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    for ((id, v) <- sample) {
      val want = Array.tabulate(cb.m) { s =>
        val subv = v.slice(s * cb.dsub, (s + 1) * cb.dsub)
        val ds = graft.kernels.Sketches.centroidDistances(subv, cb.cents(s))
        ds.zipWithIndex.minBy { case (d, i) => (d, i) }._2
      }
      assert(enc(id).sameElements(want), s"codes mismatch for $id")
    }

    // ADC distance = sum of lut entries for the row's codes
    val probe = Queries.probe
    val lut = cb.lut(probe)
    val adc = Pq.adcTopK(Pq.encode(e, "vec_id", "embedding", cb), "id", "codes", probe, 5, cb)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, d) <- adc; codes <- enc.get(id))
      assert(math.abs(d - codes.zipWithIndex.map { case (c, s) => lut(s)(c) }.sum) < 1e-12)

    // store round-trip: tinyint codes + sidecar codebook reproduce the ranking
    val path = java.nio.file.Files.createTempDirectory("pq_test").toString + "/store"
    Pq.write(e, "vec_id", "embedding", path, cb)
    val (codesDf, cb2) = Pq.read(spark, path)
    assert(cb2.m == cb.m && cb2.dsub == cb.dsub && cb2.nCodes == cb.nCodes)
    assert(cb2.cents.flatMap(_.toSeq).flatMap(_.toSeq).toSeq ==
      cb.cents.flatMap(_.toSeq).flatMap(_.toSeq).toSeq)
    val viaStore = Pq.adcTopK(codesDf, "id", "codes", probe, 5, cb2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = Pq.adcTopK(Pq.encode(e, "vec_id", "embedding", cb), "id", "codes", probe, 5, cb)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaStore == direct)

    // the ADC scan must read ONLY (id, codes) — never the vector column
    val plan = Pq.adcTopK(codesDf, "id", "codes", probe, 5, cb2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("embedding"),
      s"ADC scan should not touch vectors:\n$plan")
  }

  test("connected components: star contraction matches driver union-find on adversarial shapes") {
    // path (worst case for per-hop propagation), two blobs, a cycle, and
    // duplicate/reversed edges; singletons (9xx) never appear in edges
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), // path
      (20L, 21L), (21L, 22L), (22L, 20L),                                   // cycle
      (30L, 31L), (31L, 30L), (30L, 31L),                                   // dup + reversed
      (40L, 41L)
    ).toDF("a", "b")
    // maxDriverEdges = 0 forces the distributed star contraction
    val got = Dedup.connectedComponents(edges, "a", "b", maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L),(5L,6L),(6L,7L),(7L,8L),(20L,21L),(21L,22L),(22L,20L),(30L,31L),(40L,41L))
      .foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got == want)
    assert(got.values.toSet == Set(1L, 20L, 30L, 40L)) // min-id roots
    // the small-graph driver path labels identically
    val gotDriver = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDriver == want)
  }

  test("connected components: 10k-node path converges (log-round contraction, not per-hop)") {
    val n = 10000
    val edges = spark.range(1, n).select(col("id").as("a"), (col("id") + 1).as("b"))
    val cc = Dedup.connectedComponents(edges, "a", "b", maxDriverEdges = 0L)
    assert(cc.where(col("component") =!= 1L).count() == 0)
    assert(cc.count() == n)
  }

  test("line dedup: later occurrences cut, first kept, text rebuilt in place") {
    val docsDf = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),      // beta repeats -> cut
      (3L, "alpha\nbeta"),      // both repeat -> becomes empty
      (4L, "epsilon")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docsDf, "doc_id", "text")
      .select("doc_id", "text", "n_lines", "n_removed")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("alpha\nbeta\ngamma", 3L, 0L)))
    assert(out(2L) == (("delta", 2L, 1L)))
    assert(out(3L) == (("", 2L, 2L)))
    assert(out(4L) == (("epsilon", 1L, 0L)))
    // hashed default key and raw-line key agree on collision-free input
    val raw = Dedup.lineDedup(docsDf, "doc_id", "text", lineKey = identity)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(raw == out.view.mapValues(_._1).toMap)
  }

  test("sentence dedup: keep-first at sentence grain, boilerplate cut corpus-wide") {
    val docsDf = Seq(
      (1L, "Unique one. Subscribe now! Cookies required."),
      (2L, "Unique two. Subscribe now! Cookies required."),   // boilerplate repeats
      (3L, "Subscribe now! Fresh content here."),             // repeat at pos 0
      (4L, "No terminator at all")
    ).toDF("doc_id", "text")
    val out = Dedup.sentenceDedup(docsDf, "doc_id", "text")
      .select("doc_id", "text", "n_sentences", "n_removed")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("Unique one. Subscribe now! Cookies required.", 3L, 0L)))
    assert(out(2L) == (("Unique two.", 3L, 2L)))
    assert(out(3L) == (("Fresh content here.", 2L, 1L)))
    assert(out(4L) == (("No terminator at all", 1L, 0L)))
  }

  test("sentence dedup invariants hold on randomized corpora (seeded)") {
    val pool = Vector("Alpha one.", "Beta two!", "Gamma three?", "Delta four.",
      "Epsilon five!", "Zeta six.", "Eta seven?", "Theta eight.")
    for (seed <- Seq(3, 17, 256)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 40).map { i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(4))(pool(rnd.nextInt(pool.size))).mkString(" "))
      }
      // expected keep-first computed independently in plain Scala
      val exploded = rows.flatMap { case (id, t) =>
        t.split(" (?=[A-Z])").toSeq.zipWithIndex.map { case (s, p) => (id, p, s) }
      }
      val keeper = exploded.groupBy(_._3).map { case (s, occ) =>
        s -> occ.map(o => (o._1, o._2)).min
      }
      val expect = rows.map { case (id, t) =>
        val sents = t.split(" (?=[A-Z])").toSeq
        val kept = sents.zipWithIndex.collect {
          case (s, p) if keeper(s) == ((id, p)) => s }
        id -> ((kept.mkString(" "), sents.size.toLong, (sents.size - kept.size).toLong))
      }.toMap
      val got = Dedup.sentenceDedup(rows.toDF("doc_id", "text").repartition(5),
        "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == expect, s"seed=$seed")
    }
  }

  test("exact dedup groups identical keys") {
    val d = Dedup.exact(nearDupDocs, "id", Seq("text")).collect()
    val dupGroup = d.find(_.getLong(1) == 1L).get // keep_id = 1
    assert(dupGroup.getLong(2) == 2L) // ids 1 and 4
  }

  test("ngram jaccard: LSH-prefiltered exact pairs; blocked variant agrees") {
    val j = Dedup.ngramJaccard(nearDupDocs, "id", "text", 3, 0.7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) > 0.9)
    assert(j((1L, 4L)) == 1.0)
    assert(!j.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // the blocked-exact form computes the same values where blocks allow
    val jb = Dedup.ngramJaccardBlocked(nearDupDocs, "id", "text", "src", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jb((1L, 2L)) == j((1L, 2L)))
    assert(jb((1L, 3L)) < 0.3)
  }

  test("cosine near-dup finds identical vectors") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 1f)), (2L, Array(1f, 0f, 0f, 1f)),
      (3L, Array(-1f, 2f, 0f, -1f))).toDF("id", "v")
    val pairs = Dedup.cosineNearDup(vecs, "id", "v", lit(1), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  // ---------- ANN ----------

  test("LSH ANN returns a subset ranked like brute force on surviving buckets") {
    val res = Ann.lshTopK(emb, "vec_id", "embedding", probe, 10, "cosine", 8)
    val got = res.collect().map(_.getLong(0))
    assert(got.length == 10)
    val exact = Knn.fullScan(emb, "vec_id", "embedding", probe, 50, "cosine")
      .collect().map(_.getLong(0)).toSet
    // multi-probe over hamming-1 buckets should keep decent recall vs top-50
    assert(got.count(exact.contains) >= 5)
  }

  test("bucketed ANN store prunes partitions: only probed buckets are read") {
    val dir = java.nio.file.Files.createTempDirectory("annstore").toString + "/store"
    Ann.writeBucketed(emb.where(col("embedding").isNotNull), "embedding", dir, 8, 64)
    val totalBuckets = new java.io.File(dir).listFiles().count(_.getName.startsWith("bucket="))
    val q = Ann.lshTopKPruned(spark, dir, "vec_id", "embedding", probe, 10, "cosine", 8)
    val got = q.collect().map(_.getLong(0)).toSeq
    assert(got.length == 10)
    // partition-pruning evidence: the scan lists at most nBits+1 = 9 of the
    // bucket directories (InputMetrics-grade, not just plan text)
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles <= 9 && numFiles < totalBuckets, s"numFiles=$numFiles totalBuckets=$totalBuckets")
    // pruned result == brute force restricted to the same buckets
    val bucketed = Ann.withBuckets(emb.where(col("embedding").isNotNull), "embedding", 8, 64)
    val expected = Knn.topK(
      bucketed.where(col("bucket").isin(Ann.probeBuckets(probe, 8): _*))
        .select(col("vec_id"),
          graft.functions.vector_distance(col("embedding"), graft.functions.vectorLit(probe), "cosine").as("distance")),
      col("distance"), col("vec_id"), 10).collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }

  test("IVF store prunes to nprobe cells and ranks exactly within them") {
    val dir = java.nio.file.Files.createTempDirectory("ivfstore").toString + "/store"
    val e = emb.where(col("embedding").isNotNull)
    val cents = Ann.ivfCentroids(e, "vec_id", "embedding", 16)
    assert(cents.length == 16 && cents.forall(_.length == 64))
    Ann.writeIvf(e, "embedding", dir, cents)
    val q = Ann.ivfTopK(spark, dir, "vec_id", "embedding", probe, 10, "l2", cents, 4)
    val got = q.collect().map(_.getLong(0)).toSeq
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.metrics("numFiles").value <= 4)
    // equals brute force restricted to the probed cells
    val probed = Ann.probeClusters(probe, cents, 4)
    val assigned = Ann.withClusters(e, "embedding", cents).where(col("cluster").isin(probed: _*))
    val expected = Knn.fullScan(assigned, "vec_id", "embedding", probe, 10, "l2")
      .collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }

  test("ivfTopKFiltered: metadata predicate pushes into the probed cells' pruned scan") {
    val dir = java.nio.file.Files.createTempDirectory("ivffilt").toString + "/store"
    val e = emb.where(col("embedding").isNotNull)
      .withColumn("parity", when(col("vec_id") % 2 === 0, "even").otherwise("odd"))
    val cents = Ann.ivfCentroids(e, "vec_id", "embedding", 16)
    Ann.writeIvf(e, "embedding", dir, cents)
    val q = Ann.ivfTopKFiltered(spark, dir, "vec_id", "embedding",
      probe, 10, "l2", cents, 4, col("parity") === "even")
    val got = q.collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got.forall(_ % 2 == 0))
    // BOTH levers in one scan: directory pruning + the pushed predicate
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.metadata("PushedFilters").contains("parity"), scan.metadata("PushedFilters"))
    // exact within the probed cells: equals brute force over (probed ∩ even)
    val probed = Ann.probeClusters(probe, cents, 4)
    val expected = Knn.fullScan(
        Ann.withClusters(e, "embedding", cents)
          .where(col("cluster").isin(probed: _*) && col("parity") === "even"),
        "vec_id", "embedding", probe, 10, "l2")
      .collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }

  test("appendIvf: appended store content equals a rebuild under the frozen centroids") {
    val e = emb.where(col("embedding").isNotNull)
    val initial = e.where(col("vec_id") % 3 =!= 0)
    val cents = Ann.ivfCentroids(initial, "vec_id", "embedding", 8)
    val dirA = java.nio.file.Files.createTempDirectory("ivfapp").toString + "/a"
    Ann.writeIvf(initial, "embedding", dirA, cents)
    Ann.appendIvf(e.where(col("vec_id") % 3 === 0), "embedding", dirA, cents)
    val dirB = java.nio.file.Files.createTempDirectory("ivfapp").toString + "/b"
    Ann.writeIvf(e, "embedding", dirB, cents)
    def content(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(content(dirA) == content(dirB) && content(dirA).nonEmpty)
    // the health probe sees every cell, counts match the assignment
    val counts = Ann.ivfCellCounts(spark, dirA)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == e.count())
  }

  test("ivfPqTopKFiltered: metadata rides with the codes; equals direct ADC on (probed ∩ predicate)") {
    import graft.ops.Pq
    val e = emb.where(col("embedding").isNotNull)
      .withColumn("parity", when(col("vec_id") % 2 === 0, "even").otherwise("odd"))
    val cents = Ann.ivfCentroids(e, "vec_id", "embedding", 16)
    val cb = Pq.codebook(e, "vec_id", "embedding", Queries.Dim, 8, 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqfilt").toString + "/store"
    Pq.writeIvfPq(e, "vec_id", "embedding", dir, cents, cb, extraCols = Seq("parity"))
    val q = Pq.ivfPqTopKFiltered(spark, dir, probe, 10, cents, cb, 4,
      col("parity") === "even")
    val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty && got.forall(_._1 % 2 == 0))
    val probed = Ann.probeClusters(probe, cents, 4)
    val lut = cb.lut(probe)
    val expected = Ann.withClusters(e, "embedding", cents)
      .where(col("cluster").isin(probed: _*) && col("parity") === "even")
      .select(col("vec_id"), Pq.adcColumn(
        Pq.encodeColumn(col("embedding"), cb), lut).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
  }

  test("Pq.adcColumn: NULL codes give NULL over an in-memory frame and over parquet") {
    import graft.ops.Pq
    val lut = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    val mem = Seq((1L, Option(Seq[Byte](0, 1))), (2L, Option.empty[Seq[Byte]])).toDF("id", "codes")
    val dir = java.nio.file.Files.createTempDirectory("adcnull").toString + "/codes"
    mem.write.parquet(dir)
    for ((source, df) <- Seq("memory" -> mem, "parquet" -> spark.read.parquet(dir));
         codes <- Seq(col("codes"), col("codes").cast("array<int>"))) {
      val got = df.select(col("id"), Pq.adcColumn(codes, lut), element_at(codes, 1))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)).map(_.toString))).toSeq
      assert(got == Seq((1L, Some(5.0), Some("0")), (2L, None, None)), s"$source $codes")
    }
  }

  test("appendIvfPq: wave encoded from the store's own sidecars, content equals a rebuild") {
    import graft.ops.Pq
    val e = emb.where(col("embedding").isNotNull)
    val initial = e.where(col("vec_id") % 3 =!= 0)
    val cents = Ann.ivfCentroids(initial, "vec_id", "embedding", 8)
    val cb = Pq.codebook(initial, "vec_id", "embedding", Queries.Dim, 8, 16)
    val dirA = java.nio.file.Files.createTempDirectory("ivfpqapp").toString + "/a"
    Pq.writeIvfPq(initial, "vec_id", "embedding", dirA, cents, cb)
    Pq.appendIvfPq(e.where(col("vec_id") % 3 === 0), "vec_id", "embedding", dirA)
    val dirB = java.nio.file.Files.createTempDirectory("ivfpqapp").toString + "/b"
    Pq.writeIvfPq(e, "vec_id", "embedding", dirB, cents, cb)
    def content(p: String) = spark.read.parquet(s"$p/codes")
      .select(col("id"), col("codes").cast("array<int>"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getInt(2))).toSet
    assert(content(dirA) == content(dirB) && content(dirA).nonEmpty)
  }

  test("IVF-PQ store prunes cells, scans codes only, matches direct ADC on probed cells") {
    import graft.ops.Pq
    val dir = java.nio.file.Files.createTempDirectory("ivfpqstore").toString + "/store"
    val e = emb.where(col("embedding").isNotNull)
    val cents = Ann.ivfCentroids(e, "vec_id", "embedding", 16)
    val cb = Pq.codebook(e, "vec_id", "embedding", Queries.Dim, 8, 16)
    Pq.writeIvfPq(e, "vec_id", "embedding", dir, cents, cb)

    val (codes, cents2, cb2) = Pq.readIvfPq(spark, dir)
    assert(cents2 == cents, "centroid sidecar must round-trip exactly")
    assert(cb2.cents.flatMap(_.toSeq).flatMap(_.toSeq).toSeq ==
      cb.cents.flatMap(_.toSeq).flatMap(_.toSeq).toSeq)

    val q = Pq.ivfPqTopK(spark, dir, probe, 10, cents2, cb2, 4)
    val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // partition pruning: only the nprobe cell directories are listed
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.metrics("numFiles").value <= 4)
    // and the scan never touches a vector column — codes only
    assert(!q.queryExecution.executedPlan.toString.contains("embedding"))

    // equals direct ADC restricted to the probed cells
    val probed = Ann.probeClusters(probe, cents, 4)
    val inCells = Ann.withClusters(e, "embedding", cents).where(col("cluster").isin(probed: _*))
    val expected = Pq.adcTopK(Pq.encode(inCells, "vec_id", "embedding", cb),
      "id", "codes", probe, 10, cb).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)

    // with the shortlist covering the probed cells entirely, rerank must
    // equal exact search restricted to those cells (deterministic — the
    // recall NUMBER itself is data-dependent and gated by ivfpq_recall)
    val rr = Pq.ivfPqRerank(spark, dir, e, "vec_id", "embedding", probe, 10, cents, cb, 4,
      overscan = 1000)
      .collect().map(_.getLong(0)).toSeq
    val cellExact = Knn.fullScan(inCells, "vec_id", "embedding", probe, 10, "l2")
      .collect().map(_.getLong(0)).toSeq
    assert(rr == cellExact)
  }

  test("IVF hash-ordered centroids give non-degenerate cells") {
    val e = emb.where(col("embedding").isNotNull)
    val cents = Ann.ivfCentroids(e, "vec_id", "embedding", 16)
    assert(cents.length == 16)
    val counts = Ann.withClusters(e, "embedding", cents)
      .groupBy("cluster").count().collect().map(_.getLong(1))
    val total = counts.sum
    // the first-c-by-id sample risked near-coincident centroids (hot
    // cells); the hash-ordered sample must spread assignment
    assert(counts.max < total / 2, s"degenerate cells: ${counts.mkString(",")}")
    assert(counts.length >= 8, s"only ${counts.length} non-empty cells")
  }

  test("distance annotation composes with Structured Streaming (stateless projection)") {
    // K3/K4 are pull-based lazy scans in the reference (SURVEY §2.6); as
    // stateless projections they run unchanged under readStream/writeStream.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Float])]
    val sdf = ms.toDF().toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    val annotated = Knn.distanceStream(sdf, "id", "vec", Array(1f, 0f), "sq_l2")
    val q = annotated.writeStream.format("memory")
      .queryName("dist_stream_test").outputMode("append").start()
    try {
      ms.addData((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM dist_stream_test").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows == Map(1L -> 0.0, 2L -> 2.0))
    } finally q.stop()
  }

  test("knn_topk: map-side partial aggregation in batch; composes with streaming state") {
    import graft.functions.knn_topk
    // batch plan: the heap must fold map-side (partial_knn_topk below the
    // exchange), so only groups×k rows cross the shuffle
    val plan = Queries.queries("knn_batch_probes")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_knn_topk"), s"no map-side combine:\n$plan")
    // centroid assignment is a pure map over the scan: no exchange at all
    val assign = Queries.queries("centroid_assign")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!assign.contains("Exchange"), s"assignment must not shuffle:\n$assign")

    // streaming: the same aggregate maintains per-group top-k as incremental
    // state (serialize/deserialize through the state store between batches)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Double, Long)]
    val agg = ms.toDF().toDF("g", "d", "id")
      .groupBy("g").agg(knn_topk(col("d"), col("id"), 2).as("tk"))
    val q = agg.writeStream.format("memory")
      .queryName("topk_stream_test").outputMode("complete").start()
    try {
      ms.addData((1L, 5.0, 50L), (1L, 3.0, 30L))
      q.processAllAvailable()
      ms.addData((1L, 1.0, 10L)) // displaces 5.0 across the batch boundary
      q.processAllAvailable()
      val tk = spark.sql("SELECT tk FROM topk_stream_test WHERE g = 1").collect()
        .head.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getDouble(0), r.getLong(1)))
      assert(tk == Seq((1.0, 10L), (3.0, 30L)))
    } finally q.stop()
  }

  test("event-time windowed agg finalizes under the watermark; streaming dedup bounds state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Streams
    val H = 3600L * 1000000000L // one hour in nanos

    // tumbling windows in append mode: a window emits only once the
    // watermark (max event time - lateness) passes its end
    val ms = MemoryStream[(Long, String, Double)]
    val base = ms.toDF().toDF("ts", "event_type", "value")
    val agged = Streams.windowedAgg(Streams.withEventTime(base, col("ts"), "10 minutes"),
      col("event_time"), "event_type", "1 hour", "value")
    val q = agged.writeStream.format("memory").queryName("win_agg").outputMode("append").start()
    try {
      ms.addData((1 * H + 5000, "a", 1.25), (1 * H + 7000, "a", 2.5), (2 * H, "b", 5.0))
      q.processAllAvailable()
      assert(spark.table("win_agg").count() == 0) // watermark 1:50 < 2:00, nothing final
      ms.addData((4 * H, "c", 9.0)) // watermark -> 3:50, finalizing [1h,2h) and [2h,3h)
      q.processAllAvailable()
      val rows = spark.table("win_agg").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set((3600L, "a", 2L, 3.75), (7200L, "b", 1L, 5.0)))
    } finally q.stop()

    // custom-state first-seen dedup: duplicates suppressed within a batch,
    // across micro-batches, AND across query RESTARTS (state store +
    // checkpoint recovery) — each run uses AvailableNow so it drains and
    // terminates deterministically
    val ms2 = MemoryStream[(Long, String)]
    val dd = Streams.dedupFirstSeen[(Long, String), Long](ms2.toDS(), _._1)
    val ckpt = java.nio.file.Files.createTempDirectory("dedup_ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("dedup_out").toString
    def drainOnce(): Set[(Long, String)] = {
      // parquet sink + checkpoint: recoverable across restarts (the memory
      // sink is not), AvailableNow drains and terminates deterministically
      val q2 = dd.writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q2.awaitTermination()
      spark.read.parquet(outDir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    ms2.addData((1L, "first"), (1L, "dup-same-batch"), (2L, "x"))
    assert(drainOnce() == Set((1L, "first"), (2L, "x")))
    ms2.addData((1L, "dup-across-restart"), (3L, "y"))
    // key 1 must be suppressed by state RECOVERED from the checkpoint
    assert(drainOnce() == Set((1L, "first"), (2L, "x"), (3L, "y")))

    // batch degenerate case: state starts empty -> plain first-per-key
    val bd = Streams.dedupFirstSeen[(Long, String), Long](
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDS(), _._1).collect()
    assert(bd.map(_._1).sorted.toSeq == Seq(1L, 2L))

    // declarative watermarked dedup plans Spark's streaming dedup operator
    val ms3 = MemoryStream[(Long, Long, String)]
    val dw = Streams.dedupWithinWatermark(
      ms3.toDF().toDF("event_id", "ts", "event_type"), Seq("event_id"), col("ts"), "10 minutes")
    val q3 = dw.writeStream.format("memory").queryName("dedup_wm").outputMode("append").start()
    try {
      ms3.addData((7L, 1 * H, "a"), (7L, 1 * H + 1000, "a"), (8L, 1 * H, "b"))
      q3.processAllAvailable()
      assert(spark.table("dedup_wm").select("event_id").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(7L, 8L))
    } finally q3.stop()
  }

  test("stream-stream join matches within the time bound only; state is bounded by design") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val imps = MemoryStream[(Long, Long)] // (ad_id, epoch seconds)
    val clks = MemoryStream[(Long, Long)]
    val l = imps.toDF().toDF("ad_id", "sec")
      .withColumn("imp_time", col("sec").cast("timestamp")).drop("sec")
    val r = clks.toDF().toDF("ad_id", "sec")
      .withColumn("clk_time", col("sec").cast("timestamp")).drop("sec")
    val joined = graft.streaming.Streams.streamStreamJoin(
      l, r, "ad_id", "imp_time", "clk_time", "10 seconds", "1 minute")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      imps.addData((1L, 100L), (2L, 100L), (3L, 100L))
      clks.addData((1L, 130L), (2L, 200L), (4L, 130L)) // 2 is out of bound, 4 unmatched
      q.processAllAvailable()
      val rows = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000)).toSet
      assert(rows == Set((1L, 100L, 130L)), rows.mkString(","))
      // a second wave still joins (same key reused within its own bound)
      imps.addData((1L, 300L))
      clks.addData((1L, 320L))
      q.processAllAvailable()
      assert(spark.table("ss_join").count() == 2)
    } finally q.stop()
  }

  test("stream-static enrich joins each micro-batch against the dim snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "tier")
    val ms = MemoryStream[(Long, Long)]
    val enriched = graft.streaming.Streams.enrich(
      ms.toDF().toDF("order_id", "cust_id"), dim, "cust_id")
    val q = enriched.writeStream.format("memory")
      .queryName("enrich_test").outputMode("append").start()
    try {
      ms.addData((10L, 1L), (11L, 2L), (12L, 99L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT order_id, tier FROM enrich_test").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      // left_outer: unmatched keys survive with a null tier
      assert(rows == Map(10L -> Some("gold"), 11L -> Some("silver"), 12L -> None))
    } finally q.stop()
  }

  test("idempotentBatchWrite: a replayed batch overwrites its own partition, touches no other") {
    import graft.streaming.Streams
    val path = java.nio.file.Files.createTempDirectory("eoswrite").toString + "/sink"
    Streams.idempotentBatchWrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L, path)
    // batch 1's FIRST attempt dies after flushing one row...
    Streams.idempotentBatchWrite(Seq((3L, "partial")).toDF("id", "v"), 1L, path)
    // ...and the replay delivers the full batch under the same id: the
    // dynamic-partition overwrite must REPLACE the partial files, not append
    Streams.idempotentBatchWrite(Seq((3L, "c"), (4L, "d")).toDF("id", "v"), 1L, path)
    val got = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1)))
    // batch 0's directory was never rewritten by batch 1's attempts
    assert(new java.io.File(path + "/batch_id=0").exists())
  }

  test("incremental dedup accretes across streaming micro-batches (foreachBatch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    // the accreting seen-corpus: starts empty, grows by each batch's
    // accepted rows — the production shape persists fingerprints instead
    var seen = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val fresh = graft.ops.Dedup.dedupAgainst(batch, seen, "text")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        kept ++= fresh.map(_._1)
        seen = seen.unionByName(fresh.toSeq.toDF("doc_id", "text"))
      }
      .outputMode("update").start()
    try {
      ms.addData((1L, "alpha"), (2L, "beta"))
      q.processAllAvailable()
      ms.addData((3L, "alpha"), (4L, "gamma"))
      q.processAllAvailable()
      // batch 2's "alpha" is suppressed by batch 1's accepted copy
      assert(kept.sorted == Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("nearDupAgainst with an empty store keeps the whole batch; idHash53 stays in range") {
    val empty = Dedup.nearDupStore(Seq.empty[(Long, String)].toDF("id", "text"), "id", "text", 64, 16, 3)
    val batch = Seq((1L, "anything at all"), (2L, "something else entirely")).toDF("id", "text")
    val kept = Dedup.nearDupAgainst(batch, empty, "id", "text", 64, 16, 3, 0.7)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    // idHash53: full-range priority stays in [0, 2^53) for extreme ids
    val ids = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 999999999999L).toDF("id")
    val hs = ids.select(Curation.idHash53(col("id")).as("h")).collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0L && h < (1L << 53)), hs.mkString(","))
    assert(hs.distinct.length == hs.length) // no collisions among these
  }

  test("near-dup screening accretes across streaming micro-batches (foreachBatch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    var store = Dedup.nearDupStore(Seq.empty[(Long, String)].toDF("id", "text"),
      "id", "text", 64, 16, 3)
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val q = ms.toDF().toDF("id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val fresh = Dedup.nearDupAgainst(batch, store, "id", "text", 64, 16, 3, 0.7)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        kept ++= fresh.map(_._1)
        val acc = Dedup.nearDupStore(fresh.toSeq.toDF("id", "text"), "id", "text", 64, 16, 3)
        store = Dedup.NearDupStore(
          store.bands.unionByName(acc.bands).localCheckpoint(true),
          store.payload.unionByName(acc.payload).localCheckpoint(true))
      }
      .outputMode("update").start()
    try {
      ms.addData((1L, "the quick brown fox jumps over the lazy dog again and again"))
      q.processAllAvailable()
      ms.addData(
        (2L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 1
        (3L, "completely different content about spark vector engines at scale"))
      q.processAllAvailable()
      assert(kept.sorted == Seq(1L, 3L))
    } finally q.stop()
  }

  test("range filter on a sorted store is pushed down to the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("srtstore").toString + "/docs"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars")
    docs.repartitionByRange(2, col("n_chars")).sortWithinPartitions("n_chars")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .where(col("n_chars") >= 100 && col("n_chars") <= 200)
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(n_chars,100)")
      && pushed.contains("LessThanOrEqual(n_chars,200)"), pushed)
    assert(q.count() ==
      docs.where(col("n_chars") >= 100 && col("n_chars") <= 200).count())
  }

  test("annJoin: each candidate pair meets exactly once; decent recall vs exact top-k") {
    val e = emb.where(col("embedding").isNotNull)
    val left = e.where(col("vec_id") < 10)
    val out = Ann.annJoin(left, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 10, metric = "l2", nBits = 8, dim = 64, probeRadius = 2)
    val rows = out.collect()
    // per-probe result sets: unique right ids, ranks 1..n ascending distance
    rows.groupBy(_.getLong(0)).foreach { case (pid, rs) =>
      val byRank = rs.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to byRank.length).toSeq, s"probe $pid ranks")
      assert(rs.map(_.getLong(2)).distinct.length == rs.length, s"probe $pid dup neighbor")
      assert(byRank.map(_.getDouble(3)).toSeq == byRank.map(_.getDouble(3)).sorted.toSeq)
    }
    // the probe's own row is its 0-distance nearest neighbor (same bucket)
    rows.filter(r => r.getLong(1) == 1L).foreach { r =>
      assert(r.getLong(0) == r.getLong(2) && r.getDouble(3) == 0.0, r.toString)
    }
    // recall floor vs exact per-probe top-10: radius-2 multiprobe reads
    // 37/256 of the buckets and must land well above chance on 6k rows
    // (radius 1 measured 18/100 on this corpus — the radius dial is the
    // recall/cost trade)
    val exactHits = (0L until 10L).map { pid =>
      val pv = e.where(col("vec_id") === pid).head().getSeq[Float](1).toArray
      val exact = Knn.fullScan(e, "vec_id", "embedding", pv, 10, "l2")
        .collect().map(_.getLong(0)).toSet
      val got = rows.filter(_.getLong(0) == pid).map(_.getLong(2)).toSet
      exact.intersect(got).size
    }
    // chance baseline = 10 x (37/256) ~ 14.5/100 (random 14.5% subset);
    // measured 37/100 on this SYNTHETIC near-uniform corpus — real
    // clustered embeddings score far higher; floor guards the 2.5x-over-
    // chance signal, not a production recall target
    assert(exactHits.sum >= 25, s"total recall ${exactHits.sum}/100")
  }

  test("annJoin bucket cap bounds a hot-bucket skewed corpus and reports it") {
    // boilerplate-embedding skew: 400 clones of one vector all land in ONE
    // LSH bucket. Uncapped, every left row probing that bucket would fan
    // out x400 (the quadratic hazard); capped, the hot bucket is excluded
    // from candidate generation and the observer reports it.
    val e = emb.where(col("embedding").isNotNull)
    val hot = e.where(col("vec_id") === 3L)
      .crossJoin(spark.range(100000, 100400).select(col("id").as("clone_id")))
      .select(col("clone_id").as("vec_id"), col("embedding"))
    val right = e.select(col("vec_id"), col("embedding")).unionByName(hot)
    val left = e.where(col("vec_id") < 10)
    val run = Ann.annJoinRun(left, "vec_id", "embedding", right, "vec_id", "embedding",
      k = 10, metric = "l2", nBits = 8, dim = 64, maxBucket = 50)
    val rows = run.pairs.collect()
    assert(run.overCapBuckets() >= 1L, "hot bucket must be reported as capped")
    // every right id from an over-cap bucket is excluded — so per-left
    // candidates are bounded by (nBits+1) x maxBucket regardless of skew
    val bucketCounts = Ann.withBuckets(right, "embedding", 8, 64)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val hotBuckets = bucketCounts.where(col("n") > 50)
      .select("bucket").collect().map(_.getLong(0)).toSet
    assert(hotBuckets.nonEmpty)
    val hotIds = Ann.withBuckets(right, "embedding", 8, 64)
      .where(col("bucket").isin(hotBuckets.toSeq: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => !hotIds.contains(r.getLong(2))),
      "no neighbor may come from a capped bucket")
    assert(rows.nonEmpty, "other buckets still produce neighbors")
    // and with the cap lifted the clones DO flood back in at distance 0
    val uncapped = Ann.annJoin(left.where(col("vec_id") === 3L), "vec_id", "embedding",
      right, "vec_id", "embedding", k = 10, metric = "l2", nBits = 8, dim = 64)
    assert(uncapped.collect().count(r => r.getLong(2) >= 100000L) > 0)
  }

  test("binary Hamming top-k plans as one exchange-free KnnTopK scan") {
    val sigs = BinaryQuant.signatures(emb, "vec_id", "embedding", Queries.Dim)
    val q = BinaryQuant.hammingTopK(sigs, "vec_id", probe, Queries.Dim, 10)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("KnnTopK"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("only guarded shortlist ops window without a partition") {
    // An unpartitioned window sorts its whole input on one task — fine
    // for the two ops whose input is a checked-small shortlist (rrfFuse
    // maxListRows, unimaxAllocation maxDomains), a scale-killer anywhere
    // else. Bench silences WindowExec's warning for exactly this reason,
    // so THIS sweep is what catches a new accidental global window.
    val guarded = Set("rrf_hybrid", "unimax_mixture")
    Queries.queries.foreach { case (name, fn) =>
      val globals = fn(spark, sfDir).queryExecution.executedPlan.collectWithSubqueries {
        case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }
      if (!guarded(name))
        assert(globals.isEmpty,
          s"$name plans an unpartitioned window: ${globals.map(_.nodeName).mkString(", ")}")
    }
  }

  test("no gated query plans a cartesian product or nested-loop join") {
    // The r1/r2 scale-killers were cartesian self-joins hiding behind
    // degenerate bucket keys; pin every gated plan against the whole class.
    // Deliberate exceptions: knn_batch_probes broadcasts the k-row
    // probe table against the corpus — every probe×corpus distance is the
    // workload itself, and the pair space is bounded by the broadcast side
    // (≤ spark.sql.autoBroadcastJoinThreshold), not corpus². lm_logprob,
    // bigram_logprob, kneser_ney_logprob, pmi_pairs, mixture_temperature,
    // pagerank, dsir_scores/dsir_sample and unimax_mixture ride a
    // ONE-row broadcast cross join to attach scalar corpus totals (N/P,
    // Σweights, |V|, the corpus token total for the bigram interpolation
    // floor, the distinct-pair count for the KN continuation, the
    // raw/target token totals for the DSIR LLR, the capped-prefix stats
    // for the UniMax even share, the vocab log-total normalizer in the
    // unigram-LM Viterbi weighting) — output cardinality equals the left
    // side exactly.
    val boundedBroadcastCross = Set("knn_batch_probes", "sql_knn_batch",
      // ccnet_buckets composes lm_logprob's scoring chain, so it carries
      // the same one-row corpus-total broadcast cross
      "lm_logprob", "ccnet_buckets", "bigram_logprob", "kneser_ney_logprob", "pmi_pairs",
      // hits_scores: two one-row L1-total broadcast crosses per cycle
      // (the pagerank scalar-total rationale)
      "mixture_temperature", "pagerank", "hits_scores",
      "dsir_scores", "dsir_sample",
      "unimax_mixture", "unigram_vocab", "unigram_encode",
      // hard_negatives: the anchor batch broadcasts against one corpus
      // scan — anchor×corpus distances are the workload (the
      // knn_batch_probes rationale), bounded by the broadcast side
      "hard_negatives")
    Queries.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans CartesianProduct:\n$plan")
      if (boundedBroadcastCross(name))
        assert(plan.contains("BroadcastExchange"),
          s"$name must broadcast its bounded probe side:\n$plan")
      else
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans BroadcastNestedLoopJoin:\n$plan")
    }
  }

  // ---------- text analysis ----------

  test("language id picks marker language") {
    val d = Seq(
      (1L, "the cat and the dog went to the park and it is nice"),
      (2L, "der Hund und die Katze sind nicht auf der Strasse"),
      (3L, "le chat et la grenouille dans une maison pour les amis"),
      (4L, "el perro y el gato en una casa por la noche"),
      (5L, "zzz qqq xxx")).toDF("id", "text")
    val got = d.select(col("id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"))
  }

  test("token stats and fingerprint are deterministic") {
    val d = Seq((1L, "hello world  hello"), (2L, "")).toDF("id", "text")
    val r = d.select(col("id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.distinctTokenCount(col("text")).as("nd"),
      TextAnalysis.fingerprint(col("text")).as("fp")).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L)._1 == 3 && r(1L)._2 == 2)
    assert(r(2L)._3 == 0L)
    // fp("hello world  hello") — stable rolling hash
    val expected = "hello world  hello".foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    assert(r(1L)._3 == expected)
  }

  test("stripHtml: blocks drop with contents, tags drop, entities decode once, prose '<' survives") {
    val d = Seq(
      (1L, "<html><head><style>p{color:red}</style><script>var a=\"</p>\";</script></head>" +
        "<body><!-- c --><p class=\"x\">Hello <b>world</b></p></body></html>"),
      (2L, "a &lt; b &amp;&amp; c &gt; d &quot;q&quot; &#39;s&#39;&nbsp;&amp;lt;"),
      (3L, "price: 3 < 5 and 7 > 2"),                    // bare comparisons are NOT tags
      (4L, "<script>never closed so contents surface"),   // malformed degrades
      (5L, "")).toDF("id", "text")
    val got = d.select(col("id"), TextAnalysis.stripHtml(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "Hello world")
    // one-pass decode: &amp;lt; -> &lt; (literal), not <
    assert(got(2L) == "a < b && c > d \"q\" 's' &lt;")
    assert(got(3L) == "price: 3 < 5 and 7 > 2")
    assert(got(4L) == "never closed so contents surface")
    assert(got(5L) == "")
  }

  test("stripHtml/splitSentences boundary pins: quoted '>', unclosed comment, ellipsis, ?!") {
    // these behaviors are part of the ORACLE contract (both engines run
    // the identical chain) — pin them so a future "fix" on one side
    // can't silently break cross-engine parity
    val html = Seq(
      (1L, """before <img alt="a>b"> after"""),   // '>' inside an attribute ends the tag early
      (2L, "keep <!-- unclosed forever"),          // unterminated comment: only the tag rule fires
      (3L, "<p>x</p><p>y</p>")).toDF("id", "text")
    val got = html.select(col("id"), TextAnalysis.stripHtml(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "before b\"> after")        // documented: naive-tag-end, both engines agree
    assert(got(2L) == "keep <!-- unclosed forever")
    assert(got(3L) == "x y")
    val s = Seq((1L, "Wait... Really?! Yes. done"), (2L, "a.b. c")).toDF("id", "text")
    val sents = TextAnalysis.splitSentences(s, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(sents(1L) == Seq("Wait...", "Really?!", "Yes.", "done")) // ellipsis/terminator runs split once, after the run
    assert(sents(2L) == Seq("a.b.", "c"))                          // interior dots don't split
    // the injection sentinel is safe in-band: pre-existing U+0001 in
    // crawl text is stripped first, never treated as a boundary
    val dirty = Seq((1L, "One\u0001 piece. Two.")).toDF("id", "text")
    val ds = TextAnalysis.splitSentences(dirty, "id", "text")
      .collect().map(_.getString(2)).toSeq
    assert(ds == Seq("One piece.", "Two."))
    val dd = Dedup.sentenceDedup(dirty, "id", "text")
      .collect().map(r => (r.getString(1), r.getLong(2))).head
    assert(dd == (("One piece. Two.", 2L)))
  }

  test("sentenceChunks: sentence-aligned greedy chunks, oversized sentence isolated") {
    val d = Seq(
      (1L, "One two three. Four five. Six seven eight nine. Ten."),
      (2L, "Single"),
      (3L, "This sentence has seven whole words inside. Tiny.")).toDF("id", "text")
    val got = TextAnalysis.sentenceChunks(d, "id", "text", maxTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(x => (x._3, x._4)).toSeq).toMap
    // doc1 sentence token counts [3, 2, 4, 1] at budget 5 -> (3+2), (4+1)
    assert(got(1L) == Seq(("One two three. Four five.", 5L),
      ("Six seven eight nine. Ten.", 5L)))
    assert(got(2L) == Seq(("Single", 1L)))
    // a 7-word sentence exceeds the budget: its own over-budget chunk,
    // never split mid-sentence
    assert(got(3L) == Seq(("This sentence has seven whole words inside.", 7L),
      ("Tiny.", 1L)))
    // overlap is boundary-then-extend: boundaries identical to overlap=0,
    // each later chunk gains the previous chunk's trailing sentence
    val ov = TextAnalysis.sentenceChunks(d, "id", "text", maxTokens = 5, overlapSentences = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(x => (x._3, x._4)).toSeq).toMap
    assert(ov(1L) == Seq(("One two three. Four five.", 5L),
      ("Four five. Six seven eight nine. Ten.", 7L)))
    assert(ov(2L) == Seq(("Single", 1L)))
    // empty / whitespace-only docs produce zero chunks, not a crash
    val empty = TextAnalysis.sentenceChunks(
      Seq((9L, ""), (10L, "   ")).toDF("id", "text"), "id", "text", 5)
    assert(empty.count() == 0)
  }

  test("urlHosts: boundary class, trailing punctuation strip, host-only lowercase") {
    val d = Seq(
      (1L, "see https://Example.COM/Path?q=1 and (http://a.b.org/x.html). done"),
      (2L, "no links here"),
      (3L, "bare http:// is not a url, https://ok.net, tail")).toDF("id", "text")
    val got = TextAnalysis.urlHosts(d, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSet == Set(
      (1L, "https://Example.COM/Path?q=1", "example.com"),   // path case KEPT, host lowered
      (1L, "http://a.b.org/x.html", "a.b.org"),              // ")." stripped
      (3L, "https://ok.net", "ok.net")))                     // "," stripped
    // a bare scheme with nothing after "//" is not a URL (the class
    // requires at least one authority char) — zero rows, not junk
    val bare = TextAnalysis.urlHosts(Seq((9L, "x http:// y")).toDF("id", "text"), "id", "text")
    assert(bare.count() == 0)
    // ports and bracketed IPv6 stay in the host verbatim (stripping is
    // caller policy, pinned so the oracle contract can't drift)
    val ports = TextAnalysis.urlHosts(
      Seq((8L, "a http://Example.com:8080/x b https://[::1]:443/y c")).toDF("id", "text"),
      "id", "text").collect().map(r => r.getString(2)).toSet
    assert(ports == Set("example.com:8080", "[::1]:443"))
  }

  test("per-row text ops are shuffle-free: stripHtml, splitSentences, urlHosts plans carry no Exchange") {
    val d = Seq((1L, "One. <b>Two</b> https://a.io/x. Three!")).toDF("id", "text")
    val plans = Seq(
      d.select(TextAnalysis.stripHtml(col("text"))),
      TextAnalysis.splitSentences(d, "id", "text"),
      TextAnalysis.urlHosts(d, "id", "text")
    ).map(_.queryExecution.executedPlan.toString)
    plans.foreach(p => assert(!p.contains("Exchange"), p.linesIterator.take(3).mkString("\n")))
  }

  test("splitSentences: terminator kept, dense ids, empties dropped, abbreviation limit accepted") {
    val d = Seq(
      (1L, "One sentence. Two! Three? "),
      (2L, "No terminator here"),
      (3L, "Trailing dot."),
      (4L, "Dr. Smith arrived. The end.")).toDF("id", "text")
    val got = TextAnalysis.splitSentences(d, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(1L) == Seq("One sentence.", "Two!", "Three?"))
    assert(got(2L) == Seq("No terminator here"))
    assert(got(3L) == Seq("Trailing dot."))
    // documented rule-based limit: "Dr. " splits
    assert(got(4L) == Seq("Dr.", "Smith arrived.", "The end."))
  }

  test("splitSentencesAbbrev: abbreviation dots survive, true boundaries split, sentinels stripped") {
    val d = Seq(
      (1L, "Dr. Smith arrived. The end."),
      (2L, "Costs rose, e.g. travel, i.e. flights. Done."),
      (3L, "It was 5 p.m. in St. Louis. No. 7 vs. No. 9 won!"),
      // documented rule limit: an abbreviation at a TRUE sentence end
      // never splits ("etc. Next" stays joined)
      (4L, "Apples, pears, etc. Next point."),
      // in-band sentinels in raw text are stripped, not misparsed
      (5L, "One two. Three.")).toDF("id", "text")
    val got = TextAnalysis.splitSentencesAbbrev(d, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(1L) == Seq("Dr. Smith arrived.", "The end."))
    assert(got(2L) == Seq("Costs rose, e.g. travel, i.e. flights.", "Done."))
    assert(got(3L) == Seq("It was 5 p.m. in St. Louis.", "No. 7 vs. No. 9 won!"))
    assert(got(4L) == Seq("Apples, pears, etc. Next point."))
    assert(got(5L) == Seq("One two.", "Three."))
    // shuffle-free like the bare splitter
    val plan = TextAnalysis.splitSentencesAbbrev(d, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.linesIterator.take(3).mkString("\n"))
  }

  test("repetition signals: run-length folds match hand counts") {
    // "a a a b c c" : top=a(3)/6, dup = 3(a)+2(c) = 5/6
    // bigrams: "a a","a a","a b","b c","c c" : dup = 2 ("a a")/5
    val d = Seq(
      (1L, "a a a b c c"),
      (2L, "x y z"),          // no repeats at all
      (3L, "w"),              // single word: no bigrams -> dup_2gram 0
      (4L, "p q p q p q"))    // bigram-heavy: "p q"×3, "q p"×2 -> 5/5
      .toDF("id", "text")
    val r = d.select(col("id"), TextAnalysis.repetitionSignals(col("text")).as("r"))
      .select(col("id"), col("r.top_word_frac"), col("r.dup_word_frac"), col("r.dup_2gram_frac"))
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((0.5, math.rint(5.0 / 6 * 1e6) / 1e6, 0.4)))
    assert(r(2L) == ((math.rint(1.0 / 3 * 1e6) / 1e6, 0.0, 0.0)))
    assert(r(3L) == ((1.0, 0.0, 0.0)))
    assert(r(4L) == ((0.5, 1.0, 1.0)))
  }

  // ---------- grouped aggregates: knn_topk and vector_avg ----------

  test("knn_topk equals per-group sort-limit; survives repartitioned partial aggregation") {
    import graft.functions.knn_topk
    val scored = emb.crossJoin(
        broadcast(emb.where(col("vec_id") < 4)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))))
      .select(col("probe_id"), col("vec_id"),
        round(graft.functions.vector_distance(col("embedding"), col("pv"), "l2"), 6).as("d"))
      .repartition(7) // force multi-buffer merge through serialize/deserialize
    val got = scored.groupBy("probe_id").agg(knn_topk(col("d"), col("vec_id"), 5).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")))
      .select(col("probe_id"), col("pos"), col("col.id"), col("col.distance"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val oracle = scored.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (p, rows) =>
        rows.sortBy(t => (t._3, t._2)).take(5).zipWithIndex
          .map { case ((_, id, d), i) => (p, i, id, d) }
      }.toSet
    assert(got == oracle)
    // group smaller than k: returns all, ascending
    val tiny = Seq((1L, 3.0, 30L), (1L, 1.0, 10L), (1L, 2.0, 20L)).toDF("g", "d", "id")
    val small = tiny.groupBy("g").agg(knn_topk(col("d"), col("id"), 10).as("tk"))
      .select(explode(col("tk"))).select(col("col.id")).collect().map(_.getLong(0)).toSeq
    assert(small == Seq(10L, 20L, 30L))
    // ties break by id; NaN rows are skipped
    val ties = Seq((1L, 1.0, 7L), (1L, 1.0, 3L), (1L, Double.NaN, 1L)).toDF("g", "d", "id")
    val t = ties.groupBy("g").agg(knn_topk(col("d"), col("id"), 2).as("tk"))
      .select(explode(col("tk"))).select(col("col.id")).collect().map(_.getLong(0)).toSeq
    assert(t == Seq(3L, 7L))
  }

  test("vector_avg: exact fixed-point centroid, order-independent, nulls skipped") {
    import graft.functions.vector_avg
    val d = Seq(
      (0, Array(1.0f, -2.0f)),
      (0, Array(2.0f, -1.0f)),
      (1, Array(0.5f, 0.25f)),
      (1, null.asInstanceOf[Array[Float]])) // null vector: skipped, not zeroed
      .toDF("label", "v")
    def centroids(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Double]] =
      df.groupBy("label").agg(vector_avg(col("v"), 2).as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val got = centroids(d)
    assert(got(0) == Seq(1.5, -1.5))
    assert(got(1) == Seq(0.5, 0.25))
    // partition-order independence: exact equality across repartitionings
    assert(centroids(d.repartition(5)) == got)
    // dim mismatch fails fast
    val bad = Seq((0, Array(1.0f, 2.0f, 3.0f))).toDF("label", "v")
    val ex = intercept[Exception] {
      bad.groupBy("label").agg(vector_avg(col("v"), 2)).collect()
    }
    assert(ex.getMessage != null)
  }

  // ---------- multimodal plumbing ----------

  test("media codec parses real PNG/JPEG/GIF/WAV headers") {
    import ops.MediaCodec
    val png = MediaCodec.probe(MediaCodec.pngFixture(640, 360), "x")
    assert(png == MediaCodec.MediaMeta("png", 640, 360, 1, 45L))
    // the jpeg fixture pads SOF0 with 0xFF fill bytes (T.81 §B.1.1.2) —
    // this asserts the walker skips fill instead of misreading a length
    val jpg = MediaCodec.probe(MediaCodec.jpegFixture(1024, 768), "x")
    assert(jpg.media_type == "jpeg" && jpg.width == 1024 && jpg.height == 768)
    val wav = MediaCodec.probe(MediaCodec.wavFixture(16000, 2, 1234), "x")
    assert(wav == MediaCodec.MediaMeta("wav", 16000, 2, 1234, 44L))
    val gif = MediaCodec.probe(MediaCodec.gifFixture(320, 200), "x")
    assert(gif == MediaCodec.MediaMeta("gif", 320, 200, 1, 14L))
    // GIF87a variant, raw bytes (320x200 LE16)
    val gif87 = "GIF87a".getBytes ++ Array[Byte](0x40, 0x01, 0xc8.toByte, 0x00, 0, 0)
    assert(MediaCodec.probe(gif87, "x") == MediaCodec.MediaMeta("gif", 320, 200, 1, 12L))
    // unknown container falls back to declared type + real byte_len
    val unk = MediaCodec.probe("just text".getBytes, "image")
    assert(unk == MediaCodec.MediaMeta("image", 0, 0, 1, 9L))
  }

  test("multimodal metadata + features have the contracted schema") {
    val d = Seq((1L, "x", "image"), (2L, null.asInstanceOf[String], "video"))
      .toDF("id", "text", "mt")
      .withColumn("payload",
        when(col("id") === 1, lit(ops.MediaCodec.pngFixture(320, 240))))
    val meta = Multimodal.withMetadata(d, "payload", "mt")
    val m = meta.where(col("id") === 1)
      .select("meta.media_type", "meta.width", "meta.height", "meta.byte_len").head()
    assert(m.getString(0) == "png" && m.getInt(1) == 320 && m.getInt(2) == 240 && m.getLong(3) == 45L)
    assert(meta.where(col("id") === 2).select("meta").head().isNullAt(0)) // null payload -> null meta
    // the metadata probe is a native codegen'd expression, not a UDF
    val metaPlan = meta.select("meta").queryExecution.analyzed.toString
    assert(!metaPlan.contains("ScalaUDF"), s"metadata probe is a UDF again:\n$metaPlan")
    assert(metaPlan.contains("media_probe"))
    // null declared type reads as "unknown" (unknown container -> fallback)
    val unkMeta = Multimodal.withMetadata(
      Seq((1L, "just text".getBytes, null.asInstanceOf[String])).toDF("id", "payload", "mt"),
      "payload", "mt").select("meta.media_type").head()
    assert(unkMeta.getString(0) == "unknown")

    val featsDf = Multimodal.withFeatures(d, "payload", 16)
    val feats = featsDf.where(col("id") === 1).select("features").head().getSeq[Float](0)
    assert(feats.length == 16)
    // exact /256 arithmetic: sum of features == sum of payload bytes / 256
    val byteSum = ops.MediaCodec.pngFixture(320, 240).map(_ & 0xff).sum
    assert(feats.map(_.toDouble).sum == byteSum / 256.0)
    // null payload -> null features, and the featurizer is a native
    // codegen'd expression (no ScalaUDF node in the plan)
    assert(featsDf.where(col("id") === 2).select("features").head().isNullAt(0))
    // (analyzed plan: over this literal local table the optimizer constant-
    // folds the whole projection — itself proof the featurizer is a native
    // foldable expression, which a ScalaUDF never is)
    val plan = featsDf.select("features").queryExecution.analyzed.toString
    assert(!plan.contains("ScalaUDF"), s"featurizer is a UDF again:\n$plan")
    assert(plan.contains("byte_histogram"))
  }

  // ---------- SQL surface ----------

  test("SQL registration: vector_distance / vector_as_* / version") {
    graft.functions.registerSql(spark)
    val r = spark.sql(
      "SELECT vector_distance(vector_as_f32('[1,2,3,]'), vector_as_f32('[1,2,4]'), 'l2') AS d").head()
    assert(r.getDouble(0) == 1.0)
    assert(spark.sql("SELECT vector_version() AS v").head().getString(0) == graft.functions.Version)
    // f16 round-trip through SQL surface
    val h = spark.sql("SELECT vector_distance(vector_as_f16('[1.5, -2.25]'), vector_as_f16('[1.5, -2.25]'), 'l2') AS d").head()
    assert(h.getDouble(0) == 0.0)
    // aggregates on the SQL surface: vector_avg / knn_topk group like built-ins
    Seq((0, Seq(1.0f, 3.0f)), (0, Seq(3.0f, 1.0f))).toDF("g", "v").createOrReplaceTempView("va_sql")
    val c = spark.sql("SELECT vector_avg(v, 2) AS c FROM va_sql GROUP BY g").head().getSeq[Double](0)
    assert(c == Seq(2.0, 2.0))
    // NFC normalization: decomposed and composed forms of the same text
    // must collapse to identical strings (and identical fingerprints)
    val nfc = spark.sql(
      "SELECT nfc_normalize('é') = nfc_normalize('é') AS eq, " +
      "string_hash61(nfc_normalize('é')) = string_hash61(nfc_normalize('é')) AS heq").head()
    assert(nfc.getBoolean(0) && nfc.getBoolean(1))
    // media fingerprints reachable from pure SQL
    Seq(Tuple1(graft.ops.MediaCodec.gifAnimFixture(4, 4, 3, 5)),
        Tuple1(graft.ops.MediaCodec.pngPixelFixture(18, 16, 7L, 0)))
      .toDF("b").createOrReplaceTempView("media_sql")
    val gm = spark.sql("SELECT gif_frames(b).n_frames AS n FROM media_sql").collect()
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(gm.toSeq == Seq(3L)) // the PNG row is null for gif_frames
    assert(spark.sql("SELECT png_dhash(b) AS h FROM media_sql WHERE png_dhash(b) IS NOT NULL")
      .count() == 1)
    // media_probe from pure SQL: real header parse for both containers
    val mp = spark.sql("SELECT media_probe(b, 'unknown').media_type AS t FROM media_sql ORDER BY t")
      .collect().map(_.getString(0))
    assert(mp.toSeq == Seq("gif", "png"))
    Seq(Tuple1(graft.ops.MediaCodec.wavPcmFixture(16000, 1, 80, 7L)))
      .toDF("b").createOrReplaceTempView("wav_sql")
    assert(spark.sql("SELECT pcm_fingerprint(b).fingerprint AS f FROM wav_sql")
      .head().getLong(0) != 0L)
    val tk = spark.sql(
      "SELECT knn_topk(CAST(g AS DOUBLE), CAST(g AS BIGINT), 1) AS tk FROM va_sql").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(r => (r.getDouble(0), r.getLong(1))) == Seq((0.0, 0L)))
  }

  test("SQL registry: GraftExtensions, GraftTableFunctions.register and registerSql install one surface") {
    val injected = (scala.collection.mutable.Set.empty[String], scala.collection.mutable.Set.empty[String])
    new graft.sql.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = injected._1 += f._1.funcName
      override def injectTableFunction(f: TableFunctionDescription): Unit = injected._2 += f._1.funcName
    })
    // the (function, table function) names one call adds to a fresh session
    def added(install: SparkSession => Unit): (Set[String], Set[String]) = {
      val s = spark.newSession()
      def names = (s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet,
        s.sessionState.tableFunctionRegistry.listFunction().map(_.funcName).toSet)
      val (f0, t0) = names
      install(s)
      val (f1, t1) = names
      (f1 -- f0, t1 -- t0)
    }
    val viaRegister = added(graft.sql.GraftTableFunctions.register)
    assert(viaRegister == ((injected._1.toSet, injected._2.toSet)))
    assert(added(graft.functions.registerSql) == viaRegister)
    // 25 scalars and aggregates, 7 lifecycle scalars, 6 table functions
    assert(viaRegister._1.size == 32 && viaRegister._2.size == 6, viaRegister)

    val viaTvf = spark.newSession()
    graft.sql.GraftTableFunctions.register(viaTvf)
    assert(viaTvf.sql("SELECT vector_distance(vector_as_f32('[1,2]'), vector_as_f32('[1,3]'), 'l2')")
      .head().getDouble(0) == 1.0)
    assert(viaTvf.sql("SELECT vector_version()").head().getString(0) == graft.functions.Version)
    val tk = viaTvf.sql("SELECT knn_topk(CAST(1.5 AS DOUBLE), CAST(7 AS BIGINT), 1)").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(r => (r.getDouble(0), r.getLong(1))) == Seq((1.5, 7L)))

    val viaSql = spark.newSession()
    graft.functions.registerSql(viaSql)
    viaSql.createDataFrame(Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))).toDF("id", "v")
      .createOrReplaceTempView("registry_vfs")
    catalog.VectorCatalog.init("registry_vfs", "v", VectorConfig(2, idCol = "id"))
    assert(viaSql.sql("SELECT id FROM vector_full_scan('registry_vfs', 'v', '[0,1]', 1)")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("SQL registry: a bigint k outside the int range fails instead of wrapping") {
    graft.sql.GraftTableFunctions.register(spark)
    Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f))).toDF("id", "v").createOrReplaceTempView("wrap_t")
    catalog.VectorCatalog.init("wrap_t", "v", VectorConfig(2, idCol = "id"))
    for (k <- Seq("4294967297", "4294967298", "-4294967295")) {
      val e = intercept[IllegalArgumentException](
        spark.sql(s"SELECT * FROM vector_full_scan('wrap_t', 'v', '[1,0]', $k)").collect())
      assert(e.getMessage.contains("k must be an integer literal in int range"), e.getMessage)
    }
    assert(spark.sql("SELECT * FROM vector_full_scan('wrap_t', 'v', '[1,0]', 2L)").count() == 2)
  }

  test("SQL registry: a repeated register replaces no function and logs no WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val s = spark.newSession()
    graft.sql.GraftTableFunctions.register(s)
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("registry-replaced", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val names = Seq(s.sessionState.functionRegistry, s.sessionState.tableFunctionRegistry)
      .map(_.getClass.getName.stripSuffix("$"))
    val levels = names.map(n => LogManager.getLogger(n).getLevel)
    names.foreach { n =>
      Configurator.setLevel(n, Level.WARN)
      ctx.getConfiguration.getLoggerConfig(n).addAppender(appender, Level.WARN, null)
    }
    ctx.updateLoggers()
    try {
      // the probe hears a replacement: without it an empty log proves nothing
      val fns = s.sessionState.functionRegistry
      fns.createOrReplaceTempFunction("vector_version",
        fns.lookupFunctionBuilder(org.apache.spark.sql.catalyst.FunctionIdentifier("vector_version")).get, "scala_udf")
      assert(warned.size == 1, warned)
      warned.clear()
      graft.sql.GraftTableFunctions.register(s)
      graft.functions.registerSql(s)
    } finally names.zip(levels).foreach { case (n, lv) =>
      ctx.getConfiguration.getLoggerConfig(n).removeAppender(appender.getName)
      Configurator.setLevel(n, lv)
    }
    assert(warned.isEmpty, warned)
    assert(s.sql("SELECT vector_distance(vector_as_f32('[1,2]'), vector_as_f32('[1,3]'), 'l2')")
      .head().getDouble(0) == 1.0)
    s.createDataFrame(Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))).toDF("id", "v").createOrReplaceTempView("rereg_t")
    catalog.VectorCatalog.init("rereg_t", "v", VectorConfig(2, idCol = "id"))
    assert(s.sql("SELECT id FROM vector_full_scan('rereg_t', 'v', '[0,1]', 1)").collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
  }

  test("SQL TVF surface: vector_full_scan / vector_quantize_scan in pure SQL") {
    emb.createOrReplaceTempView("emb_tvf")
    catalog.VectorCatalog.init("emb_tvf", "embedding", VectorConfig(64, idCol = "vec_id"))
    graft.sql.GraftTableFunctions.register(spark)
    val probeJson = probe.mkString("[", ",", "]")
    val tvfDf = spark.sql(
      s"SELECT id, distance FROM vector_full_scan('emb_tvf', 'embedding', '$probeJson', 5)")
    // the TVF expands to the same fused top-k physical plan as the DataFrame API
    assert(tvfDf.queryExecution.executedPlan.toString.contains("KnnTopK"))
    val got = tvfDf.collect().map(_.getLong(0)).toSeq
    val want = Knn.fullScan(emb, "vec_id", "embedding", probe, 5, "l2")
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
    // quantized TVF over the shadow view (reference naming vector0_<t>_<c>)
    val p = Quantizer.computeParams(emb, "embedding")
    Quantizer.quantizeCodes(emb, "vec_id", "embedding", p)
      .createOrReplaceTempView("vector0_emb_tvf_embedding")
    catalog.VectorCatalog.putQuantParams("emb_tvf", "embedding", p)
    val gotQ = spark.sql(
      s"SELECT id, distance FROM vector_quantize_scan('emb_tvf', 'embedding', '$probeJson', 5)")
      .collect().map(_.getLong(0)).toSeq
    val codes = Quantizer.quantizeCodes(emb, "vec_id", "embedding", p)
    val wantQ = Quantizer.quantScan(codes, probe, p, 5, "l2")
      .collect().map(_.getLong(0)).toSeq
    assert(gotQ == wantQ)
    // scanning an unregistered (table, column) errors like the reference
    assertThrows[IllegalArgumentException](
      spark.sql("SELECT * FROM vector_full_scan('nope', 'c', '[1]', 3)"))
  }

  test("SQL lifecycle functions: init -> quantize -> memory -> preload -> scan -> cleanup") {
    emb.createOrReplaceTempView("emb_life")
    graft.sql.GraftTableFunctions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("sqllife").toString
    val store = s"$tmp/vector0_emb_life_embedding"

    // init returns NULL (API.md:55) and registers the column
    assert(spark.sql("SELECT vector_init('emb_life', 'embedding', " +
      s"'dimension=64,type=FLOAT32,id_column=vec_id,store_dir=$tmp')").head().isNullAt(0))
    assert(catalog.VectorCatalog.get("emb_life", "embedding").isDefined)

    // quantize returns the row count and writes store + sidecar + view
    val n = spark.sql("SELECT vector_quantize('emb_life', 'embedding')").head().getLong(0)
    assert(n == emb.count())
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$store/_vector_meta.json")))
    assert(spark.catalog.tableExists("vector0_emb_life_embedding"))

    // memory = n * (8 + dim) (API.md:123-133)
    assert(spark.sql("SELECT vector_quantize_memory('emb_life', 'embedding')")
      .head().getLong(0) == n * (8 + 64))

    // preload pins the shadow view; the scan after it matches the direct path
    assert(spark.sql("SELECT vector_quantize_preload('emb_life', 'embedding')").head().isNullAt(0))
    val probeJson = probe.mkString("[", ",", "]")
    val got = spark.sql(
      s"SELECT id, distance FROM vector_quantize_scan('emb_life', 'embedding', '$probeJson', 5)")
      .collect().map(_.getLong(0)).toSeq
    val p = catalog.VectorCatalog.quantParams("emb_life", "embedding").get
    val want = Quantizer.quantScan(Quantizer.quantizeCodes(emb, "vec_id", "embedding", p),
      probe, p, 5, "l2").collect().map(_.getLong(0)).toSeq
    assert(got == want)

    // append a wave under the frozen params through pure SQL, then compact
    emb.where(col("vec_id") < 8)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .createOrReplaceTempView("emb_wave")
    val appended = spark.sql(
      "SELECT vector_quantize_append('emb_life', 'embedding', 'emb_wave')").head().getLong(0)
    assert(appended == 8)
    assert(spark.table("vector0_emb_life_embedding").count() == n + 8)
    val compacted = spark.sql(
      "SELECT vector_quantize_compact('emb_life', 'embedding')").head().getLong(0)
    assert(compacted == n + 8)
    assert(spark.table("vector0_emb_life_embedding").count() == n + 8)

    // cleanup: store gone, params gone, view gone; init registration stays
    spark.sql("SELECT vector_quantize_cleanup('emb_life', 'embedding')").collect()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store)), "store not deleted")
    assert(catalog.VectorCatalog.quantParams("emb_life", "embedding").isEmpty)
    assert(!spark.catalog.tableExists("vector0_emb_life_embedding"))
    assert(catalog.VectorCatalog.get("emb_life", "embedding").isDefined)

    // memory after cleanup errors like an unquantized scan
    assertThrows[IllegalArgumentException](
      spark.sql("SELECT vector_quantize_memory('emb_life', 'embedding')"))
  }

  test("lifecycle command keeps its output through FoldablePropagation, the batch GraftExtensions injects into") {
    graft.sql.GraftTableFunctions.register(spark)
    emb.createOrReplaceTempView("emb_fold")
    val analyzed = spark.sql("SELECT vector_init('emb_fold', 'embedding', " +
      "'dimension=64,type=FLOAT32,id_column=vec_id') AS r, 1 AS one").queryExecution.analyzed
    val cmd = org.apache.spark.sql.catalyst.optimizer.FoldablePropagation(
      graft.sql.LifecycleExecutionRule(analyzed))
    assert(cmd.isInstanceOf[graft.sql.RunLifecycleCommand], cmd)
    assert(cmd.output.map(_.name) == Seq("r", "one"))
  }

  test("lifecycle SQL side effects fire at execution, never at analysis or EXPLAIN") {
    emb.createOrReplaceTempView("emb_lazy")
    graft.sql.GraftTableFunctions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("sqllazy").toString
    val store = java.nio.file.Paths.get(s"$tmp/vector0_emb_lazy_embedding")
    spark.sql("SELECT vector_init('emb_lazy', 'embedding', " +
      s"'dimension=64,type=FLOAT32,id_column=vec_id,store_dir=$tmp')").collect()
    spark.sql("SELECT vector_quantize('emb_lazy', 'embedding')").collect()
    assert(java.nio.file.Files.exists(store))

    // EXPLAIN analyzes, optimizes and physically plans — and must not
    // delete anything (the reference only runs functions on step)
    spark.sql("EXPLAIN EXTENDED SELECT vector_quantize_cleanup('emb_lazy', 'embedding')").collect()
    assert(java.nio.file.Files.exists(store), "EXPLAIN executed the cleanup side effect")

    // the statement stays inert through full planning; the standalone
    // shape plans as a driver-side command (Lifecycle.scala)
    val pending = spark.sql("SELECT vector_quantize_cleanup('emb_lazy', 'embedding')")
    val planned = pending.queryExecution.executedPlan.toString
    assert(planned.contains("RunLifecycleCommand"), s"expected command plan, got:\n$planned")
    assert(java.nio.file.Files.exists(store), "planning executed the cleanup side effect")

    // first action executes it
    pending.collect()
    assert(!java.nio.file.Files.exists(store))

    // re-quantize restores the store; an unexecuted re-quantize statement
    // does not touch disk even after the store is gone again
    spark.sql("SELECT vector_quantize('emb_lazy', 'embedding')").collect()
    spark.sql("SELECT vector_quantize_cleanup('emb_lazy', 'embedding')").collect()
    spark.sql("SELECT vector_quantize('emb_lazy', 'embedding')") // no action
    assert(!java.nio.file.Files.exists(store), "lazy quantize statement wrote the store")
  }

  // ---------- packed-vector reference-fidelity path ----------

  test("packed distance expression dispatches all 25 kernel combos") {
    val a = Array(1.5f, -2f, 0.25f, 3f)
    val b = Array(0.5f, 1f, 0.25f, -1f)
    for (et <- ElemType.all) {
      val (fa, fb) = et match {
        case ElemType.U8 => (Array(3f, 0f, 255f, 17f), Array(9f, 255f, 1f, 17f))
        case ElemType.I8 => (Array(3f, -12f, 127f, -128f), Array(9f, 5f, -1f, 17f))
        case _           => (a, b)
      }
      val pa = codec.VectorCodec.pack(fa, et); val pb = codec.VectorCodec.pack(fb, et)
      val df = Seq((pa, pb)).toDF("a", "b")
      for (m <- Metric.all) {
        val got = df.select(graft.functions.vector_distance_packed(col("a"), col("b"), m.name, et.name)).head().getFloat(0)
        val want = kernels.Distances.zeroClamp(kernels.Distances.onPacked(m, et)(pa, pb))
        assert(got == want, s"$m $et")
      }
    }
  }

  test("pack_vector round-trips every element type and stays in codegen") {
    val v = Array(1.5f, -2.25f, 0.125f, 3f)
    for (et <- Seq(ElemType.F32, ElemType.F16, ElemType.BF16)) {
      val df = Seq(Tuple1(v)).toDF("v")
        .select(graft.functions.pack_vector(col("v"), et.name).as("p"))
      val packed = df.head().getAs[Array[Byte]](0)
      assert(packed.sameElements(codec.VectorCodec.pack(v, et)), et.name)
      assert(codec.VectorCodec.unpack(packed, et).sameElements(v), et.name)
    }
    // i8/u8 take integral-valued floats (codes), truncating like the codec
    val iv = Array(-5f, 7f, 127f, -128f)
    val pi = Seq(Tuple1(iv)).toDF("v")
      .select(graft.functions.pack_vector(col("v"), "i8")).head().getAs[Array[Byte]](0)
    assert(pi.sameElements(codec.VectorCodec.pack(iv, ElemType.I8)))

    // the packed pipeline must be whole-stage-codegen'd (no CodegenFallback).
    // Drive the plan from the parquet table — a one-row local DataFrame is
    // folded into a LocalTableScan by ConvertToLocalRelation before any
    // WholeStageCodegen node can appear, regardless of the expressions —
    // and assert structurally (the compact plan string only shows `*(n)`).
    val pl = lit(codec.VectorCodec.pack(probe, ElemType.F16))
    val exec = emb
      .select(graft.functions.vector_distance_packed(
        graft.functions.pack_vector(col("embedding"), "f16"), pl, "l2", "f16"))
      .queryExecution.executedPlan
    val codegenSpans = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.toString
    }
    assert(codegenSpans.exists(_.contains("vector_distance_packed")), exec.toString)
  }

  test("sessionize: gap > threshold splits, gap <= threshold merges, s_end = last + gap") {
    import graft.streaming.Streams
    // user 1: events at 0s, 10s, 100s (gap 90 <= 120 merges), 400s (gap 300 > 120 splits)
    // user 2: single event
    val rows = Seq(
      (1L, 0L), (1L, 10L), (1L, 100L), (1L, 400L),
      (2L, 50L)
    ).map { case (u, sec) => (u, sec * 1000000000L, 1.0) }
    val df = rows.toDF("user_id", "ts", "value")
    val got = Streams.sessionize(df, Streams.nanosToTimestamp(col("ts")),
      "user_id", "120 seconds", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 0L, 220L, 3L),   // 0,10,100 merge; close = 100 + 120
      (1L, 400L, 520L, 1L),
      (2L, 50L, 170L, 1L)))

    // the close boundary is INCLUSIVE: an event exactly gap after the
    // previous one still merges; one microsecond past it splits
    val edge = Seq((9L, 0L, 1.0), (9L, 120L * 1000000000L, 1.0)).toDF("user_id", "ts", "value")
    assert(Streams.sessionize(edge, Streams.nanosToTimestamp(col("ts")),
      "user_id", "120 seconds", "value").count() == 1)
    val past = Seq((9L, 0L, 1.0), (9L, 120L * 1000000000L + 1000L, 1.0)).toDF("user_id", "ts", "value")
    assert(Streams.sessionize(past, Streams.nanosToTimestamp(col("ts")),
      "user_id", "120 seconds", "value").count() == 2)
  }

  test("sessionize runs as a STREAM: sessions finalize once the watermark passes close+gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Streams
    val M = 60L * 1000000000L // one minute in nanos

    val ms = MemoryStream[(Long, Long, Double)]
    val base = ms.toDF().toDF("ts", "user_id", "value")
    val sess = Streams.sessionize(
      Streams.withEventTime(base, col("ts"), "5 minutes"),
      col("event_time"), "user_id", "10 minutes", "value")
    val q = sess.writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // user 7: two events 2 min apart -> one session [0, 2min + gap)
      ms.addData((0L, 7L, 1.0), (2 * M, 7L, 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // watermark hasn't passed close yet
      // advance event time far enough that watermark (max - 5m) > 12m close
      ms.addData((30 * M, 7L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(rows == Set((7L, 0L, 12 * 60L, 2L, 3.0)))
    } finally q.stop()
  }

  test("repeatedSpans flags cross-doc and within-doc recurring windows, nothing else") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),      // 9 tokens, 5 windows
      (2L, "xx the quick brown fox jumps yy zz"),                // shares window @2
      (3L, "completely different words in this one here now"),   // unique
      (4L, "rep rep rep rep rep rep")                            // within-doc repeat @1,@2
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(
      (1L, 1L, "the quick brown fox jumps"),
      (2L, 2L, "the quick brown fox jumps"),
      (4L, 1L, "rep rep rep rep rep"),
      (4L, 2L, "rep rep rep rep rep")))
  }

  test("exactSubstrSpans merges shared windows into maximal removal spans") {
    // L=4. doc1/doc2 share a planted 6-token run -> three shared 4-token
    // windows each, merged into ONE maximal span of len 6; doc3 unique;
    // doc4 repeats a 4-token window within itself -> two disjoint spans.
    val docs = Seq(
      (1L, "a b c d e f tail1 tail2"),
      (2L, "head a b c d e f"),
      (3L, "totally unrelated words only here"),
      (4L, "p q r s gap1 gap2 p q r s")
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", minTokens = 4)
    val got = spans.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 6L), (2L, 2L, 6L), (4L, 1L, 4L), (4L, 7L, 4L)))
    // linear plan: no pair space anywhere (window text never joins text)
    val plan = spans.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the deletion step: spans cut, remainder stitched, all docs emitted
    val cleaned = Dedup.applyRemovalSpans(docs, spans, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(cleaned == Set(
      (1L, "tail1 tail2", 6L),
      (2L, "head", 6L),
      (3L, "totally unrelated words only here", 0L),
      (4L, "gap1 gap2", 8L)))
  }

  test("exactSubstrSpans: non-consecutive shared starts within L emit ONE disjoint span") {
    // L=4. doc5: "x y x y" recurs at starts 1 and 3 (distance 2, the
    // 2..L-1 window a start-consecutive island rule turns into two
    // OVERLAPPING rows); the in-between window "y x y x" is unique. One
    // merged span [1, 6] must come out, and summed len must equal the
    // union coverage. doc6: starts at 1 and 5 (distance exactly L) —
    // covered ranges touch, so one contiguous span of len 8.
    val docs = Seq(
      (5L, "x y x y x y z1 z2"),
      (6L, "m n o p m n o p tailz")
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", minTokens = 4)
    val got = spans.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((5L, 1L, 6L), (6L, 1L, 8L)))
    // spans per doc are pairwise disjoint (the contract consumers
    // summing len rely on): here trivially, exactly one span per doc
    val perDoc = spans.collect().groupBy(_.getLong(0))
    assert(perDoc.values.forall(_.length == 1))
    val cleaned = Dedup.applyRemovalSpans(docs, spans, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(cleaned == Set((5L, "z1 z2", 6L), (6L, "tailz", 8L)))
  }

  test("charEntropy: 0 for empty/uniform, 1 bit for a fair binary alphabet, matches driver calc") {
    val d = Seq((1L, ""), (2L, "aaaa"), (3L, "abab"), (4L, "abcd"), (5L, "hello world"))
      .toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.charEntropy(col("text")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0)
    assert(got(2L) == 0.0)
    assert(got(3L) == 1.0)
    assert(got(4L) == 2.0)
    def driverEntropy(s: String): Double = {
      val n = s.length.toDouble
      val e = s.distinct.sorted.foldLeft(0.0) { (acc, c) =>
        val p = s.count(_ == c) / n
        acc - p * (math.log(p) / math.log(2.0))
      }
      BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got(5L) == driverEntropy("hello world"))
  }

  test("asofJoin: latest strictly-earlier right row per key; equal ts excluded; no match -> null") {
    val left = Seq((100L, 1L, 50L, 5.0), (101L, 1L, 10L, 6.0), (102L, 2L, 30L, 7.0))
      .toDF("event_id", "user_id", "ts", "value")
    val right = Seq((200L, 1L, 20L, 1.0), (201L, 1L, 40L, 2.0), (202L, 1L, 50L, 3.0),
      (203L, 3L, 5L, 4.0)).toDF("event_id", "user_id", "ts", "value")
    val got = graft.streaming.Streams
      .asofJoin(left, right, "user_id", "ts", Seq("event_id", "value"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))).toSet
    // event 100 (ts=50): right ts=40 wins — the ts=50 right row is NOT
    // strictly earlier; event 101 (ts=10): nothing earlier; user 2: no
    // right rows at all
    assert(got == Set(
      (100L, Some(201L), Some(2.0)),
      (101L, None, None),
      (102L, None, None)))
  }

  test("intervalJoin: inclusive bounds, multi-bucket intervals, multi-match, no dup per pair") {
    val points = Seq((1L, 1L, 10L), (2L, 1L, 25L), (3L, 1L, 31L), (4L, 2L, 10L))
      .toDF("point_id", "user_id", "ts")
    // interval [10, 30] spans buckets 1..3 at width 10; [20, 25] nests inside
    val ivs = Seq((100L, 1L, 10L, 30L), (101L, 1L, 20L, 25L), (102L, 3L, 0L, 100L))
      .toDF("iv_id", "user_id", "start_ts", "end_ts")
    val got = graft.streaming.Streams
      .intervalJoin(points, ivs, "user_id", "ts", "start_ts", "end_ts", 10L, Seq("iv_id"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // point 1 (ts=10): on [10,30]'s start bound; point 2 (ts=25): inside
    // both intervals; point 3 (ts=31): just past end; user 2: no intervals.
    // Each qualifying pair appears exactly ONCE despite bucket replication.
    assert(got.sorted == Seq((1L, 100L), (2L, 100L), (2L, 101L)))
  }

  test("saltedJoin equals the plain join, exactly once per qualifying pair") {
    val big = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "a"))
      .toDF("id", "k")
    val dim = Seq(("a", 10L), ("b", 20L), ("d", 30L)).toDF("k", "v")
    val got = graft.ops.Joins.saltedJoin(big, "id", dim, "k", 4, Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    val plain = big.join(dim, "k").select(big("id"), big("k"), dim("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(got == plain)
    assert(got.size == 4) // key c has no dim row, key d no big rows
  }

  test("AQE splits a skewed join partition at runtime (the no-salt path)") {
    // one key owns ~2/3 of the probe side; with broadcast disabled the
    // sort-merge join's hot partition trips the (lowered) skew threshold
    // and OptimizeSkewedJoin splits it — the runtime alternative to
    // saltedJoin when the skew isn't known at authoring time
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val pay = "x" * 64
      val big = spark.range(150000).select(
        when(col("id") % 3 =!= 0, lit(0L)).otherwise(col("id") % 1000).as("k"),
        concat(lit(pay), col("id")).as("p"))
      val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      // global aggregate: a groupBy on the JOIN KEY would share the join's
      // partitioning, and OptimizeSkewedJoin declines rather than insert
      // the extra exchange a split would then require
      val q = big.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), max(length(col("p"))).as("m"))
      val (n, sv, _) = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).head
      // correctness first: the split join loses/duplicates nothing
      assert(n == 150000L)
      assert(sv == (0L until 150000L).map(i => if (i % 3 != 0) 0L else (i % 1000) * 2).sum)
      // and the final adaptive plan actually split the hot partition
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(4000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("redactPii masks emails, IPs and phones, leaves clean text alone") {
    val df = Seq(
      "write to bob.smith+x@corp.example.org today",
      "server at 192.168.0.1 answered",
      "call +14155550123 now",
      "nothing sensitive here 1.2 or a@b").toDF("text")
    val out = df.select(graft.ops.Curation.redactPii(col("text")))
      .collect().map(_.getString(0))
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "server at <IP> answered")
    assert(out(2) == "call <PHONE> now")
    assert(out(3) == "nothing sensitive here 1.2 or a@b")
  }

  test("chunk emits overlapping windows and drops empty docs") {
    val df = Seq((1L, "a b c d e f g"), (2L, "   ")).toDF("doc_id", "text")
    val rows = graft.ops.Curation.chunk(df, "doc_id", "text", width = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.toSet == Set(
      (1L, 0L, 3L, "a b c"), (1L, 1L, 3L, "c d e"),
      (1L, 2L, 3L, "e f g"), (1L, 3L, 1L, "g")))
  }

  test("chunk with stride == width partitions the token stream exactly") {
    val df = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")).toDF("doc_id", "text")
    val rows = graft.ops.Curation.chunk(df, "doc_id", "text", width = 4, stride = 4)
      .orderBy("chunk_idx").collect()
    assert(rows.map(_.getString(3)).mkString(" ") ==
      "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")
    assert(rows.map(_.getLong(2)).sum == 11)
  }

  test("scoreLinear: exact integer logit, sign-exact accept") {
    // all-stopword doc: 15 words, 15 stops, 0 symbols
    //   logit = -3M + 40000*15 + 300000*15 = 2_100_000 > 0
    // symbol doc: 3 words, 0 stops, 12 symbols
    //   logit = -3M + 120000 - 2_400_000 = -5_280_000 < 0
    val df = Seq(
      (1L, "the and of to in a is it is the and of to in a"),
      (2L, "@@@@ #### $$$$")).toDF("doc_id", "text")
    val out = graft.ops.Curation.scoreLinear(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((2100000L, true)))
    assert(out(2L) == ((-5280000L, false)))
  }

  test("dedupAgainstBloom matches exact semantics even with forced false positives") {
    val seen = Seq((0L, "alpha"), (2L, "beta"), (4L, "gamma")).toDF("doc_id", "text")
    val batch = Seq((1L, "alpha"), (3L, "delta"), (5L, "beta"), (7L, "epsilon"),
      (9L, "zeta")).toDF("doc_id", "text")
    // 64-bit filter over 3 items → near-certain false positives; the exact
    // confirm join must still produce the exact answer
    val kept = graft.ops.Dedup.dedupAgainstBloom(batch, seen, "text",
      expectedItems = 3, numBits = 64)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 7L, 9L))
  }

  test("dedupAgainstBloom with empty seen keeps the whole batch") {
    val seen = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.dedupAgainstBloom(batch, seen, "text").count() == 2)
  }

  test("dedupAgainst drops batch rows whose text is in seen, keeps the rest") {
    val seen = Seq((0L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq((1L, "alpha"), (3L, "gamma"), (5L, "beta"), (7L, "delta"))
      .toDF("doc_id", "text")
    val kept = graft.ops.Dedup.dedupAgainst(batch, seen, "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 7L))
  }

  test("dedupAgainst / dedupAgainstBloom: a batch column named like a lane does not steer the screen") {
    val seen = Seq((0L, "alpha")).toDF("doc_id", "text")
    val batch = Seq((1L, "alpha", 7L, 8L), (3L, "gamma", 7L, 8L)).toDF("doc_id", "text", "ck1", "ck2")
    for (kept <- Seq(graft.ops.Dedup.dedupAgainst(batch, seen, "text"),
        graft.ops.Dedup.dedupAgainstBloom(batch, seen, "text", expectedItems = 3, numBits = 64)))
      assert(kept.collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("unigramLogProb matches a driver-side computation") {
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // corpus: a×2, b×2, c×1, N=5; mirror the operator's arithmetic exactly:
    // per-token logp rounded to 9 dp, exact decimal sum, double mean, 6 dp
    def lp(tf: Int) = BigDecimal(math.log(tf) - math.log(5))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def mean(lps: Seq[BigDecimal]) = BigDecimal(lps.sum.toDouble / lps.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = TextAnalysis.unigramLogProb(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(rows(1L) == ((mean(Seq(lp(2), lp(2), lp(2))), 3L)))
    assert(rows(2L) == ((mean(Seq(lp(2), lp(1))), 2L)))
  }

  test("tfIdf matches a driver-side computation") {
    val docs = Seq(
      (1L, "a a b"),
      (2L, "a c"),
      (3L, "c c c d")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdf(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val n = 3.0
    def e(tf: Long, df: Long): Double =
      BigDecimal(tf * math.log(n / df)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.size == 6)
    assert(got((1L, "a")) == ((2L, 2L, e(2, 2))))
    assert(got((1L, "b")) == ((1L, 1L, e(1, 1))))
    assert(got((2L, "a")) == ((1L, 2L, e(1, 2))))
    assert(got((2L, "c")) == ((1L, 2L, e(1, 2))))
    assert(got((3L, "c")) == ((3L, 2L, e(3, 2))))
    assert(got((3L, "d")) == ((1L, 1L, e(1, 1))))
  }

  // ---------- binary quantization + MRL two-stage search ----------

  test("hammingTopK matches a driver-side sign-comparison oracle") {
    val dim = Queries.Dim
    val rows = emb.where(col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val oracle = rows.map { case (id, v) =>
      (id, v.indices.count(i => (v(i) > 0f) != (probe(i) > 0f)).toLong)
    }.sortBy { case (id, h) => (h, id) }.take(10)
    val sigs = BinaryQuant.signatures(emb, "vec_id", "embedding", dim)
    val got = BinaryQuant.hammingTopK(sigs, "vec_id", probe, dim, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == oracle.toSeq)
  }

  test("binary rerank and mrlTopK recover most of the exact top-k") {
    val exact = Knn.fullScan(emb, "vec_id", "embedding", probe, 10, "l2")
      .collect().map(_.getLong(0)).toSet
    val sigs = BinaryQuant.signatures(emb, "vec_id", "embedding", Queries.Dim)
    val bin = BinaryQuant.rerankTopK(sigs, emb, "vec_id", "embedding",
      probe, Queries.Dim, c = 50, k = 10, metric = "l2")
      .collect().map(_.getLong(0)).toSet
    val mrl = Knn.mrlTopK(emb, "vec_id", "embedding", probe,
      coarseDim = 16, c = 50, k = 10, metric = "l2")
      .collect().map(_.getLong(0)).toSet
    // both shortlists are 5x overscan of k; sign bits / 16-dim prefixes
    // are crude but must land well above chance on 6k rows
    assert(exact.intersect(bin).size >= 5, s"binary recall ${exact.intersect(bin).size}/10")
    assert(exact.intersect(mrl).size >= 5, s"mrl recall ${exact.intersect(mrl).size}/10")
  }

  test("random_projection: exact vs driver math, JL distance preservation, fail-fast") {
    import graft.functions.random_projection
    val rows = emb.where(col("embedding").isNotNull)
      .select("vec_id", "embedding").limit(50).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planes = graft.kernels.Sketches.planes(16, Queries.Dim, 42L)
    val scale = 1.0 / math.sqrt(16.0)
    def proj(v: Array[Float]): Array[Double] =
      planes.map(p => p.indices.foldLeft(0.0)((a, i) => a + v(i).toDouble * p(i)) * scale)
    val got = emb.where(col("embedding").isNotNull).where(col("vec_id") < 50)
      .select(col("vec_id"), random_projection(col("embedding"), 16, Queries.Dim))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    rows.filter(_._1 < 50).foreach { case (id, v) =>
      val e = proj(v)
      assert(got(id).zip(e).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    }
    // JL: projected pairwise L2 within a loose band of the original
    def l2(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum)
    val sample = rows.take(10)
    var ok = 0; var tot = 0
    for (i <- sample.indices; j <- (i + 1) until sample.length) {
      val dOrig = l2(sample(i)._2.map(_.toDouble), sample(j)._2.map(_.toDouble))
      val dProj = l2(proj(sample(i)._2), proj(sample(j)._2))
      tot += 1
      if (dProj > 0.4 * dOrig && dProj < 1.8 * dOrig) ok += 1
    }
    assert(ok >= tot * 8 / 10, s"JL preservation $ok/$tot")
    val short = Seq((1L, Array(1.0f, -1.0f))).toDF("id", "v")
    intercept[Exception] {
      short.select(random_projection(col("v"), 4, 8)).collect()
    }
  }

  test("mrlTopKStored equals mrlTopK; stage-1 scan never reads the full vector column") {
    val dir = java.nio.file.Files.createTempDirectory("mrlstore").toString + "/mrl"
    Knn.writeMrl(emb, "vec_id", "embedding", dir, 16)
    val store = spark.read.parquet(dir)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSeq
    val got = rows(Knn.mrlTopKStored(store, "vec_id", "prefix", "embedding",
      probe, 16, 50, 10, "l2"))
    val want = rows(Knn.mrlTopK(emb, "vec_id", "embedding", probe, 16, 50, 10, "l2"))
    assert(got == want)
    // column pruning: the coarse projection's parquet scan reads only
    // (vec_id, prefix) — the full vector column chunk is never touched
    val s1 = store.select(col("vec_id"),
      graft.functions.vector_distance(col("prefix"),
        graft.functions.vectorLit(probe.take(16)), "l2").as("d"))
    val scan = s1.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(!scan.requiredSchema.fieldNames.contains("embedding"),
      scan.requiredSchema.treeString)
  }

  test("nearDupAgainst drops batch rows near-dup to seen, keeps fresh; store accretes") {
    val seen = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark vector engines at scale")
    ).toDF("id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 1
      (11L, "the quick brown fox jumps over the lazy dog again and again"),  // exact dup of 1
      (12L, "a wholly novel document that matches nothing in the seen set")
    ).toDF("id", "text")
    val store = Dedup.nearDupStore(seen, "id", "text", 64, 16, 3)
    val kept = Dedup.nearDupAgainst(batch, store, "id", "text", 64, 16, 3, 0.7)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L), s"kept $kept")
    // accretion: union the accepted slice into the store; a re-sent copy
    // of the accepted doc is now itself screened out
    val accepted = batch.where(col("id") === 12L)
    val acc = Dedup.nearDupStore(accepted, "id", "text", 64, 16, 3)
    val store2 = Dedup.NearDupStore(
      store.bands.unionByName(acc.bands), store.payload.unionByName(acc.payload))
    val batch2 = Seq(
      (20L, "a wholly novel document that matches nothing in the seen set"), // dup of accepted 12
      (21L, "yet another genuinely fresh piece of text nothing resembles")
    ).toDF("id", "text")
    val kept2 = Dedup.nearDupAgainst(batch2, store2, "id", "text", 64, 16, 3, 0.7)
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(21L), s"kept2 $kept2")
  }

  test("bucketed tables join with ZERO exchanges on either side") {
    val tmp = java.nio.file.Files.createTempDirectory("bktstore").toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice")
    Joins.writeBucketed(orders, "t_orders", s"$tmp/orders", "o_orderkey", 4)
    Joins.writeBucketed(li, "t_lineitem", s"$tmp/lineitem", "l_orderkey", 4)
    // forbid broadcast so the co-location (not a BroadcastExchange) is
    // what eliminates the shuffle; AQE off for stable plan inspection
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = spark.table("t_orders")
        .join(spark.table("t_lineitem"), col("o_orderkey") === col("l_orderkey"))
      val nExchanges = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.size
      assert(nExchanges == 0, s"expected zero exchanges, got $nExchanges:\n${j.queryExecution.executedPlan}")
      // and the result matches the plain (shuffled) join
      val got = j.count()
      val expected = orders.join(li, col("o_orderkey") === col("l_orderkey")).count()
      assert(got == expected && got > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS t_orders")
      spark.sql("DROP TABLE IF EXISTS t_lineitem")
    }
  }

  test("quantizeAppend: frozen params, clamp on envelope drift, truthful sidecar rows") {
    val dir = java.nio.file.Files.createTempDirectory("qappend").toString + "/store"
    val base = Seq(
      (1L, Array(0.0f, 0.5f, 1.0f, 0.25f)),
      (2L, Array(0.1f, 0.9f, 0.3f, 0.7f))
    ).toDF("id", "vec")
    val (p, n0) = Quantizer.quantize(base, "id", "vec", dir, dim = 4)
    assert(n0 == 2)
    // wave inside the envelope + one vector OUTSIDE it (2.0 > max 1.0):
    // the default onDrift="fail" must reject BEFORE any write...
    val wave = Seq(
      (3L, Array(0.2f, 0.4f, 0.6f, 0.8f)),
      (4L, Array(2.0f, -1.0f, 0.5f, 0.0f))
    ).toDF("id", "vec")
    val ex = intercept[IllegalArgumentException] {
      Quantizer.quantizeAppend(wave, "id", "vec", dir, dim = 4)
    }
    assert(ex.getMessage.contains("envelope"))
    assert(spark.read.parquet(dir).count() == 2, "rejected append must not write")
    assert(graft.catalog.VectorCatalog.readSidecar(s"$dir/_vector_meta.json").rows == 2)
    // ...an in-envelope wave passes the default check untouched...
    assert(Quantizer.quantizeAppend(
      wave.where(col("id") === 3L), "id", "vec", dir, dim = 4) == 1)
    assert(spark.read.parquet(dir).count() == 3)
    // ...and onDrift="allow" consciously opts into the saturating clamp
    val appended = Quantizer.quantizeAppend(
      wave.where(col("id") === 4L), "id", "vec", dir, dim = 4, onDrift = "allow")
    assert(appended == 1)
    val p2 = graft.catalog.VectorCatalog.readSidecar(s"$dir/_vector_meta.json")
    assert(p2.scale == p.scale && p2.offset == p.offset && p2.qType == p.qType,
      "append must not change the frozen params")
    assert(p2.rows == 4, s"sidecar rows ${p2.rows}")
    val store = spark.read.parquet(dir)
    assert(store.count() == 4)
    // out-of-envelope lanes saturate at the clamp exactly like in-place
    // quantization of the same value would
    val code4 = store.where(col("id") === 4L).head().getAs[Array[Byte]]("code")
    val expected4 = graft.kernels.Quantize.codes(Array(2.0f, -1.0f, 0.5f, 0.0f), p)
    assert(code4.toSeq == expected4.toSeq)
  }

  test("compact merges append waves' files; codes and sidecar unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("qcompact").toString + "/store"
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, Array(i * 0.1f % 1.0f, 0.5f, 0.25f, 0.75f))).toDF("id", "vec")
    Quantizer.quantize(mk(0L until 4L), "id", "vec", dir, dim = 4)
    (1 to 5).foreach(w => Quantizer.quantizeAppend(
      mk((w * 10L) until (w * 10L + 4L)), "id", "vec", dir, dim = 4))
    def files() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val filesBefore = files()
    assert(filesBefore >= 6, s"expected one file set per wave, got $filesBefore")
    val pBefore = graft.catalog.VectorCatalog.readSidecar(s"$dir/_vector_meta.json")
    val n = Quantizer.compact(spark, dir, dim = 4)
    assert(files() < filesBefore, s"${files()} vs $filesBefore")
    val after = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(after == before)
    val pAfter = graft.catalog.VectorCatalog.readSidecar(s"$dir/_vector_meta.json")
    assert(pAfter == pBefore && n == pAfter.rows)
  }

  test("heavyHitters fails fast when the top-N is not certifiable") {
    // 300 distinct tokens, each appearing once: with sketchK=10 the bound
    // n/(k+1) = 27 dwarfs every count — no top-5 claim is certifiable
    val text = (0 until 300).map(i => s"tok$i").mkString(" ")
    val docs = Seq(text).toDF("text")
    val ex = intercept[IllegalArgumentException] {
      Curation.heavyHitters(docs, "text", topN = 5, sketchK = 10)
    }
    assert(ex.getMessage.contains("uncertifiable"))
    // certify=false returns the best-effort survivors instead of throwing
    // (an all-unique stream legitimately leaves < topN counters standing)
    assert(Curation.heavyHitters(docs, "text", topN = 5, sketchK = 10,
      certify = false).collect().length <= 5)
  }

  test("partitioned event store prunes to the filtered event_type dirs") {
    val dir = java.nio.file.Files.createTempDirectory("evstore").toString + "/events"
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "event_type", "value")
    events.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val nTypes = new java.io.File(dir).listFiles().count(_.getName.startsWith("event_type="))
    assert(nTypes == 5)
    // AQE wraps the executed plan in query stages, hiding the scan node
    // from collect(); this assertion is about pruning, not re-planning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (q, got) = try {
      val q0 = spark.read.parquet(dir)
        .where(col("event_type").isin("purchase", "signup"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      (q0, q0.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val expected = events.where(col("event_type").isin("purchase", "signup"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected && got.size == 2)
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    // 2 of the 5 event_type partition dirs listed (InputMetrics-grade)
    val numFiles = scan.metrics("numFiles").value
    val filesPerType = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("event_type="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum / 5
    assert(numFiles <= 2 * math.max(filesPerType, 1) && numFiles >= 1,
      s"numFiles=$numFiles filesPerType=$filesPerType")
  }

  test("dim-filtered join dynamically prunes fact partitions (DPP fires, files skipped)") {
    val base = java.nio.file.Files.createTempDirectory("dppstore").toString
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "event_type", "value")
    events.write.mode("overwrite").partitionBy("event_type").parquet(base + "/events")
    // dim MUST be a datasource scan: a filtered createDataFrame folds to a
    // LocalRelation and the pruning rule no longer sees a predicate
    events.select(col("event_type").as("etype")).distinct()
      .withColumn("category", when(col("etype").isin("purchase", "signup"),
        "conversion").otherwise("engagement"))
      .write.mode("overwrite").parquet(base + "/dim")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (q, got) = try {
      val fact = spark.read.parquet(base + "/events")
      val dim = spark.read.parquet(base + "/dim").where(col("category") === "conversion")
      val q0 = graft.ops.Joins.dimPrunedFactJoin(fact, "event_type", dim, "etype")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      (q0, q0.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the runtime IN filter landed in the fact scan's partition filters
    val factScan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.exists(_.toString.contains("dynamicpruning")) => f
    }
    assert(factScan.nonEmpty, q.queryExecution.executedPlan.toString)
    // and it actually skipped directories: 2 of 5 event_type dirs read
    val totalFiles = new java.io.File(base + "/events").listFiles()
      .filter(_.getName.startsWith("event_type="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val numFiles = factScan.head.metrics("numFiles").value
    assert(numFiles < totalFiles && numFiles >= 1,
      s"numFiles=$numFiles totalFiles=$totalFiles")
    // pruning lost no rows
    val expected = events.where(col("event_type").isin("purchase", "signup"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected && got.size == 2)
  }

  test("tombstone sidecar: waves accumulate, reads exclude, compaction folds and resets") {
    import graft.ops.Layout
    val base = java.nio.file.Files.createTempDirectory("tombstore").toString
    (0L until 100L).toDF("id").write.mode("overwrite").parquet(base + "/store")
    def liveIds() = Layout.readWithTombstones(spark, base + "/store", base + "/tombs", "id")
      .collect().map(_.getLong(0)).toSet
    // missing sidecar = the plain store
    assert(liveIds() == (0L until 100L).toSet)
    Layout.appendTombstones(Seq(3L, 7L).toDF("id"), "id", base + "/tombs")
    Layout.appendTombstones(Seq(7L, 11L).toDF("id"), "id", base + "/tombs") // overlap ok
    assert(liveIds() == (0L until 100L).toSet -- Set(3L, 7L, 11L))
    // plan: merge-on-read is one LEFT ANTI join; store side has no shuffle
    val q = Layout.readWithTombstones(spark, base + "/store", base + "/tombs", "id")
    q.count()
    assert(q.queryExecution.executedPlan.toString.contains("LeftAnti"))
    // compaction folds the deletes into the store bytes and drops the sidecar
    Layout.compactTombstones(spark, base + "/store", base + "/tombs", "id")
    assert(spark.read.parquet(base + "/store").collect().map(_.getLong(0)).toSet ==
      (0L until 100L).toSet -- Set(3L, 7L, 11L))
    assert(!new java.io.File(base + "/tombs").exists())
    // the cycle restarts: post-compaction takedowns apply to the new store
    Layout.appendTombstones(Seq(20L).toDF("id"), "id", base + "/tombs")
    assert(liveIds() == (0L until 100L).toSet -- Set(3L, 7L, 11L, 20L))
  }

  test("upsert sidecar: latest wave wins, as-of reads time-travel, base never rewritten") {
    import graft.ops.Layout
    val base = java.nio.file.Files.createTempDirectory("upsstore").toString
    (0L until 20L).map(i => (i, s"v0_$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(base + "/store")
    def read(asOf: Option[Long] = None) =
      Layout.readWithUpserts(spark, base + "/store", base + "/ups", "id", asOf)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(read() == (0L until 20L).map(i => i -> s"v0_$i").toMap) // no sidecar yet
    Layout.appendUpserts(Seq((5L, "v1_5"), (10L, "v1_10")).toDF("id", "v"), base + "/ups", 1)
    Layout.appendUpserts(Seq((10L, "v2_10"), (21L, "v2_21")).toDF("id", "v"), base + "/ups", 2)
    val latest = read()
    assert(latest(5L) == "v1_5" && latest(10L) == "v2_10") // wave 2 beats wave 1
    assert(latest(21L) == "v2_21" && latest.size == 21)    // upsert of a NEW id inserts
    assert(latest(3L) == "v0_3")
    // time travel: as-of wave 1 hasn't seen wave 2; as-of 0 is the base
    val asOf1 = read(Some(1L))
    assert(asOf1(10L) == "v1_10" && asOf1.get(21L).isEmpty)
    assert(read(Some(0L)) == (0L until 20L).map(i => i -> s"v0_$i").toMap)
    // compaction folds latest-wins into the base and resets the sidecar
    Layout.compactUpserts(spark, base + "/store", base + "/ups", "id")
    assert(!new java.io.File(base + "/ups").exists())
    assert(spark.read.parquet(base + "/store")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == latest)
  }

  test("extractMainContent: boilerplate drops, prose survives the word x link-density rule") {
    import graft.ops.TextAnalysis
    val html =
      "<html><head><title>T</title></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
        "<div id=\"cookie-consent\">We use cookies on this site always. <a href=\"#\">Accept</a></div>" +
        "<p>one two three four</p>" + // 4 words < minWords=5 -> drops
        "<p>one two three four five</p>" + // exactly 5 -> keeps
        "<p>The quick brown fox jumps over the lazy dog near &amp; far.</p>" + // entity decodes
        "<p>More: <a>a very long anchor text that dominates this block</a> end</p>" + // density -> drops
        "<p>He linked <a>once</a> inside a paragraph that is mostly prose text.</p>" + // keeps
        "<header>Site brand tagline repeated on every page</header>" + // <header> dies on ITS OWN pattern
        "<footer>Copyright 2026 Example Corp all rights reserved</footer></body></html>"
    val out = Seq(html).toDF("h")
      .select(TextAnalysis.extractMainContent(col("h")).as("m")).head().getString(0)
    assert(out == "one two three four five " +
      "The quick brown fox jumps over the lazy dog near & far. " +
      "He linked once inside a paragraph that is mostly prose text.")
    // <head...> patterns must not eat an <h1> headline or a word like "heading"
    val h1 = "<body><h1>Primary heading words stay visible here</h1></body>"
    val got = Seq(h1).toDF("h")
      .select(TextAnalysis.extractMainContent(col("h"), minWords = 3).as("m")).head().getString(0)
    assert(got == "Primary heading words stay visible here")
    // malformed markup degrades, never errors: unterminated div keeps its text
    val bad = "<div class=\"x\">An unterminated container with plenty of words inside it"
    val g2 = Seq(bad).toDF("h")
      .select(TextAnalysis.extractMainContent(col("h")).as("m")).head().getString(0)
    assert(g2 == "An unterminated container with plenty of words inside it")
  }

  test("canonicalUrl: scheme/host case, default ports, fragments, tracking params, bare path") {
    import graft.ops.TextAnalysis
    def canon(u: String): String = Seq(u).toDF("u")
      .select(TextAnalysis.canonicalUrl(col("u"))).head().getString(0)
    assert(canon("HTTP://Example.COM:80/Path/a?utm_source=x&q=1&fbclid=z#f") ==
      "http://example.com/Path/a?q=1")
    // path + query case PRESERVED; only scheme/host fold
    assert(canon("https://A.B/CaseSensitive?Q=V") == "https://a.b/CaseSensitive?Q=V")
    // https default port strips, explicit non-default port stays
    assert(canon("https://x.org:443/p") == "https://x.org/p")
    assert(canon("https://x.org:8443/p") == "https://x.org:8443/p")
    assert(canon("http://x.org:8080/") == "http://x.org:8080")
    // bare or slash-only path with no surviving query collapses
    assert(canon("https://Sub.Test.ORG:443/?utm_campaign=c") == "https://sub.test.org")
    assert(canon("http://host.com") == "http://host.com")
    // tracking-only vs mixed queries; separators heal after the filter
    assert(canon("http://h.co/p?utm_a=1&x=2&gclid=3&y=4") == "http://h.co/p?x=2&y=4")
    // keep-first dedup keyed on the canonical form
    val rows = Seq((3L, "http://A.com/p?utm_s=1"), (1L, "HTTP://a.COM:80/p"),
      (2L, "http://a.com/p#frag"), (9L, "http://b.com/p")).toDF("id", "url")
    val kept = TextAnalysis.dedupByCanonicalUrl(rows, "id", "url")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(kept == Set((1L, "http://a.com/p"), (9L, "http://b.com/p")))
  }

  test("Unigram viterbi: probability-driven segmentation with deterministic tie-breaks") {
    import graft.ops.Unigram
    def seg(word: String, toks: Seq[(String, Long)]): Seq[String] = {
      val words = Seq((word, 1L)).toDF("word", "n")
      val tokens = toks.toDF("tok", "c")
      Unigram.viterbi(words, "word", "n", tokens, maxPieceLen = 4)
        .head().getSeq[String](2)
    }
    // merged token twice as frequent -> the pair beats four singles
    assert(seg("abab", Seq(("a", 4L), ("b", 4L), ("ab", 8L))) == Seq("ab", "ab"))
    // rare merged token -> singles win despite k=4
    assert(seg("abab", Seq(("a", 8L), ("b", 8L), ("ab", 1L))) == Seq("a", "b", "a", "b"))
    // equal weights: fewer pieces wins outright
    assert(seg("abab", Seq(("a", 5L), ("b", 5L), ("ab", 5L), ("abab", 5L))) == Seq("abab"))
    assert(seg("abab", Seq(("a", 5L), ("b", 5L), ("ab", 5L))) == Seq("ab", "ab"))
    // same score, same k: the LONGER FINAL piece wins ([a,aa] over [aa,a])
    assert(seg("aaa", Seq(("a", 5L), ("aa", 5L))) == Seq("a", "aa"))
    // a word with a character outside the table is dropped, not mangled
    val dropped = Unigram.viterbi(Seq(("xyz", 1L)).toDF("word", "n"),
      "word", "n", Seq(("x", 1L), ("y", 1L)).toDF("tok", "c"), 4)
    assert(dropped.count() == 0)
  }

  test("tokenizer-training volume observers match the explode arithmetic") {
    val v = Seq(("banana", 20L), ("ab", 10L), ("x", 5L)).toDF("word", "n")
    // banana: 6+5+4 windows; ab: 2+1; x: 1 -> 19 at maxPieceLen=3
    assert(graft.ops.Unigram.candidateRows(v, "word", 3) === 19L)
    // pair adjacencies: banana 5, ab 1, x excluded -> 6
    assert(graft.ops.Bpe.pairRows(v, "word") === 6L)
    // empty vocabulary: zero, not a null crash
    assert(graft.ops.Unigram.candidateRows(v.limit(0), "word", 3) === 0L)
    assert(graft.ops.Bpe.pairRows(v.limit(0), "word") === 0L)
  }

  test("Unigram learn: coverage, reconstruction and determinism on a toy corpus") {
    import graft.ops.Unigram
    val words = Seq(("banana", 20L), ("bandana", 10L), ("cab", 5L), ("an", 15L))
      .toDF("word", "n")
    val vocab = Unigram.learn(words, "word", "n", maxPieceLen = 3, topKeep = 5, rounds = 2)
    val toks = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every corpus character survives as a single (coverage floor)
    assert(Set("b", "a", "n", "d", "c").subsetOf(toks.keySet))
    assert(toks.values.forall(_ >= 1L))
    // multi-char tokens bounded by topKeep
    assert(toks.keys.count(_.length > 1) <= 5)
    // every word still reconstructs under the final vocabulary
    val enc = Unigram.encode(words, "word", "n", vocab, 3)
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(enc.size == 4)
    enc.foreach { case (w, p) => assert(p.replace("|", "") == w) }
    // "an" is the dominant bigram (45 weighted occurrences) - it must be learned
    assert(toks.contains("an"))
    assert(enc("an") == "an")
    // determinism: an independent second run is identical
    val again = Unigram.learn(words, "word", "n", 3, 5, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == toks)
  }

  test("sitemapUrls: field extraction, optional fields empty, empty-loc dropped and reindexed") {
    import graft.ops.Robots
    val xml = "<?xml version=\"1.0\"?><urlset>" +
      "<url><loc>https://a.io/1</loc><lastmod>2026-01-02</lastmod><priority>0.8</priority></url>" +
      "<url><loc></loc><priority>0.9</priority></url>" + // no loc -> dropped
      "<url><lastmod>x</lastmod></url>" +                 // no loc at all -> dropped
      "<url><loc>https://a.io/2</loc></url></urlset>"
    val got = Robots.sitemapUrls(Seq((7L, xml), (8L, "not xml")).toDF("id", "xml"), "id", "xml")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(got.toSeq == Seq(
      (7L, 0L, "https://a.io/1", "2026-01-02", "0.8"),
      (7L, 1L, "https://a.io/2", "", "")))
  }

  test("scriptMix: range classification, dominant tie-breaks, und on no-script text") {
    import graft.ops.TextAnalysis
    val d = Seq(
      (1L, "hello мир"),          // 5 latin vs 3 cyrillic -> latin
      (2L, "режим on"),           // 5 cyrillic vs 2 latin -> cyrillic
      (3L, "αβ 中文 ab"),          // 2 greek, 2 cjk, 2 latin -> tie: min name = cjk
      (4L, "123 !?"),             // nothing classifies -> und
      (5L, "")).toDF("id", "text")
    val got = d.select(col("id"), TextAnalysis.scriptMix(col("text")).as("r"))
      .select(col("id"), col("r.n_latin"), col("r.n_cyrillic"), col("r.n_cjk"),
        col("r.n_greek"), col("r.dominant"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(got(1L) == ((5L, 3L, 0L, 0L, "latin")))
    assert(got(2L) == ((2L, 5L, 0L, 0L, "cyrillic")))
    assert(got(3L) == ((2L, 0L, 2L, 2L, "cjk")))
    assert(got(4L) == ((0L, 0L, 0L, 0L, "und")))
    assert(got(5L) == ((0L, 0L, 0L, 0L, "und")))
  }

  test("fleschScore: hand-counted syllables/sentences/words; silent-e rule; empty floors") {
    import graft.ops.TextAnalysis
    val d = Seq(
      // tokens keep punctuation (cleanTokens contract): the(1) cat(1)
      // sat(1) "here."(e,e = 2 — the '.' blocks the silent-e rule, as
      // documented: the heuristic sees surface tokens) "ok!"(1)
      // sentences: 2; syllables: 6
      (1L, "The cat sat here. Ok!"),
      // "table": groups a,e = 2; ends 'le' -> NOT dropped -> 2
      // "see": groups ee = 1; ends 'e' but g=1 -> floor keeps 1
      (2L, "table see"),
      (3L, "")).toDF("id", "text")
    val m = TextAnalysis.fleschScore(d, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(m(1L)._1 == 5L && m(1L)._2 == 2L && m(1L)._3 == 6L)
    assert(math.abs(m(1L)._4 - (206.835 - 1.015 * 2.5 - 84.6 * 1.2)) < 2e-6)
    assert(m(2L)._1 == 2L && m(2L)._2 == 1L && m(2L)._3 == 3L)
    assert(math.abs(m(2L)._4 - (206.835 - 1.015 * 2 - 84.6 * 1.5)) < 2e-6)
    assert(m(3L)._1 == 0L && m(3L)._2 == 1L && m(3L)._3 == 0L)
  }

  test("registeredDomain: longest-suffix wins, bare suffix empty, unlisted TLD default rule") {
    import graft.ops.TextAnalysis
    val psl = Seq("com", "co.uk", "uk", "github.io")
    val d = Seq((1L, "www.shop.example.co.uk"), (2L, "a.b.example.com"),
      (3L, "co.uk"), (4L, "site.zz"), (5L, "user.github.io"),
      // "scom.com"-style trap: suffix must anchor at a dot, so host
      // "notcom" must NOT match suffix "com" by substring
      (6L, "notcom")).toDF("id", "host")
    val got = d.select(col("id"), TextAnalysis.registeredDomain(col("host"), psl).as("r"))
      .select(col("id"), col("r.suffix"), col("r.registered_domain"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L) == (("co.uk", "example.co.uk")))   // co.uk beats uk
    assert(got(2L) == (("com", "example.com")))
    assert(got(3L) == (("co.uk", "")))                // bare suffix
    assert(got(4L) == (("zz", "site.zz")))            // default rule
    assert(got(5L) == (("github.io", "user.github.io"))) // private-suffix entry
    assert(got(6L) == (("notcom", "")))               // own last label = whole host
  }

  test("c4LineFilter: terminal-punct/min-words/javascript line rules; page flags ride along") {
    import graft.ops.Curation
    val d = Seq(
      (1L, "A good first sentence right here.\nHOME | ABOUT\ntiny.\n" +
        "Please enable JavaScript to continue loading.\nAnother fine sentence survives the cut!"),
      (2L, "var x = { a: 1 };\nlorem ipsum filler text goes here."),
      (3L, "")).toDF("id", "text")
    val got = Curation.c4LineFilter(d, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(got(1L) == (("A good first sentence right here.\nAnother fine sentence survives the cut!",
      5L, 2L, false, false)))
    // the code line fails the punct rule; the lorem line is a REAL
    // sentence (kept) — the page-level signal is a flag, not a drop
    assert(got(2L) == (("lorem ipsum filler text goes here.", 2L, 1L, true, true)))
    assert(got(3L) == (("", 1L, 0L, false, false)))
  }

  test("redactCards: Luhn gate separates real PANs from card-shaped noise") {
    import graft.ops.Curation
    val d = Seq(
      (1L, "pay 4111-1111-1111-1111 now"),        // valid 16-digit, separators
      (2L, "order 1234 5678 9012 3456 shipped"),   // Luhn-invalid, survives
      (3L, "id 79927398713"),                      // 11 digits: below floor
      (4L, "visa13 4222222222222 ok"),             // valid 13-digit
      (5L, "4111111111111111 and 4111111111111111"), // both occurrences mask
      (6L, "digits 12345678901234567890")           // 20-run: no candidate
    ).toDF("id", "text")
    val got = d.select(col("id"), Curation.redactCards(col("text")).as("r"))
      .select(col("id"), col("r.n_cards"), col("r.clean"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got(1L) == ((1L, "pay <CARD> now")))
    assert(got(2L) == ((0L, "order 1234 5678 9012 3456 shipped")))
    assert(got(3L) == ((0L, "id 79927398713")))
    assert(got(4L) == ((1L, "visa13 <CARD> ok")))
    assert(got(5L) == ((2L, "<CARD> and <CARD>")))
    assert(got(6L) == ((0L, "digits 12345678901234567890")))
  }

  test("fixMojibake repairs the CP1252 digraph table; clean text is untouched") {
    import graft.ops.TextAnalysis
    val d = Seq(
      (1L, "Ã©lÃ¨ve dÃ©jÃ¡ â€” itâ€™s â€œfineâ€¦ 25Â° Â«okÂ» grÃ¼n faÃ§ade niÃ±o"),
      (2L, "already clean: élève — it’s “fine… 25° «ok»"),
      (3L, "")).toDF("id", "text")
    val got = d.select(col("id"), TextAnalysis.fixMojibake(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "élève déjá — it’s “fine… 25° «ok» grün façade niño")
    // right-hand sides never re-match: repaired text is a fixed point
    assert(got(2L) == "already clean: élève — it’s “fine… 25° «ok»")
    assert(got(3L) == "")
  }

  test("Robots: *-group selection, CRLF, empty-rule drop, longest-match/tie verdicts, no-rules default") {
    import graft.ops.Robots
    val robots = Seq(
      // CRLF endings, a non-* group that must be ignored, an empty
      // Disallow (matches nothing, dropped), two * groups that merge
      ("a.io", "User-agent: gptbot\r\nDisallow: /\r\n\r\nUser-agent: *\r\nDisallow: /x\r\n" +
        "Disallow:\r\n\r\nUser-agent: *\r\nAllow: /x/pub\r\n"),
      ("b.io", "User-agent: other\nDisallow: /\n")).toDF("host", "txt")
    val rules = Robots.parseRules(robots, "host", "txt")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSet
    assert(rules == Set(("a.io", false, "/x"), ("a.io", true, "/x/pub")))
    val urls = Seq(
      (1L, "a.io", "/x/priv"),   // only Disallow /x matches -> blocked
      (2L, "a.io", "/x/pub/1"),  // Allow /x/pub (6) beats Disallow /x (2)
      (3L, "a.io", "/ok"),       // no rule matches -> allowed
      (4L, "b.io", "/x/priv"),   // no *-rules for host -> allowed
      (5L, "c.io", "/anything")  // host absent entirely -> allowed
    ).toDF("id", "host", "path")
    val got = Robots.robotsFilter(urls, "id", "host", "path",
      Robots.parseRules(robots, "host", "txt"), "host")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true, 5L -> true))
  }

  test("Warc records: Content-Length framing survives embedded magic; malformed tail stops leniently") {
    import graft.ops.Warc
    val p1 = "see WARC/1.0\r\nnested" // 20 chars INCLUDING the record magic
    val rec1 = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://a/b\r\n" +
      s"Content-Length: ${p1.length}\r\n\r\n$p1\r\n\r\n"
    val rec2 = "WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    val brokenTail = "WARC/1.0\r\nWARC-Type: broken\r\n\r\n" // no Content-Length
    val d = Seq((1L, rec1 + rec2 + brokenTail), (2L, "not a warc")).toDF("id", "warc")
    val got = Warc.warcRecords(d, "id", "warc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getString(5)))
    // a split-on-magic parser would shear rec1 at the embedded "WARC/1.0"
    assert(got.toSeq == Seq(
      (1L, 0L, "response", "http://a/b", 20L, p1),
      (1L, 1L, "metadata", "", 2L, "hi")))
    // shuffle-free per-row walk
    val plan = Warc.warcRecords(d, "id", "warc").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.linesIterator.take(3).mkString("\n"))
  }

  test("Warc httpResponse: status/mime/charset/body split, trap header, embedded blank line, truncation") {
    import graft.ops.Warc
    val ok = "HTTP/1.1 200 OK\r\nX-Content-Type: evil/x\r\n" +
      "content-type: TEXT/HTML;charset=\"UTF-8\"\r\n\r\n<html>a\r\n\r\nb</html>"
    val noCt = "HTTP/1.0 404 Not Found\r\nServer: s\r\n\r\nmissing"
    val trunc = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" // no blank line
    val notHttp = "lang: en"
    val d = Seq((1L, ok), (2L, noCt), (3L, trunc), (4L, notHttp)).toDF("id", "payload")
    val got = Warc.httpResponses(d, "payload")
      .select("id", "http_status", "mime", "charset", "body")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSeq
    assert(got == Seq(
      // case-folded mime, quoted charset, body keeps ITS OWN blank line,
      // and the X-Content-Type trap never supplies the media type
      (1L, 200, "text/html", "utf-8", "<html>a\r\n\r\nb</html>"),
      (2L, 404, null, null, "missing"),
      (3L, 200, "text/plain", null, null), // unterminated headers: no body
      (4L, -1, null, null, null)))         // not an HTTP response at all
    // shuffle-free per-row parse
    val plan = Warc.httpResponses(d, "payload").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.linesIterator.take(3).mkString("\n"))
  }

  test("Robots directives: file-scope Sitemap, star-group Crawl-delay max, wrong-group/unparseable ignored") {
    import graft.ops.Robots
    val robots = Seq(
      ("a.io", "sitemap: https://a.io/s1.xml # weekly\nUser-agent: gptbot\n" +
        "Crawl-delay: 99\nDisallow: /\n\nUser-agent: *\nCrawl-delay: 1.5\n" +
        "Disallow: /x\n\nUser-agent: *\nCrawl-delay: 3\nSitemap: https://a.io/s2.xml\n" +
        "Sitemap:\n"),
      ("b.io", "User-agent: *\nCrawl-delay: soon\nDisallow: /y\n")).toDF("host", "txt")
    val got = Robots.directives(robots, "host", "txt")
      .collect().map(r => r.getString(0) -> ((r.getSeq[String](1).toList,
        if (r.isNullAt(2)) -1.0 else r.getDouble(2)))).toMap
    assert(got("a.io") == ((List("https://a.io/s1.xml", "https://a.io/s2.xml"), 3.0)))
    assert(got("b.io") == ((List(), -1.0))) // unparseable delay -> null
  }

  test("extractLinks: quote styles, nested markup, href-less anchors, zero-shuffle plan") {
    import graft.ops.TextAnalysis
    val html = "<A HREF=\"/a\">One</A><a name=\"x\">skip</a>" +
      "<a rel=\"y\" href='/b' id=\"z\">Two <i>three</i>\nfour</a>"
    val d = Seq((1L, html)).toDF("id", "html")
    val got = TextAnalysis.extractLinks(d, "id", "html")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(got == Seq((0L, "/a", "One"), (1L, "/b", "Two three four")))
    val plan = TextAnalysis.extractLinks(d, "id", "html")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.linesIterator.take(3).mkString("\n"))
  }

  test("anchorTexts: image-only links drop, anchors aggregate per resolved target") {
    import graft.ops.TextAnalysis
    val pages = Seq(
      (1L, "https://a.io/p1.html",
        "<a href=\"/t\">go</a> <a href=\"/img\"><img src=\"i.png\"/></a>"),
      (2L, "https://a.io/p2.html", "<a href=\"/t\">GO there</a>")
    ).toDF("id", "url", "html")
    val got = TextAnalysis.anchorTexts(pages, "id", "url", "html")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // the image-only link's anchor strips to empty and DROPS — /img never appears
    assert(got == Set(("https://a.io/t", 2L, "GO there|go")))
    // under the default cap nothing is flagged
    assert(TextAnalysis.anchorTexts(pages, "id", "url", "html")
      .collect().forall(!_.getBoolean(3)))
  }

  test("anchorTexts: maxAnchorsPerTarget bounds hot-target state, flags exactly") {
    import graft.ops.TextAnalysis
    // a hot target fed 10 distinct anchors (+ repeats) and a cold one with 2
    val hot = (0 until 10).map(j =>
      s"""<a href="/hot">anchor nr $j</a><a href="/hot">anchor nr $j</a>""").mkString
    val pages = Seq(
      (1L, "https://a.io/p1.html", hot),
      (2L, "https://a.io/p2.html", """<a href="/cold">one</a><a href="/cold">two</a>""")
    ).toDF("id", "url", "html")
    val got = TextAnalysis.anchorTexts(pages, "id", "url", "html",
        maxAnchorsPerTarget = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2), r.getBoolean(3)))).toMap
    val (nHot, keptHot, cappedHot) = got("https://a.io/hot")
    assert(nHot === 20L)               // the COUNT stays exact past the cap
    assert(cappedHot, "10 distinct > 3 must flag")
    assert(keptHot.split('|').length === 3)
    // the kept set is the deterministic smallest-3 by (fingerprint, anchor)
    val expect = (0 until 10).map(j => s"anchor nr $j")
      .sortBy(a => (a.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L), a))
      .take(3).sorted.mkString("|")
    assert(keptHot === expect)
    assert(got("https://a.io/cold") === ((2L, "one|two", false)))
  }

  test("resolveUrl: dot-segment corners — root .., trailing .., a//b kept, fragment-only ref") {
    import graft.ops.TextAnalysis
    val cases = Seq(
      (1L, "https://a.io/x/y/z.html", "../../../../up"),   // .. past root is a no-op
      (2L, "https://a.io/x/y/z.html", ".."),               // trailing .. keeps the RFC slash
      (3L, "https://a.io/x/y/z.html", "m//n.html"),        // empty mid segment preserved
      (4L, "https://a.io/x/y/z.html?q=1#old", "#new"),     // fragment-only -> base sans fragment
      (5L, "https://a.io", "p.html")                       // pathless base -> root directory
    ).toDF("id", "base", "ref")
    val got = cases.withColumn("r", TextAnalysis.resolveUrl(col("base"), col("ref")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got(1L) == "https://a.io/up")
    assert(got(2L) == "https://a.io/x/")
    assert(got(3L) == "https://a.io/x/y/m//n.html")
    assert(got(4L) == "https://a.io/x/y/z.html?q=1")
    assert(got(5L) == "https://a.io/p.html")
  }

  test("resolveRedirects: early exit, conflict takes min dst, cycle stops at maxHops") {
    import graft.ops.Warc
    val edges = Seq(
      ("a", "b"), ("b", "c"),          // 2-hop chain, shorter than maxHops
      ("d", "z"), ("d", "y"),          // conflicting targets -> min ("y")
      ("p", "q"), ("q", "p")           // 2-cycle
    ).toDF("src", "dst")
    val got = Warc.resolveRedirects(edges, "src", "dst", maxHops = 6)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("a") == (("c", 2L, true)))
    assert(got("b") == (("c", 1L, true)))
    assert(got("d") == (("y", 1L, true)))
    assert(got("p") == (("p", 6L, false))) // even walk lands back home
    assert(got("q") == (("q", 6L, false)))
  }

  test("Bpe byte-level: lookahead-equivalent whitespace split, byte alphabet, merge application") {
    import graft.ops.Bpe
    // "a   b" under GPT-2's \s+(?!\S): 'a', '  ' (run minus last), ' b';
    // trailing run stays whole; contraction splits; multi-byte é -> 2 chars
    val d = Seq((1L, "a   b"), (2L, "don't  "), (3L, "café 42!!")).toDF("id", "text")
    val toks = Bpe.byteLevelPretokens(d, "id", "text")
      .orderBy("id", "tok_idx").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getString(2)).toList }
    val G = "Ġ" // byte-mapped space
    assert(toks(1L) == List("a", G + G, G + "b"))
    assert(toks(2L) == List("don", "'t", G + G))
    // é = C3 A9 -> 'Ã' (0xC3 maps to itself) + '©' (0xA9 maps to itself)
    assert(toks(3L) == List("cafÃ©", G + "42", "!!"))
    // space (0x20) is the 33rd remapped byte: 256 + 32 = U+0120
    assert(Bpe.ByteAlphabet(32) == 0x120 && Bpe.ByteAlphabet(65) == 65)
    // merges apply in rank order and never cross pretoken boundaries
    val enc = Bpe.byteLevelEncode(Seq((1L, " the llll")).toDF("id", "text"),
      "id", "text", Seq((G, "t"), (G + "t", "h"), (G + "th", "e"), ("l", "l")))
      .orderBy("tok_idx").collect().map(_.getString(3)).toList
    assert(enc == List(G + "the", G + "|ll|ll"))
  }

  test("Wordpiece encode: greedy longest match, ## continuations, whole-word [UNK] on stall") {
    import graft.ops.Wordpiece
    val words = Seq(("abcde", 3L), ("abq", 1L), ("zz", 2L), ("a", 1L)).toDF("word", "n")
    val vocab = Seq("a", "ab", "abc", "##d", "##de", "##c", "##b", "z", "##z").toDF("piece")
    val got = Wordpiece.encode(words, "word", "n", vocab, maxPieceLen = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    // longest match at EVERY position: abc (not a/ab), then ##de (not ##d)
    assert(got("abcde") == ((3L, "abc|##de", 2L)))
    // "ab" matches but "##q" has no piece -> the WHOLE word rejects
    // (HuggingFace semantics: no per-character fallback)
    assert(got("abq") == ((1L, "[UNK]", 1L)))
    // head vs continuation forms are distinct vocabulary entries
    assert(got("zz") == ((2L, "z|##z", 2L)))
    assert(got("a") == ((1L, "a", 1L)))
  }

  test("Wordpiece vocab: all single-char forms kept, multi-char cut at topKeep with (count, piece) order") {
    import graft.ops.Wordpiece
    val words = Seq(("aab", 2L), ("ab", 1L)).toDF("word", "n")
    val v = Wordpiece.vocab(words, "word", "n", maxPieceLen = 3, topKeep = 2)
      .collect().map(_.getString(0)).toSet
    // singles always survive (coverage); multi counts: aa 2, aab 2, ##ab 2,
    // ab 1 -> top-2 by (c desc, piece asc) = ##ab, aa
    assert(v == Set("a", "##a", "##b", "##ab", "aa"))
    // encode under that vocab reconstructs both words ## -markers aside
    val enc = Wordpiece.encode(words, "word", "n",
      Seq("a", "##a", "##b", "##ab", "aa").toDF("piece"), 3)
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(enc == Map("aab" -> "aa|##b", "ab" -> "a|##b"))
  }

  test("StoreSwap: a reader sees one complete store at EVERY compaction crash point") {
    import graft.ops.{Layout, StoreSwap}
    import org.apache.hadoop.fs.Path
    val base = java.nio.file.Files.createTempDirectory("swapcrash").toString
    val store = new Path(base + "/store"); val tmp = StoreSwap.stagingPath(store)
    val fs = store.getFileSystem(spark.sessionState.newHadoopConf())
    def writeStore(tag: String, path: String): Unit =
      (0L until 10L).map(i => (i, tag)).toDF("id", "v").write.mode("overwrite").parquet(path)
    def readTags() = Layout.readWithUpserts(spark, store.toString, base + "/no_ups", "id")
      .collect().map(_.getString(1)).toSet

    // crash point 1: staged copy fully written, neither rename ran →
    // reader sees the OLD store; the leftover staging dir is swept
    writeStore("old", store.toString); writeStore("new", tmp.toString)
    assert(readTags() == Set("old") && !fs.exists(tmp))

    // crash point 2: between the renames (store stepped aside, staged not
    // yet promoted — the window the delete-then-rename design LOST the
    // store in) → recovery rolls FORWARD to the complete staged copy
    writeStore("new", tmp.toString)
    assert(fs.rename(store, StoreSwap.oldPath(store)))
    assert(!fs.exists(store))
    assert(readTags() == Set("new"))
    assert(!fs.exists(StoreSwap.oldPath(store)) && !fs.exists(tmp))

    // crash point 3: staged promoted, old not yet deleted → reader sees
    // the new store; the old copy is garbage-collected
    writeStore("old2", StoreSwap.oldPath(store).toString)
    assert(readTags() == Set("new") && !fs.exists(StoreSwap.oldPath(store)))

    // crash DURING the stage write (no _SUCCESS marker) with the store
    // stepped aside: recovery must roll BACK, never promote a partial
    writeStore("new2", tmp.toString)
    fs.delete(new Path(tmp, "_SUCCESS"), false)
    assert(fs.rename(store, StoreSwap.oldPath(store)))
    assert(readTags() == Set("new")) // the rolled-back previous store
    assert(!fs.exists(tmp) && !fs.exists(StoreSwap.oldPath(store)))

    // recover is idempotent on a healthy store
    assert(!StoreSwap.recover(fs, store))

    // and the full un-crashed cycle still round-trips end-to-end
    Layout.appendUpserts(Seq((3L, "up")).toDF("id", "v"), base + "/ups", 1)
    Layout.compactUpserts(spark, store.toString, base + "/ups", "id")
    val m = spark.read.parquet(store.toString)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(3L) == "up" && m.size == 10 && !fs.exists(StoreSwap.oldPath(store)))
  }

  test("freq_items_sketch honors the Misra-Gries n/(k+1) guarantee under eviction + merge") {
    // 5000 noise tokens (vocab 2000 >> k=50) + three heavy hitters
    val rnd = new scala.util.Random(7)
    val items = (Seq.fill(400)("alpha") ++ Seq.fill(300)("beta") ++ Seq.fill(200)("gamma") ++
      Seq.fill(5000)(s"noise${rnd.nextInt(2000)}"))
    val n = items.size.toLong
    val k = 50
    val df = spark.createDataset(rnd.shuffle(items))(org.apache.spark.sql.Encoders.STRING)
      .toDF("token").repartition(8) // force multi-partition partials + merge
    val out = df.agg(graft.functions.freq_items_sketch(col("token"), k).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.token"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size <= k)
    val bound = n / (k + 1)
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // presence: every item above the bound is in the sketch
    truth.filter(_._2 > bound).keys.foreach(t => assert(out.contains(t), s"missing $t"))
    // estimates never overestimate and undercount by at most the bound
    out.foreach { case (t, est) =>
      val tc = truth(t)
      assert(est <= tc && est >= tc - bound, s"$t est=$est true=$tc bound=$bound")
    }
    // the sketch -> exact-recount pipeline returns the exact top list
    val docsDf = Seq(items.mkString(" ")).toDF("text")
    val hh = Curation.heavyHitters(docsDf, "text", topN = 3, sketchK = k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq == Seq(("alpha", 400L), ("beta", 300L), ("gamma", 200L)))
  }

  test("tokenBudgetSelect keeps the best buckets whole and cuts the tie bucket by prefix") {
    val d = Seq((1L, 0.9, 5L), (2L, 0.9, 5L), (3L, 0.9, 5L), (4L, 0.5, 3L), (5L, 0.5, 100L))
      .toDF("id", "score", "tok")
    def run(budget: Long) =
      Curation.tokenBudgetSelect(d, "id", col("score"), col("tok"), budget)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // everything fits
    assert(run(1000L).map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L))
    // budget 12 cuts inside the 0.9 bucket: exactly 2 of its 5-token docs
    val k12 = run(12L)
    assert(k12.length == 2 && k12.forall(_._2 == 0.9) && k12.map(_._3).sum <= 12L)
    // deterministic: identical kept set on a re-run
    assert(run(12L).toSet == k12.toSet)
    // budget never exceeded, higher buckets always kept whole
    val k100 = run(100L)
    assert(k100.map(_._3).sum <= 100L)
    assert(k100.count(_._2 == 0.9) == 3)
    // bucket-cardinality guard fails fast before the driver read
    val wide = (0 until 50).map(i => (i.toLong, i / 1000.0, 1L)).toDF("id", "score", "tok")
    val e = intercept[IllegalArgumentException] {
      Curation.tokenBudgetSelect(wide, "id", col("score"), col("tok"), 10L, maxBuckets = 10)
    }
    assert(e.getMessage.contains("maxBuckets"))
  }

  test("heavyHittersByKey checks its driver-read assumptions up front") {
    val d = Seq(("en", "a a b"), ("fr", "c c d"), ("de", "e f e")).toDF("lang", "text")
    // happy path: per-key exact top-1
    val top = Curation.heavyHittersByKey(d, "lang", "text", topN = 1, sketchK = 8)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3))).sorted
    assert(top.toSeq == Seq(("de", "e", 2L), ("en", "a", 2L), ("fr", "c", 2L)))
    // key cardinality above maxKeys fails fast instead of an unbounded collect
    val wide = (0 until 20).map(i => (s"k$i", "x y")).toDF("lang", "text")
    val e1 = intercept[IllegalArgumentException] {
      Curation.heavyHittersByKey(wide, "lang", "text", topN = 1, sketchK = 8, maxKeys = 10)
    }
    assert(e1.getMessage.contains("maxKeys"))
    // non-string keys are rejected loudly at the schema check
    val e2 = intercept[IllegalArgumentException] {
      Curation.heavyHittersByKey(Seq((1L, "x")).toDF("lang", "text"), "lang", "text", 1, 8)
    }
    assert(e2.getMessage.contains("string"))
  }

  test("sign_bits fails fast on dim mismatch and NULL lanes") {
    import graft.functions.sign_bits
    val short = Seq((1L, Array(1.0f, -1.0f))).toDF("id", "v")
    val ex1 = intercept[Exception] {
      short.select(sign_bits(col("v"), 4)).collect()
    }
    assert(ex1.getMessage.contains("sign_bits") || ex1.getCause != null)
    val withNull = Seq((1L, Array[java.lang.Float](1.0f, null, 2.0f, 3.0f)))
      .toDF("id", "v")
    val ex2 = intercept[Exception] {
      withNull.select(sign_bits(col("v"), 4)).collect()
    }
    assert(ex2.getMessage.contains("NULL lane") || ex2.getCause != null)
  }

  test("BPE: greedy merge semantics and learn loop vs driver reference") {
    // kernel greedy non-overlap, incl. the aaa run case
    def merge(syms: Seq[String], a: String, b: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
        else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    val cases = Seq(
      (Seq("a", "a", "a"), "a", "a"), (Seq("a", "a", "a", "a"), "a", "a"),
      (Seq("l", "o", "w", "e", "r"), "l", "o"), (Seq("x"), "x", "x"),
      (Seq("a", "b", "a", "b"), "a", "b"))
    for ((syms, a, b) <- cases) {
      val got = Seq(syms).toDF("syms")
        .select(graft.functions.bpe_merge(col("syms"), a, b)).head().getSeq[String](0)
      assert(got == merge(syms, a, b), s"$syms merge ($a,$b)")
    }

    // learn on a classic corpus: driver-side reference replay
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    var state = vocab.map { case (w, n) => (w.map(_.toString), n) }
    val ref = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 1 to 4) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- state; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + n
      val ((a, b), c) = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
      ref += ((a, b, c))
      state = state.map { case (syms, n) => (merge(syms, a, b).toIndexedSeq, n) }
    }
    val got = Bpe.learn(vocab.toDF("word", "n"), "word", "n", 4)
      .map { case (_, a, b, c) => (a, b, c) }
    assert(got == ref.toSeq)
  }

  test("editPairs: deletion blocking is lossless vs brute-force levenshtein") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val words = Seq("cat", "bat", "cats", "cut", "dog", "dogs", "dot", "d",
      "", "hello", "hallo", "hell", "shell", "a", "b", "ab")
    val got = TextAnalysis.editPairs(words.toDF("word"), "word")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val nz = words.filter(_.nonEmpty)
    val want = (for { a <- nz; b <- nz if a < b && lev(a, b) <= 1 } yield (a, b)).toSet
    assert(got == want)
  }

  test("zscoreByGroup: driver math; single-row and zero-variance groups -> 0") {
    val df = Seq(("a", 1L), ("a", 3L), ("a", 5L), ("b", 7L), ("c", 4L), ("c", 4L))
      .toDF("g", "x")
    val got = Curation.zscoreByGroup(df, "x", "g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // group a: mean 3, sample var ((1+9+25) - 81/3)/2 = 4, sd 2
    assert(got == Set(("a", 1L, -1.0), ("a", 3L, 0.0), ("a", 5L, 1.0),
      ("b", 7L, 0.0), ("c", 4L, 0.0)))
  }

  // ---------- certified-exact quantized scan ----------

  test("certifiedTopK equals exact fullScan, including an out-of-envelope probe") {
    val e = emb
    val p = Quantizer.computeParams(e, "embedding")
    val codes = Quantizer.quantizeCodes(e, "vec_id", "embedding", p)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSeq
    for (metric <- Seq("l2", "sq_l2")) {
      val exact = ids(Knn.fullScan(e, "vec_id", "embedding", probe, 10, metric))
      val cert = ids(Quantizer.certifiedTopK(e, "vec_id", "embedding", codes, probe, p, 10, metric))
      assert(cert == exact, s"metric $metric")
    }
    // probe far OUTSIDE the quantization envelope: every lane saturates,
    // E_p explodes, the bound widens — results must STILL be exact
    val wild = probe.map(x => x * 1000f + 50f)
    val exactW = ids(Knn.fullScan(e, "vec_id", "embedding", wild, 10, "l2"))
    val certW = ids(Quantizer.certifiedTopK(e, "vec_id", "embedding", codes, wild, p, 10, "l2"))
    assert(certW == exactW, "out-of-envelope probe lost exactness")
    // k = 0 and empty store degenerate cases
    assert(Quantizer.certifiedTopK(e, "vec_id", "embedding", codes, probe, p, 0, "l2").count() == 0)
    assert(Quantizer.certifiedTopK(e, "vec_id", "embedding",
      codes.limit(0), probe, p, 10, "l2").count() == 0)
    // a NaN lane makes the bound NaN: the probe must go to the full scan
    // (every distance is NaN there, so compare ids and NaN-ness)
    val nanProbe = probe.updated(3, Float.NaN)
    def nanIds(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1).isNaN)).toSeq
    val exactN = nanIds(Knn.fullScan(e, "vec_id", "embedding", nanProbe, 5, "l2"))
    assert(exactN.size == 5)
    assert(nanIds(Quantizer.certifiedTopK(e, "vec_id", "embedding", codes, nanProbe, p, 5, "l2")) == exactN)
  }

  /** Exchanges in the executed main plan (adaptive stages included,
    * subqueries not): the rerank's f32 side must never be shuffled.
    */
  private def mainExchanges(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    H.collect(df.queryExecution.executedPlan) {
      case x: org.apache.spark.sql.execution.exchange.Exchange => x
    }
  }

  test("certifiedTopK over its shortlist cap reranks every vector, exact, with no exchange") {
    val e = emb
    val p = Quantizer.computeParams(e, "embedding")
    val codes = Quantizer.quantizeCodes(e, "vec_id", "embedding", p)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSeq
    val exact = ids(Knn.fullScan(e, "vec_id", "embedding", probe, 10, "l2"))
    val capped = Quantizer.certifiedTopK(e, "vec_id", "embedding", codes, probe, p, 10, "l2",
      maxBroadcastCand = 1)
    assert(ids(capped) == exact)
    assert(mainExchanges(capped).isEmpty, capped.queryExecution.executedPlan.toString)
    // collapsed codes: a scale so small every lane quantizes to 0 — the
    // params' envelope still holds every vector, so the proof stands, but
    // the certificate admits the whole corpus
    val flat = p.copy(scale = p.scale * 1e-6)
    val flatCodes = Quantizer.quantizeCodes(e, "vec_id", "embedding", flat)
    assert(flatCodes.select(graft.functions.code_sum(col("code"), flat.qType)).distinct().count() == 1)
    for (cap <- Seq(1000000L, 10L)) {
      val df = Quantizer.certifiedTopK(e, "vec_id", "embedding", flatCodes, probe, flat, 10, "l2",
        maxBroadcastCand = cap)
      assert(ids(df) == exact, s"cap $cap")
      assert(mainExchanges(df).isEmpty, df.queryExecution.executedPlan.toString)
    }
  }

  /** Registers `emb` as `view` with a quantized shadow view, so
    * vector_scan takes the certified plan; returns the params.
    */
  private def quantizedView(view: String): QuantParams = {
    emb.createOrReplaceTempView(view)
    graft.catalog.VectorCatalog.init(view, "embedding", VectorConfig(64, idCol = "vec_id"))
    graft.sql.GraftTableFunctions.register(spark)
    val p = Quantizer.computeParams(emb, "embedding")
    Quantizer.quantizeCodes(emb, "vec_id", "embedding", p)
      .createOrReplaceTempView(s"vector0_${view}_embedding")
    graft.catalog.VectorCatalog.putQuantParams(view, "embedding", p)
    p
  }

  test("certifiedTopK and vector_scan compile no code for a fresh probe") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val p = quantizedView("cg_emb")
    val (e, codes) = (spark.table("cg_emb"), spark.table("vector0_cg_emb_embedding"))
    def both(pr: Array[Float]): Unit = {
      Quantizer.certifiedTopK(e, "vec_id", "embedding", codes, pr, p, 10, "l2").collect()
      spark.sql(s"SELECT id, distance FROM vector_scan('cg_emb', 'embedding', " +
        s"'${pr.mkString("[", ",", "]")}', 10)").collect()
    }
    both(probe)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    both(probe.map(x => x * 0.5f + 0.01f))
    both(probe.reverse)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
  }

  test("quantize_codes compiles no code for new (scale, offset)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // an input of its own: no table cache other tests leave behind
    val vecs = spark.range(256).select(col("id"),
      array((0 until 16).map(j => sin(col("id") * (j + 1)).cast("float")): _*).as("v"))
    val p = Quantizer.computeParams(vecs, "v")
    def codes(q: QuantParams): Unit = Quantizer.quantizeCodes(vecs, "id", "v", q).collect()
    codes(p)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    codes(p.copy(scale = p.scale * 0.5, offset = p.offset + 0.25))
    codes(p.copy(scale = p.scale * 3.0))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
  }

  test("vector_scan TVF auto-selects: certified code path when quantized, full scan otherwise") {
    val e = emb
    e.createOrReplaceTempView("auto_emb")
    graft.catalog.VectorCatalog.init("auto_emb", "embedding",
      VectorConfig(64, idCol = "vec_id"))
    graft.sql.GraftTableFunctions.register(spark)
    val probeJson = probe.mkString("[", ",", "]")
    val q = s"SELECT id, distance FROM vector_scan('auto_emb', 'embedding', '$probeJson', 10)"
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSeq
    val exact = ids(Knn.fullScan(e, "vec_id", "embedding", probe, 10, "l2"))

    // not quantized -> brute-force expansion, no certificate in the plan
    graft.catalog.VectorCatalog.dropQuantParams("auto_emb", "embedding")
    val full = spark.sql(q)
    assert(!full.queryExecution.optimizedPlan.toString.contains("CertifiedTopK"))
    assert(ids(full) == exact)

    // quantized -> certified expansion: a code pass over the code view
    // shortlists the exact rank, same exact results
    val p = Quantizer.computeParams(e, "embedding")
    Quantizer.quantizeCodes(e, "vec_id", "embedding", p)
      .createOrReplaceTempView("vector0_auto_emb_embedding")
    graft.catalog.VectorCatalog.putQuantParams("auto_emb", "embedding", p)
    val cert = spark.sql(q)
    val plan = cert.queryExecution.optimizedPlan.toString
    assert(plan.contains("CertifiedTopK"), s"expected certified plan, got:\n$plan")
    assert(ids(cert) == exact)

    // a NaN lane in the JSON probe takes the full scan, like the Scala API
    val nanProbe = probe.updated(3, Float.NaN)
    val nanQ = s"SELECT id FROM vector_scan('auto_emb', 'embedding', '${nanProbe.mkString("[", ",", "]")}', 5)"
    assert(ids(spark.sql(nanQ)) == ids(Knn.fullScan(e, "vec_id", "embedding", nanProbe, 5, "l2")))
  }

  test("vector_scan and certifiedTopK produce the same optimized plan") {
    val p = quantizedView("same_emb")
    val sqlPlan = spark.sql("SELECT * FROM vector_scan('same_emb', 'embedding', " +
      s"'${probe.mkString("[", ",", "]")}', 10)").queryExecution.optimizedPlan
    val scalaPlan = Quantizer.certifiedTopK(spark.table("same_emb"), "vec_id", "embedding",
      spark.table("vector0_same_emb_embedding"), probe, p, 10, "l2").queryExecution.optimizedPlan
    // the SQL surface only renames vec_id to id on top of the shared plan
    val unaliased = sqlPlan match {
      case org.apache.spark.sql.catalyst.plans.logical.Project(_, child) => child
      case other => other
    }
    assert(unaliased.canonicalized == scalaPlan.canonicalized, s"SQL:\n$sqlPlan\nScala:\n$scalaPlan")
  }

  // ---------- Z-order clustering ----------

  test("zorderValue interleaves bits exactly (driver-math oracle)") {
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L)((acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L), (65535L, 1L),
      (12345L, 54321L), (65535L, 65535L))
    val got = rows.toDF("x", "y")
      .select(Layout.zorderValue(col("x"), col("y"), 16)).collect().map(_.getLong(0))
    val want = rows.map { case (x, y) => morton(x, y, 16) }
    assert(got.toSeq == want)
    // adjacency property: consecutive z-values differ only in low bits for
    // points in the same 2x2 cell
    assert(morton(2, 2, 16) == morton(3, 3, 16) - 3)
  }

  test("z-ordered store prunes a 2-D box on file stats where a 1-D sort cannot") {
    // 64x64 grid, one row per cell, written as many small files so each
    // file's footer range is tight
    val grid = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).as("y"), col("id").as("payload"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_zot").toString
    Layout.writeZordered(grid, s"$tmp/z", "x", "y", 6, 32)
    grid.repartitionByRange(32, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$tmp/xsort")

    // box narrow in Y only: the x-sorted layout cannot prune it at all
    def overlapping(path: String): Int = {
      val xs = Layout.fileRanges(spark, path, "x")
      val ys = Layout.fileRanges(spark, path, "y")
      xs.zip(ys).count { case ((_, _), (ymn, ymx)) => ymn <= 11 && ymx >= 4 }
    }
    val zTotal = Layout.fileRanges(spark, s"$tmp/z", "x").size
    val xTotal = Layout.fileRanges(spark, s"$tmp/xsort", "x").size
    val zHit = overlapping(s"$tmp/z")
    val xHit = overlapping(s"$tmp/xsort")
    assert(xHit == xTotal, "1-D x-sorted layout reads every file for a y-only box")
    assert(zHit * 2 <= zTotal, s"z-order should skip >= half the files, read $zHit/$zTotal")

    // and the clustered store still answers the box exactly
    val got = spark.read.parquet(s"$tmp/z")
      .where(col("x").between(10, 20) && col("y").between(4, 11))
      .agg(count(lit(1)), sum(col("payload"))).head()
    val want = grid.where(col("x").between(10, 20) && col("y").between(4, 11))
      .agg(count(lit(1)), sum(col("payload"))).head()
    assert(got == want)
  }

  test("temperatureMixture: alpha=1 is the identity mixture; alpha=0.5 conserves totals") {
    val df = Seq.tabulate(300)(i => (i.toLong, if (i < 240) "big" else "small"))
      .toDF("id", "dom")
    // alpha = 1: every domain's rate is exactly 1000 permille -> one copy
    // of every row, copy index 0
    val nat = Curation.temperatureMixture(df, "id", "dom", 1.0)
    assert(nat.count() == 300)
    assert(nat.agg(max(col("permille")), min(col("permille"))).head() ==
      org.apache.spark.sql.Row(1000L, 1000L))
    assert(nat.agg(max(col("copy"))).head().getLong(0) == 0L)
    // alpha = 0.5: small domain upweighted, big downweighted; realized
    // counts within 1 of n * permille / 1000 per domain (exact-bucket
    // uniformity makes it close, but assert only the rate relationship)
    val mix = Curation.temperatureMixture(df, "id", "dom", 0.5)
      .groupBy("dom").agg(max(col("permille")).as("pm"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mix("small")._1 > 1000L && mix("big")._1 < 1000L)
    // expected share: sqrt(240)/ (sqrt(240)+sqrt(60)) = 2/3 of 300 = 200
    assert(math.abs(mix("big")._2 - 200L) <= 2)
    assert(math.abs(mix("small")._2 - 100L) <= 2)
  }

  test("invertedIndex + conjunctiveSearch: AND semantics and tf ranking") {
    val docs = Seq(
      (1L, "a b a c"), (2L, "a b"), (3L, "b c b c"), (4L, "a c a c a")
    ).toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", "text")
    // postings are exact (term, doc, tf)
    assert(idx.where(col("term") === "a" && col("doc_id") === 4).head().getLong(2) == 3L)
    val hits = TextAnalysis.conjunctiveSearch(idx, Seq("a", "c"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // docs 1 and 4 hold both terms; 4 ranks first on tf 5 vs 3
    assert(hits == Seq((4L, 5L), (1L, 3L)))
    // duplicate query terms collapse (not double-counted in the AND arity)
    assert(TextAnalysis.conjunctiveSearch(idx, Seq("a", "a", "c"), 10).count() == 2)
  }

  test("crossDocNgrams: exact counts; docs shorter than n contribute nothing") {
    val docs = Seq(
      (1L, "x y z w"), (2L, "x y z"), (3L, "q x y z"), (4L, "y z"), (5L, ""), (6L, "x y")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.crossDocNgrams(docs, "doc_id", "text", 3, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // "x y z" appears in docs 1, 2, 3 once each; every other 3-gram is unique
    assert(got == Set(("x y z", 3L, 3L)))
    // n larger than every doc -> empty, not an error (sequence/slice guard)
    assert(TextAnalysis.crossDocNgrams(docs, "doc_id", "text", 9, 1).count() == 0)
  }

  test("pageRank: driver-math replay on a known graph; mass conserved") {
    // path graph 1-2-3 plus isolated pair 4-5; duplicate + self edges ignored
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 1L), (3L, 3L), (4L, 5L))
      .toDF("a", "b")
    val got = Graph.pageRank(edges, "a", "b", iterations = 3, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    def r9(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val deg = Map(1L -> 1, 2L -> 2, 3L -> 1, 4L -> 1, 5L -> 1)
    val nbrs = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L), 4L -> Seq(5L), 5L -> Seq(4L))
    var pr = deg.keys.map(_ -> r9(1.0 / 5)).toMap
    for (_ <- 1 to 3)
      pr = deg.keys.map { v =>
        val s = nbrs(v).map(u => BigDecimal(r9(pr(u) / deg(u)))).sum
        v -> r9((1.0 - 0.85) / 5 + 0.85 * s.toDouble)
      }.toMap
    assert(got == pr)
    // center of the path outranks the leaves; symmetric pair stays uniform
    assert(got(2L) > got(1L) && got(1L) == got(3L) && got(4L) == got(5L))
  }

  test("hits: driver-math replay on a known directed graph; hub/authority separation") {
    // 1→{2,3,4}, 5→2 (+ a duplicate and a self edge, both ignored):
    // 1 is the dominant hub, 2 the dominant authority
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L), (1L, 2L), (3L, 3L))
      .toDF("a", "b")
    val got = Graph.hits(edges, "a", "b", iterations = 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    def r9(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val ed = Set((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L))
    val nodes = Set(1L, 2L, 3L, 4L, 5L)
    var hub: Map[Long, BigDecimal] = nodes.map(_ -> BigDecimal(1.0)).toMap
    var auth: Map[Long, BigDecimal] = Map.empty
    for (_ <- 1 to 2) {
      val as = ed.groupBy(_._2).map { case (v, es) =>
        v -> es.toSeq.map(e => hub(e._1)).sum }
      val at = as.values.sum
      auth = as.map { case (v, s) =>
        v -> BigDecimal(r9(s.toDouble / at.toDouble)) }
      val hs = ed.groupBy(_._1).map { case (u, es) =>
        u -> es.toSeq.map(e => auth(e._2)).sum }
      val ht = hs.values.sum
      hub = hs.map { case (u, s) =>
        u -> BigDecimal(r9(s.toDouble / ht.toDouble)) }
    }
    val want = nodes.map(n => n ->
      (hub.getOrElse(n, BigDecimal(0)).toDouble,
        auth.getOrElse(n, BigDecimal(0)).toDouble)).toMap
    assert(got == want)
    // structure: 1 out-hubs 5; 2 out-authorities 3 and 4; sinks hold
    // hub 0, sources authority 0
    assert(got(1L)._1 > got(5L)._1 && got(2L)._2 > got(3L)._2)
    assert(got(2L)._1 == 0.0 && got(4L)._1 == 0.0 && got(1L)._2 == 0.0 &&
      got(5L)._2 == 0.0)
  }

  test("pmiPairs: driver-math counts and score on a tiny corpus") {
    val docs = Seq((1L, "a b a b c"), (2L, "a b c c")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiPairs(docs, "doc_id", "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toList
    // adjacent pairs: (a,b) (a,b) (a,b) [doc1 has ab, ba, ab] + doc2 (a,b), (b,c), (c,c)
    // normalized: doc1 -> (a,b)x3, (b,c); doc2 -> (a,b), (b,c), (c,c)
    // counts: (a,b)=4, (b,c)=2, (c,c)=1 -> minCount 2 keeps (a,b), (b,c)
    // N = 9 tokens, P = 7 pairs; c(a)=3, c(b)=3, c(c)=3
    def pmi(cab: Long, ca: Long, cb: Long): Double = {
      val x = math.log(cab.toDouble * 9 * 9 / (7.0 * ca * cb))
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    assert(got.toSet == Set(("a", "b", 4L, pmi(4, 3, 3)), ("b", "c", 2L, pmi(2, 3, 3))))
  }

  test("cdcChunks: chunks tile the text; short/empty docs; content-defined realignment") {
    val base = "the quick brown fox jumps over the lazy dog " * 20
    val docs = Seq((1L, base), (2L, "tiny"), (3L, ""), (4L, "PREFIX-INSERT " + base))
      .toDF("doc_id", "text")
    val ch = Curation.cdcChunks(docs, "doc_id", "text", window = 8, divisor = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byDoc = ch.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // tiling: starts are the running sum of lengths, total = doc length
    for ((id, rows) <- byDoc) {
      val lens = rows.map(_._4)
      assert(rows.map(_._3).toSeq == lens.scanLeft(0L)(_ + _).init.toSeq, s"doc $id offsets")
    }
    assert(byDoc(1L).map(_._4).sum == base.length.toLong)
    // shorter than the window -> one whole-doc chunk; empty -> no rows
    def poly(t: String): Long = t.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    assert(byDoc(2L).toSeq == Seq((2L, 0L, 0L, 4L, poly("tiny"))))
    assert(!byDoc.contains(3L))
    // content-defined: after an inserted prefix, the chunk fp multiset is
    // shared except near the insertion — at least all but 2 of doc 1's
    // chunks reappear in doc 4
    val f1 = byDoc(1L).map(_._5).groupBy(identity).view.mapValues(_.size).toMap
    val f4 = byDoc(4L).map(_._5).groupBy(identity).view.mapValues(_.size).toMap
    val sharedCount = f1.map { case (k, n) => math.min(n, f4.getOrElse(k, 0)) }.sum
    assert(sharedCount >= byDoc(1L).size - 2,
      s"only $sharedCount of ${byDoc(1L).size} chunks survived the prefix insert")
  }

  test("triangles: K4 counts, hub wedge without closure, duplicate/self edges ignored") {
    // K4 on 1..4 (every node in C(3,2)=3 triangles), a hub 10 joined to
    // 11/12/13 with no edges among the spokes (zero triangles), plus noise
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 ++ Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 10L), (5L, 5L)))
      .toDF("a", "b")
    val got = Graph.triangles(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("shufflePositions: a deterministic dense permutation, stable under re-partitioning") {
    val df = (0L until 500L).toDF("id").repartition(7)
    val got = Curation.shufflePositions(df, "id", nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).sorted.toSeq == (0L until 500L))
    // positions are a function of ids alone: same result from 1 partition
    val again = Curation.shufflePositions((0L until 500L).toDF("id").coalesce(1), "id", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // and genuinely shuffled: identity order would be astronomically unlikely
    assert(got.sortBy(_._1).map(_._2).toSeq != (0L until 500L))
  }

  test("writeTrainingShards: contiguous ±1-equal shards, ordered files, deterministic manifest") {
    val df = (0L until 501L).map(i => (i, 10L + i % 7)).toDF("id", "w").repartition(5)
    val base = java.nio.file.Files.createTempDirectory("shardstore").toString
    val m1 = Curation.writeTrainingShards(df, "id", col("w"), base + "/a", 4, nBuckets = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    assert(m1.map(_._1) == Seq(0, 1, 2, 3))
    // ±1-equal sizes covering the whole corpus
    assert(m1.map(_._2).sum == 501L && m1.map(_._2).forall(n => n == 125L || n == 126L))
    // contiguous position ranges, shard k ending where k+1 starts
    m1.foreach { case (_, n, _, first, last, _) => assert(last - first + 1 == n) }
    assert(m1.sliding(2).forall { case Seq(a, b) => b._4 == a._5 + 1; case _ => true })
    // token volume conserved
    assert(m1.map(_._3).sum == (0L until 501L).map(i => 10L + i % 7).sum)
    // shard files hold rows ORDERED by position (the loader streams them)
    val s0 = spark.read.parquet(base + "/a").where(col("shard") === 0)
      .select("shuffle_pos").collect().map(_.getLong(0)).toSeq
    assert(s0.sorted == (m1.head._4 to m1.head._5).toSeq)
    // deterministic: a second store produces the identical manifest,
    // including the xor membership fingerprints
    val m2 = Curation.writeTrainingShards(df.coalesce(1), "id", col("w"), base + "/b", 4, 16)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    assert(m1 == m2)
  }

  test("rrfFuse: driver-math fusion of two known rankings") {
    // list A ranks (1, 2, 3) by score desc; list B ranks (3, 2, 4) by dist asc
    val a = Seq((1L, 9.0), (2L, 5.0), (3L, 1.0)).toDF("id", "score")
    val b = Seq((3L, 0.1), (2L, 0.5), (4L, 0.9)).toDF("id", "dist")
    val got = TextAnalysis.rrfFuse(
        Seq((a, col("score").desc), (b, col("dist"))), "id", c = 60, topN = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList
    def r9(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val want = Map(
      1L -> (r9(1.0 / 61), 1L), 2L -> (BigDecimal(r9(1.0 / 62)) + BigDecimal(r9(1.0 / 62)), 2L),
      3L -> (BigDecimal(r9(1.0 / 63)) + BigDecimal(r9(1.0 / 61)), 2L), 4L -> (r9(1.0 / 63), 1L))
    val wantList = want.map {
      case (id, (s: BigDecimal, n)) => (id, s.toDouble, n)
      case (id, (s: Double, n)) => (id, s, n)
    }.toList.sortBy(t => (-t._2, t._1))
    assert(got == wantList)
    // doc 2 (rank 2 in both) outranks doc 3 (ranks 3 and 1) — rank sums equal
    // but 2's terms are balanced; verify the actual order is by the score
    assert(got.map(_._1).take(2).toSet == Set(2L, 3L))
  }

  test("bigramLogProb: driver-math interpolated score; sub-2-token docs absent") {
    val docs = Seq((1L, "a b a"), (2L, "b a"), (3L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(docs, "doc_id", "text", lambda = 0.7)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // corpus pairs: doc1 (a,b), (b,a); doc2 (b,a) -> cb: (a,b)=1, (b,a)=2
    // ctx: a=1, b=2; unigrams: a=3, b=2, x=1; N=6
    def r9(x: Double) = java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val lpAB = r9(math.log(0.7 * 1 / 1.0 + (1.0 - 0.7) * 2 / 6.0)) // p(b|a)
    val lpBA = r9(math.log(0.7 * 2 / 2.0 + (1.0 - 0.7) * 3 / 6.0)) // p(a|b)
    val want = Map(
      1L -> (r6((lpAB.add(lpBA)).doubleValue() / 2), 2L),
      2L -> (r6(lpBA.doubleValue()), 1L))
    assert(got == want.map { case (k, (m, n)) => k -> ((m, n)) })
    assert(!got.contains(3L))
  }

  test("weightedSample: ES keys match driver math; zero/null weights excluded; bias direction") {
    val df = (0L until 400L).map(i => (i, if (i < 200) 1L else 100L)).toDF("id", "w")
    val got = Curation.weightedSample(df, "id", col("w"), 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // keys replay exactly from ids
    def h53(id: Long): Long = {
      val lo = id % 2147483648L; val hi = id / 2147483648L
      (lo * 2654435761L + hi * 40503L) % 1000000007L * 8388608L +
        (lo * 2246822519L + hi * 69069L) % 8388593L
    }
    def key(id: Long, w: Long): Double = {
      val u = (h53(id) + 1).toDouble / 9007199254740992.0
      java.math.BigDecimal.valueOf(math.log(u) / w)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    got.foreach { case (id, w, k) => assert(k == key(id, w), s"id $id") }
    // heavy rows (w=100) should dominate a 100-of-400 sample overwhelmingly
    val heavy = got.count(_._2 == 100L)
    assert(heavy > 80, s"only $heavy heavy rows sampled")
    // weight <= 0 / null rows never sample
    val z = Seq((1L, 0L), (2L, -5L), (3L, 10L)).toDF("id", "w")
    assert(Curation.weightedSample(z, "id", col("w"), 10)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("containmentPairs finds a low-Jaccard full containment; observer reports capped postings") {
    val small = "the unique quick brown fox jumps over one lazy dog tonight"
    val big = small + " " + (1 to 40).map(i => s"unrelated filler sentence number $i with extra words").mkString(" ")
    val other = "completely different content that shares nothing with either document at all"
    val docs = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 1's shingles are a subset of doc 2's (containment 1.0) while
    // Jaccard is tiny — the pair MinHash banding cannot see
    assert(got.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 }, got.mkString(","))
    assert(!got.exists { case (a, b, _) => Set(a, b).contains(3L) })
    // with maxPostings=1 every shared shingle is over-cap: the observer
    // reports them and the pair is (documentedly) lost
    val run = Dedup.containmentRun(docs, "doc_id", "text", 3, 0.9, maxPostings = 1)
    assert(run.pairs.count() == 0)
    assert(run.overCapShingles() > 0)
  }

  test("similarDocsSparse ranks shared-rare-term docs first; stop-posting cap cuts hubs") {
    val docs = Seq(
      (1L, "rareword alpha beta"),
      (2L, "rareword alpha gamma"),
      (3L, "alpha beta gamma delta"),
      (4L, "unrelated totally different terms here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.similarDocsSparse(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // docs 1 and 2 share the rarest term -> each other's top neighbor
    assert(got.exists { case (d, rk, o, _) => d == 1L && rk == 1L && o == 2L }, got.mkString(","))
    assert(got.exists { case (d, rk, o, _) => d == 2L && rk == 1L && o == 1L })
    // doc 4 shares no term with anyone: absent from every list
    assert(!got.exists { case (d, _, o, _) => d == 4L || o == 4L })
    // maxDf = 1 removes every shared posting -> no candidate pairs, and
    // the observer reports exactly the cut terms (never a silent cut)
    val run = TextAnalysis.similarDocsSparseRun(docs, "doc_id", "text", 2, maxDf = 1)
    assert(run.neighbors.count() == 0)
    assert(run.cutTerms() == 4L, s"cut ${run.cutTerms()}") // rareword, alpha, beta, gamma (df >= 2)
    assert(TextAnalysis.similarDocsSparseRun(docs, "doc_id", "text", 2).cutTerms() == 0L)
  }

  test("containmentPairs equals brute-force containment on a randomized corpus") {
    // the prefix-filter blocking claims ZERO false negatives — check it
    // against the definition on a corpus random enough to hit prefix
    // boundaries, tie ranks, and equal-size orientations (fixed seed)
    val rnd = new scala.util.Random(20260814L)
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    val docs = (0 until 60).map { i =>
      val n = 3 + rnd.nextInt(15)
      (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val t = 0.7
    val got = Dedup.containmentPairs(df, "doc_id", "text", shingleN = 4, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force from the same shingle kernel
    val sets = df.select(col("doc_id"),
        Dedup.shingleHashes(col("text"), 4).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      inter = sets(a).intersect(sets(b)).size.toDouble
      c = graft.kernels.Quantize.roundHalfUp(
        inter / math.min(sets(a).size, sets(b).size), 6)
      if c >= t
    } yield (a, b) -> c).toMap
    assert(got == want,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
    assert(want.nonEmpty, "degenerate corpus: no pairs to check")
  }

  test("hammingPairs equals brute-force popcount pairs on random clustered hashes") {
    val rnd = new scala.util.Random(42L)
    val bases = Seq.fill(6)(rnd.nextLong())
    val rows = (0 until 80).map { i =>
      var h = bases(i % bases.size)
      (0 until rnd.nextInt(6)).foreach(_ => h ^= 1L << rnd.nextInt(64))
      (i.toLong, h)
    }
    val k = 4
    val got = Dedup.hammingPairs(rows.toDF("id", "h"), "id", col("h"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val byId = rows.toMap
    val want = (for {
      a <- rows.map(_._1); b <- rows.map(_._1) if a < b
      d = java.lang.Long.bitCount(byId(a) ^ byId(b)).toLong
      if d <= k
    } yield (a, b, d)).toSet
    assert(got == want, s"sym diff ${(got diff want).take(3)} ${(want diff got).take(3)}")
    assert(want.nonEmpty)
  }

  test("pcmEnergyFingerprint: deterministic, content-sensitive, degenerate-safe") {
    import graft.ops.MediaCodec
    val a = MediaCodec.pcmEnergyFingerprint(MediaCodec.wavPcmFixture(16000, 1, 80, 7L))
    val a2 = MediaCodec.pcmEnergyFingerprint(MediaCodec.wavPcmFixture(16000, 1, 80, 7L))
    val b = MediaCodec.pcmEnergyFingerprint(MediaCodec.wavPcmFixture(16000, 1, 80, 8L))
    assert(a.isDefined && a == a2, "same content must fingerprint identically")
    assert(a.get.fingerprint != b.get.fingerprint, "different content collided")
    assert(a.get.n_windows == 10)
    // fewer than 3 full frames: no interior peaks, envelope still hashed
    val tiny = MediaCodec.pcmEnergyFingerprint(MediaCodec.wavPcmFixture(16000, 1, 16, 7L))
    assert(tiny.get.n_windows == 2 && tiny.get.n_peaks == 0 && tiny.get.fingerprint != 0L)
    // undecodable -> None
    assert(MediaCodec.pcmEnergyFingerprint(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("gifFrameStats: frame/delay walk, color-table skips, malformed -> None") {
    import graft.ops.MediaCodec
    val g = MediaCodec.gifFrameStats(MediaCodec.gifAnimFixture(8, 6, frames = 4, delayCs = 10))
    assert(g.contains(MediaCodec.GifFrames(4, 40)))
    // the static single-block fixture: zero frames, zero delay
    assert(MediaCodec.gifFrameStats(MediaCodec.gifFixture(5, 5))
      .contains(MediaCodec.GifFrames(0, 0)))
    // truncated mid-frame -> None, never a partial count
    val full = MediaCodec.gifAnimFixture(8, 6, 3, 5)
    assert(MediaCodec.gifFrameStats(full.dropRight(6)).isEmpty)
    assert(MediaCodec.gifFrameStats("notagif".getBytes).isEmpty)
    // a global color table shifts the block stream; the walk must skip it
    val withTable = {
      val base = MediaCodec.gifAnimFixture(4, 4, 2, 7)
      val out = new java.io.ByteArrayOutputStream()
      out.write(base, 0, 10)
      out.write(0x80 | 0); out.write(0); out.write(0) // packed: table of 2 entries
      out.write(new Array[Byte](3 * 2))               // the table
      out.write(base, 13, base.length - 13)
      out.toByteArray
    }
    assert(MediaCodec.gifFrameStats(withTable).contains(MediaCodec.GifFrames(2, 14)))
  }

  test("pngDhash63: stable under filter type, null on bad pool dims, locality of change") {
    import graft.ops.MediaCodec
    // the same pixels through different scanline filters decode identically
    val h0 = MediaCodec.pngDhash63(MediaCodec.pngPixelFixture(18, 16, 7L, 0))
    (1 to 4).foreach { f =>
      assert(MediaCodec.pngDhash63(MediaCodec.pngPixelFixture(18, 16, 7L, f)) == h0,
        s"filter $f changed the dhash")
    }
    assert(h0.isDefined && (h0.get & (1L << 63)) == 0L, "bit 63 must stay clear")
    // dimensions that don't divide into the 9x8 pool grid -> None
    assert(MediaCodec.pngDhash63(MediaCodec.pngPixelFixture(17, 16, 7L, 0)).isEmpty)
    assert(MediaCodec.pngDhash63(MediaCodec.pngPixelFixture(18, 15, 7L, 0)).isEmpty)
    // undecodable -> None; grayscale path decodes
    assert(MediaCodec.pngDhash63(Array[Byte](1, 2, 3)).isEmpty)
    assert(MediaCodec.pngDhash63(
      MediaCodec.pngPixelFixture(18, 16, 7L, 0, channels = 1)).isDefined)
    // a nearby seed shifts mod-256 wrap positions slightly: hashes are
    // close but the hash still discriminates across the corpus
    val hs = (0L until 64L).map(s =>
      MediaCodec.pngDhash63(MediaCodec.pngPixelFixture(18, 16, s, 0)).get)
    assert(hs.distinct.size > 8, s"only ${hs.distinct.size} distinct dhashes in 64 seeds")
    val d01 = java.lang.Long.bitCount(hs(0) ^ hs(1))
    assert(d01 <= 16, s"adjacent seeds unexpectedly far: $d01 bits")
  }

  test("pcaTopComponents: orthogonal unit directions recovering the two variance axes") {
    // variance on axes 1 (±8) and 3 (±3), noise-free elsewhere
    val rows = (0 until 48).map { i =>
      (i.toLong, Array(0.0f,
        if (i % 2 == 0) 8.0f else -8.0f,
        0.0f,
        if ((i / 2) % 2 == 0) 3.0f else -3.0f))
    }
    val df = rows.toDF("id", "vec")
    val (vs, es) = graft.ops.Embeddings.pcaTopComponents(df, "vec", 4, d = 2, rounds = 4)
    assert(vs.size == 2 && es.size == 2)
    assert(math.abs(vs(0)(1)) > 0.99, s"first axis: ${vs(0)}")
    assert(math.abs(vs(1)(3)) > 0.99, s"second axis: ${vs(1)}")
    assert(es(0) > es(1) && es(1) > 0.0, s"eigs $es")
    val dot = vs(0).zip(vs(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 1e-6, s"components not orthogonal: $dot")
    vs.foreach { v =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-6, "not unit norm")
    }
  }

  test("unimaxAllocation matches the literal sequential waterfill; budget conserved") {
    val sizes = Seq("a" -> 10L, "b" -> 25L, "c" -> 25L, "d" -> 400L, "e" -> 1000L, "f" -> 3L)
    val df = sizes.toDF("dom", "w")
    for ((budget, e) <- Seq((500L, 3), (2000L, 2), (10000L, 2), (50L, 1))) {
      val got = Curation.unimaxAllocation(df, "dom", col("w"), budget, e)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      // the paper's sequential algorithm, verbatim
      var remaining = budget.toDouble
      val want = scala.collection.mutable.Map[String, Double]()
      val ordered = sizes.sortBy { case (d, s) => (s, d) }
      for (((d, s), i) <- ordered.zipWithIndex) {
        val a = math.min(e.toDouble * s, remaining / (ordered.size - i))
        want(d) = a; remaining -= a
      }
      got.foreach { case (d, a) =>
        assert(math.abs(a - want(d)) < 1e-5, s"B=$budget E=$e dom=$d: $a vs ${want(d)}")
      }
      // budget never exceeded; fully spent unless every domain capped
      val spent = got.values.sum
      assert(spent <= budget + 1e-5)
      val allCapped = sizes.forall { case (d, s) => math.abs(got(d) - e.toDouble * s) < 1e-5 }
      assert(allCapped || math.abs(spent - budget) < 1e-5)
    }
    // zero-weight domains are excluded
    val z = Seq("a" -> 5L, "zero" -> 0L).toDF("dom", "w")
    assert(Curation.unimaxAllocation(z, "dom", col("w"), 100L, 2)
      .collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("pcaTopComponent finds the dominant axis; removeTopComponent flattens it") {
    // variance concentrated on axis 1 (values ±8), tiny spread elsewhere
    val rows = (0 until 40).map { i =>
      val main = if (i % 2 == 0) 8.0f else -8.0f
      (i.toLong, Array(0.1f * (i % 3), main, 0.05f * (i % 2), 0.0f))
    }
    val df = rows.toDF("id", "vec")
    val (v, eig) = graft.ops.Embeddings.pcaTopComponent(df, "vec", 4, rounds = 3)
    assert(eig > 0.0)
    assert(math.abs(v(1)) > 0.99, s"dominant axis not found: ${v.mkString(",")}")
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-6, "not unit norm")
    // ABTT output has (near-)zero projection on the removed direction
    val mu = graft.ops.Embeddings.meanVector(df, "vec", 4)
    val post = graft.ops.Embeddings.removeTopComponent(df, "id", "vec", 4, mu, v)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(post.length == 40 * 4)
    val proj = post.groupBy(_._1).values.map { lanes =>
      lanes.sortBy(_._2).map(_._3).zip(v).map { case (x, vi) => x * vi }.sum
    }
    assert(proj.forall(p => math.abs(p) < 1e-4), s"max residual ${proj.map(math.abs).max}")
  }

  test("dsirScores ranks target-like docs above off-distribution docs; sample follows") {
    // target slice speaks {alpha beta}; off-distribution docs speak
    // {zork quux}; a mixed doc sits between
    val docs = Seq(
      (0L, "alpha beta alpha beta alpha beta", true),
      (1L, "beta alpha beta alpha beta alpha", true),
      (2L, "alpha beta alpha beta beta alpha", false), // target-like, not in slice
      (3L, "zork quux zork quux zork quux", false),
      (4L, "alpha beta zork quux alpha zork", false),
      (5L, "", false) // no clean tokens -> absent from output
    ).toDF("doc_id", "text", "is_t")
    val sc = Curation.dsirScores(docs, "doc_id", "text", col("is_t"), buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!sc.contains(5L), "tokenless doc must not appear")
    assert(sc(2L) > sc(4L) && sc(4L) > sc(3L),
      s"expected target-like > mixed > off-distribution, got $sc")
    // equal token profiles score identically regardless of slice membership
    assert(sc(0L) == sc(1L))
    // Gumbel top-k keys replay from idHash53 + score; high scorers dominate
    val scored = Curation.dsirScores(docs, "doc_id", "text", col("is_t"), buckets = 64)
    val top = Curation.dsirSample(scored, "doc_id", col("dsir_score"), 3)
      .collect().map(_.getLong(0)).toSet
    assert(!top.contains(3L), s"worst doc sampled into top-3: $top")
  }

  test("hashKeys: anchorTexts/webLinkGraph exchanges carry no string-typed partitioning keys") {
    val pages = spark.range(50).select(col("id").as("doc_id"),
      concat(lit("https://h"), (col("id") % 5).cast("string"),
        lit(".com/p"), col("id").cast("string")).as("page_url"),
      concat(lit("<a href=\"https://t"), (col("id") % 7).cast("string"),
        lit(".org/x"), (col("id") % 11).cast("string"), lit("\">anchor "),
        col("id").cast("string"), lit("</a>")).as("html"))
    def shufflePartitionings(df: DataFrame)
        : Seq[org.apache.spark.sql.catalyst.plans.physical.Partitioning] = {
      def walk(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.catalyst.plans.physical.Partitioning] = {
        val here = p match {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            Seq(e.outputPartitioning)
          case _ => Nil
        }
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case _ => p.children
        }
        here ++ kids.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
    }
    def stringKeyed(ps: Seq[org.apache.spark.sql.catalyst.plans.physical.Partitioning])
        : Boolean = ps.exists {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.exists(_.dataType ==
          org.apache.spark.sql.types.StringType)
      case _ => false
    }
    // the string-keyed variants DO key an exchange on a string (the
    // contrast that proves the assertion below bites)
    assert(stringKeyed(shufflePartitionings(
      TextAnalysis.anchorTexts(pages, "doc_id", "page_url", "html"))))
    assert(stringKeyed(shufflePartitionings(
      TextAnalysis.webLinkGraph(pages, "doc_id", "page_url", "html"))))
    // the hashKeys variants never do: every exchange key is fixed-width
    val at = TextAnalysis.anchorTexts(pages, "doc_id", "page_url", "html",
      hashKeys = true)
    val wg = TextAnalysis.webLinkGraph(pages, "doc_id", "page_url", "html",
      hashKeys = true)
    assert(shufflePartitionings(at).nonEmpty && !stringKeyed(shufflePartitionings(at)))
    assert(shufflePartitionings(wg).nonEmpty && !stringKeyed(shufflePartitionings(wg)))
    // and the knob changes no values
    val a0 = TextAnalysis.anchorTexts(pages, "doc_id", "page_url", "html")
      .orderBy("dst_url").collect().toSeq
    val a1 = at.orderBy("dst_url").collect().toSeq
    assert(a0 === a1)
    val g0 = TextAnalysis.webLinkGraph(pages, "doc_id", "page_url", "html")
      .orderBy("src_host", "dst_host").collect().toSeq
    val g1 = wg.orderBy("src_host", "dst_host").collect().toSeq
    assert(g0 === g1)
  }
}
