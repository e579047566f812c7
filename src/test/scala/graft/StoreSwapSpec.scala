package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.VectorCatalog
import graft.ops._

/** The store lifecycle ([[StoreSwap]]) as the vector stores use it:
  * appends and drops around crash states, sidecar IO on a URI path, the
  * probed-directory read, and rebuilds that throw mid-write.
  */
class StoreSwapSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val probe: Array[Float] = Queries.probe
  val dim: Int = Queries.Dim
  /** 400 seeded vectors in [-1, 1)^dim, so every store has signed lanes. */
  lazy val emb: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0L until 400L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
  }

  private def newStore(tag: String): String = Files.createTempDirectory(tag).toString + "/store"
  private def staged(store: String): String = StoreSwap.stagingPath(new Path(store)).toString
  private def ids(df: DataFrame, idCol: String): Set[Long] =
    df.select(idCol).collect().map(_.getLong(0)).toSet

  test("quantizeAppend after a crash between the swap renames lands in the recovered store") {
    val store = newStore("qappcrash")
    val e = emb
    Quantizer.quantize(e.where(col("vec_id") % 3 === 0), "vec_id", "embedding", store, dim = dim)
    // a rebuild staged completely, the old store stepped aside, then the crash
    val rebuilt = e.where(col("vec_id") % 3 =!= 2)
    Quantizer.quantize(rebuilt, "vec_id", "embedding", staged(store), dim = dim)
    assert(new File(store).renameTo(new File(StoreSwap.oldPath(new Path(store)).toString)))
    val wave = e.where(col("vec_id") % 3 === 2)
    val added = Quantizer.quantizeAppend(wave, "vec_id", "embedding", store, dim = dim,
      onDrift = "allow")
    assert(added == wave.count())
    val got = Quantizer.readStore(spark, store)
    assert(ids(got, "id") == ids(rebuilt, "vec_id") ++ ids(wave, "vec_id"))
    assert(VectorCatalog.readSidecar(s"$store/_vector_meta.json").rows == got.count())
    assert(!new File(StoreSwap.oldPath(new Path(store)).toString).exists)
  }

  test("cleanup drops a complete staged copy too: nothing rolls forward over the drop") {
    val store = newStore("qdropcrash")
    Quantizer.quantize(emb, "vec_id", "embedding", store, dim = dim)
    // crash point 1 of a rebuild: staged copy complete, no rename yet
    Quantizer.quantize(emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      staged(store), dim = dim)
    Quantizer.cleanup(spark, store)
    intercept[AnalysisException](Quantizer.readStore(spark, store))
    assert(!new File(store).exists && !new File(staged(store)).exists)
  }

  test("quantize and quantizeAppend on a file: URI keep the sidecar with the codes") {
    val dir = Files.createTempDirectory("quri")
    val store = dir.toUri.toString.stripSuffix("/") + "/store"
    assert(store.startsWith("file:///"))
    val e = emb
    val (p, n0) = Quantizer.quantize(e.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      store, dim = dim)
    val added = Quantizer.quantizeAppend(e.where(col("vec_id") % 2 === 1), "vec_id",
      "embedding", store, dim = dim, onDrift = "allow")
    assert(new File(dir.toFile, "store/_vector_meta.json").exists)
    val back = VectorCatalog.readSidecar(s"$store/_vector_meta.json")
    assert(back == p.copy(rows = n0 + added))
    assert(Quantizer.readStore(spark, store).count() == e.count())
  }

  test("ivfTopK falls back to the root read when the probed cell holds no parquet footer") {
    val store = newStore("ivfempty")
    val e = emb
    val cents = Ann.ivfCentroids(e, "vec_id", "embedding", 8)
    Ann.writeIvf(e, "embedding", store, cents)
    val cell = Ann.probeClusters(probe, cents, 1).head
    // a partial write: the probed cell's directory exists but is empty
    new File(store, s"cluster=$cell").listFiles().foreach(f => assert(f.delete()))
    val got = Ann.ivfTopK(spark, store, "vec_id", "embedding", probe, 10, "l2", cents, 1)
      .collect().toSeq
    val rootRead = Knn.fullScan(spark.read.parquet(store).where(col("cluster") === cell),
      "vec_id", "embedding", probe, 10, "l2").collect().toSeq
    assert(got == rootRead)
  }

  test("replace refuses to promote a staged copy that an open removed before the commit") {
    val store = newStore("swaprace")
    Quantizer.quantize(emb, "vec_id", "embedding", store, dim = dim)
    val before = Quantizer.readStore(spark, store).count()
    // an open between the stage write and the renames sweeps the staged copy
    intercept[IllegalArgumentException](StoreSwap.replace(spark, store) { tmp =>
      emb.write.parquet(tmp)
      StoreSwap.open(spark, store)
    })
    assert(Quantizer.readStore(spark, store).count() == before)
  }

  // ---------- rebuilds that throw mid-write ----------

  /** Run `rebuild` so that its write stage throws, then check the store
    * reads back as it was. The session's Parquet codec names a class that
    * is not on the classpath, so every write task fails once the write job
    * runs (a row that throws in the input would fail the shuffle stage of
    * a partitioned build, before any write starts).
    */
  private def survives[T](store: String)(read: => T)(rebuild: => Unit): Unit = {
    val before = read
    val codec = "spark.sql.parquet.compression.codec"
    spark.conf.set(codec, "brotli")
    try intercept[Exception](rebuild) finally spark.conf.unset(codec)
    assert(read == before)
    assert(StoreSwap.open(spark, store) && !new File(staged(store)).exists,
      "the next open sweeps the partial stage")
  }

  test("quant rebuild that throws mid-write leaves the old store and sidecar") {
    val store = newStore("qrebuild")
    Quantizer.quantize(emb, "vec_id", "embedding", store, dim = dim)
    survives(store) {
      val codes = Quantizer.readStore(spark, store).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      (codes, VectorCatalog.readSidecar(s"$store/_vector_meta.json"))
    } {
      Quantizer.quantize(emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", store,
        dim = dim)
    }
  }

  test("LSH and IVF rebuilds that throw mid-write leave the old stores") {
    val lsh = newStore("lshrebuild")
    Ann.writeBucketed(emb, "embedding", lsh, 8, dim)
    survives(lsh) {
      Ann.lshTopKPruned(spark, lsh, "vec_id", "embedding", probe, 10, "l2", 8).collect().toSeq
    } {
      Ann.writeBucketed(emb.where(col("vec_id") % 2 === 0), "embedding", lsh, 8, dim)
    }
    val ivf = newStore("ivfrebuild")
    val cents = Ann.ivfCentroids(emb, "vec_id", "embedding", 8)
    Ann.writeIvf(emb, "embedding", ivf, cents)
    survives(ivf) {
      Ann.ivfTopK(spark, ivf, "vec_id", "embedding", probe, 10, "l2", cents, 2).collect().toSeq
    } {
      Ann.writeIvf(emb, "embedding", ivf, cents.take(4))
    }
  }

  private def flat(cb: Pq.PqCodebook): Seq[Float] = cb.cents.toSeq.flatMap(_.toSeq.flatMap(_.toSeq))

  test("PQ and IVF-PQ rebuilds that throw mid-write keep codes paired with their codebook") {
    val e = emb
    val cb = Pq.codebook(e, "vec_id", "embedding", dim, 8, 16)
    val other = Pq.codebook(e.where(col("vec_id") % 2 === 0), "vec_id", "embedding", dim, 8, 8)
    val pq = newStore("pqrebuild")
    Pq.write(e, "vec_id", "embedding", pq, cb)
    survives(pq) {
      val (codes, cb2) = Pq.read(spark, pq)
      (Pq.adcTopK(codes, "id", "codes", probe, 10, cb2).collect().toSeq, flat(cb2))
    } {
      Pq.write(e, "vec_id", "embedding", pq, other)
    }
    assert(flat(Pq.read(spark, pq)._2) == flat(cb))

    val ivfPq = newStore("ivfpqrebuild")
    val cents = Ann.ivfCentroids(e, "vec_id", "embedding", 8)
    Pq.writeIvfPq(e, "vec_id", "embedding", ivfPq, cents, cb)
    survives(ivfPq) {
      val (_, cents2, cb2) = Pq.readIvfPq(spark, ivfPq)
      (Pq.ivfPqTopK(spark, ivfPq, probe, 10, cents2, cb2, 2).collect().toSeq, cents2, flat(cb2))
    } {
      Pq.writeIvfPq(e, "vec_id", "embedding", ivfPq, cents.take(4), other)
    }
    val (_, cents3, cb3) = Pq.readIvfPq(spark, ivfPq)
    assert(cents3 == cents && flat(cb3) == flat(cb))
  }
}
