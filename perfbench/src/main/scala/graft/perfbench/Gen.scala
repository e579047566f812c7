package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generator. Every value is a pure function of
  * (seed, stream, id), so the inputs of a seed do not depend on how
  * Spark partitions or orders the rows that produce them.
  */
object Gen {

  /** Which family of ids a vector belongs to: corpus rows and probes
    * come from the same distribution but never share a random stream.
    */
  val CorpusStream = 1L
  val ProbeStream = 2L
  private val CentroidStream = 3L

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of `a` and `b`. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), id))

  /** A clustered vector space. Signed spaces centre their clusters in
    * [-1, 1) (the AUTO quantization type picks INT8); unsigned spaces
    * clamp every lane into [0, 1] (UINT8) and pin lanes 0 and 1 of
    * corpus row 0 to 0 and 1, so the corpus envelope is exactly [0, 1]
    * and no later wave of the same space can drift out of it.
    */
  final case class Space(dim: Int, clusters: Int, signed: Boolean, spread: Double)

  def centroids(seed: Long, sp: Space): Array[Array[Float]] =
    Array.tabulate(sp.clusters) { c =>
      val r = rng(seed, CentroidStream, c)
      Array.fill(sp.dim)(
        (if (sp.signed) r.nextDouble(-1.0, 1.0) else r.nextDouble(0.2, 0.8)).toFloat)
    }

  def vector(cents: Array[Array[Float]], sp: Space, seed: Long, stream: Long, id: Long): Array[Float] = {
    val r = rng(seed, stream, id)
    val c = cents(r.nextInt(cents.length))
    val v = new Array[Float](sp.dim)
    var i = 0
    while (i < sp.dim) {
      val x = c(i) + (r.nextDouble() * 2.0 - 1.0) * sp.spread
      v(i) = (if (sp.signed) x else math.min(1.0, math.max(0.0, x))).toFloat
      i += 1
    }
    if (!sp.signed && stream == CorpusStream && id == 0L) { v(0) = 0f; v(1) = 1f }
    v
  }

  /** Probe vectors: fresh draws from the corpus distribution. */
  def probes(seed: Long, sp: Space, n: Int): Array[Array[Float]] = {
    val cents = centroids(seed, sp)
    Array.tabulate(n)(i => vector(cents, sp, seed, ProbeStream, i.toLong))
  }

  /** Corpus rows [from, until) as (id: long, vec: array<float>). */
  def corpus(spark: SparkSession, seed: Long, sp: Space, from: Long, until: Long,
             partitions: Int): DataFrame = {
    import spark.implicits._
    val cents = centroids(seed, sp)
    // a typed map writes each vector as one primitive array, without the
    // per-lane boxing a UDF result goes through
    spark.range(from, until, 1, partitions)
      .map(id => (id.longValue, vector(cents, sp, seed, CorpusStream, id)))
      .toDF("id", "vec")
  }

  /** Write corpus rows to a parquet store and return it as read back. */
  def writeCorpus(spark: SparkSession, seed: Long, sp: Space, from: Long, until: Long,
                  partitions: Int, path: String): DataFrame = {
    // random floats never fit a parquet dictionary; the writer would try
    // one per column chunk and then rewrite the chunk in plain encoding,
    // which is what skipping the attempt writes directly
    corpus(spark, seed, sp, from, until, partitions).write
      .option("parquet.enable.dictionary", "false").mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
