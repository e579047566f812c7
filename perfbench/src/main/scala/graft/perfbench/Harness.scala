package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Spark runtime of one call, as the listener saw it. */
final case class OpRuntime(jobs: Int, gapMs: Double, cpuMs: Double, gcMs: Double,
                           shuffleBytes: Double, spillBytes: Double,
                           jobSecsByDesc: Map[String, Double])

/** The closed-loop client's bookkeeping: one op is one call into the
  * engine, timed from the client; a round is the ops a workload issues
  * for one unit of its traffic (one probe, one ingest wave, one
  * curation run). Traced, every op is also a span and gets its Spark
  * runtime from the benchmark's listener; untraced, an op is a timer.
  */
final class Harness(val spark: SparkSession, val traced: Boolean) {
  val tracer = new Tracer(traced)
  private val listener = if (traced) Some(new RuntimeListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  val latMs: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val runtime: mutable.LinkedHashMap[String, mutable.ArrayBuffer[OpRuntime]] = mutable.LinkedHashMap.empty
  val roundMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  private var calls = 0L
  private var inRound = 0.0

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def op[T](name: String)(body: => T): T = {
    attempted += 1
    calls += 1
    val call = s"$name#$calls"
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(RuntimeListener.CallKey, call)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try tracer.span(s"op.$name")(body)
    catch { case e: Throwable => failures += s"$name: $e"; throw e }
    finally if (traced) sc.setLocalProperty(RuntimeListener.CallKey, null)
    val ms = (System.nanoTime() - t0) / 1e6
    val wall1 = System.currentTimeMillis()
    latMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    inRound += ms
    listener.foreach { l =>
      val st = l.take(sc, call)
      val busy = Tracer.covered(st.jobs.map(j => (j._1, j._2)).toSeq, wall0, wall1)
      val byDesc = st.jobs.groupBy(_._3).map { case (d, js) => d -> js.map(j => (j._2 - j._1) / 1e3).sum }
      runtime.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += OpRuntime(
        st.jobs.size, math.max(0.0, (wall1 - wall0) - busy.toDouble), st.cpuNs / 1e6,
        st.gcMs.toDouble, st.shuffleBytes.toDouble, st.spillBytes.toDouble, byDesc)
    }
    r
  }

  /** Run one round; its latency is the sum of its ops' latencies, so
    * the benchmark's own checks between ops are not counted. A round
    * that throws is recorded as failed and skipped.
    */
  def round(body: => Unit): Unit = {
    inRound = 0.0
    try {
      body
      roundMs += inRound
    } catch {
      case e: Exception =>
        if (failures.isEmpty || !failures.last.endsWith(e.toString)) failures += s"round: $e"
        System.err.println(s"perfbench: round failed: $e")
    }
  }

  /** A failed correctness check counts as one failed op. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failures += what
      System.err.println(s"perfbench: check failed: $what")
    }

  def lat(name: String): Seq[Double] = latMs.get(name).map(_.toSeq).getOrElse(Nil)

  def close(): Unit = listener.foreach(spark.sparkContext.removeSparkListener)
}
