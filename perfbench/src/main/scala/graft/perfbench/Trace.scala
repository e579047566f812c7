package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. Disabled, a
  * span is just the call itself.
  */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        buf += Span(id, parent, name, t0, t1)
      }
    }

  def spans: Seq[Span] = buf.toSeq

  def durationsMs(name: String): Seq[Double] =
    buf.iterator.filter(_.name == name).map(_.durNs / 1e6).toSeq
}

object Tracer {

  /** Nanoseconds of `[from, until)` covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], from: Long, until: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, from), math.min(e, until)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(cs, s.startNs, s.endNs))
    }.toMap
  }
}

/** Spark runtime of one benchmark call: job intervals (epoch ms, with
  * their `spark.job.description`) and task totals.
  */
final class CallStats {
  val jobs: ArrayBuffer[(Long, Long, String)] = ArrayBuffer.empty
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's own listener. Jobs, stages and tasks are attributed
  * to a call through the `perfbench.call` local property, which Spark
  * copies to every job the calling thread (or an SQL broadcast or
  * subquery thread it spawns) submits.
  */
final class RuntimeListener extends SparkListener {
  private val calls = new ConcurrentHashMap[String, CallStats]()
  private val jobCall = new ConcurrentHashMap[Int, (String, Long, String)]()
  private val stageCall = new ConcurrentHashMap[Int, String]()

  private def stats(call: String): CallStats = calls.computeIfAbsent(call, _ => new CallStats)

  private def callOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(RuntimeListener.CallKey)))

  override def onJobStart(j: SparkListenerJobStart): Unit =
    callOf(j.properties).foreach { c =>
      val desc = Option(j.properties.getProperty("spark.job.description")).getOrElse("")
      jobCall.put(j.jobId, (c, j.time, desc))
      j.stageIds.foreach(stageCall.put(_, c))
    }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    callOf(s.properties).foreach(stageCall.put(s.stageInfo.stageId, _))

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val c = stageCall.get(t.stageId)
    val m = t.taskMetrics
    if (c != null && m != null) {
      val st = stats(c)
      st.synchronized {
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val rec = jobCall.remove(j.jobId)
    if (rec != null) {
      val st = stats(rec._1)
      st.synchronized { st.jobs += ((rec._2, j.time, rec._3)) }
    }
  }

  /** Wait until the listener bus has delivered every event posted so
    * far, then hand over and forget everything recorded for `call`,
    * including jobs that started but never ended and stage mappings.
    */
  def take(sc: SparkContext, call: String): CallStats = {
    org.apache.spark.perfbench.Bus.drain(sc)
    jobCall.entrySet().removeIf(_.getValue._1 == call)
    stageCall.entrySet().removeIf(_.getValue == call)
    Option(calls.remove(call)).getOrElse(new CallStats)
  }
}

object RuntimeListener {
  val CallKey = "perfbench.call"
}
