package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload; see perfbench/README.md.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <result.json>
  *
  * Untraced, the run reports the end-to-end figures. Traced, the closed
  * loop alternates untraced and traced rounds; the run reports the
  * per-layer figures, with the difference between the two kinds of round
  * as tracing overhead, and the figures of the workload's probe (the
  * curation probe, or the ingest probe).
  */
object Main {

  /** Set-ups per run; the median is reported. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val result = run(spark, workload, seed, seconds, traced, work, cores) + ("startup_s" -> startupS)
      Files.write(Paths.get(opt("out")), Json.write(result).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, traced: Boolean,
          work: String, cores: Int): Map[String, Any] = {
    val ctx = Ctx(spark, seed, work, cores)
    val w = Workloads(workload, ctx)
    val t0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - t0) / 1e9
    // an untimed first set-up settles JIT and codegen for the timed ones
    val warmH = new Harness(spark, traced = false)
    w.setup(warmH)
    val setupH = new Harness(spark, traced)
    val setupS = (1 to SetupReps).map { _ =>
      val s0 = System.nanoTime()
      setupH.span("setup")(w.setup(setupH))
      (System.nanoTime() - s0) / 1e9
    }
    setupH.close()
    // the warm-up runs on the last set-up's state, right before the loop:
    // the first rounds after a set-up are slow
    val w0 = System.nanoTime()
    w.warmup(warmH)
    val warmS = (System.nanoTime() - w0) / 1e9

    val loopH = new Harness(spark, traced = false)
    val tracedH = if (traced) Some(new Harness(spark, traced = true)) else None
    val start = System.currentTimeMillis()
    // traced, untraced and traced rounds alternate, so both kinds see the
    // same warm-up and store state
    w.loop(i => if (i % 2 == 1) tracedH.getOrElse(loopH) else loopH, seconds)
    val end = System.currentTimeMillis()
    val figures = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    w.opFigures(loopH, figures)
    tracedH.foreach { t =>
      t.close()
      w.layerFigures(setupH, t, figures)
      Workloads.runtimeFigures(t, figures)
      figures ++= Layers.kernels(seed, Workloads.Dim)
      figures("codec.parse_json_us") = Layers.parseJsonUs(Gen.probes(seed, Gen.Space(Workloads.Dim, 1, true, 0.3), 1)(0))
      figures("trace.overhead_pct") =
        (Stats.median(t.roundMs.toSeq) / Stats.median(loopH.roundMs.toSeq) - 1.0) * 100.0
    }
    // a probe runs after the loop's listener is gone, on traced
    // harnesses of its own
    val curateH = if (traced && workload == Workloads.CurateHost) Some(new Harness(spark, traced = true)) else None
    curateH.foreach { c =>
      new CurateProbe(ctx).run(c, figures)
      c.close()
      Workloads.runtimeFigures(c, figures)
    }
    val ingestH = if (traced && workload == Workloads.IngestHost) ingestProbe(ctx, figures) else Nil
    tracedH.foreach { t =>
      writeSpans(s"$work/spans.json",
        Seq("setup" -> setupH.tracer, "loop" -> t.tracer) ++ curateH.map(c => "curate" -> c.tracer) ++
          ingestH.lastOption.map(i => "ingest" -> i.tracer))
    }
    val harnesses = Seq(setupH, warmH, loopH) ++ tracedH ++ curateH ++ ingestH

    val rounds = loopH.roundMs.toSeq
    val failures = harnesses.flatMap(_.failures)
    val attempted = harnesses.map(_.attempted).sum
    val failed = math.min(attempted, failures.size.toLong)
    val endToEnd: Map[String, Any] =
      if (rounds.isEmpty) Map.empty
      else Map(
        "setup_s" -> Stats.median(setupS),
        "latency_p50_ms" -> Stats.median(rounds))
    val ops = loopH.latMs.map { case (name, xs) =>
      name -> (Map[String, Any]("n" -> xs.size, "p50_ms" -> Stats.median(xs.toSeq)) ++
        Stats.tail(xs.toSeq).map { case (p, v, b) =>
          Map("tail_pct" -> p, "tail_ms" -> v, "samples_beyond" -> b)
        }.getOrElse(Map.empty))
    }.toMap
    Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "correct" -> (failed == 0 && rounds.nonEmpty), "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.take(20),
      "end_to_end" -> endToEnd,
      "figures" -> figures.toMap,
      "rounds" -> rounds.size,
      "round_ms" -> rounds,
      "ops" -> ops,
      "setup_reps_s" -> setupS,
      "prepare_s" -> prepareS,
      "warmup_s" -> warmS,
      "measure_start_ms" -> start, "measure_end_ms" -> end)
  }

  /** Seconds the ingest probe's loop runs: its waves, plus the reads
    * that fill each wave's share.
    */
  val IngestProbeSeconds = 10.0

  /** The ingest waves, run as a probe in the traced run of
    * `Workloads.IngestHost`: inputs, set-up and warm-up as the workload
    * would, then its loop on one traced harness. Returns the untraced and
    * the traced harness, in that order. Only figures the host workload did
    * not report are added to `out`.
    */
  private def ingestProbe(ctx: Ctx, out: scala.collection.mutable.Map[String, Double]): Seq[Harness] = {
    val spark = ctx.spark
    val w = new IngestWaves(ctx.copy(work = s"${ctx.work}/ingest"))
    val warmH = new Harness(spark, traced = false)
    val h = new Harness(spark, traced = true)
    w.prepare()
    w.setup(warmH)
    w.warmup(warmH)
    w.loop(_ => h, IngestProbeSeconds)
    h.close()
    val figures = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    w.opFigures(h, figures)
    w.layerFigures(h, h, figures)
    Workloads.runtimeFigures(h, figures)
    figures.foreach { case (k, v) => if (!out.contains(k)) out(k) = v }
    Seq(warmH, h)
  }

  /** Span ids are per tracer, so each span is written with its tracer's
    * phase and self times are computed within one tracer.
    */
  private def writeSpans(path: String, tracers: Seq[(String, Tracer)]): Unit = {
    val rows = tracers.flatMap { case (phase, t) =>
      val self = Tracer.selfTimes(t.spans)
      t.spans.map(s => Map("phase" -> phase, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id)))
    }
    Files.write(Paths.get(path), Json.write(rows).getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
