package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints one environment line and, last, one JSON result line on
  * stdout; everything else goes to stderr. Traces and scratch files go
  * under `out`, `.bench_build/perfbench` in the working directory. */
final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean, out: File)

object Config {
  val Workloads = Seq("engine-deep", "wire-shallow", "source-microbatch")

  private val Keys = Set("workload", "seed", "seconds", "trace")

  def parse(args: Seq[String]): Either[String, Config] = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(Workloads.contains, s"unknown workload; one of ${Workloads.mkString(", ")}")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toDoubleOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      trace <- need("trace").filterOrElse(t => t == "0" || t == "1", "--trace takes 0 or 1")
      _ <- if (args.length % 2 == 0 && kv.size * 2 == args.length && kv.keySet.subsetOf(Keys)) Right(())
        else Left(s"bad arguments: ${args.mkString(" ")}")
    } yield Config(w, seed, secs, trace == "1", new File(".bench_build/perfbench"))
  }
}

/** The benchmark's output: metric name → (value, unit), in the order of
  * BENCHMARK.json, plus the op counts and audit outcome. */
final case class Result(attempted: Long, failed: Long, audits: Seq[String],
    metrics: Seq[(String, Double, String)], env: String) {
  def correct: Boolean = failed == 0 && audits.isEmpty
  def json: String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${Result.num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Result {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "read_p50_ms" -> "ms", "write_p50_ms" -> "ms", "deliver_p50_ms" -> "ms")

  /** What a user sees too, but reported with the per-layer metrics,
    * ungated: throughput and the tails of the timings follow every
    * scheduling stall of the shared 4-vCPU machine, and their spread over
    * ten runs reached 0.6 (wire-shallow throughput) where the medians of
    * the same timings stayed within 0.25. */
  val Ungated: Seq[(String, String)] = Seq("msgs_per_s" -> "1/s",
    "read_p99_ms" -> "ms", "write_p99_ms" -> "ms", "deliver_p99_ms" -> "ms")

  private val WireCommands = Seq("XADD", "XPENDING", "XREADGROUP", "XACK", "XINFO", "XCLAIM")

  /** Span-timed per-layer metrics: (metric, span, quantile or -1 for the
    * supported tail, unit). */
  val SpanMetrics: Seq[(String, String, Double, String)] =
    Seq(
      ("StreamLog.add.p50_us", "StreamLog.add", 0.5, "us"),
      ("StreamLog.add.p99_us", "StreamLog.add", -1.0, "us"),
      ("StreamLog.after.p50_us", "StreamLog.after", 0.5, "us"),
      ("ConsumerGroup.pendingOf.p50_us", "ConsumerGroup.pendingOf", 0.5, "us"),
      ("ConsumerGroup.readOwn.p50_us", "ConsumerGroup.readOwn", 0.5, "us"),
      ("ConsumerGroup.ack.p50_us", "ConsumerGroup.ack", 0.5, "us"),
      ("Monitor.collectMonitoringData.p50_ms", "Monitor.collectMonitoringData", 0.5, "ms"),
      ("Scaler.getScaleDecision.p50_ms", "Scaler.getScaleDecision", 0.5, "ms"),
      ("Scaler.collectMetrics.p50_ms", "Scaler.collectMetrics", 0.5, "ms"),
      ("WireMonitor.collectMonitoringData.p50_ms", "WireMonitor.collectMonitoringData", 0.5, "ms"),
      ("WireScaler.getScaleDecision.p50_ms", "WireScaler.getScaleDecision", 0.5, "ms"),
      ("WireScaler.collectMetrics.p50_ms", "WireScaler.collectMetrics", 0.5, "ms")) ++
    WireCommands.flatMap(c => Seq(
      (s"RespClient.call.$c.p50_us", s"RespClient.call.$c", 0.5, "us"),
      (s"RespClient.call.$c.p99_us", s"RespClient.call.$c", -1.0, "us"))) ++
    WireCommands.map(c => (s"RespLoopback.execute.$c.p50_us", s"RespLoopback.execute.$c", 0.5, "us")) ++
    Seq(
      ("RespCodec.encode.p50_us", "RespCodec.encode", 0.5, "us"),
      ("RespCodec.decode.p50_us", "RespCodec.decode", 0.5, "us"))

  /** Per-layer values the loops report directly. */
  val ValueMetrics: Seq[(String, String)] =
    Seq("StreamLog.len" -> "count", "pel.size" -> "count", "claimed" -> "count",
      "lost" -> "count", "redelivered" -> "count",
      "wire.calls_per_msg" -> "calls/msg", "wire.bytes_per_msg" -> "B/msg",
      "RespServer.error_replies" -> "count") ++
    SourceLoop.Phases.map(ph => s"trigger.$ph.mean_ms" -> "ms") ++
    Seq("trigger.rows_per_batch" -> "count", "StreamingScaler.backlog.p99" -> "count",
      "generator.late_p99_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Ungated ++ SpanMetrics.map(m => m._1 -> m._4) ++ ValueMetrics

  /** Probe loops run only in traced runs, for the layers the workload
    * itself does not exercise: short, at the workload's own depth, and
    * with a fast monitor so that a crash and a claim fit in. */
  private val ProbeSeconds = 2.0
  /** The closed loops run this long untimed before the window opens, so
    * that the timed window does not measure the JIT compiling the loop.
    * The source workload's repeated set-up serves the same purpose. */
  private val WarmupSeconds = 2.0
  /** Set-ups per run; `setup_s` is their median, so the first, which
    * also loads and compiles the code it runs, does not set it. */
  private val SetupReps = 7

  /** What a loop holds at once on the load-generator side: client
    * threads (Spark's task threads included) and connections. */
  final case class Load(threads: Int, connections: Int) {
    def total: Int = threads + connections
  }

  /** A loop a run executes: the workload's own ("live"), or a probe. */
  final case class Phase(name: String, load: Load)

  final case class Shape(depth: Int, maxlen: Int, live: Load, master: String)

  def shape(w: String): Shape = w match {
    case "engine-deep"       => Shape(50000, 50000, EngineLoop.Load, "none")
    case "wire-shallow"      => Shape(1000, 1000, WireLoop.load(WireLoop.Tcp), "none")
    case "source-microbatch" => Shape(10000, 10000, SourceLoop.Load, SourceLoop.Master)
  }

  /** The loops a run executes, one after another: the live loop, and in
    * a traced run a probe for each layer the workload does not run. */
  def phases(w: String, trace: Boolean): Seq[Phase] = {
    val probes = Seq(
      Phase("probe:engine", EngineLoop.Load),
      Phase("probe:wire-tcp", WireLoop.load(WireLoop.Tcp)),
      Phase("probe:wire-inprocess", WireLoop.load(WireLoop.InProcess)),
      Phase("probe:source", SourceLoop.Load)
    ).filterNot(ph => ProbeSkipped.get(ph.name).contains(w))
    Phase("live", shape(w).live) +: (if (trace) probes else Nil)
  }

  /** Probes a workload does not need: its live loop already runs them. */
  private val ProbeSkipped = Map("probe:engine" -> "engine-deep", "probe:wire-tcp" -> "wire-shallow",
    "probe:source" -> "source-microbatch")

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args.toSeq) match {
      case Right(c) => c
      case Left(err) => System.err.println(s"perfbench: $err"); sys.exit(2)
    }
    val r = try run(cfg) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run aborted: $e"); e.printStackTrace(); sys.exit(1)
    }
    System.out.println(r.env)
    System.out.println(r.json)
    System.out.flush()
    sys.exit(0)
  }

  def run(cfg: Config): Result = {
    val jvmToMainS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sh = shape(cfg.workload)
    val nproc = Runtime.getRuntime.availableProcessors
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    // Load-generator guard: in every phase of the run, client threads
    // plus connections must fit the processors, or the generator itself
    // becomes the bottleneck.
    val phs = phases(cfg.workload, cfg.trace)
    phs.find(_.load.total > nproc).foreach { ph =>
      throw new IllegalStateException(s"load generator: ${ph.name} needs ${ph.load.threads} client " +
        s"threads + ${ph.load.connections} connections, more than nproc $nproc")
    }
    val peak = phs.maxBy(_.load.total)
    cfg.out.mkdirs()
    val master = if (cfg.trace) SourceLoop.Master else sh.master
    val env = s"# perfbench workload=${cfg.workload} seed=${cfg.seed} seconds=${cfg.seconds} " +
      s"trace=${if (cfg.trace) 1 else 0} nproc=$nproc heap_mb=$heapMb spark_master=$master " +
      s"peak_phase=${peak.name} client_threads=${peak.load.threads} connections=${peak.load.connections}"
    System.err.println(env)

    val in = new Inputs(cfg.seed)
    val tracer = new Tracer(cfg.trace)
    val work = Files.createTempDirectory(cfg.out.toPath, "run-").toFile
    var sparkRef: Option[SourceLoop.Spark] = None
    def sparkOf(): SourceLoop.Spark = sparkRef.getOrElse {
      val s = SourceLoop.session(work, tracer)
      sparkRef = Some(s)
      s
    }
    def sourceParams(reps: Int) = SourceLoop.Params(sh.depth, sh.maxlen, setupReps = reps)

    try {
      var sessionS = 0.0
      val (setupNs, live) = cfg.workload match {
        case "engine-deep" =>
          val p = EngineLoop.Params(sh.depth, sh.maxlen)
          val (times, log) = repeat(SetupReps)(EngineLoop.setUp(in, p), EngineLoop.release)
          try {
            EngineLoop.run(log, in, p, WarmupSeconds, Tracer.Off)
            (times, EngineLoop.run(log, in, p, cfg.seconds, tracer))
          } finally EngineLoop.release(log)
        case "wire-shallow" =>
          val p = WireLoop.Params(sh.depth, sh.maxlen)
          val (times, env) = repeat(SetupReps)(WireLoop.setUp(in, p, WireLoop.Tcp), (e: WireLoop.Env) => e.close())
          try {
            WireLoop.run(env, in, p, WarmupSeconds, Tracer.Off)
            (times, WireLoop.run(env, in, p, cfg.seconds, tracer))
          } finally env.close()
        case "source-microbatch" =>
          val t = System.nanoTime()
          val spark = sparkOf()
          sessionS = (System.nanoTime() - t) / 1e9
          val (times, q) = SourceLoop.setUp(spark, in, sourceParams(SetupReps), work, tracer)
          (times, SourceLoop.run(q, in, sourceParams(SetupReps), cfg.seconds, tracer))
      }
      // JVM start and the Spark session happen once a process, so no
      // median can steady them; they are printed, not part of setup_s.
      val setupS = Stats.median(setupNs.map(_ / 1e9).toArray)
      System.err.println(f"perfbench: set-up ${setupNs.map(_ / 1e9).mkString(", ")} s per repetition; " +
        f"once a process: jvm start $jvmToMainS%.3f s, spark session $sessionS%.3f s")
      val (user, userNotes) = userMetrics(live, setupS, cfg.seconds)
      def pick(names: Seq[(String, String)]) = names.map { case (n, u) => (n, user(n), u) }

      val metrics = if (!cfg.trace) {
        save(new File(cfg.out, s"e2e-${cfg.workload}.txt"), pick(EndToEnd ++ Ungated))
        pick(EndToEnd)
      } else {
        val probes = runProbes(phs.tail, sh, in, tracer, work, () => sparkOf())
        val (layers, layerNotes) = layerMetrics(tracer, phs.map(_.name), live +: probes)
        val perLayer = pick(Ungated) ++ layers
        report(cfg, tracer, pick(EndToEnd ++ Ungated), perLayer, userNotes ++ layerNotes)
        perLayer
      }
      live.audits.foreach(a => System.err.println(s"perfbench: AUDIT FAILED: $a"))
      Result(live.attempted, live.failed, live.audits.toSeq, metrics, env)
    } finally {
      sparkRef.foreach(_.session.stop())
      deleteTree(work)
    }
  }

  /** Runs `setUp` n times, releasing every result but the last; returns
    * each repetition's duration and the result kept. */
  private def repeat[T](n: Int)(setUp: => T, release: T => Unit): (Seq[Long], T) = {
    var last: Option[T] = None
    val times = (0 until n).map { _ =>
      last.foreach(release)
      val t = System.nanoTime()
      last = Some(setUp)
      System.nanoTime() - t
    }
    (times, last.get)
  }

  /** What a timing metric was taken from: the sample count and, for a
    * tail, the quantile that count supports. */
  private def sampled(d: Dist, tail: Boolean): String =
    if (!tail) s"n=${d.n} p50" else f"n=${d.n} p${d.tailQ * 100}%.1f"

  /** The timings a user of the loop sees, by name: set-up, throughput,
    * and the median and tail of each read, write and delivery; and for
    * each timing, what it was taken from. */
  private def userMetrics(m: Measured, setupS: Double, seconds: Double): (Map[String, Double], Map[String, String]) = {
    def dist(t: Timed) = Dist.sliced(t, m.start, seconds)
    val read = dist(m.read); val write = dist(m.write); val deliver = dist(m.deliver)
    val timings = Seq("read" -> read, "write" -> write, "deliver" -> deliver)
    timings.foreach { case (n, d) =>
      System.err.println(f"perfbench: $n%-7s n=${d.n}%-7d p50 ${d.p50 / 1e6}%.4f ms, " +
        f"p${d.tailQ * 100}%.1f ${d.tail / 1e6}%.4f ms (median of ${Dist.Slices} slices' tails)")
    }
    System.err.println(f"perfbench: msgs_per_s ${m.throughput(seconds)}%.1f (median over the window's whole seconds)")
    val notes = timings.flatMap { case (n, d) =>
      Seq(s"${n}_p50_ms" -> sampled(d, tail = false),
        s"${n}_p99_ms" -> s"${sampled(d, tail = true)}, median of ${Dist.Slices} slices' tails")
    }.toMap
    Map(
      "setup_s" -> setupS,
      "msgs_per_s" -> m.throughput(seconds),
      "read_p50_ms" -> read.p50 / 1e6, "read_p99_ms" -> read.tail / 1e6,
      "write_p50_ms" -> write.p50 / 1e6, "write_p99_ms" -> write.tail / 1e6,
      "deliver_p50_ms" -> deliver.p50 / 1e6, "deliver_p99_ms" -> deliver.tail / 1e6) -> notes
  }

  private def runProbes(probes: Seq[Phase], sh: Shape, in: Inputs, tracer: Tracer, work: File,
      sparkOf: () => SourceLoop.Spark): Seq[Measured] = {
    val wp = WireLoop.Params(sh.depth, sh.maxlen, sweepMs = 200L, idleMs = 300L, crashEveryMs = 700L)
    def wire(t: WireLoop.Transport) = {
      val env = WireLoop.setUp(in, wp, t)
      try WireLoop.run(env, in, wp, ProbeSeconds, tracer) finally env.close()
    }
    try probes.map { ph =>
      tracer.phase = ph.name
      val t = System.nanoTime()
      val m = ph.name match {
        case "probe:engine" =>
          val p = EngineLoop.Params(sh.depth, sh.maxlen, sweepMs = 200L, idleMs = 300L, crashEveryMs = 700L)
          val log = EngineLoop.setUp(in, p)
          try EngineLoop.run(log, in, p, ProbeSeconds, tracer) finally EngineLoop.release(log)
        case "probe:wire-tcp"       => wire(WireLoop.Tcp)
        case "probe:wire-inprocess" => wire(WireLoop.InProcess)
        case "probe:source" =>
          val p = SourceLoop.Params(sh.depth, sh.maxlen, setupReps = 1)
          val (_, q) = SourceLoop.setUp(sparkOf(), in, p, work, tracer)
          SourceLoop.run(q, in, p, ProbeSeconds, tracer)
      }
      System.err.println(f"perfbench: ${ph.name} took ${(System.nanoTime() - t) / 1e9}%.1f s")
      m
    } finally tracer.phase = "live"
  }

  /** The per-layer metrics, and for each span-timed one the phase,
    * sample count and quantile it was taken from. A span metric comes
    * from the first phase, in run order, that recorded its span. */
  private def layerMetrics(tracer: Tracer, phases: Seq[String],
      runs: Seq[Measured]): (Seq[(String, Double, String)], Map[String, String]) = {
    val byName = tracer.spans.groupBy(_.name)
    val notes = mutable.Map.empty[String, String]
    val spans = SpanMetrics.map { case (metric, span, q, unit) =>
      val ss = byName.getOrElse(span, Nil)
      val chosen = phases.iterator.map(ph => ph -> ss.filter(_.phase == ph)).find(_._2.nonEmpty)
      val scale = if (unit == "us") 1e3 else 1e6
      val v = chosen match {
        case None => System.err.println(s"perfbench: no samples for $metric"); 0.0
        case Some((ph, xs)) =>
          val d = Dist.of(xs.map(_.durNs).toArray)
          notes(metric) = s"$ph, ${sampled(d, tail = q < 0)}"
          (if (q < 0) d.tail else d.p50) / scale
      }
      (metric, v, unit)
    }
    val values = ValueMetrics.map { case (metric, unit) =>
      val v = runs.iterator.flatMap(_.layer.get(metric)).nextOption().getOrElse {
        System.err.println(s"perfbench: no value for $metric"); 0.0
      }
      (metric, v, unit)
    }
    (spans ++ values, notes.toMap)
  }

  /** Writes the spans (JSONL), the per-layer self-time table and the
    * tracing overhead against the last untraced run of the workload. */
  private def report(cfg: Config, tracer: Tracer, tracedE2e: Seq[(String, Double, String)],
      perLayer: Seq[(String, Double, String)], notes: Map[String, String]): Unit = {
    val stem = s"${cfg.workload}-seed${cfg.seed}"
    val (written, total) = tracer.writeJsonl(new File(cfg.out, s"spans-$stem.jsonl"))
    val untraced = load(new File(cfg.out, s"e2e-${cfg.workload}.txt"))
    val overhead =
      if (untraced.isEmpty) Seq("no untraced run of this workload in this directory; run --trace 0 first")
      else tracedE2e.collect { case (name, traced, _) if untraced.contains(name) =>
        val base = untraced(name)
        f"$name%-16s untraced $base%12.4f traced $traced%12.4f  ${(traced / base - 1) * 100}%+7.1f %%"
      }
    val text = Seq(s"per-layer self time, ${cfg.workload} seed ${cfg.seed} ($total spans; " +
      s"$written written to the JSONL, the first ${Tracer.JsonlPerPhase} of each phase)",
      tracer.selfTimeTable, "",
      "per-layer metrics (timings: the phase, sample count and quantile they were taken from)") ++
      perLayer.map { case (name, v, u) => f"$name%-44s $v%14.4f $u%-9s ${notes.getOrElse(name, "")}".trim } ++
      Seq("", "tracing overhead (traced live phase vs the last untraced run)") ++ overhead
    val f = new File(cfg.out, s"layers-$stem.txt")
    Files.write(f.toPath, (text.mkString("\n") + "\n").getBytes(UTF_8))
    System.err.println(text.mkString("\n"))
    System.err.println(s"perfbench: wrote ${f.getPath} and spans-$stem.jsonl")
  }

  private def save(f: File, ms: Seq[(String, Double, String)]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try ms.foreach { case (n, v, _) => w.println(s"$n $v") } finally w.close()
  }

  private def load(f: File): Map[String, Double] =
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
      .flatMap(_.split(' ') match { case Array(n, v) => v.toDoubleOption.map(n -> _); case _ => None })
      .toMap

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
