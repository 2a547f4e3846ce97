package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.streaming.{StreamingScaler, StreamLog, StreamLogRegistry}

/** The DSv2 source under a Spark micro-batch trigger: an open-loop
  * producer thread appends `RatePerS` messages a second, each stamped
  * with the instant it was due, and a `StreamLogSourceProvider` query
  * (`Batch` rows per trigger, `ProcessingTime(0)`, checkpointed)
  * writes to a `foreachBatch` sink that records due → seen latency.
  * The load does not slow when the trigger does, so a slower trigger
  * shows as latency and backlog. */
object SourceLoop {
  val RatePerS = 1000
  val Batch = 1000
  private val SparkThreads = 2
  val Master = s"local[$SparkThreads]"
  /** The producer thread and Spark's task threads. */
  val Load = Main.Load(threads = 1 + SparkThreads, connections = 0)

  final case class Params(depth: Int, maxlen: Int, setupReps: Int)

  val Phases = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
    "triggerExecution")

  /** A session and the progress listener registered on it. */
  final class Spark(val session: SparkSession, val listeners: ConcurrentHashMap[java.util.UUID, Seen])

  def session(workDir: File, tracer: Tracer): Spark = {
    val s = SparkSession.builder()
      .master(Master)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "spark-warehouse").getAbsolutePath)
      // Spark's default manager goes through Hadoop FileContext, which
      // without the native Hadoop library forks `readlink` and `chmod`
      // for every checkpoint file: ~40 processes a trigger, most of the
      // trigger's time and most of its run-to-run spread. The
      // FileSystem-based manager writes the same files in-process.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    new Spark(s, listen(s, tracer))
  }

  /** What the sink and the progress listener saw for one query. */
  final class Seen(val key: String) {
    val count = new ConcurrentHashMap[String, Integer]
    val m = new Measured // touched only by the query's stream thread
    @volatile var windowStart = Long.MaxValue
    @volatile var windowEnd = Long.MaxValue
    /** When the sink was last entered: consecutive entries are one
      * micro-batch cycle apart. */
    var lastEntry = Long.MinValue
    val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long], Long)]
    /** StreamingScaler's backlog at each progress report (traced runs). */
    val backlog = new Samples
  }

  /** A running query over one registered log. */
  final class Query(val log: StreamLog, val key: String, val q: StreamingQuery, val seen: Seen) {
    def stop(): Unit = { q.stop(); StreamLogRegistry.unregister(key) }
  }

  private def start(spark: Spark, log: StreamLog, p: Params, ckpt: File, tracer: Tracer): Query = {
    val key = StreamLogRegistry.register(log)
    val seen = new Seen(key)
    val sink: (Dataset[Row], Long) => Unit = (df, _) => tracer.span("sink.batch") {
      val entered = System.nanoTime()
      if (seen.lastEntry >= seen.windowStart && entered <= seen.windowEnd)
        seen.m.read.add(entered, entered - seen.lastEntry)
      seen.lastEntry = entered
      val rows = df.select(col("msgid"), col("content").getItem("due")).collect()
      val at = System.nanoTime()
      rows.foreach { r =>
        seen.count.merge(r.getString(0), 1, (a: Integer, b: Integer) => a + b)
        val due = r.getString(1)
        if (due != null) {
          seen.m.deliver.add(at, at - due.toLong)
          if (at < seen.windowEnd) seen.m.done.add(at)
        }
      }
    }
    val q = spark.session.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", Batch.toString)
      .load()
      .writeStream
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .foreachBatch(sink)
      .start()
    spark.listeners.put(q.id, seen)
    new Query(log, key, q, seen)
  }

  private def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond) {
      if (System.nanoTime() > deadline) sys.error(s"timed out waiting for $what")
      Thread.sleep(2)
    }
  }

  /** Set-up: a fresh log pre-filled to `depth`, a new query on it, and
    * the wait until the sink has seen every pre-filled message. Runs
    * `setupReps` times; every query but the last is stopped. Returns
    * the set-up durations and the query left running. */
  def setUp(spark: Spark, in: Inputs, p: Params, workDir: File, tracer: Tracer): (Seq[Long], Query) = {
    var last: Query = null
    val times = (0 until p.setupReps).map { rep =>
      if (last != null) last.stop()
      val t = System.nanoTime()
      val log = new StreamLog()
      var i = 0
      while (i < p.depth) { log.add(in.maps(i % Inputs.PoolSize), Some(p.maxlen)); i += 1 }
      val ckpt = new File(workDir, s"checkpoint-${System.nanoTime()}-$rep")
      last = start(spark, log, p, ckpt, tracer)
      val q = last
      waitFor("the pre-filled messages", 120000L)(q.seen.count.size >= p.depth || !q.q.isActive)
      System.nanoTime() - t
    }
    (times, last)
  }

  /** A listener that files every progress report under its query. */
  private def listen(spark: SparkSession, tracer: Tracer): ConcurrentHashMap[java.util.UUID, Seen] = {
    val byQuery = new ConcurrentHashMap[java.util.UUID, Seen]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val seen = byQuery.get(e.progress.id)
        if (seen != null) {
          val at = System.nanoTime()
          val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          seen.progress.add((at, d, e.progress.numInputRows))
          val end = Option(e.progress.sources).filter(_.nonEmpty).map(_.head.endOffset)
          if (tracer.enabled && at >= seen.windowStart && at <= seen.windowEnd)
            end.foreach { id =>
              try seen.backlog.add(new StreamingScaler(seen.key).collectMetrics(id)._1.toLong)
              catch { case _: NoSuchElementException => () } // query stopped, log released
            }
        }
      }
    })
    byQuery
  }

  def run(query: Query, in: Inputs, p: Params, seconds: Double, tracer: Tracer): Measured = {
    val seen = query.seen
    val log = query.log
    val total = math.max(1, (seconds * RatePerS).toInt)
    val periodNs = 1000000000L / RatePerS
    val produced = new Array[String](total)
    val late = new Samples
    val m = new Measured
    val t0 = System.nanoTime()
    m.start = t0
    seen.windowStart = t0
    seen.windowEnd = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i < total) {
      val due = t0 + i * periodNs
      val wait = due - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val at = System.nanoTime()
      late.add(math.max(0L, at - due))
      val payload = in.maps((p.depth + i) % Inputs.PoolSize) + ("due" -> due.toString)
      produced(i) = tracer.span("StreamLog.add")(log.add(payload, Some(p.maxlen)))
      val te = System.nanoTime()
      m.write.add(te, te - at)
      i += 1
    }
    val expect = p.depth + total
    try waitFor("the sink to see every message", 60000L)(
      seen.count.size >= expect || !query.q.isActive)
    catch { case e: Exception => m.fail(e.getMessage) }
    query.q.exception.foreach(e => m.fail(s"query failed: $e"))
    query.stop()

    // Audit: every produced message reached the sink exactly once.
    val missing = produced.count(id => !seen.count.containsKey(id))
    if (missing > 0) m.fail(s"$missing produced ids never reached the sink")
    var dupes = 0L
    seen.count.values.forEach(n => dupes += n - 1)
    if (dupes > 0) m.fail(s"$dupes duplicate rows in the sink")
    if (seen.count.size != expect) m.fail(s"sink saw ${seen.count.size} ids, expected $expect")

    m.deliver.addAll(seen.m.deliver)
    m.done.addAll(seen.m.done)
    m.attempted += total.toLong + seen.progress.size
    val timed = seen.progress.asScala.toSeq.filter { case (at, _, rows) =>
      at >= seen.windowStart && at <= seen.windowEnd && rows > 0
    }
    m.read.addAll(seen.m.read)
    // Spark reports whole milliseconds; means keep the digits a median
    // of them would round away, and the phases' means add up.
    Phases.foreach { ph =>
      val xs = timed.flatMap(_._2.get(ph))
      if (xs.nonEmpty) m.layer(s"trigger.$ph.mean_ms") = xs.sum.toDouble / xs.size
    }
    if (timed.nonEmpty)
      m.layer("trigger.rows_per_batch") = Stats.percentile(timed.map(_._3).toArray, 0.5).toDouble
    m.layer("generator.late_p99_ms") = Dist.of(late).tail / 1e6
    m.layer("StreamLog.len") = log.len.toDouble
    if (seen.backlog.size > 0) m.layer("StreamingScaler.backlog.p99") = Dist.of(seen.backlog).tail.toDouble
    m
  }
}
