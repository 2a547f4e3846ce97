package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import graft.streaming._
import graft.streaming.RespCodec._

/** The reference ops loop as RESP clients: one client thread on its own
  * connection produces through [[WireProducer]] and reads through
  * [[WireConsumer]]s; the main thread runs [[WireMonitor]] and
  * [[WireScaler]] on a connection of its own. (A second client thread
  * made every figure bimodal: the two server handler threads contend on
  * the engine's locks.) Over [[Tcp]] the
  * commands go through a [[RespServer]]; [[InProcess]] hands them to
  * [[RespLoopback.execute]] directly and times the client-side codec
  * separately, which splits a round trip into codec, dispatch and the
  * socket remainder. */
object WireLoop {
  val Stream = "s"
  val Group = "g"

  sealed trait Transport
  case object Tcp extends Transport
  case object InProcess extends Transport

  val Consumers = 2
  val Batch = 10
  /** The client thread and the monitor thread, each on its own
    * connection when the transport is TCP. */
  def load(t: Transport): Main.Load = Main.Load(threads = 2, connections = if (t == Tcp) 2 else 0)

  final case class Params(depth: Int, maxlen: Int,
      sweepMs: Long = 1000L, idleMs: Long = 1000L, crashEveryMs: Long = 5000L)

  private val PendingWarn = 1000

  /** The engine behind the wire with its stream pre-filled to `depth`
    * and the group caught up, plus the server when the transport is TCP. */
  final class Env(val lb: RespLoopback, val server: Option[RespServer]) extends AutoCloseable {
    def log: StreamLog = lb.streamLog(Stream)
    def group: ConsumerGroup = lb.consumerGroup(Stream, Group).get
    /** Stops the server and releases the group (the engine's group
      * registry would otherwise keep the log alive). */
    override def close(): Unit = {
      server.foreach(_.close())
      lb.consumerGroup(Stream, Group).foreach(_.destroy())
    }
  }

  def setUp(in: Inputs, p: Params, transport: Transport): Env = {
    val lb = new RespLoopback()
    lb.execute(StreamCommands.xgroupCreate(Stream, Group)) match {
      case ErrorReply(msg) => sys.error(msg)
      case _               => ()
    }
    val log = lb.streamLog(Stream)
    var i = 0
    while (i < p.depth) { log.add(in.maps(i % Inputs.PoolSize), Some(p.maxlen)); i += 1 }
    val g = lb.consumerGroup(Stream, Group).get
    g.readNew("warmup", p.depth).foreach(m => g.ack(m.msgid))
    g.delConsumer("warmup")
    new Env(lb, if (transport == Tcp) Some(new RespServer(lb)) else None)
  }

  /** One connection's instrumented `call`: counts calls, error replies
    * and acks, and (traced) spans each round trip and its bytes. */
  private final class Conn(env: Env, tracer: Tracer, acked: java.util.Set[String]) {
    var calls = 0L
    var errors = 0L
    var staleAcks = 0L
    var bytes = 0L
    private val client = env.server.map(s => new RespClient(s.host, s.port))
    private val names = mutable.HashMap.empty[String, String]
    private def name(prefix: String, cmd: String) = names.getOrElseUpdate(prefix + cmd, prefix + cmd)

    private def raw(args: Seq[String]): Reply = client match {
      case Some(c) => tracer.span(name("RespClient.call.", args.head))(c.call(args))
      case None =>
        tracer.span("RespCodec.encode")(RespCodec.encodeStrings(args))
        val r = tracer.span(name("RespLoopback.execute.", args.head))(env.lb.execute(args))
        val wire = RespCodec.encodeReply(r)
        tracer.span("RespCodec.decode")(RespCodec.decode(wire))
        r
    }

    val call: Seq[String] => Reply = { args =>
      val r = raw(args)
      calls += 1
      r match {
        case ErrorReply(msg) if !msg.startsWith("BUSYGROUP") => errors += 1
        case IntReply(n) if args.head == "XACK" =>
          if (n == 1) acked.add(args(3)) else staleAcks += 1
        case _ => ()
      }
      if (tracer.enabled)
        bytes += RespCodec.encodeStrings(args).length + RespCodec.encodeReply(r).length
      r
    }

    def close(): Unit = client.foreach(_.close())
  }

  def run(env: Env, in: Inputs, p: Params, seconds: Double, tracer: Tracer): Measured = {
    val windowMs = (seconds * 1000).toLong
    val crashes = in.crashes(windowMs, p.crashEveryMs, quietMs = 2 * p.sweepMs + p.idleMs, Consumers)
    val producedAt = new ConcurrentHashMap[String, java.lang.Long]
    val deliveries = new java.util.HashMap[String, Integer] // client thread only
    val acked = ConcurrentHashMap.newKeySet[String]()
    val crashed = new AtomicLong
    @volatile var draining = false
    @volatile var finished = false
    val t0 = System.nanoTime()

    // The client thread: produce a batch, then getItems on the next
    // consumer in turn (and more consumers while new messages remain
    // unread), acking each batch or, on the crash schedule, abandoning
    // it with its consumer.
    val cm = new Measured
    val conn = new Conn(env, tracer, acked)
    def client(): Unit = {
      val producer = new WireProducer(conn.call, Stream, Some(p.maxlen.toLong))
      def consumer(j: Int, gen: Int) = new WireConsumer(conn.call, Stream, Group,
        s"c$j.$gen", batchSize = Batch, maxWaitTimeMs = 5L, pollTimeMs = 1L)
      val cs = Array.tabulate(Consumers)(consumer(_, 0))
      var nextCrash = 0
      var gen = 0
      var pi = 0
      var turn = 0L
      var firstDelivered = 0L

      def consume(inWindow: Boolean): Unit = {
        val v = (turn % Consumers).toInt
        turn += 1
        val c = cs(v)
        val tr = System.nanoTime()
        val batch = tracer.span("WireConsumer.getItems")(c.getItems())
        val got = System.nanoTime()
        if (inWindow) cm.read.add(got, got - tr)
        batch.foreach { msg =>
          val prev = deliveries.getOrDefault(msg.msgid, 0)
          deliveries.put(msg.msgid, prev + 1)
          val at = producedAt.get(msg.msgid)
          if (prev == 0 && at != null) { cm.deliver.add(got, got - at); firstDelivered += 1 }
        }
        val crashNow = inWindow && nextCrash < crashes.length && batch.nonEmpty &&
          (got - t0) / 1000000L >= crashes(nextCrash)._1 && crashes(nextCrash)._2 == v
        if (crashNow) {
          gen += 1
          cs(v) = consumer(v, gen)
          nextCrash += 1
          crashed.incrementAndGet()
        } else batch.foreach { msg =>
          c.removeItemFromConsumerGroup(msg.msgid)
          if (inWindow) cm.done.add(System.nanoTime())
        }
      }

      while (!finished) {
        val inWindow = !draining
        try tracer.span("cycle") {
          if (inWindow) {
            var j = 0
            while (j < Batch) {
              val fields = in.payloads(pi % Inputs.PoolSize); pi += 1
              val tw = System.nanoTime()
              val id = producer.add(fields)
              val te = System.nanoTime()
              cm.write.add(te, te - tw)
              producedAt.put(id, tw)
              j += 1
            }
          }
          consume(inWindow)
          var extra = 0
          while (inWindow && firstDelivered < producedAt.size && extra < Consumers) {
            consume(inWindow = true); extra += 1
          }
        } catch { case e: Exception => cm.fail(s"wire client turn $turn: $e") }
        if (cm.failed > 1000) finished = true
      }
    }

    val thread = new Thread(() => client(), "wire-client")
    thread.start()
    val m = new Measured
    m.start = t0
    val mconn = new Conn(env, tracer, acked)
    var claimed, lost, peakPel = 0L
    try {
      val monitor = new WireMonitor(mconn.call, Stream, Group, batchSize = PendingWarn,
        minWaitTimeMs = 0L, idleTimeThresholdMs = p.idleMs)
      val scaler = new WireScaler(mconn.call, Stream, Group)
      val end = t0 + windowMs * 1000000L
      var drainDeadline = Long.MaxValue
      var nextSweep = t0 + p.sweepMs * 1000000L
      while (!finished) {
        val now = System.nanoTime()
        if (!draining && now >= end) {
          draining = true
          drainDeadline = now + 10000000000L
          m.layer("StreamLog.len") = env.log.len.toDouble
        }
        if (now >= nextSweep) {
          try {
            tracer.span("WireMonitor.collectMonitoringData")(monitor.collectMonitoringData())
            monitor.lastCleanup.foreach { case (_, c, l) => claimed += c; lost += l }
            tracer.span("WireScaler.getScaleDecision")(scaler.getScaleDecision())
            if (tracer.enabled) tracer.span("WireScaler.collectMetrics")(scaler.collectMetrics())
            peakPel = math.max(peakPel, env.group.pendingCount.toLong)
          } catch { case e: Exception => m.fail(s"wire monitor: $e") }
          nextSweep = now + p.sweepMs * 1000000L
        }
        if (draining) {
          val drained = acked.size == producedAt.size && env.group.pendingCount == 0
          if (drained || now > drainDeadline) finished = true
        }
        Thread.sleep(1)
      }
    } finally {
      finished = true
      thread.join()
      conn.close()
      mconn.close()
    }
    m.merge(cm)

    val all = Seq(conn, mconn)
    val errors = all.map(_.errors).sum
    val calls = all.map(_.calls).sum
    m.attempted += calls
    m.failed += errors
    val stale = all.map(_.staleAcks).sum
    if (stale > 0) m.fail(s"$stale XACKs found nothing pending")
    val missing = producedAt.size - producedAt.keySet.stream.filter(acked.contains(_)).count
    if (missing > 0) m.fail(s"$missing produced ids never acked")
    if (lost > 0) m.fail(s"$lost pending messages lost by the rebalance")
    var redelivered = 0L
    deliveries.values.forEach(n => redelivered += n - 1)
    if (redelivered != claimed) m.fail(s"redelivered $redelivered != claimed $claimed")
    if (crashed.get < crashes.length) m.fail(s"only ${crashed.get} of ${crashes.length} crashes happened")
    if (env.group.pendingCount != 0) m.fail(s"${env.group.pendingCount} entries left pending")
    val produced = math.max(1, producedAt.size).toDouble
    m.layer("pel.size") = peakPel.toDouble
    m.layer("claimed") = claimed.toDouble
    m.layer("lost") = lost.toDouble
    m.layer("redelivered") = redelivered.toDouble
    m.layer("wire.calls_per_msg") = calls / produced
    if (tracer.enabled) m.layer("wire.bytes_per_msg") = all.map(_.bytes).sum / produced
    m.layer("RespServer.error_replies") = errors.toDouble
    m
  }
}
