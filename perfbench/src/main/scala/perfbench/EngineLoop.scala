package perfbench

import graft.streaming.{Consumer, ConsumerGroup, Monitor, Scaler, StreamLog}

/** The reference ops loop on the in-process engine, closed loop, one
  * thread: produce a batch, `getItems` on the next of `Consumers`
  * consumers (round robin), ack every message, and every `sweepMs` run
  * the Monitor (health sweep + rebalance) and the Scaler inline. On the
  * crash schedule the consumer whose turn it is keeps its batch unacked
  * and is replaced under a new name; the Monitor must find it idle,
  * claim the batch for a healthy consumer and delete it. */
object EngineLoop {
  val Group = "g"

  val Consumers = 4
  val Batch = 10
  /** One thread, no connections. */
  val Load = Main.Load(threads = 1, connections = 0)

  final case class Params(depth: Int, maxlen: Int,
      sweepMs: Long = 1000L, idleMs: Long = 1000L, crashEveryMs: Long = 5000L)

  /** Pending above this marks a consumer unhealthy. The loop never holds
    * more than two batches, so only idleness (a crash) can trip it. */
  private val PendingWarn = 1000

  /** A log pre-filled to `depth` entries whose group has read and acked
    * all of them. */
  def setUp(in: Inputs, p: Params): StreamLog = {
    val log = new StreamLog()
    var i = 0
    while (i < p.depth) { log.add(in.maps(i % Inputs.PoolSize), Some(p.maxlen)); i += 1 }
    val g = ConsumerGroup.create(log, Group)
    g.readNew("warmup", p.depth).foreach(m => g.ack(m.msgid))
    g.delConsumer("warmup")
    log
  }

  /** Drops the log's group, which the engine's registry would otherwise
    * keep alive with its log. */
  def release(log: StreamLog): Unit = ConsumerGroup.create(log, Group).destroy()

  def run(log: StreamLog, in: Inputs, p: Params, seconds: Double, tracer: Tracer): Measured = {
    val m = new Measured
    val group = ConsumerGroup.create(log, Group)
    def consumer(i: Int, gen: Int) = new Consumer(log, Group, s"c$i.$gen",
      batchSize = Batch, maxWaitTimeMs = 5L, pollTimeMs = 1L)
    val cs = Array.tabulate(Consumers)(consumer(_, 0))
    var gen = 0
    val monitor = new Monitor(Seq(group), batchSize = PendingWarn,
      idleTimeThresholdMs = p.idleMs, minWaitTimeMs = 0L)
    val scaler = new Scaler(log, Group)
    val windowMs = (seconds * 1000).toLong
    val crashes = in.crashes(windowMs, p.crashEveryMs, quietMs = 2 * p.sweepMs + p.idleMs, Consumers)

    val producedAt = new java.util.HashMap[String, java.lang.Long]
    val deliveries = new java.util.HashMap[String, Integer]
    val acked = new java.util.HashSet[String]
    var claimed, lost, peakPel = 0L
    var nextCrash = 0
    var pi = 0
    var turn = 0L
    var firstDelivered = 0L

    val t0 = System.nanoTime()
    m.start = t0
    val end = t0 + windowMs * 1000000L
    var nextSweep = t0 + p.sweepMs * 1000000L
    var draining = false
    var drainDeadline = Long.MaxValue
    var finished = false

    def sweep(): Unit = {
      tracer.span("Monitor.collectMonitoringData")(monitor.collectMonitoringData())
      monitor.lastCleanup.foreach { case (_, c, l) => claimed += c; lost += l }
      tracer.span("Scaler.getScaleDecision")(scaler.getScaleDecision())
      if (tracer.enabled) tracer.span("Scaler.collectMetrics")(scaler.collectMetrics())
      peakPel = math.max(peakPel, group.pendingCount.toLong)
      m.attempted += 2
    }

    // One getItems on the next consumer in turn: record, then ack the
    // batch, or on the crash schedule abandon it with its consumer.
    def consume(inWindow: Boolean): Unit = {
      val v = (turn % Consumers).toInt
      turn += 1
      val c = cs(v)
      val tr = System.nanoTime()
      val batch = tracer.span("Consumer.getItems")(c.getItems())
      val got = System.nanoTime()
      if (inWindow) m.read.add(got, got - tr)
      m.attempted += 1
      batch.foreach { msg =>
        val prev = deliveries.getOrDefault(msg.msgid, 0)
        deliveries.put(msg.msgid, prev + 1)
        val at = producedAt.get(msg.msgid)
        if (prev == 0 && at != null) { m.deliver.add(got, got - at); firstDelivered += 1 }
      }
      if (tracer.enabled && turn % 10 == 0) {
        tracer.span("StreamLog.after")(log.after(group.lastDelivered, Batch))
        tracer.span("ConsumerGroup.pendingOf")(group.pendingOf(c.consumerId, Batch))
        tracer.span("ConsumerGroup.readOwn")(group.readOwn(c.consumerId, Batch))
      }
      val crashNow = inWindow && nextCrash < crashes.length && batch.nonEmpty &&
        (got - t0) / 1000000L >= crashes(nextCrash)._1 && crashes(nextCrash)._2 == v
      if (crashNow) {
        gen += 1
        cs(v) = consumer(v, gen)
        nextCrash += 1
      } else batch.foreach { msg =>
        tracer.span("ConsumerGroup.ack")(c.removeItemFromConsumerGroup(msg.msgid))
        acked.add(msg.msgid)
        m.attempted += 1
        if (inWindow) m.done.add(System.nanoTime())
      }
    }

    while (!finished) {
      val now = System.nanoTime()
      if (!draining && now >= end) {
        draining = true
        drainDeadline = now + 10000000000L
        m.layer("StreamLog.len") = log.len.toDouble
      }
      try tracer.span("cycle") {
        if (!draining) {
          var j = 0
          while (j < Batch) {
            val payload = in.maps(pi % Inputs.PoolSize); pi += 1
            val tw = System.nanoTime()
            val id = tracer.span("StreamLog.add")(log.add(payload, Some(p.maxlen)))
            val te = System.nanoTime()
            m.write.add(te, te - tw)
            producedAt.put(id, tw)
            m.attempted += 1
            j += 1
          }
        }
        consume(!draining)
        // A consumer handed a claimed batch reads nothing new; the next
        // consumer in turn takes up the slack, so the backlog (and with
        // it the delivery latency) does not depend on when a crash fell.
        var extra = 0
        while (!draining && firstDelivered < producedAt.size && extra < Consumers) {
          consume(inWindow = true); extra += 1
        }
      } catch { case e: Exception => m.fail(s"engine cycle $turn: $e") }
      if (now >= nextSweep) {
        try sweep() catch { case e: Exception => m.fail(s"engine sweep: $e") }
        nextSweep = now + p.sweepMs * 1000000L
      }
      if (draining) {
        val drained = acked.size == producedAt.size && group.pendingCount == 0
        if (drained || now > drainDeadline) finished = true
        if (m.failed > 1000) finished = true
      }
    }

    // Audits: every produced id acked, nothing lost, and each message
    // the Monitor claimed delivered exactly once more.
    val missing = producedAt.size - producedAt.keySet.stream.filter(acked.contains(_)).count
    if (missing > 0) m.fail(s"$missing produced ids never acked")
    if (lost > 0) m.fail(s"$lost pending messages lost by the rebalance")
    var redelivered = 0L
    deliveries.values.forEach(n => redelivered += n - 1)
    if (redelivered != claimed) m.fail(s"redelivered $redelivered != claimed $claimed")
    if (nextCrash < crashes.length) m.fail(s"only $nextCrash of ${crashes.length} crashes happened")
    if (group.pendingCount != 0) m.fail(s"${group.pendingCount} entries left pending")
    m.layer("pel.size") = peakPel.toDouble
    m.layer("claimed") = claimed.toDouble
    m.layer("lost") = lost.toDouble
    m.layer("redelivered") = redelivered.toDouble
    m
  }
}
