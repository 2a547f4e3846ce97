package graft.streaming

import RespCodec._

/** The group port: the stream commands the reference roles issue, one
  * trait with two adapters. Each role ([[ConsumerRole]] C1-C8,
  * [[MonitorRole]] M4-M6, [[ScalerRole]] S1-S5, [[DeadLetterRole]]) is
  * written once against [[GroupPort]], and the named classes are thin
  * constructors that pick an adapter:
  *
  *  - [[EnginePort]] calls a [[ConsumerGroup]] directly ([[Consumer]],
  *    [[Monitor]], [[Scaler]], [[DeadLetterRouter]]). Its S1 backlog is
  *    the intended strictly-after count.
  *  - [[RespPort]] speaks `Seq[String] => Reply`, so the same roles run
  *    over a socket ([[RespClient.call]]) or transport-free
  *    ([[RespLoopback.execute]]) — the reference's deployment: a client
  *    library computing everything from RESP replies (`common.py:13-18`).
  *    It owns all reply parsing and the G1 bootstrap. Its one quirk is
  *    the reference's S1 backlog, inclusive `XRANGE` − 1
  *    (`scaler.py:49-62`), which undercounts by one when the
  *    last-delivered entry is not in the range: a fresh `0-0` cursor, or
  *    a trimmed entry (`test_scaler.py:124-127` pins it).
  *
  * The wire constructors below carry no other quirk, except
  * [[WireMonitor]]'s target rule (see [[MonitorRole.targetRule]]).
  * The DLQ append goes to another stream, so each DLQ constructor gives
  * its own: a [[StreamLog]] add, or the adapter's XADD.
  */
private[streaming] trait GroupPort {
  def clock: Clock
  /** XREADGROUP: C2 `>` when `newOnly`, else C4 `0`, where a trimmed
    * entry comes back with empty content. The engine answers at once;
    * `blockMs` rides the wire. */
  def read(consumer: String, count: Int, blockMs: Long, newOnly: Boolean): Seq[StreamMessage]
  /** C5/G2: XPENDING range, id order, optionally of one consumer. */
  def pending(count: Int, consumer: Option[String] = None): Seq[PendingRow]
  /** C7: XACK of one id; 1 if it was pending. */
  def ack(id: String): Int
  /** M6: XCLAIM; the claimed messages with their bodies, empty where trimmed. */
  def claim(consumer: String, minIdleMs: Long, ids: Seq[String]): Seq[StreamMessage]
  /** G3: XGROUP DELCONSUMER; the pending entries lost. */
  def delConsumer(consumer: String): Int
  /** M2: XINFO CONSUMERS of this group: (name, pending, idle ms). */
  def consumerInfo: Seq[(String, Int, Long)]
  /** S1: (backlog, pending, consumers) of this group. */
  def scalerSignals: (Int, Int, Int)
}

/** One XPENDING range row, without the idle time no role reads. */
private[streaming] final case class PendingRow(id: String, consumer: String, timesDelivered: Int)

/** One XINFO GROUPS row. */
private[streaming] final case class GroupRow(name: String, consumers: Int, pending: Int, lastDelivered: String)

private[streaming] final class EnginePort(g: ConsumerGroup) extends GroupPort {
  def clock: Clock = g.log.clock
  def read(consumer: String, count: Int, blockMs: Long, newOnly: Boolean): Seq[StreamMessage] =
    if (newOnly) g.readNew(consumer, count) else g.readOwn(consumer, count)
  def pending(count: Int, consumer: Option[String]): Seq[PendingRow] =
    g.pendingRange(count = count, consumer = consumer).map(e => PendingRow(e.msgid, e.consumer, e.timesDelivered))
  def ack(id: String): Int = g.ack(id)
  def claim(consumer: String, minIdleMs: Long, ids: Seq[String]): Seq[StreamMessage] =
    g.claim(ids, consumer, minIdleMs).map(id => g.log.get(id).getOrElse(StreamMessage(id, Map.empty)))
  def delConsumer(consumer: String): Int = g.delConsumer(consumer)
  def consumerInfo: Seq[(String, Int, Long)] = g.consumerInfo
  def scalerSignals: (Int, Int, Int) =
    g.synchronized((g.log.countAfter(g.lastDelivered), g.pendingCount, g.consumers.size))
}

private[streaming] object WireReplies {
  /** Raise wire errors; the reference's redis-py raises ResponseError
    * the same way and each caller decides what to absorb. */
  def ok(r: Reply): Reply = r match {
    case ErrorReply(m) => sys.error(m)
    case other         => other
  }

  /** The elements of an array reply. */
  def rows(r: Reply): Vector[Reply] = ok(r) match {
    case ArrayReply(Some(items)) => items
    case other                   => sys.error(s"not an array reply: $other")
  }

  /** A flat `[k1, v1, k2, v2, …]` info reply as a map — redis-py's
    * dict parse of XINFO replies, which the reference then `.get`s
    * from (`scaler.py:38-48`). */
  def pairMap(r: Reply): Map[String, Reply] = r match {
    case ArrayReply(Some(items)) =>
      require(items.length % 2 == 0, s"odd info pair list: $r")
      items.grouped(2).map { case Vector(k, v) => k.text -> v }.toMap
    case other => sys.error(s"not an info reply: $other")
  }

  def int(r: Reply): Long = r match {
    case IntReply(v) => v
    case other       => sys.error(s"not an integer reply: $other")
  }
}

private[streaming] final class RespPort(
    call: Seq[String] => Reply,
    stream: String,
    val group: String,
    val clock: Clock = SystemClock) extends GroupPort {
  import WireReplies._

  /** G1: every reference component creates its group in its ctor,
    * swallowing BUSYGROUP (`common.py:12-37`). */
  def create(): RespPort = call(StreamCommands.xgroupCreate(stream, group)) match {
    case ErrorReply(m) if !m.contains("BUSYGROUP") => sys.error(m)
    case _ => this
  }

  def read(consumer: String, count: Int, blockMs: Long, newOnly: Boolean): Seq[StreamMessage] =
    parseXRead(ok(call(StreamCommands.xreadgroup(group, consumer, stream, count, blockMs, newOnly))))
      .toMap.getOrElse(stream, Seq.empty)

  def pending(count: Int, consumer: Option[String]): Seq[PendingRow] =
    rows(call(StreamCommands.xpendingRange(stream, group, count = count, consumer = consumer))).map {
      case ArrayReply(Some(Vector(id, owner, _, IntReply(times)))) => PendingRow(id.text, owner.text, times.toInt)
      case other => sys.error(s"bad XPENDING row: $other")
    }

  def ack(id: String): Int = int(ok(call(StreamCommands.xack(stream, group, Seq(id))))).toInt

  // Field order kept as sent: a dead letter re-adds the body verbatim.
  def claim(consumer: String, minIdleMs: Long, ids: Seq[String]): Seq[StreamMessage] =
    rows(call(StreamCommands.xclaim(stream, group, consumer, minIdleMs, ids))).map(parseEntry)

  def delConsumer(consumer: String): Int =
    int(ok(call(StreamCommands.xgroupDelConsumer(stream, group, consumer)))).toInt

  /** M1: XINFO GROUPS. Only the reference's rules read it, so the
    * engine adapter has no twin of it. */
  def groups: Seq[GroupRow] = rows(call(StreamCommands.xinfoGroups(stream))).map(pairMap).map(g =>
    GroupRow(g("name").text, int(g("consumers")).toInt, int(g("pending")).toInt, g("last-delivered-id").text))

  def consumerInfo: Seq[(String, Int, Long)] =
    rows(call(StreamCommands.xinfoConsumers(stream, group))).map(pairMap).map(c =>
      (c("name").text, int(c("pending")).toInt, int(c("idle"))))

  /** S1 as the reference computes it (`scaler.py:36-63`): XINFO GROUPS
    * and XINFO STREAM, then XLEN (group missing), 0 (caught up) or
    * len(XRANGE last-delivered last-generated) − 1 — the header's quirk. */
  def scalerSignals: (Int, Int, Int) = {
    val row = groups.find(_.name == group)
    val lastGenerated = pairMap(ok(call(StreamCommands.xinfoStream(stream))))("last-generated-id").text
    val backlog = row.map(_.lastDelivered) match {
      case None                             => int(ok(call(StreamCommands.xlen(stream)))).toInt
      case Some(ld) if ld == lastGenerated  => 0
      case Some(ld) =>
        math.max(0, rows(call(StreamCommands.xrange(stream, min = ld, max = lastGenerated))).length - 1)
    }
    (backlog, row.fold(0)(_.pending), row.fold(0)(_.consumers))
  }

  /** XADD to any stream; the server-assigned id. */
  def add(to: String, fields: Seq[(String, String)]): String =
    ok(call(StreamCommands.xadd(to, fields))).text
}

/** [[ScalerRole]] over the wire, backlog quirk included: what "switch
  * the library, keep the ops loop" means. */
final class WireScaler(call: Seq[String] => Reply, stream: String, group: String) extends ScalerRole {
  private[streaming] val port: GroupPort = new RespPort(call, stream, group).create()
}

/** [[ConsumerRole]] over the wire. Each XREADGROUP sends `BLOCK
  * pollTimeMs`; [[RespLoopback]] answers at once, so the poll slice
  * still sleeps on `clock`. */
final class WireConsumer(
    call: Seq[String] => Reply,
    stream: String,
    group: String,
    consumerId: String = Consumer.defaultConsumerId,
    batchSize: Int = 2,
    maxWaitTimeMs: Long = 10000L,
    pollTimeMs: Long = 1000L,
    clock: Clock = SystemClock) extends ConsumerRole(consumerId, batchSize, maxWaitTimeMs, pollTimeMs) {
  private[streaming] val port: GroupPort = new RespPort(call, stream, group, clock).create()
}

/** P1/P2 as a RESP client — the reference Producer (`producer.py:16-51`):
  * a thin XADD wrapper that, when `maxlen` is set, appends approximate
  * trimming (`MAXLEN ~ n`) to every add, so retention rides along with
  * production instead of needing a separate janitor. Returns the
  * server-assigned message id. */
final class WireProducer(
    call: Seq[String] => Reply,
    stream: String,
    maxlen: Option[Long] = None) {
  import WireReplies._

  /** P1 (`producer.py:37-51`): publish one field/value mapping; P2: trim
    * to ~maxlen when configured (`approximate=maxlen is not None`). */
  def add(data: Seq[(String, String)]): String =
    ok(call(StreamCommands.xadd(stream, data, maxlen))).text

  override def toString: String =
    s"WireProducer(stream=$stream,maxlen=${maxlen.getOrElse("None")})"
}

/** [[DeadLetterRole]] over the wire: XCLAIM answers the bodies, so a
  * route needs no extra XRANGE; dead letters go to `dlqStream` by XADD. */
final class WireDlq(
    call: Seq[String] => Reply,
    stream: String,
    group: String,
    dlqStream: String,
    maxDeliveries: Int = 3,
    routerId: String = "dlq-router") extends DeadLetterRole(maxDeliveries, routerId) {
  private[streaming] val port: RespPort = new RespPort(call, stream, group).create()
  private[streaming] def append(fields: Seq[(String, String)]): String = port.add(dlqStream, fields)
}

/** [[MonitorRole]] over the wire, with the reference's target rule:
  * the sweep visits every group of the stream that has consumers
  * (XINFO GROUPS), the last healthy consumer seen becomes the one
  * target, and cleanup runs in this monitor's own group. */
final class WireMonitor(
    call: Seq[String] => Reply,
    stream: String,
    group: String,
    batchSize: Int = 2,
    minWaitTimeMs: Long = 1000L,
    idleTimeThresholdMs: Long = 30000L)
    extends MonitorRole(batchSize, idleTimeThresholdMs, minWaitTimeMs) {
  private val own = new RespPort(call, stream, group).create()
  private[streaming] val targetRule: Option[GroupPort] = Some(own)
  private[streaming] def watched: Seq[GroupPort] =
    own.groups.filter(_.consumers > 0).map(r => new RespPort(call, stream, r.name))

  /** The single claim target of the last sweep (empty = no healthy
    * consumer anywhere) — `monitor.py:144`. */
  def targetConsumer: String = target(own).getOrElse("")
}
