package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

/** Differential check of the id-ordered lookups — `StreamLog.after`,
  * `range`, `countAfter`, `get` and `ConsumerGroup.pendingRange`,
  * `pendingOf`, `readOwn`, `autoClaim` — against brute-force
  * filter-and-sort reference versions over a shadow copy of the whole
  * buffer and PEL. The model orders ids by its own split-and-compare,
  * independent of [[StreamId]].
  *
  * Each seed drives a random sequence of XADD (with and without
  * MAXLEN, `~` and exact), XTRIM, XDEL, XREADGROUP `>`, XACK, XCLAIM,
  * XAUTOCLAIM and DELCONSUMER, and after every step compares every
  * lookup at random probe ids: present, deleted, never-minted, `0-0`
  * and past the end; the log's max-deleted id, first and last entry;
  * and XINFO CONSUMERS (`consumerInfo`): the consumer set, each
  * consumer's pending count and idle time. */
class StreamLogOrderSpec extends AnyFunSuite {

  private val Consumers = Seq("c1", "c2", "c3")
  private val MacroNode = 16

  private def key(id: String): (Long, Long) = {
    val Array(ms, seq) = id.split('-')
    (ms.toLong, seq.toLong)
  }
  private val order = Ordering[(Long, Long)]
  private def lt(a: String, b: String): Boolean = order.lt(key(a), key(b))
  private def lte(a: String, b: String): Boolean = order.lteq(key(a), key(b))

  /** The reference model: the buffer as a plain list in append order,
    * the PEL as an unordered map, the group cursor as a string. Every
    * query filters the whole model and sorts by parsed id. */
  private final class Model {
    var buf = Vector.empty[StreamMessage]
    val pel = mutable.Map.empty[String, PelEntry]
    var lastDelivered = MsgId.Zero
    var maxDeleted = MsgId.Zero
    val lastSeen = mutable.Map.empty[String, Long] // every command naming a consumer creates it

    def consumerInfo(now: Long): Set[(String, Int, Long)] = lastSeen.map { case (c, seen) =>
      (c, pel.valuesIterator.count(_.consumer == c), now - seen) }.toSet

    def remove(gone: Seq[StreamMessage]): Unit = {
      buf = buf.filterNot(gone.contains)
      gone.foreach(m => if (lt(maxDeleted, m.msgid)) maxDeleted = m.msgid)
    }
    def trim(maxlen: Int): Int = {
      val removed = math.max(buf.length - maxlen, 0)
      remove(buf.take(removed))
      removed
    }
    def after(id: String, count: Int): Seq[StreamMessage] =
      buf.filter(m => lt(id, m.msgid)).take(count)
    def range(min: String, max: String): Seq[StreamMessage] =
      buf.filter(m => (min == "-" || lte(min, m.msgid)) &&
                      (max == "+" || lte(m.msgid, max)))
    def countAfter(id: String): Int = buf.count(m => lt(id, m.msgid))
    def get(id: String): Option[StreamMessage] =
      buf.find(m => key(m.msgid) == key(id))
    def pendingRange(min: String, max: String, count: Int, consumer: Option[String]): Seq[PelEntry] =
      pel.values.toSeq
        .filter(e => consumer.forall(_ == e.consumer))
        .filter(e => (min == "-" || lte(min, e.msgid)) &&
                     (max == "+" || lte(e.msgid, max)))
        .sortBy(e => key(e.msgid)).take(count)
    def readOwn(consumer: String, count: Int): Seq[StreamMessage] = {
      val owned = pel.valuesIterator.filter(_.consumer == consumer).map(_.msgid).toSet
      val live = buf.filter(m => owned.contains(m.msgid))
      val ghosts = (owned -- live.map(_.msgid)).toSeq.map(id => StreamMessage(id, Map.empty))
      (live ++ ghosts).sortBy(m => key(m.msgid))
        .take(if (count <= 0) Int.MaxValue else count)
    }
    /** XAUTOCLAIM: the first `count` idle entries from `start` on; the
      * cursor is the next entry scanned after them, 0-0 at the end. */
    def autoClaim(c: String, idle: Long, start: String, count: Int, now: Long): (String, Seq[String]) = {
      val scan = pendingRange(start, "+", Int.MaxValue, None)
      val claimed = scan.filter(_.timeSinceDelivered(now) >= idle).take(count)
      val cursor =
        if (claimed.size < count) MsgId.Zero
        else scan.find(e => lt(claimed.last.msgid, e.msgid)).fold(MsgId.Zero)(_.msgid)
      claimed.foreach(e => pel(e.msgid) = PelEntry(e.msgid, c, now, e.timesDelivered + 1))
      (cursor, claimed.map(_.msgid))
    }
  }

  /** Runs one seed; returns the clock's final ms. */
  private def runSeed(seed: Long, steps: Int, startMs: Long = 1700000000000L): Long = {
    val rnd = new Random(seed)
    val clock = new ManualClock(startMs)
    val log = new StreamLog(clock)
    val group = ConsumerGroup.create(log, s"order-$seed")
    val model = new Model
    val minted = mutable.ArrayBuffer.empty[String]
    def someId(): String = rnd.nextInt(8) match {
      case 0 => MsgId.Zero
      case 1 => log.lastGeneratedId
      case 2 => // never minted: a sequence number past any in its ms
        val ms =
          StreamId(if (minted.isEmpty) MsgId.Zero else minted(rnd.nextInt(minted.size))).ms
        MsgId.format(ms, 1000 + rnd.nextInt(5))
      case 3 => MsgId.format(clock.nowMs + 1 + rnd.nextInt(3), 0)
      case _ => if (minted.isEmpty) MsgId.Zero else minted(rnd.nextInt(minted.size))
    }
    def someCount(): Int = if (rnd.nextInt(4) == 0) Int.MaxValue else rnd.nextInt(12)
    def someConsumer(): String = Consumers(rnd.nextInt(Consumers.size))

    try (1 to steps).foreach { step =>
      if (rnd.nextInt(3) == 0) clock.advance(rnd.nextInt(3).toLong)
      val ctx = s"seed $seed step $step"
      rnd.nextInt(11) match {
        case 0 | 1 | 2 =>
          val maxlen = if (rnd.nextInt(3) == 0) Some(5 + rnd.nextInt(30)) else None
          val approximate = rnd.nextBoolean()
          val id = log.add(Map("s" -> step), maxlen, approximate, MacroNode)
          minted += id
          model.buf :+= StreamMessage(id, Map("s" -> step.toString))
          maxlen.foreach { m =>
            if (!approximate || model.buf.length >= m + MacroNode) model.trim(m)
          }
        case 3 =>
          val m = 10 + rnd.nextInt(40)
          assert(log.trim(m) == model.trim(m), ctx)
        case 4 =>
          val ids = Seq.fill(1 + rnd.nextInt(3))(someId())
          val gone = model.buf.filter(m => ids.contains(m.msgid))
          model.remove(gone)
          assert(log.delete(ids: _*) == gone.size, ctx)
        case 5 | 6 =>
          val (c, n) = (someConsumer(), 1 + rnd.nextInt(6))
          val expected = model.after(model.lastDelivered, n)
          assert(group.readNew(c, n) == expected, ctx)
          model.lastSeen(c) = clock.nowMs
          expected.foreach { m =>
            model.lastDelivered = m.msgid
            model.pel(m.msgid) = PelEntry(m.msgid, c, clock.nowMs, 1)
          }
        case 7 =>
          val id = someId()
          assert(group.ack(id) == (if (model.pel.remove(id).isDefined) 1 else 0), ctx)
        case 8 =>
          val (ids, c, idle) = (Seq.fill(1 + rnd.nextInt(4))(someId()).distinct,
            someConsumer(), rnd.nextInt(3).toLong)
          val expected = ids.filter(id =>
            model.pel.get(id).exists(_.timeSinceDelivered(clock.nowMs) >= idle))
          assert(group.claim(ids, c, idle) == expected, ctx)
          model.lastSeen(c) = clock.nowMs
          expected.foreach { id =>
            model.pel(id) = PelEntry(id, c, clock.nowMs, model.pel(id).timesDelivered + 1)
          }
        case 9 =>
          val c = someConsumer()
          val lost = model.pel.values.filter(_.consumer == c).map(_.msgid).toSeq
          lost.foreach(model.pel.remove)
          model.lastSeen.remove(c)
          assert(group.delConsumer(c) == lost.size, ctx)
        case 10 =>
          val (c, idle, start, n) =
            (someConsumer(), rnd.nextInt(3).toLong, someId(), 1 + rnd.nextInt(5))
          assert(group.autoClaim(c, idle, start, n) == model.autoClaim(c, idle, start, n, clock.nowMs),
            s"$ctx autoClaim($c, $idle, $start, $n)")
          model.lastSeen(c) = clock.nowMs
      }

      // Before the probes below, whose readOwn names every consumer.
      val info = group.consumerInfo
      assert(info.size == model.lastSeen.size && info.toSet == model.consumerInfo(clock.nowMs), ctx)

      assert(log.len == model.buf.length, ctx)
      assert(log.range() == model.buf, ctx)
      assert(log.maxDeletedEntryId == model.maxDeleted, ctx)
      assert(log.firstEntry == model.buf.headOption, ctx)
      assert(log.lastEntry == model.buf.lastOption, ctx)
      (1 to 4).foreach { _ =>
        val (a, b, n) = (someId(), someId(), someCount())
        val c = if (rnd.nextBoolean()) Some(someConsumer()) else None
        val (min, max) = (if (rnd.nextInt(4) == 0) "-" else a, if (rnd.nextInt(4) == 0) "+" else b)
        val probe = s"$ctx probe ($a, $b, $n, $c)"
        assert(log.after(a, n) == model.after(a, n), probe)
        assert(log.range(min, max) == model.range(min, max), probe)
        assert(log.range(min, max, n) == model.range(min, max).take(n), probe)
        assert(log.countAfter(a) == model.countAfter(a), probe)
        assert(log.get(a) == model.get(a), probe)
        assert(group.pendingRange(min, max, n, c) == model.pendingRange(min, max, n, c), probe)
        Consumers.foreach { cc =>
          assert(group.pendingOf(cc, n) == model.pendingRange("-", "+", n, Some(cc)), probe)
          assert(group.readOwn(cc, n) == model.readOwn(cc, n), probe)
          model.lastSeen(cc) = clock.nowMs
        }
      }
      assert(group.pendingCount == model.pel.size, ctx)
      assert(group.lastDelivered == model.lastDelivered, ctx)
    } finally group.destroy()
    clock.nowMs
  }

  test("id lookups match a brute-force filter-and-sort over the buffer and PEL (seeded)") {
    (1L to 30L).foreach(seed => runSeed(seed, steps = 300))
  }

  test("id order holds where the ms part grows a digit (9999 -> 10000): numeric, not lexicographic") {
    (31L to 40L).foreach { seed =>
      assert(runSeed(seed, steps = 300, startMs = 9990L) >= 10000L, s"seed $seed never crossed 10000")
    }
  }

  test("readOwn returns id-only tombstones for owned entries that were trimmed or deleted") {
    val clock = new ManualClock(1700000000000L)
    val log = new StreamLog(clock)
    val group = ConsumerGroup.create(log, "tombstones")
    try {
      val ids = (1 to 6).map(i => log.add(Map("i" -> i)))
      group.readNew("c", 6)
      log.trim(4)
      log.delete(ids(4))
      assert(group.readOwn("c") == Seq(
        StreamMessage(ids(0), Map.empty), StreamMessage(ids(1), Map.empty),
        StreamMessage(ids(2), Map("i" -> "3")), StreamMessage(ids(3), Map("i" -> "4")),
        StreamMessage(ids(4), Map.empty), StreamMessage(ids(5), Map("i" -> "6"))))
      assert(group.readOwn("c", 2).map(_.msgid) == ids.take(2))
    } finally group.destroy()
  }
}
