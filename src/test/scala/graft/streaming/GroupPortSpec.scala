package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The [[GroupPort]] contract: one scripted sequence against both
  * adapters — [[EnginePort]] on a [[ConsumerGroup]], [[RespPort]] on
  * [[RespLoopback.execute]] (no socket) — each over its own log under
  * one [[ManualClock]], so both mint the same ids. Every step must
  * answer the same on both; the S1 backlog differs only in the two
  * cases where the reference's inclusive XRANGE − 1 undercounts. */
class GroupPortSpec extends AnyFunSuite {

  private val Stream = "s"
  private val Group  = "g"

  private final class Ports {
    val clock = new ManualClock(1700000000000L)
    val log = new StreamLog(clock)
    val engine: GroupPort = new EnginePort(ConsumerGroup.create(log, Group))
    val loopback = new RespLoopback(clock)
    val resp: GroupPort = new RespPort(loopback.execute, Stream, Group, clock).create()

    /** XADD to both logs at the same instant; the id both minted. */
    def add(i: Int): String = {
      val id = log.add(Map("i" -> i))
      assert(WireReplies.ok(loopback.execute(StreamCommands.xadd(Stream, Seq("i" -> i.toString)))).text == id)
      id
    }

    def xdel(id: String): Unit = {
      assert(log.delete(id) == 1)
      assert(loopback.execute(StreamCommands.xdel(Stream, Seq(id))) == RespCodec.IntReply(1))
    }

    /** The same call on both adapters: the answer, which must agree. */
    def both[T](f: GroupPort => T): T = {
      val (e, r) = (f(engine), f(resp))
      assert(e == r, "engine and RESP adapters disagree")
      e
    }
  }

  test("both adapters answer read, pending, claim, ack, delConsumer and consumerInfo alike") {
    val p = new Ports
    val ids = (1 to 6).map(p.add)
    assert(p.both(_.read("c1", 3, 0L, newOnly = true)).map(_.msgid) == ids.take(3))
    assert(p.both(_.read("c2", 2, 0L, newOnly = true)).map(_.msgid) == ids.slice(3, 5))
    p.clock.advance(100)
    // XREADGROUP 0 with COUNT: the PEL re-read is paced
    assert(p.both(_.read("c1", 2, 0L, newOnly = false)) ==
      Seq(StreamMessage(ids(0), Map("i" -> "1")), StreamMessage(ids(1), Map("i" -> "2"))))
    assert(p.both(_.read("c3", 10, 0L, newOnly = false)).isEmpty)

    assert(p.both(_.pending(10)) ==
      ids.take(3).map(PendingRow(_, "c1", 1)) ++ ids.slice(3, 5).map(PendingRow(_, "c2", 1)))
    assert(p.both(_.pending(10, Some("c2"))).map(_.id) == ids.slice(3, 5))
    assert(p.both(_.pending(2, Some("c1"))).map(_.id) == ids.take(2))

    // min-idle reject: idle 100 ms is under 1000, nothing moves
    assert(p.both(_.claim("c3", 1000L, ids.take(2))).isEmpty)
    // a deleted entry is claimed as a tombstone with empty content
    p.xdel(ids(1))
    assert(p.both(_.claim("c3", 50L, ids.take(2))) ==
      Seq(StreamMessage(ids(0), Map("i" -> "1")), StreamMessage(ids(1), Map.empty)))
    assert(p.both(_.pending(10, Some("c3"))) == ids.take(2).map(PendingRow(_, "c3", 2)))

    assert(p.both(_.ack(ids(0))) == 1)
    assert(p.both(_.ack(ids(0))) == 0)

    p.clock.advance(7)
    assert(p.both(_.consumerInfo) == Seq(("c1", 1, 7L), ("c2", 2, 107L), ("c3", 1, 7L)))
    assert(p.both(_.delConsumer("c2")) == 2)
    assert(p.both(_.delConsumer("nobody")) == 0)
    assert(p.both(_.consumerInfo).map(_._1) == Seq("c1", "c3"))
    assert(p.both(_.pending(10)).map(_.id) == Seq(ids(1), ids(2)))
  }

  test("S1 signals agree except for the reference's fresh-cursor and trimmed-entry undercount") {
    val p = new Ports
    assert(p.both(_.scalerSignals) == ((0, 0, 0)))
    val ids = (1 to 4).map(p.add)
    // Fresh group, cursor 0-0: the inclusive range holds no entry to discount.
    assert(p.engine.scalerSignals == ((4, 0, 0)))
    assert(p.resp.scalerSignals == ((3, 0, 0)))

    p.both(_.read("c1", 2, 0L, newOnly = true))
    assert(p.both(_.scalerSignals) == ((2, 2, 1)))
    p.both(_.read("c1", 2, 0L, newOnly = true))
    assert(p.both(_.scalerSignals) == ((0, 4, 1)))

    // The last-delivered entry is deleted: the range no longer starts with it.
    p.xdel(ids(3))
    (5 to 7).foreach(p.add)
    assert(p.engine.scalerSignals == ((3, 4, 1)))
    assert(p.resp.scalerSignals == ((2, 4, 1)))
  }

  test("an events-shaped entry read or claimed over RESP keeps its XADD field order") {
    // six fields: a hash-ordered Map reorders more than four
    val fields = Seq("event_id" -> "7", "ts" -> "1700000000259", "user_id" -> "4711",
      "event_type" -> "click", "value" -> "2.59", "props" -> """{"k": 7}""")
    val p = new Ports
    WireReplies.ok(p.loopback.execute(StreamCommands.xadd(Stream, fields)))
    val Seq(read) = p.resp.read("c1", 10, 0L, newOnly = true)
    assert(read.content.toSeq == fields)
    val Seq(claimed) = p.resp.claim("c2", 0L, Seq(read.msgid))
    assert(claimed.content.toSeq == fields)
  }
}
