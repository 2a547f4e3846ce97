package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import RespCodec._

/** The reference's ops loops run over ACTUAL wire bytes: [[WireScaler]]
  * and [[WireConsumer]] (ports of `scaler.py` / `consumer.py`, which
  * are RESP clients) driving a live [[RespServer]] through
  * [[RespClient]] sockets — the round-11 ask: the decision table of
  * `test_scaler.py` computed the way the reference actually computes
  * it (XINFO GROUPS + XINFO STREAM + XRANGE, not engine internals),
  * and the consumer latency contract of `test_consumer.py:28-43`
  * honored across the socket. */
class WireE2ESpec extends AnyFunSuite {

  private val Stream = "test_stream"
  private val Group  = "test_group"

  /** The reference fixture (`base.py:14-22`): TEST_DATASET has two
    * entries, produced before each test. */
  private def withWire(clock: Clock = SystemClock, preload: Int = 2)(
      f: RespClient => Unit): Unit = {
    val server = new RespServer(new RespLoopback(clock))
    try {
      val client = new RespClient(server.host, server.port)
      try {
        (1 to preload).foreach { i =>
          clock match { case m: ManualClock => m.advance(1); case _ => () }
          client.call(StreamCommands.xadd(
            Stream, Seq("test" -> s"data$i"))) match {
            case e: ErrorReply => fail(s"preload failed: $e")
            case _             => ()
          }
        }
        f(client)
      } finally client.close()
    } finally server.close()
  }

  test("XINFO STREAM answers length + last-generated-id over the socket (scaler.py:47-48)") {
    withWire() { client =>
      val info = WireReplies.pairMap(WireReplies.ok(
        client.call(StreamCommands.xinfoStream(Stream))))
      assert(WireReplies.int(info("length")) == 2L)
      val lastGen = info("last-generated-id").text
      assert(lastGen.contains("-") && lastGen != MsgId.Zero)
    }
  }

  test("XRANGE honors open ends, id bounds and COUNT over the socket") {
    withWire() { client =>
      def ids(reply: Reply): Seq[String] = reply match {
        case ArrayReply(Some(entries)) => entries.map(parseEntry(_).msgid)
        case other                     => fail(s"bad XRANGE reply: $other")
      }
      val all = ids(WireReplies.ok(client.call(StreamCommands.xrange(Stream))))
      assert(all.length == 2 && StreamId(all(0)) < StreamId(all(1)))
      // inclusive bounds: [id1, id2] returns both; [id2, id2] just one
      assert(ids(WireReplies.ok(client.call(
        StreamCommands.xrange(Stream, all(0), all(1))))) == all)
      assert(ids(WireReplies.ok(client.call(
        StreamCommands.xrange(Stream, all(1), all(1))))) == Seq(all(1)))
      assert(ids(WireReplies.ok(client.call(
        StreamCommands.xrange(Stream, count = Some(1))))) == Seq(all(0)))
      client.call(Seq("XRANGE", Stream, "-")) match {
        case _: ErrorReply => ()
        case other         => fail(s"arity error expected, got $other")
      }
    }
  }

  test("wire scaler: caught-up group -> (0 backlog, 2 pending) -> NO_SCALE (test_scaler.py:11-32)") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      val consumer = new WireConsumer(client.call, Stream, Group,
        consumerId = "test_scaler_no_scale", batchSize = 2,
        maxWaitTimeMs = 100, pollTimeMs = 10, clock = clock)
      assert(consumer.getItems().length == 2)
      val scaler = new WireScaler(client.call, Stream, Group)
      assert(scaler.collectMetrics() == (0, 2))
      val (rate, suggestion) = scaler.getScaleDecision(scaleOutRate = 60, scaleInRate = 20)
      assert(rate == 0.0 && suggestion == Scale.NoScale)
    }
  }

  test("wire scaler: (1 backlog, 2 pending) -> rate 50 -> OUT (test_scaler.py:34-58)") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      val consumer = new WireConsumer(client.call, Stream, Group,
        consumerId = "test_scaler_scale_out", batchSize = 2,
        maxWaitTimeMs = 100, pollTimeMs = 10, clock = clock)
      assert(consumer.getItems().length == 2)
      // add extra, non-consumed item (test_scaler.py:45)
      clock.advance(1)
      WireReplies.ok(client.call(StreamCommands.xadd(Stream, Seq("some" -> "stuff"))))
      val scaler = new WireScaler(client.call, Stream, Group)
      assert(scaler.collectMetrics() == (1, 2))
      val (rate, suggestion) = scaler.getScaleDecision(scaleOutRate = 50, scaleInRate = 20)
      assert(rate == 50.0 && suggestion == Scale.Out)
    }
  }

  test("wire scaler: two consumers at rate 50 under in=75 -> IN (test_scaler.py:60-103)") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      Seq("c1", "c2").foreach { c =>
        val consumer = new WireConsumer(client.call, Stream, Group,
          consumerId = c, batchSize = 1,
          maxWaitTimeMs = 100, pollTimeMs = 10, clock = clock)
        assert(consumer.getItems().length == 1)
      }
      clock.advance(1)
      WireReplies.ok(client.call(StreamCommands.xadd(Stream, Seq("some" -> "stuff"))))
      val scaler = new WireScaler(client.call, Stream, Group)
      assert(scaler.collectMetrics() == (1, 2))
      val (rate, suggestion) = scaler.getScaleDecision(scaleOutRate = 80, scaleInRate = 75)
      assert(rate == 50.0 && suggestion == Scale.In)
    }
  }

  test("wire scaler: fresh group pins the reference's backlog off-by-one (test_scaler.py:119-127)") {
    withWire() { client =>
      val scaler = new WireScaler(client.call, Stream, Group)
      // the inclusive XRANGE from cursor 0-0 counts every entry and the
      // reference subtracts one anyway: "lenght is always lower than
      // actual TODO: Fix" — 2 entries report as 1.
      assert(scaler.collectMetrics() == (1, 0))
    }
  }

  test("wire scaler: empty stream -> (0, 0) (test_scaler.py:138-144)") {
    withWire() { client =>
      val scaler = new WireScaler(client.call, s"${Stream}_2", Group)
      assert(scaler.collectMetrics() == (0, 0))
    }
  }

  test("wire scaler: invalid thresholds rejected (test_scaler.py:129-136)") {
    withWire() { client =>
      val scaler = new WireScaler(client.call, Stream, Group)
      intercept[IllegalArgumentException](scaler.getScaleDecision(10, -1))
      intercept[IllegalArgumentException](scaler.getScaleDecision(101, 1))
      intercept[IllegalArgumentException](scaler.getScaleDecision(10, 11))
    }
  }

  test("wire consumer: batch N+1 returns after >= max_wait with all N items (test_consumer.py:28-43)") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      val maxWait = 50L
      val consumer = new WireConsumer(client.call, Stream, Group,
        consumerId = "test_end_to_end_return_before_full_batch",
        batchSize = 3, // len(TEST_DATASET) + 1
        maxWaitTimeMs = maxWait, pollTimeMs = maxWait / 10, clock = clock)
      val t0 = clock.nowMs
      val items = consumer.getItems()
      assert(clock.nowMs - t0 >= maxWait) // block expiry honored
      assert(items.length == 2)           // ... with the full owned batch
      assert(items.map(_.content) == Seq(Map("test" -> "data1"), Map("test" -> "data2")))
    }
  }

  test("wire consumer: full batch then per-item ack empties the PEL (test_consumer.py:11-26)") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      val consumer = new WireConsumer(client.call, Stream, Group,
        consumerId = "test_end_to_end_full_batch", batchSize = 2,
        maxWaitTimeMs = 100, pollTimeMs = 10, clock = clock)
      val items = consumer.getItems()
      assert(items.length == 2)
      items.foreach(m => consumer.removeItemFromConsumerGroup(m.msgid))
      WireReplies.ok(client.call(StreamCommands.xpendingRange(Stream, Group))) match {
        case ArrayReply(Some(rows)) => assert(rows.isEmpty)
        case other                  => fail(s"bad XPENDING reply: $other")
      }
    }
  }

  test("wire consumer: owning batchSize + 1 entries gets batchSize of them, then the rest plus new work") {
    val clock = new ManualClock(1000)
    withWire(clock, preload = 5) { client =>
      val consumer = new WireConsumer(client.call, Stream, Group,
        consumerId = "c1", batchSize = 2, maxWaitTimeMs = 100, pollTimeMs = 10, clock = clock)
      val ids = parseXRead(WireReplies.ok(client.call(StreamCommands.xreadgroup(
        Group, "c0", Stream, count = 3, blockMs = 0)))).head._2.map(_.msgid)
      assert(ids.size == 3)
      WireReplies.ok(client.call(StreamCommands.xclaim(Stream, Group, "c1", 0L, ids)))
      val first = consumer.getItems()
      assert(first.map(_.msgid) == ids.take(2), "the oldest batchSize owned entries, in id order")
      first.foreach(m => consumer.removeItemFromConsumerGroup(m.msgid))
      val second = consumer.getItems()
      assert(second.map(_.msgid).head == ids(2) && second.size == 2, "the remaining entry, topped up with new work")
      assert(second(1).content == Map("test" -> "data4"))
    }
  }

  test("wire producer: add returns a server-assigned id and grows XLEN (test_producer.py:9-29)") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      val producer = new WireProducer(client.call, Stream)
      val id = producer.add(Seq("key" -> "value"))
      assert(id.contains("-")) // <timestamp>-<seq>
      assert(WireReplies.int(WireReplies.ok(client.call(StreamCommands.xlen(Stream)))) == 3L)
      val ids = (0 until 5).map { i =>
        clock.advance(1); producer.add(Seq("iteration" -> i.toString))
      }
      assert(ids.toSet.size == 5) // all unique, monotone
      assert(WireReplies.int(WireReplies.ok(client.call(StreamCommands.xlen(Stream)))) == 8L)
    }
  }

  test("wire producer -> wire consumer end-to-end (test_producer.py:31-48)") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      clock.advance(1)
      new WireProducer(client.call, Stream)
        .add(Seq("source" -> "producer_test", "value" -> "42"))
      val consumer = new WireConsumer(client.call, Stream, Group,
        consumerId = "test_consumer_receives_produced_messages",
        batchSize = 4, maxWaitTimeMs = 500, pollTimeMs = 50, clock = clock)
      val contents = consumer.getItems().map(_.content)
      assert(contents.contains(Map("source" -> "producer_test", "value" -> "42")))
    }
  }

  test("wire producer: MAXLEN ~ trims once macro-node excess accumulates (test_producer.py:50-56)") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      def xlen(): Long =
        WireReplies.int(WireReplies.ok(client.call(StreamCommands.xlen(Stream))))
      val producer = new WireProducer(client.call, Stream, maxlen = Some(3L))
      // the reference's own assertion: ~ is approximate, so after a few
      // adds the length may exceed maxlen but stays inside a loose bound
      (0 until 5).foreach { i => clock.advance(1); producer.add(Seq("trim_test" -> i.toString)) }
      assert(xlen() == 7L && xlen() <= 10L) // 2 preload + 5, untrimmed yet
      // ...and once the macro-node threshold (maxlen + 16) is crossed,
      // the trim actually fires down to maxlen
      (0 until 12).foreach { i => clock.advance(1); producer.add(Seq("more" -> i.toString)) }
      assert(xlen() == 3L)
    }
  }

  test("wire DLQ: the poison ping-pong ends in the dead-letter stream, over the socket") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      val Dlq = s"$Stream:dlq"
      def pending(): Vector[(String, Long)] =
        WireReplies.ok(client.call(StreamCommands.xpendingRange(Stream, Group))) match {
          case ArrayReply(Some(rows)) => rows.map {
            case ArrayReply(Some(Vector(id, _, _, IntReply(times)))) => (id.text, times)
            case other => fail(s"bad XPENDING row: $other")
          }
          case other => fail(s"bad XPENDING reply: $other")
        }

      val dlq = new WireDlq(client.call, Stream, Group, Dlq, maxDeliveries = 3)
      // c1 reads both preloaded messages; the monitor's rebalance dance
      // (monitor.py:93-127) then ping-pongs the FIRST one: c1 -> c2 -> c3.
      WireReplies.ok(client.call(StreamCommands.xreadgroup(
        Group, "c1", Stream, count = 10, blockMs = 0)))
      val Vector((poison, _), (healthy, _)) = pending()
      Seq("c2", "c3").foreach { c =>
        WireReplies.ok(client.call(StreamCommands.xclaim(Stream, Group, c, 0L, Seq(poison))))
      }
      assert(pending().toMap == Map(poison -> 3L, healthy -> 1L))

      val routed = dlq.sweep()
      assert(routed.map(_._1) == Seq(poison), "only the exhausted budget routes")
      // Source group: poison retired, the healthy in-flight message untouched.
      assert(pending() == Vector((healthy, 1L)))
      // DLQ stream: the body survived the trip, provenance names c3.
      val dead = WireReplies.ok(client.call(StreamCommands.xrange(Dlq))) match {
        case ArrayReply(Some(Vector(ArrayReply(Some(Vector(_, ArrayReply(Some(fv)))))))) =>
          fv.grouped(2).map { case Vector(k, v) => k.text -> v.text }.toMap
        case other => fail(s"bad DLQ XRANGE reply: $other")
      }
      assert(dead("test") == "data1")
      assert(dead("dlq-source-id") == poison && dead("dlq-consumer") == "c3")
      assert(dead("dlq-times-delivered") == "3" && dead("dlq-reason") == "max-deliveries")
      // Idempotence over the wire, too.
      assert(dlq.sweep().isEmpty)
    }
  }

  test("wire scaler + two groups coexist (test_scaler.py:105-117)") {
    val clock = new ManualClock(1000)
    withWire(clock) { client =>
      val scaler = new WireScaler(client.call, Stream, Group)
      scaler.collectMetrics()
      Seq(Group, s"_$Group").foreach { g =>
        val consumer = new WireConsumer(client.call, Stream, g,
          consumerId = "multi_group", batchSize = 2,
          maxWaitTimeMs = 100, pollTimeMs = 10, clock = clock)
        assert(consumer.getItems().length == 2)
      }
      assert(scaler.collectMetrics() == (0, 2))
    }
  }
}
