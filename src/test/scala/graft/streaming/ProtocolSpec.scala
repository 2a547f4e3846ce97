package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's producer/consumer/group integration tests
  * (redis_streams_test/{test_producer,test_consumer,common}.py) against
  * the protocol state machine, with a manual clock instead of sleeps. */
class ProtocolSpec extends AnyFunSuite {

  private val TestDataset = Seq(Map("test" -> "data1"), Map("test" -> "data2"))

  private def fixture(): (ManualClock, StreamLog) = {
    val clock = new ManualClock(1700000000000L)
    (clock, new StreamLog(clock))
  }

  // --- MsgId (test_producer.py:9-14) ---

  test("message ids have ms-seq format and total order") {
    val (clock, log) = fixture()
    val id1 = log.add(Map("k" -> "v"))
    val id2 = log.add(Map("k" -> "v"))
    clock.advance(5)
    val id3 = log.add(Map("k" -> "v"))
    assert(id1.contains("-"))
    assert(StreamId(id1) < StreamId(id2) && StreamId(id2) < StreamId(id3))
    assert(StreamId(id2) == StreamId(StreamId(id1).ms, StreamId(id1).seq + 1))
  }

  test("ids keep monotonic even if clock stalls") {
    val (_, log) = fixture()
    val ids = (1 to 5).map(_ => log.add(Map("i" -> "x")))
    assert(ids == ids.sortBy(StreamId(_)))
  }

  test("a clock at 0 never mints the 0-0 sentinel (Redis forbids it; cursors skip it)") {
    val log = new StreamLog(new ManualClock(0L))
    val first = log.add(Map("i" -> "x"))
    assert(first == "0-1", s"first id of a ms=0 stream must be 0-1, got $first")
    // deliverability: a fresh group's strictly-after-0-0 cursor sees it
    val g = ConsumerGroup.create(log, "grp-zero")
    assert(g.readNew("c", 10).map(_.msgid) == Seq(first))
  }

  // --- Producer (test_producer.py:16-56) ---

  test("XADD grows XLEN; values are stringified") {
    val (_, log) = fixture()
    TestDataset.foreach(log.add(_))
    assert(log.len == 2)
    log.add(Map("value" -> 42))
    assert(log.range().last.content == Map("value" -> "42"))
  }

  test("approximate MAXLEN trim: length may exceed maxlen, bounded by macro node") {
    val (_, log) = fixture()
    (1 to 50).foreach(i => log.add(Map("i" -> i), maxlen = Some(10), macroNode = 16))
    assert(log.len >= 10, "must keep at least maxlen")
    assert(log.len <= 10 + 16, "approximate trim bound")
    val (_, log2) = fixture()
    (1 to 50).foreach(i => log2.add(Map("i" -> i), maxlen = Some(10), approximate = false))
    assert(log2.len == 10)
  }

  test("XTRIM 0 empties; XDEL removes by id") {
    val (_, log) = fixture()
    val ids = (1 to 4).map(i => log.add(Map("i" -> i)))
    assert(log.delete(ids.head) == 1)
    assert(log.len == 3)
    log.trim(0)
    assert(log.len == 0)
  }

  // --- Consumer round-trip (test_consumer.py:11-26) ---

  test("get_items returns the produced batch with content equality") {
    val (clock, log) = fixture()
    TestDataset.foreach(log.add(_))
    val c = new Consumer(log, "grp", "c1", batchSize = 2,
      maxWaitTimeMs = 1000, pollTimeMs = 100)
    val items = c.getItems()
    assert(items.map(_.content) == TestDataset)
    items.foreach(m => c.removeItemFromConsumerGroup(m.msgid))
    assert(c.group.pendingCount == 0)
  }

  // --- Timeout semantics (test_consumer.py:28-43) ---

  test("batch_size N+1 returns after >= max_wait with all N items") {
    val (clock, log) = fixture()
    TestDataset.foreach(log.add(_))
    val c = new Consumer(log, "grp-timeout", "c1", batchSize = TestDataset.size + 1,
      maxWaitTimeMs = 2000, pollTimeMs = 250)
    val t0 = clock.nowMs
    val items = c.getItems()
    assert(clock.nowMs - t0 >= 2000, "must block until the deadline")
    assert(items.size == TestDataset.size)
  }

  // --- Retry-inclusive batches (C4/C5: consumer.py:92-103) ---

  test("unacked items are re-included and count toward the quota") {
    val (clock, log) = fixture()
    (1 to 4).foreach(i => log.add(Map("i" -> i)))
    val c = new Consumer(log, "grp-retry", "c1", batchSize = 2,
      maxWaitTimeMs = 1000, pollTimeMs = 100)
    val first = c.getItems()
    assert(first.size == 2)
    // crash without ack: next call must return the SAME two items
    // (pending seeds the quota; no over-fetch: C3 consumer.py:96)
    val second = c.getItems()
    assert(second.map(_.msgid) == first.map(_.msgid))
    second.foreach(m => c.removeItemFromConsumerGroup(m.msgid))
    val third = c.getItems()
    assert(third.map(_.content.apply("i")) == Seq("3", "4"))
  }

  // --- C4 re-read is paced by COUNT batchSize, as Redis paces PEL re-reads ---

  test("a consumer owning batchSize + 1 entries gets batchSize of them, then the rest plus new work") {
    val (clock, log) = fixture()
    val ids = (1 to 5).map(i => log.add(Map("i" -> i)))
    val c = new Consumer(log, "grp-c4", "c1", batchSize = 2,
      maxWaitTimeMs = 1000, pollTimeMs = 100)
    c.group.readNew("c0", 3)
    assert(c.group.claim(ids.take(3), "c1", minIdleMs = 0L) == ids.take(3))
    val first = c.getItems()
    assert(first.map(_.msgid) == ids.take(2), "the oldest batchSize owned entries, in id order")
    first.foreach(m => c.removeItemFromConsumerGroup(m.msgid))
    assert(c.getItems().map(_.msgid) == Seq(ids(2), ids(3)), "the remaining entry, topped up with new work")
  }

  // --- Deprecated alias (test_consumer.py:45-61) ---

  test("remove_item_from_stream alias acks but does not delete from the stream") {
    val (clock, log) = fixture()
    TestDataset.foreach(log.add(_))
    val c = new Consumer(log, "grp-dep", "c1", batchSize = 2,
      maxWaitTimeMs = 1000, pollTimeMs = 100)
    val items = c.getItems()
    @annotation.nowarn("cat=deprecation")
    def legacyAck(id: String): Unit = c.removeItemFromStream(id)
    items.foreach(m => legacyAck(m.msgid))
    assert(c.group.pendingCount == 0)
    assert(log.len == 2, "XACK must not delete from the stream")
  }

  // --- Group state (redis_streams_test/common.py:15-41) ---

  test("pending count after fetch; DELCONSUMER loses exactly the pending count") {
    val (clock, log) = fixture()
    (1 to 3).foreach(i => log.add(Map("i" -> i)))
    val g = ConsumerGroup.create(log, "grp-state")
    g.readNew("c1", 3)
    assert(g.pendingOf("c1").size == 3)
    assert(g.pendingOf("c1", 2).size == 2)
    val lost = g.delConsumer("c1")
    assert(lost == 3)
    assert(g.pendingCount == 0)
  }

  test("XCLAIM honors the min-idle guard and bumps times_delivered") {
    val (clock, log) = fixture()
    (1 to 2).foreach(i => log.add(Map("i" -> i)))
    val g = ConsumerGroup.create(log, "grp-claim")
    g.readNew("dead", 2)
    val ids = g.pendingOf("dead").map(_.msgid)
    assert(g.claim(ids, "alive", minIdleMs = 1000).isEmpty, "too fresh to steal")
    clock.advance(1500)
    val claimed = g.claim(ids, "alive", minIdleMs = 1000)
    assert(claimed == ids)
    val entries = g.pendingOf("alive")
    assert(entries.map(_.timesDelivered) == Seq(2, 2))
    assert(g.pendingOf("dead").isEmpty)
  }

  test("XAUTOCLAIM sweeps idle entries in msgid order with a batching cursor") {
    val (clock, log) = fixture()
    (1 to 5).foreach(i => log.add(Map("i" -> i)))
    val g = ConsumerGroup.create(log, "grp-autoclaim")
    g.readNew("dead", 5)
    // Too fresh: nothing claimed, cursor wraps immediately.
    assert(g.autoClaim("alive", minIdleMs = 1000) == ("0-0", Seq()))
    clock.advance(1500)
    // Batched sweep: 2 per call, cursor resumes where the batch ended.
    val (cur1, got1) = g.autoClaim("alive", minIdleMs = 1000, count = 2)
    assert(got1.size == 2 && cur1 != "0-0")
    val (cur2, got2) = g.autoClaim("alive", minIdleMs = 1000, start = cur1, count = 2)
    assert(got2.size == 2 && cur2 != "0-0")
    // Claimed entries are no longer idle — the final call sees only the
    // remaining 5th entry, then wraps.
    val (cur3, got3) = g.autoClaim("alive", minIdleMs = 1000, start = cur2, count = 2)
    assert(cur3 == "0-0" && got3.size == 1)
    val all = (got1 ++ got2 ++ got3)
    assert(all == all.sortBy(StreamId(_)), "claims must advance in msgid order")
    assert(g.pendingOf("alive").size == 5 && g.pendingOf("dead").isEmpty)
    // Redis requires COUNT > 0: count = 0 would return the scan start
    // as the cursor without progress — an infinite caller loop.
    intercept[IllegalArgumentException](g.autoClaim("alive", 1000, count = 0))
    assert(g.pendingOf("alive").map(_.timesDelivered).forall(_ == 2))
  }

  test("XAUTOCLAIM property: any batch size sweeps the idle set exactly once") {
    // Whatever the page size, looping until the cursor wraps must claim
    // every idle entry exactly once and touch nothing fresh.
    for (batchSize <- Seq(1, 3, 7, 100)) {
      val (clock, log) = fixture()
      (1 to 23).foreach(i => log.add(Map("i" -> i)))
      val g = ConsumerGroup.create(log, s"grp-ac-prop-$batchSize")
      g.readNew("dead", 17)            // 17 idle-to-be entries
      clock.advance(2000)
      g.readNew("dead", 6)             // 6 fresh entries (idle 0)
      var cursor = "0-0"
      var first = true
      val claimed = scala.collection.mutable.ArrayBuffer[String]()
      while (first || cursor != "0-0") {
        first = false
        val (next, got) = g.autoClaim("alive", 1000, cursor, batchSize)
        claimed ++= got
        assert(got.size <= batchSize)
        cursor = next
      }
      assert(claimed.size == 17, s"batch=$batchSize claimed ${claimed.size}")
      assert(claimed.distinct.size == 17, "an entry was claimed twice")
      assert(claimed == claimed.sortBy(StreamId(_)))
      assert(g.pendingOf("dead").size == 6, "fresh entries must stay owned")
    }
  }

  test("group creation is idempotent (BUSYGROUP swallowed)") {
    val (clock, log) = fixture()
    log.add(Map("i" -> 1))
    val g1 = ConsumerGroup.create(log, "grp-idem")
    g1.readNew("c1", 1)
    val g2 = ConsumerGroup.create(log, "grp-idem")
    assert(g2 eq g1)
    assert(g2.pendingCount == 1, "re-create must not reset state")
  }

  // --- default consumer id (consumer.py:42: f"{pid}{thread_id}") ---

  test("consumer id defaults to pid+thread when not given") {
    val (clock, log) = fixture()
    val c = new Consumer(log, "grp-defid")
    assert(c.consumerId ==
      s"${ProcessHandle.current().pid()}${Thread.currentThread().getId}",
      "default id must be the reference's pid+thread derivation")
    assert(c.consumerId.matches("\\d+"), "pid+thread id is all digits")
    assert(new Consumer(log, "grp-defid", "explicit").consumerId == "explicit")
  }
}
