package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** [[DeadLetterRouter]] — the terminal state of the reference's
  * redeliver-forever loop (`common.py:61-64` names the DLQ as what
  * `times_delivered` is FOR; `monitor.py:93-127` is the loop). The
  * poison scenario is built with the same moves the reference makes:
  * deliver (times=1), then monitor-style XCLAIM rebalances bump the
  * counter — XREADGROUP `0` re-reads do NOT (Redis semantics, pinned
  * here), so only genuine re-assignments spend the budget. */
class DeadLetterSpec extends AnyFunSuite {

  private def fixture(): (ManualClock, StreamLog, ConsumerGroup, StreamLog) = {
    val clock = new ManualClock(1700000000000L)
    val log = new StreamLog(clock)
    val group = ConsumerGroup.create(log, s"dlq-grp-${System.nanoTime()}")
    (clock, log, group, new StreamLog(clock))
  }

  /** Deliver to c1, then rebalance-claim until `times_delivered == n`. */
  private def poisonTo(group: ConsumerGroup, id: String, n: Int): Unit = {
    var times = group.consumers.flatMap(group.pendingOf(_)).find(_.msgid == id).get.timesDelivered
    var next = 2
    while (times < n) {
      assert(group.claim(Seq(id), s"c$next", minIdleMs = 0L) == Seq(id))
      times += 1; next += 1
    }
  }

  test("re-reading own pending does not spend the delivery budget; claims do") {
    val (_, log, group, _) = fixture()
    val id = log.add(Map("k" -> "v"))
    group.readNew("c1", 10)
    group.readOwn("c1"); group.readOwn("c1")
    assert(group.pendingOf("c1").head.timesDelivered == 1,
      "XREADGROUP 0 re-reads must not increment times_delivered")
    group.claim(Seq(id), "c2", minIdleMs = 0L)
    assert(group.pendingOf("c2").head.timesDelivered == 2)
  }

  test("sweep routes exactly the budget-exhausted entries, with body + provenance") {
    val (_, log, group, dlq) = fixture()
    val poison  = log.add(Map("kind" -> "poison", "n" -> 1))
    val healthy = log.add(Map("kind" -> "ok", "n" -> 2))
    group.readNew("c1", 10)
    poisonTo(group, poison, 3) // c1 -> c2 -> c3, times_delivered = 3
    val router = new DeadLetterRouter(group, dlq, maxDeliveries = 3)

    val routed = router.sweep()
    assert(routed.map(_._1) == Seq(poison))

    // Source group: poison gone (acked), healthy still pending with c1.
    assert(group.consumers.flatMap(group.pendingOf(_)).map(_.msgid) == Seq(healthy))
    // DLQ: body survives, provenance records the PRE-claim owner and count.
    val dead = dlq.range().head.content
    assert(dead("kind") == "poison" && dead("n") == "1")
    assert(dead("dlq-source-id") == poison)
    assert(dead("dlq-consumer") == "c3")
    assert(dead("dlq-times-delivered") == "3")
    assert(dead("dlq-reason") == DeadLetterRouter.Reason)

    // Idempotence: a second sweep finds nothing.
    assert(router.sweep().isEmpty && dlq.len == 1)
  }

  test("a trimmed poison message routes as a provenance-only dead letter") {
    val (_, log, group, dlq) = fixture()
    val id = log.add(Map("k" -> "v"))
    group.readNew("c1", 10)
    poisonTo(group, id, 3)
    log.delete(id) // XDEL: body gone, PEL entry remains
    val routed = new DeadLetterRouter(group, dlq, maxDeliveries = 3).sweep()
    assert(routed.map(_._1) == Seq(id))
    val dead = dlq.range().head.content
    assert(dead.keySet == Set("dlq-source-id", "dlq-consumer",
      "dlq-times-delivered", "dlq-reason"), "tombstone routes with provenance only")
    assert(group.pendingCount == 0, "the unackable ghost reached its terminal state")
  }

  test("sweep scan is bounded by count in id order (the XAUTOCLAIM pacing rule)") {
    val (_, log, group, dlq) = fixture()
    val ids = (1 to 4).map(i => log.add(Map("i" -> i)))
    group.readNew("c1", 10)
    ids.foreach(poisonTo(group, _, 3))
    val router = new DeadLetterRouter(group, dlq, maxDeliveries = 3)
    assert(router.sweep(count = 2) == ids.take(2).map(id => id -> dlq.range().find(
      _.content("dlq-source-id") == id).get.msgid),
      "first sweep routes the two OLDEST poison entries")
    assert(router.sweep(count = 2).map(_._1) == ids.drop(2))
    assert(router.sweep(count = 2).isEmpty && dlq.len == 4)
  }

  test("threshold and count are validated") {
    val (_, _, group, dlq) = fixture()
    intercept[IllegalArgumentException](new DeadLetterRouter(group, dlq, maxDeliveries = 0))
    intercept[IllegalArgumentException](new DeadLetterRouter(group, dlq).sweep(count = 0))
  }
}
