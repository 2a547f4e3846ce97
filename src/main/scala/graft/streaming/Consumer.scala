package graft.streaming

/** Batch-collecting consumer: the reference's hot path (SURVEY.md §3.1).
  *
  * [[getItems]] returns a batch when `batchSize` is reached OR
  * `maxWaitTimeMs` has elapsed, whichever first, polling in
  * `pollTimeMs` slices; already-owned pending items count toward the
  * quota, and the returned batch is everything currently owned
  * (retry-inclusive, at-least-once). Faithful port of the C1-C8 loop:
  * reference `consumer.py:36-103` (defaults `consumer.py:43-45`).
  */
object Consumer {
  /** Default consumer id when none is given: process id concatenated
    * with thread id — the reference's `f"{pid}{thread_id}"` derivation
    * (`consumer.py:42`), ported quirk included: the unseparated
    * concatenation is ambiguous (pid 12/thread 34 collides with pid
    * 123/thread 4), so colliding consumers would share a PEL slice.
    * Pass an explicit id where that matters.
    *
    * Deliberate divergence: this is a `def` (per-construction), while
    * the reference evaluates the f-string once at import as a Python
    * default argument — all consumers in a reference process share the
    * importing thread's id. Per-thread ids are what the derivation
    * plainly intends; memoizing the quirk would port an accident. */
  def defaultConsumerId: String =
    s"${ProcessHandle.current().pid()}${Thread.currentThread().getId}"
}

final class Consumer(
    log: StreamLog,
    groupName: String,
    val consumerId: String = Consumer.defaultConsumerId,
    batchSize: Int = 2,
    maxWaitTimeMs: Long = 10000L,
    pollTimeMs: Long = 1000L) {

  // G1: group bootstrap in every component ctor (`common.py:12-18`).
  val group: ConsumerGroup = ConsumerGroup.create(log, groupName)

  private var hardStopMs = 0L

  /** C1: the count-OR-time batch collection window. */
  def getItems(): Seq[StreamMessage] = {
    setHardStopTime()                                   // consumer.py:87-90
    var assigned = alreadyAssigned()                    // C5, consumer.py:113-119
    while (waitForMoreMessages(assigned)) {             // consumer.py:75-85
      assigned += getNewItemsToConsumer(assigned)       // C3, consumer.py:105-111
    }
    group.readOwn(consumerId)                           // C4 final re-read, consumer.py:101-103
  }

  /** C7: XACK one processed item (does not delete from the stream). */
  def removeItemFromConsumerGroup(itemId: String): Unit = {
    group.ack(itemId)                                   // consumer.py:180-191
  }

  /** Deprecated alias kept for API parity (reference `consumer.py:193-207`
    * raises DeprecationWarning and forwards). */
  @deprecated("use removeItemFromConsumerGroup; XACK does not delete from the stream", "0.1.0")
  def removeItemFromStream(itemId: String): Unit = removeItemFromConsumerGroup(itemId)

  // ---- internals, mirroring the reference call graph ----

  private def setHardStopTime(): Unit = hardStopMs = log.clock.nowMs + maxWaitTimeMs

  private def waitForMoreMessages(assigned: Int): Boolean =
    log.clock.nowMs <= hardStopMs && assigned < batchSize

  /** C5: count of already-owned pending items (seeds the quota). */
  private def alreadyAssigned(): Int =
    group.pendingOf(consumerId, batchSize).size

  /** C2+C3: incremental top-up — request only the deficit, never
    * over-fetch ownership (`consumer.py:96`); the blocking poll doubles
    * as the wait timer (`consumer.py:151`). */
  private def getNewItemsToConsumer(assigned: Int): Int = {
    val want = math.max(1, batchSize - assigned)
    val got = group.readNew(consumerId, want)
    if (got.isEmpty) log.clock.sleep(pollTimeMs)        // blocking poll slice
    got.size
  }
}
