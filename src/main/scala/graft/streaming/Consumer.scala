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

/** C1-C8 over a [[GroupPort]]: the reference Consumer's get_items loop
  * (`consumer.py:36-162`), written once for [[Consumer]] and
  * [[WireConsumer]]. */
abstract class ConsumerRole private[streaming] (
    val consumerId: String,
    batchSize: Int,
    maxWaitTimeMs: Long,
    pollTimeMs: Long) {

  private[streaming] def port: GroupPort

  /** C1: the count-OR-time batch collection window. */
  def getItems(): Seq[StreamMessage] = {
    val clock = port.clock
    val hardStopMs = clock.nowMs + maxWaitTimeMs                        // consumer.py:87-90
    var assigned = port.pending(batchSize, Some(consumerId)).size       // C5, consumer.py:113-119
    while (clock.nowMs <= hardStopMs && assigned < batchSize) {         // consumer.py:75-85
      // C2+C3: request only the deficit, never over-fetch ownership
      // (`consumer.py:96`); an empty read sleeps one poll slice, the
      // reference's BLOCK timer (`consumer.py:151`).
      val got = port.read(consumerId, math.max(1, batchSize - assigned), pollTimeMs, newOnly = true)
      if (got.isEmpty) clock.sleep(pollTimeMs)
      assigned += got.size
    }
    // C4 final re-read (`consumer.py:101-103`), COUNT batchSize: Redis
    // applies COUNT to PEL re-reads too.
    port.read(consumerId, batchSize, pollTimeMs, newOnly = false)
  }

  /** C7: XACK one processed item (does not delete from the stream,
    * `consumer.py:180-191`). */
  def removeItemFromConsumerGroup(itemId: String): Unit = port.ack(itemId)
}

/** [[ConsumerRole]] on the in-process engine. */
final class Consumer(
    log: StreamLog,
    groupName: String,
    consumerId: String = Consumer.defaultConsumerId,
    batchSize: Int = 2,
    maxWaitTimeMs: Long = 10000L,
    pollTimeMs: Long = 1000L) extends ConsumerRole(consumerId, batchSize, maxWaitTimeMs, pollTimeMs) {

  // G1: group bootstrap in every component ctor (`common.py:12-18`).
  val group: ConsumerGroup = ConsumerGroup.create(log, groupName)
  private[streaming] val port: GroupPort = new EnginePort(group)

  /** Deprecated alias kept for API parity (reference `consumer.py:193-207`
    * raises DeprecationWarning and forwards). */
  @deprecated("use removeItemFromConsumerGroup; XACK does not delete from the stream", "0.1.0")
  def removeItemFromStream(itemId: String): Unit = removeItemFromConsumerGroup(itemId)
}
