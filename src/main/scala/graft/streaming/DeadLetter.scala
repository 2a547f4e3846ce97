package graft.streaming

import scala.collection.immutable.ListMap

/** Dead-letter routing — finishing the story the reference starts.
  *
  * The reference documents the PEL entry shape specifically as
  * "`times_delivered` … may be useful to move the message to a
  * dead-letter-queue" (reference `common.py:61-64` docstring) and then
  * stops at redelivery: nothing in the library ever routes a poison
  * message out of the group, so a message whose every delivery attempt
  * crashes its consumer ping-pongs between rebalances forever
  * (`monitor.py:93-127` claims it to the next healthy consumer, which
  * fails, which gets it claimed again, …). This router is the missing
  * terminal state of that loop.
  *
  * Policy (the standard Redis-streams DLQ pattern): a PEL entry whose
  * `times_delivered ≥ maxDeliveries` is (1) claimed to the router
  * (min-idle 0 — poison is poison regardless of idle; claiming first
  * takes it out of every consumer's XREADGROUP-`0` redelivery view so
  * no further attempt starts mid-route), (2) appended to the DLQ
  * stream with its surviving body plus provenance fields, (3) XACKed
  * out of the source group. At-least-once carries over: a consumer
  * that acks between our claim and step 3 yields a processed-AND-
  * routed duplicate, never a lost message.
  *
  * Provenance fields (appended after the original body; on the
  * pathological collision the provenance value wins, a ListMap
  * last-write, so the routing metadata is never silently lost):
  * `dlq-source-id`, `dlq-consumer` (the owner whose attempts
  * exhausted the budget — the PRE-claim owner), `dlq-times-delivered`
  * (attempts by real consumers, PRE-claim), `dlq-reason`.
  * A message trimmed from the source stream after delivery routes as
  * provenance-only (the readOwn tombstone rule: its PEL entry must
  * still reach a terminal state, and the DLQ is that state).
  *
  * Written once over a [[GroupPort]], for [[DeadLetterRouter]] and
  * [[WireDlq]].
  */
abstract class DeadLetterRole private[streaming] (maxDeliveries: Int, routerId: String) {
  require(maxDeliveries >= 1, s"maxDeliveries must be >= 1, got $maxDeliveries")

  private[streaming] def port: GroupPort

  /** XADD one dead letter to the DLQ stream; its id. */
  private[streaming] def append(fields: Seq[(String, String)]): String

  /** One sweep over the group PEL in id order, bounded to `count`
    * scanned entries (the XAUTOCLAIM pacing discipline — a sweep's
    * work is proportional to what it scans, never to PEL size).
    * Returns (sourceId, dlqId) per routed message. */
  def sweep(count: Int = 100): Seq[(String, String)] = {
    require(count > 0, s"sweep count must be positive, got $count")
    port.pending(count).filter(_.timesDelivered >= maxDeliveries).flatMap { e =>
      // Claim-first: if the entry vanished (acked/claimed concurrently)
      // the claim returns empty and the message is NOT routed — only
      // messages we own at routing time reach the DLQ.
      port.claim(routerId, 0L, Seq(e.id)).headOption.map { m =>
        val dlqId = append(m.content.toSeq ++ DeadLetterRouter.provenance(e.id, e.consumer, e.timesDelivered))
        port.ack(e.id)
        e.id -> dlqId
      }
    }
  }
}

/** [[DeadLetterRole]] on the in-process engine: dead letters go to `dlq`. */
final class DeadLetterRouter(
    group: ConsumerGroup,
    dlq: StreamLog,
    maxDeliveries: Int = 3,
    routerId: String = "dlq-router") extends DeadLetterRole(maxDeliveries, routerId) {
  private[streaming] val port: GroupPort = new EnginePort(group)
  private[streaming] def append(fields: Seq[(String, String)]): String = dlq.add(ListMap(fields: _*))
}

object DeadLetterRouter {
  val Reason = "max-deliveries"

  /** The provenance field block every dead letter carries. */
  def provenance(sourceId: String, consumer: String, timesDelivered: Int): Seq[(String, String)] =
    Seq(
      "dlq-source-id"        -> sourceId,
      "dlq-consumer"         -> consumer,
      "dlq-times-delivered"  -> timesDelivered.toString,
      "dlq-reason"           -> Reason)
}
