package graft.streaming

import scala.collection.mutable

/** Consumer-group state: a named cursor (`last-delivered-id`) over a
  * [[StreamLog]] plus the group PEL — the at-least-once core of the
  * reference (SURVEY.md §1.1).
  *
  * Operators: G1 idempotent create (reference `common.py:20-41`),
  * C2/C4 XREADGROUP `>`/`0` (`consumer.py:121-162,26-33`), C5/G2
  * XPENDING (`common.py:48-73`), C7 XACK (`consumer.py:180-191`),
  * M6 XCLAIM min-idle (`monitor.py:129-138`), G3 XGROUP DELCONSUMER
  * (`common.py:75-85`), G4 DESTROY (`base.py:22-23`), M1/M2 XINFO.
  *
  * The group belongs to its log (created by [[ConsumerGroup.create]],
  * listed by the log) and reads the log's clock.
  */
final class ConsumerGroup private[streaming] (val log: StreamLog, val name: String) {

  private var lastDeliveredId = StreamId.Zero
  // typed id → entry, ordered by id (two long compares per step, no
  // string parsing): XPENDING/XAUTOCLAIM scan in id order, and a sorted
  // map makes autoClaim's cursor seek O(log PEL) + O(scanned) instead
  // of sort-the-world per call. An id string is parsed once, on entry.
  private val pel = mutable.TreeMap.empty[StreamId, PelEntry]
  private val lastSeenMs = mutable.LinkedHashMap.empty[String, Long]       // consumer → last fetch

  /** C2: XREADGROUP `>` — deliver up to `count` never-delivered messages
    * to `consumer`; each enters the PEL (at-least-once, noack=false). */
  def readNew(consumer: String, count: Int): Seq[StreamMessage] = synchronized {
    touch(consumer)
    if (count <= 0) return Seq.empty
    val got = log.entriesAfter(lastDeliveredId, count)
    val now = log.clock.nowMs
    got.foreach { e =>
      lastDeliveredId = e.id
      pel(e.id) = PelEntry(e.msg.msgid, consumer, now, 1)
    }
    got.map(_.msg)
  }

  /** C4: XREADGROUP `0` — re-read everything currently owned by
    * `consumer` (crash-retry redelivery), in id order. PEL entries whose
    * message has been trimmed/deleted from the stream are returned as
    * id-only tombstones (empty content), matching Redis's nil-fields
    * reply — the caller can still ack them, so a trim can never wedge a
    * consumer behind unackable ghosts. */
  def readOwn(consumer: String, count: Int = Int.MaxValue): Seq[StreamMessage] = synchronized {
    // Wire COUNT 0 means "no limit" and the loopback maps it before
    // calling here, but direct API callers get the same contract:
    // count <= 0 = unlimited, never take(negative) = silently empty.
    val limit = if (count <= 0) Int.MaxValue else count
    touch(consumer)
    // Redis applies COUNT to PEL re-reads too — a recovering consumer
    // paces its redelivery with the same batch size as fresh reads.
    pel.iterator.filter(_._2.consumer == consumer).take(limit).map { case (id, e) =>
      log.get(id).getOrElse(StreamMessage(e.msgid, Map.empty)) }.toVector
  }

  /** C5/G2: XPENDING range form — up to `count` PEL entries with id in
    * [min, max] (`-`/`+` = open ends), optionally of one consumer, in
    * id order (the PEL is id-ordered, so this is a seek plus a walk). */
  def pendingRange(min: String = "-", max: String = "+", count: Int = Int.MaxValue,
      consumer: Option[String] = None): Seq[PelEntry] = synchronized {
    val from = if (min == "-") pel else pel.rangeFrom(StreamId(min))
    (if (max == "+") from else from.rangeTo(StreamId(max))).valuesIterator
      .filter(e => consumer.forall(_ == e.consumer)).take(count).toVector
  }

  /** G2/C5: XPENDING_RANGE — up to `count` PEL entries of one consumer
    * over the full id range, in id order. */
  def pendingOf(consumer: String, count: Int = Int.MaxValue): Seq[PelEntry] =
    pendingRange(count = count, consumer = Some(consumer))

  /** C7: XACK — remove from the group PEL; does NOT delete from the
    * stream (the v0.3.0 doc fix, reference `consumer.py:182-190`).
    * Returns 1 if the id was pending, else 0. */
  def ack(msgid: String): Int = synchronized {
    if (pel.remove(StreamId(msgid)).isDefined) 1 else 0
  }

  /** M6: XCLAIM — reassign `ids` to `newConsumer` iff idle ≥ `minIdleMs`
    * (guard against stealing in-flight work, `monitor.py:65-68`); resets
    * the delivery clock and bumps `times_delivered`. Returns claimed ids. */
  def claim(ids: Seq[String], newConsumer: String, minIdleMs: Long): Seq[String] = synchronized {
    val sids = ids.map(StreamId(_)) // every id is checked before any is claimed
    // Redis XCLAIM auto-creates the claiming consumer in the group
    // (it appears in XINFO CONSUMERS immediately, before it ever
    // reads) — without the touch, a monitor that rebalanced onto a
    // fresh consumer wouldn't see the new owner in its own report.
    touch(newConsumer)
    val now = log.clock.nowMs
    sids.flatMap { id =>
      pel.get(id) match {
        case Some(e) if e.timeSinceDelivered(now) >= minIdleMs =>
          pel(id) = PelEntry(e.msgid, newConsumer, now, e.timesDelivered + 1)
          Some(e.msgid)
        case _ => None
      }
    }
  }

  /** XAUTOCLAIM — the one-call sweep the reference names as the future
    * simplification of its list→claim→delete rebalance dance
    * (`monitor.py:101`) but never implements: atomically claim up to
    * `count` PEL entries idle ≥ `minIdleMs` for `newConsumer`, in msgid
    * order starting at `start` (exclusive of nothing — Redis semantics:
    * inclusive scan cursor). Returns (nextStart, claimed ids): callers
    * loop with the returned cursor until it wraps to "0-0", exactly the
    * Redis 6.2 contract, so a monitor sweeps an arbitrarily large PEL
    * in bounded batches instead of one unbounded XPENDING read. */
  def autoClaim(newConsumer: String, minIdleMs: Long, start: String = "0-0",
      count: Int = 100): (String, Seq[String]) = synchronized {
    val from = StreamId(start)
    // Redis requires COUNT > 0; count = 0 here would return the scan
    // START as the next cursor without claiming — the documented
    // loop-until-"0-0" caller would spin forever on it.
    require(count > 0, s"autoClaim count must be positive, got $count")
    touch(newConsumer) // XAUTOCLAIM auto-creates the consumer, as XCLAIM does
    val now = log.clock.nowMs
    // Scan in msgid order from `start` (the PEL is a TreeMap, so the
    // seek is O(log PEL)) and stop once `count` eligible entries are
    // collected — per-call work proportional to entries SCANNED, and
    // the cursor is the first unscanned msgid, as in Redis 6.2 (not
    // the next ELIGIBLE id, which would cost a full eligibility sweep
    // exactly when the PEL is large and mostly busy).
    val it = pel.iteratorFrom(from)
    val batch = Seq.newBuilder[(StreamId, PelEntry)]
    var taken = 0
    var nextStart = StreamId.Zero
    while (it.hasNext && nextStart == StreamId.Zero) {
      val (id, e) = it.next()
      if (taken == count) nextStart = id
      else if (e.timeSinceDelivered(now) >= minIdleMs) { batch += id -> e; taken += 1 }
    }
    val claimed = batch.result()
    claimed.foreach { case (id, e) =>
      pel(id) = PelEntry(e.msgid, newConsumer, now, e.timesDelivered + 1) }
    (nextStart.toString, claimed.map(_._2.msgid))
  }

  /** G3: XGROUP DELCONSUMER — destroy a consumer; unclaimed PEL entries
    * are lost. Returns the number of lost (pending) messages. */
  def delConsumer(consumer: String): Int = synchronized {
    val owned = pel.iterator.collect { case (id, e) if e.consumer == consumer => id }.toList
    owned.foreach(pel.remove)
    lastSeenMs.remove(consumer)
    owned.size
  }

  /** G4: XGROUP DESTROY — clears state and removes the group from its
    * log, so the next create() starts fresh. False if it was already
    * destroyed. */
  def destroy(): Boolean = {
    synchronized { pel.clear(); lastSeenMs.clear(); lastDeliveredId = StreamId.Zero }
    log.removeGroup(this)
  }

  // ---- introspection (M1 XINFO GROUPS / M2 XINFO CONSUMERS) ----

  def lastDelivered: String = synchronized(lastDeliveredId.toString)
  def pendingCount: Int = synchronized(pel.size)
  def consumers: Seq[String] = synchronized(lastSeenMs.keys.toSeq)

  /** M2: per-consumer (name, pending, idle-ms-since-last-fetch). */
  def consumerInfo: Seq[(String, Int, Long)] = synchronized {
    val now = log.clock.nowMs
    lastSeenMs.toSeq.map { case (c, seen) =>
      (c, pel.valuesIterator.count(_.consumer == c), now - seen)
    }
  }

  private def touch(consumer: String): Unit = lastSeenMs(consumer) = log.clock.nowMs
}

object ConsumerGroup {
  /** G1: idempotent group creation from stream start (`0-0`), MKSTREAM
    * implied, BUSYGROUP swallowed (reference `common.py:20-41`) —
    * repeated creation returns the existing group unchanged. */
  def create(log: StreamLog, name: String): ConsumerGroup = log.createGroup(name)
}
