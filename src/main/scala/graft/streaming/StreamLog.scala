package graft.streaming

import scala.collection.Searching.{Found, SearchResult}
import scala.collection.mutable

/** Append-only message log with Redis-stream semantics: monotonic
  * `ms-seq` ids, XLEN/XRANGE, approximate MAXLEN trimming, XDEL.
  *
  * Plays the role Redis itself plays for the reference library (the
  * reference owns no storage; SURVEY.md §1.3). In this engine the log
  * backs the protocol state machine in tests and feeds the Structured
  * Streaming source; the 100 TB batch path reads the same shape from
  * parquet (`events` table).
  *
  * Operators: P1 XADD (reference `producer.py:37-51`), P2 MAXLEN~ trim
  * (`producer.py:26-35,47-48`), P3 XTRIM (`base.py:15,21`), P4 XDEL
  * (documented escape hatch, `consumer.py:185-187`).
  *
  * The log owns its consumer groups, as a Redis stream key does: groups
  * read this log's clock and are released with it.
  */
final class StreamLog(private[streaming] val clock: Clock = SystemClock) {

  // Always in strictly increasing id order: `add` mints monotonic ids,
  // `trim` drops a prefix and XDEL filters in place — so every id
  // lookup below is one binary search (`search`) over the entries'
  // typed ids, comparing longs, and every reply is a copy of a slice,
  // never a view of this mutable buffer. A deque, so a trim costs the
  // entries it removes, not the entries it keeps.
  private val buf = mutable.ArrayDeque.empty[LogEntry]
  private var last = StreamId(-1L, -1L) // the last id minted
  private var nAdded  = 0L
  private var maxDeleted = StreamId.Zero
  // Name-ordered, the order Redis's radix tree gives XINFO GROUPS. Lock
  // order is group → log: nothing here calls into a group.
  private val groupsByName = mutable.TreeMap.empty[String, ConsumerGroup]

  /** XADD: append one field-map message; values are stringified on write
    * (`producer.py:37`); returns the assigned monotonic id. With
    * `maxlen`, trims approximately (only once `macroNode` excess rows
    * accumulate — Redis's `~` macro-node behavior: length may exceed
    * maxlen, `test_producer.py:50-56`). */
  def add(
      content: Map[String, Any],
      maxlen: Option[Int] = None,
      approximate: Boolean = true,
      macroNode: Int = 16): String = synchronized {
    maxlen.foreach(m => require(m >= 0, "MAXLEN argument must be >= 0"))
    val ms = math.max(clock.nowMs, last.ms)
    val seq0 = if (ms == last.ms) last.seq + 1 else 0L
    // Redis forbids entry id 0-0 (the before-everything sentinel; our
    // MsgId.Zero plays the same role, and cursors read STRICTLY after
    // it) — a clock at 0 mints 0-1 first, never an undeliverable 0-0.
    val seq = if (ms == 0L && seq0 == 0L) 1L else seq0
    last = StreamId(ms, seq)
    val msg = StreamMessage(last.toString, content.map { case (k, v) => k -> String.valueOf(v) })
    buf += LogEntry(last, msg)
    nAdded += 1
    maxlen.foreach { m =>
      if (!approximate) trim(m)
      else if (buf.length >= m + macroNode) trim(m)
    }
    msg.msgid
  }

  /** XLEN. */
  def len: Int = synchronized(buf.length)

  /** XTRIM maxlen: keep only the newest `maxlen` messages. */
  def trim(maxlen: Int): Int = synchronized {
    require(maxlen >= 0, "MAXLEN argument must be >= 0")
    val removed = math.max(buf.length - maxlen, 0)
    if (removed > 0) {
      // trimmed prefix is id-ordered: its last element is its max
      noteDeleted(buf(removed - 1).id)
      buf.dropInPlace(removed)
    }
    removed
  }

  /** XDEL: physically delete acked message ids. */
  def delete(ids: String*): Int = synchronized {
    val set = ids.map(StreamId(_)).toSet // every id is checked before any is deleted
    val before = buf.length
    buf.iterator.filter(e => set.contains(e.id)).foreach(e => noteDeleted(e.id))
    buf.filterInPlace(e => !set.contains(e.id))
    before - buf.length
  }

  // Redis's max-deleted-entry-id contract: the greatest id ever removed
  // by XDEL or trimming (only ids that existed count — unknown XDEL ids
  // never move it, hence noteDeleted fires per matched message).
  private def noteDeleted(id: StreamId): Unit =
    if (maxDeleted < id) maxDeleted = id

  /** Binary search for `id`: `Found(i)` if present, else the index of
    * the first greater id. */
  private def search(id: StreamId): SearchResult = buf.view.map(_.id).search(id)

  /** Index of the first id strictly greater than `id`. */
  private def indexAfter(id: StreamId): Int = search(id) match {
    case Found(i) => i + 1
    case other    => other.insertionPoint
  }

  /** XRANGE [min, max] inclusive by id order; `-`/`+` = open ends; at
    * most `count` messages, the oldest first. */
  def range(min: String = "-", max: String = "+", count: Int = Int.MaxValue): Seq[StreamMessage] =
    synchronized {
      val lo = if (min == "-") 0 else search(StreamId(min)).insertionPoint
      val hi = if (max == "+") buf.length else indexAfter(StreamId(max))
      buf.view.slice(lo, hi).take(count).map(_.msg).toVector
    }

  /** Messages with id strictly greater than `after` (delivery order). */
  def after(after: String, count: Int): Seq[StreamMessage] =
    entriesAfter(StreamId(after), count).map(_.msg)

  private[streaming] def entriesAfter(id: StreamId, count: Int): Vector[LogEntry] =
    synchronized(buf.view.drop(indexAfter(id)).take(count).toVector)

  /** How many messages have an id strictly greater than `id`: XLEN
    * after 0-0, 0 after the last id. */
  def countAfter(id: String): Int = synchronized(buf.length - indexAfter(StreamId(id)))

  /** [[countAfter]] of two ids, from one snapshot of the log. */
  private[streaming] def countsAfter(a: String, b: String): (Int, Int) =
    synchronized((countAfter(a), countAfter(b)))

  /** The message with exactly this id, if it is still in the log. */
  def get(id: String): Option[StreamMessage] = get(StreamId(id))

  private[streaming] def get(id: StreamId): Option[StreamMessage] = synchronized {
    search(id) match { case Found(i) => Some(buf(i).msg); case _ => None }
  }

  /** XINFO STREAM last-generated-id (`scaler.py:47-48`) — survives
    * trims: it tracks the last id ever assigned, not the buffer tail. */
  def lastGeneratedId: String = synchronized {
    if (last.ms < 0) MsgId.Zero else last.toString
  }

  /** XINFO STREAM max-deleted-entry-id: greatest id ever removed by
    * XDEL or trim; 0-0 if nothing was ever deleted (Redis ≥7 field). */
  def maxDeletedEntryId: String = synchronized(maxDeleted.toString)

  /** XINFO STREAM entries-added: lifetime XADD count (trim/XDEL never
    * decrement it — Redis ≥7 field). */
  def entriesAdded: Long = synchronized(nAdded)

  /** XINFO STREAM first-entry / last-entry (None on an empty stream). */
  def firstEntry: Option[StreamMessage] = synchronized(buf.headOption.map(_.msg))
  def lastEntry: Option[StreamMessage]  = synchronized(buf.lastOption.map(_.msg))

  // ---- consumer groups (G1 create, G4 destroy, M1 XINFO GROUPS) ----

  private[streaming] def group(name: String): Option[ConsumerGroup] =
    synchronized(groupsByName.get(name))
  private[streaming] def groups: Seq[ConsumerGroup] = synchronized(groupsByName.values.toVector)

  /** Idempotent: the existing group of this name, else a new one at 0-0. */
  private[streaming] def createGroup(name: String): ConsumerGroup =
    synchronized(groupsByName.getOrElseUpdate(name, new ConsumerGroup(this, name)))

  /** Drops `g` only if its name still maps to it, so destroying a stale
    * group cannot drop a newer one. True if `g` was removed. */
  private[streaming] def removeGroup(g: ConsumerGroup): Boolean =
    synchronized(groupsByName.get(g.name).exists(_ eq g) && groupsByName.remove(g.name).isDefined)
}

/** A log entry: the message and its typed id, made once when minted. */
private[streaming] final case class LogEntry(id: StreamId, msg: StreamMessage)
