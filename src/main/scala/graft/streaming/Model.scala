package graft.streaming

/** Core data model of the stream-protocol layer (SURVEY.md §1).
  *
  * A message is `(msgid, content)` where `msgid = "<ms>-<seq>"` is
  * monotonic and totally ordered and `content` is a flat string→string
  * map (the reference's dynamic per-message schema — values are
  * stringified on write; cf. reference `consumer.py:14-23`,
  * `producer.py:37`).
  *
  * C6 bytes-payload note: the reference warns and skips decoding when
  * the client was built with `decode_responses=False` and hands back
  * raw bytes (`consumer.py:170-175`). That failure mode is
  * unrepresentable here by construction — `content` is typed
  * `Map[String, String]` end-to-end and the DSv2 source materializes
  * `UTF8String → String` ([[StreamLogReaderFactory]]), so the
  * defensive branch has no Scala analog; this note is its residue.
  */
final case class StreamMessage(msgid: String, content: Map[String, String])

/** A stream id parsed once: `(ms, seq)`, compared as two longs and
  * printed back as `"<ms>-<seq>"`. The log and the PEL key on it, so an
  * id string is parsed at most once, where it enters a public method. */
final case class StreamId(ms: Long, seq: Long) extends Ordered[StreamId] {
  def compare(o: StreamId): Int = {
    val c = java.lang.Long.compare(ms, o.ms)
    if (c != 0) c else java.lang.Long.compare(seq, o.seq)
  }
  override def toString: String = MsgId.format(ms, seq)
}

object StreamId {
  val Zero = StreamId(0L, 0L)

  /** Strict, as Redis: `<digits>-<digits>`, each within Long range. No
    * sign, no blanks, no missing half; the `-`/`+` open ends and the
    * XREADGROUP `>`/`0` forms are the callers' to handle first. */
  def apply(id: String): StreamId = {
    val dash = id.indexOf('-') // -1 leaves the ms part empty
    def part(from: Int, until: Int): Long =
      if (from < until && (from until until).forall(i => id.charAt(i) >= '0' && id.charAt(i) <= '9'))
        java.lang.Long.parseLong(id, from, until, 10) // throws past Long range
      else throw new NumberFormatException(id)
    try StreamId(part(0, dash), part(dash + 1, id.length))
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException("Invalid stream ID specified as stream command argument") }
  }
}

/** Message-id string helpers: `"<ms>-<seq>"`. Parsing and order are
  * [[StreamId]]'s. */
object MsgId {
  val Zero = "0-0"

  def format(ms: Long, seq: Long): String = s"$ms-$seq"
}

/** One pending-entries-list row: delivery state of a message owned by a
  * consumer (shape documented at reference `common.py:61-64`). */
final case class PelEntry(
    msgid: String,
    consumer: String,
    deliveredAtMs: Long,
    timesDelivered: Int) {
  def timeSinceDelivered(nowMs: Long): Long = nowMs - deliveredAtMs
}

/** Per-consumer health snapshot (reference `monitor.py:19-44`). */
final case class ConsumerMetrics(
    consumerId: String,
    pendingItems: Int,
    idleTimeMs: Long,
    status: String) {
  /** JSON rendering mirroring `monitor.py:37-44` (string fields escaped —
    * consumer ids are caller-chosen and may contain quotes). */
  def toJson: String = {
    def esc(s: String): String = s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }
    s"""{"consumer_id": "${esc(consumerId)}", "pending_items": $pendingItems, """ +
      s""""idle_time": $idleTimeMs, "status": "${esc(status)}"}"""
  }
}

/** Health statuses (reference `monitor.py:13-16`). */
object ConsumerStatus {
  val Ok          = "OK"
  val PendingWarn = "WARNING - too many pending items"
  val IdleWarn    = "WARNING - idle for long time"
}

/** Scale suggestions (reference `scaler.py:9-12`). */
object Scale {
  val Out     = "OUT"
  val In      = "IN"
  val NoScale = "NO_SCALE"
}

/** Injectable time source so protocol tests run with a manual clock
  * instead of wall-clock sleeps. */
trait Clock {
  def nowMs: Long
  def sleep(ms: Long): Unit
}

object SystemClock extends Clock {
  def nowMs: Long = System.currentTimeMillis()
  def sleep(ms: Long): Unit = Thread.sleep(ms)
}

/** Deterministic clock: `sleep` advances time; optional hooks fire on
  * each sleep (used to inject mid-poll messages in tests). */
final class ManualClock(start: Long = 0L) extends Clock {
  private var now = start
  private var hooks: List[Long => Unit] = Nil
  def nowMs: Long = synchronized(now)
  def sleep(ms: Long): Unit = {
    val t = synchronized { now += ms; now }
    hooks.foreach(_(t))
  }
  def advance(ms: Long): Unit = synchronized { now += ms }
  def onSleep(f: Long => Unit): Unit = hooks = f :: hooks
}
