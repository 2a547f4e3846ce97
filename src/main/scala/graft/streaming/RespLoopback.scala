package graft.streaming

import scala.collection.mutable
import RespCodec._

/** In-process RESP endpoint: decode a command off the wire, execute it
  * against the library's own [[StreamLog]]/[[ConsumerGroup]], and write
  * the reply once, stream entries straight from the log, into a
  * [[RespWriter]]. [[RespServer]] wraps this in a real localhost TCP
  * accept loop — the full client-socket-server path the reference runs on
  * (`common.py:13-18`) — while the in-process [[call]] form keeps the
  * protocol tests transport-free and fast; the tests drive
  * produce→consume→ack→claim cycles through both.
  *
  * Semantics notes:
  *  - BLOCK is accepted and ignored — a loopback answers immediately;
  *    blocking is a transport concern, not a protocol one.
  *  - XGROUP CREATE is idempotent (the library's G1 semantics — the
  *    reference client swallows BUSYGROUP anyway, `common.py:33-41`).
  *  - XADD supports auto ids (`*`) only, which is all the reference
  *    producer ever sends (`producer.py:44-48`).
  */
final class RespLoopback(clock: Clock = SystemClock) {

  private val logs = mutable.Map.empty[String, StreamLog]

  private def logOf(stream: String): StreamLog =
    synchronized(logs.getOrElseUpdate(stream, new StreamLog(clock)))

  /** The log of a stream if it exists — a lookup never creates one. */
  private def existing(stream: String): Option[StreamLog] = synchronized(logs.get(stream))

  /** What a read or delete sees: the stream's log, or for a missing key
    * one never-written log that nothing adds to. Arguments and ids are
    * validated exactly as on a real stream, the answers are Redis's for
    * a missing key (XLEN 0, XRANGE empty, XDEL and XTRIM 0), and no
    * stream is created — so a client naming random keys cannot grow
    * [[logs]]. */
  private val absent = new StreamLog(clock)
  private def readable(stream: String): StreamLog = existing(stream).getOrElse(absent)

  /** How many streams exist. */
  private[streaming] def streamCount: Int = synchronized(logs.size)

  /** The backing log of a stream — the handoff point to the DSv2
    * source: register it with [[StreamLogRegistry]] and wire-produced
    * entries flow straight into a Structured Streaming query. */
  def streamLog(stream: String): StreamLog = logOf(stream)

  /** The live group of a stream, whether a wire XGROUP CREATE or an
    * engine-side [[ConsumerGroup.create]] made it — the handoff point to
    * the control plane: a [[Monitor]] built over it sweeps/rebalances
    * the same PEL that wire XREADGROUP/XACK mutate. */
  def consumerGroup(stream: String, group: String): Option[ConsumerGroup] =
    existing(stream).flatMap(_.group(group))

  /** Only XGROUP CREATE creates; every other group command on a
    * missing group answers Redis's NOGROUP error — auto-creating here
    * would turn a typo'd group name into silent phantom state. */
  private def groupOf(stream: String, group: String): ConsumerGroup =
    consumerGroup(stream, group).getOrElse(
      sys.error(s"NOGROUP No such consumer group '$group' for key name '$stream'"))

  /** Redis's arity error for a command given fewer than `n` arguments
    * (the command name counts). */
  private def arity(args: Seq[String], n: Int): Unit = if (args.length < n)
    sys.error(s"wrong number of arguments for '${args.head.toLowerCase}' command")

  /** Wire bytes in, wire bytes out, exactly as one connection answers
    * them: every command in `request` is executed and the replies come
    * back concatenated, in order. Protocol faults answer RESP errors,
    * never JVM exceptions; an incomplete trailing command gets no reply. */
  def call(request: Array[Byte]): Array[Byte] = {
    val w = new RespWriter
    serve(new RespCommandFramer(RespServer.MaxFrameBytes), request, 0, request.length, w, _ => ())
    w.toByteArray
  }

  /** Frame → execute → write, the one step behind [[call]] and every
    * [[RespServer]] connection: each command `framer` completes from
    * the bytes is executed and its reply written to `w`. Once a reply
    * leaves `w` holding more than [[RespWriter.MaxKept]] bytes, `w` goes
    * to `spill` (a connection writes it to its socket), so pipelined
    * commands hold at most one large reply, not one per command. A
    * framed but malformed command answers `ERR malformed command`; an
    * unframeable stream answers its fatal error once and returns false,
    * because the stream cannot be resynchronized — the connection
    * closes. */
  private[streaming] def serve(framer: RespCommandFramer, bytes: Array[Byte], off: Int, len: Int,
      w: RespWriter, spill: RespWriter => Unit): Boolean = {
    val (commands, fatal) = framer.feed(bytes, off, len)
    commands.foreach { c =>
      c.fold(_ => w.error("ERR malformed command"), respond(_, w))
      if (w.size > RespWriter.MaxKept) spill(w)
    }
    fatal.foreach(w.error)
    fatal.isEmpty
  }

  /** Execute one parsed command and write its reply to `w`. Protocol
    * errors come back as RESP errors, never as exceptions across the
    * wire boundary: a command that throws has the bytes it wrote
    * dropped and answers one error line instead. Messages that already
    * carry a Redis error code (NOGROUP) keep it as their prefix,
    * everything else gets the generic ERR. */
  private[streaming] def respond(args: Seq[String], w: RespWriter): Unit = {
    val mark = w.size
    try dispatch(args, w)
    catch { case e: Exception =>
      w.truncate(mark)
      val m = String.valueOf(e.getMessage)
      w.error(if (m.startsWith("NOGROUP")) m else s"ERR $m")
    }
  }

  /** Execute one parsed command for an in-process caller: its reply,
    * written by [[respond]] and read back. */
  def execute(args: Seq[String]): Reply = {
    val w = new RespWriter
    respond(args, w)
    decode(w.toByteArray).get._1
  }

  private def entries(w: RespWriter, ms: Seq[StreamMessage]): Unit = {
    w.array(ms.length)
    ms.foreach(w.entry)
  }

  /** The entries of claimed PEL ids, whose messages may have been
    * trimmed from the stream — Redis answers nil fields for those (the
    * readOwn tombstone rule). */
  private def claimed(w: RespWriter, log: StreamLog, ids: Seq[String]): Unit = {
    w.array(ids.length)
    ids.foreach(id => log.get(id).fold(w.array(2).bulk(id).array(-1))(w.entry))
  }

  private def dispatch(args: Seq[String], w: RespWriter): Unit = args.head.toUpperCase match {
    case "XADD" =>
      // XADD stream [MAXLEN [~] n] id field value … — both the
      // approximate ('~') and the exact trim forms are legal Redis.
      val stream = args(1)
      val (maxlen, approx, rest) =
        if (args(2).equalsIgnoreCase("MAXLEN")) {
          if (args(3) == "~") (Some(args(4).toInt), true, args.drop(5))
          else (Some(args(3).toInt), false, args.drop(4))
        } else (None, true, args.drop(2))
      require(rest.head == "*", "only auto ids ('*') are supported")
      // Redis rejects XADD with no field-value pairs, and an odd list
      // would otherwise crash the grouped-pairs match below.
      require(rest.tail.nonEmpty && rest.tail.length % 2 == 0,
        "wrong number of arguments for 'xadd' command")
      val fields = rest.tail.grouped(2).map { case Seq(f, v) => f -> v }.toSeq
      // ListMap preserves wire field order (the xadd builder contract)
      val id = logOf(stream).add(
        scala.collection.immutable.ListMap(fields: _*), maxlen, approximate = approx)
      w.bulk(id)

    case "XLEN" => w.int(readable(args(1)).len.toLong)

    case "XRANGE" =>
      // XRANGE key start end [COUNT n] — inclusive id range, '-'/'+'
      // open ends. This is the reference scaler's backlog probe:
      // xrange(min=last_delivered, max=last_generated), scaler.py:56-62.
      require(args.length == 4 ||
        (args.length == 6 && args(4).equalsIgnoreCase("COUNT")),
        "expected XRANGE <key> <start> <end> [COUNT <n>]")
      val count = if (args.length == 6) args(5).toInt else Int.MaxValue
      entries(w, readable(args(1)).range(args(2), args(3), count))

    case "XREADGROUP" =>
      // XREADGROUP GROUP g c [COUNT n] [BLOCK ms] STREAMS s (>|0) —
      // optional clauses are consumed positionally after the fixed
      // GROUP g c prefix (Redis treats those three positions as opaque
      // names: a consumer literally called "count" must not bind the
      // COUNT clause). BLOCK is accepted and ignored: a loopback
      // answers immediately.
      require(args(1).equalsIgnoreCase("GROUP"), "expected GROUP clause")
      val (g, c) = (args(2), args(3))
      var count = Int.MaxValue
      var i = 4
      var done = false
      while (!done && i < args.length) args(i).toUpperCase match {
        // Redis: COUNT 0 disables the limit (t_stream.c checks
        // `count && entries >= count`), it does NOT mean "zero rows" —
        // a consumer configured with COUNT 0 must drain, not spin.
        case "COUNT" =>
          val n = args(i + 1).toInt
          require(n >= 0, "COUNT must be >= 0")
          count = if (n == 0) Int.MaxValue else n
          i += 2
        case "BLOCK" => args(i + 1).toLong; i += 2 // validated, ignored
        case "STREAMS" => done = true
        case other => sys.error(s"syntax error near '$other'")
      }
      require(done && args.length == i + 3, "expected STREAMS <key> <id>")
      val stream = args(i + 1)
      val msgs = args(i + 2) match {
        case ">" => groupOf(stream, g).readNew(c, count)
        case "0" => groupOf(stream, g).readOwn(c, count)
        case other => sys.error(s"unsupported XREADGROUP id: $other")
      }
      if (msgs.isEmpty && args(i + 2) == ">") w.array(-1) // Redis nil on no data
      else entries(w.array(1).array(2).bulk(stream), msgs)

    case "XACK" =>
      arity(args, 4)
      val g = groupOf(args(1), args(2))
      args.drop(3).foreach(StreamId(_)) // like Redis: one bad id acks nothing
      w.int(args.drop(3).map(g.ack).sum.toLong)

    case "XPENDING" =>
      // range form: XPENDING s g min max count [consumer] →
      // [id, consumer, idle, times]. The optional trailing consumer
      // filter is what redis-py's xpending_range(consumername=…) sends
      // — the reference consumer counts its own assigned items with it
      // (`common.py:66-73`, called from `consumer.py:113-119`).
      require(args.length == 6 || args.length == 7,
        "expected XPENDING <key> <group> <min> <max> <count> [consumer]")
      val rows = groupOf(args(1), args(2))
        .pendingRange(args(3), args(4), args(5).toInt, args.lift(6))
      val now = clock.nowMs
      w.array(rows.length)
      rows.foreach(e => w.array(4).bulk(e.msgid).bulk(e.consumer)
        .int(e.timeSinceDelivered(now)).int(e.timesDelivered.toLong))

    case "XCLAIM" =>
      // XCLAIM s g c minIdle id … → full entries of the claimed ids
      arity(args, 6)
      val g = groupOf(args(1), args(2))
      claimed(w, g.log, g.claim(args.drop(5), args(3), args(4).toLong))

    case "XAUTOCLAIM" =>
      // XAUTOCLAIM s g c minIdle start [COUNT n] → [cursor, entries]
      // (6.2 shape; COUNT defaults to 100, as in Redis)
      require(args.length == 6 ||
        (args.length == 8 && args(6).equalsIgnoreCase("COUNT")),
        "expected XAUTOCLAIM <key> <group> <consumer> <min-idle> <start> [COUNT <n>]")
      val g = groupOf(args(1), args(2))
      val (cursor, ids) =
        if (args.length == 6) g.autoClaim(args(3), args(4).toLong, args(5))
        else g.autoClaim(args(3), args(4).toLong, args(5), args(7).toInt)
      claimed(w.array(2).bulk(cursor), g.log, ids)

    case "XGROUP" => args(1).toUpperCase match {
      case "CREATE" =>
        // The library's ConsumerGroup always starts at 0-0 (the
        // reference's own choice, `common.py:28-31`); the '$' form
        // would need a from-now cursor it deliberately lacks.
        require(args(4) == "0-0" || args(4) == "0",
          s"only start id 0-0 is supported (the reference's form), got ${args(4)}")
        ConsumerGroup.create(logOf(args(2)), args(3)); w.simple("OK")
      case "DELCONSUMER" => w.int(groupOf(args(2), args(3)).delConsumer(args(4)).toLong)
      case "DESTROY" =>
        // Redis replies with the number of groups destroyed: 1 or 0.
        w.int(if (consumerGroup(args(2), args(3)).exists(_.destroy())) 1L else 0L)
      case other => sys.error(s"unknown XGROUP subcommand: $other")
    }

    case "XINFO" => args(1).toUpperCase match {
      case "GROUPS" =>
        val gs = existing(args(2)).toVector.flatMap(_.groups)
        w.array(gs.length)
        gs.foreach(g => w.array(8)
          .bulk("name").bulk(g.name)
          .bulk("consumers").int(g.consumers.size.toLong)
          .bulk("pending").int(g.pendingCount.toLong)
          .bulk("last-delivered-id").bulk(g.lastDelivered))
      case "CONSUMERS" =>
        val rows = groupOf(args(2), args(3)).consumerInfo
        w.array(rows.length)
        rows.foreach { case (name, pending, idle) =>
          w.array(6).bulk("name").bulk(name)
            .bulk("pending").int(pending.toLong)
            .bulk("idle").int(idle)
        }
      case "STREAM" =>
        // XINFO STREAM s — flat key/value pair list like Redis. The
        // reference only consumes length + last-generated-id
        // (`scaler.py:47-48`), but the full Redis ≥7 field set rides
        // along (entries-added, max-deleted-entry-id, first-entry,
        // last-entry — entries encoded like XRANGE rows, nil when the
        // stream is empty) so redis-py's dict parse sees the same keys
        // against either server. A missing key answers ERR no such key,
        // as Redis does; every wire scaler creates its stream first
        // (XGROUP CREATE … MKSTREAM), so S1 never sees it.
        val log = existing(args(2)).getOrElse(sys.error("no such key"))
        w.array(14)
          .bulk("length").int(log.len.toLong)
          .bulk("last-generated-id").bulk(log.lastGeneratedId)
          .bulk("max-deleted-entry-id").bulk(log.maxDeletedEntryId)
          .bulk("entries-added").int(log.entriesAdded)
          .bulk("groups").int(log.groups.size.toLong)
          .bulk("first-entry")
        log.firstEntry.fold(w.nil())(w.entry)
        w.bulk("last-entry")
        log.lastEntry.fold(w.nil())(w.entry)
      case other => sys.error(s"unknown XINFO subcommand: $other")
    }

    case "XDEL"  =>
      arity(args, 3)
      w.int(readable(args(1)).delete(args.drop(2): _*).toLong)

    case "XTRIM" =>
      // XTRIM s MAXLEN [~] n — MAXLEN is the only supported strategy;
      // MINID (or anything else) must fail loudly, not silently trim
      // to the wrong semantics.
      require(args(2).equalsIgnoreCase("MAXLEN"),
        s"unsupported trim strategy: ${args(2)} (only MAXLEN)")
      require(args.length == 4 || (args.length == 5 && args(3) == "~"),
        "expected XTRIM <key> MAXLEN [~] <n>")
      w.int(readable(args(1)).trim(args.last.toInt).toLong)

    case other => sys.error(s"unknown command: $other")
  }
}
