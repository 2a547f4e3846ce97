package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.ListMap

/** RESP2 wire codec + Streams command builders — the layer between
  * this library and the wire (the reference speaks TCP via redis-py,
  * `redis_streams/common.py:13-18`; [[RespServer]] is our server half,
  * [[RespClient]] the client half). The codec is transport-agnostic:
  * bytes in, bytes out, so it is fully unit-tested against the public
  * protocol spec's golden byte sequences (redis.io protocol-spec;
  * RESP2, which every server version speaks) and then reused verbatim
  * by the socket loop.
  *
  * Every byte of RESP is read by the one incremental [[RespReader]]
  * below (TCP delivers fragments; it consumes each byte once). Its
  * users add only their own rule: [[RespCommandFramer]] the server's
  * inbound shape check and command cap, [[RespClient]] its reply cap,
  * and [[decode]] a one-reply wrapper over a fresh reader.
  *
  * Every byte of RESP is written by the one [[RespWriter]] below:
  * [[RespLoopback]]'s dispatch writes each reply into it, stream
  * entries straight from the log, and [[encode]], [[encodeStrings]]
  * and [[encodeReply]] are walks over a fresh writer.
  *
  * Commands are RESP arrays of bulk strings; replies are the five
  * RESP2 types. [[StreamCommands]] builds exactly the command set the
  * reference client issues (XADD `producer.py:44-48`, XREADGROUP
  * `consumer.py:146`, XACK `consumer.py:191`, XPENDING range
  * `common.py:66`, XCLAIM `monitor.py:132`, XINFO GROUPS/CONSUMERS
  * `monitor.py:146-149`, XINFO STREAM + XLEN `scaler.py:47-50`,
  * XGROUP CREATE/DELCONSUMER `common.py:28,80`, XDEL
  * `consumer.py:186`), plus XAUTOCLAIM/XTRIM/XGROUP DESTROY for the
  * library's own M6/P3/G4 surface.
  */
object RespCodec {

  /** RESP2 reply ADT. Bulk strings stay bytes (binary-safe — a value
    * may contain \r\n); [[Reply.text]] decodes on demand. */
  sealed trait Reply {
    /** UTF-8 text of a simple or bulk string reply (protocol errors
      * for other types — caller knows the expected shape). */
    def text: String = this match {
      case SimpleReply(s)           => s
      case BulkReply(Some(b))       => new String(b, UTF_8)
      case other                    => sys.error(s"not a string reply: $other")
    }
  }
  final case class SimpleReply(s: String) extends Reply
  final case class ErrorReply(msg: String) extends Reply
  final case class IntReply(v: Long) extends Reply
  /** None = RESP null bulk string (`$-1`). */
  final case class BulkReply(bytes: Option[Array[Byte]]) extends Reply
  /** None = RESP null array (`*-1`). */
  final case class ArrayReply(items: Option[Vector[Reply]]) extends Reply

  /** Encode one command as a RESP array of bulk strings. */
  def encode(args: Seq[Array[Byte]]): Array[Byte] =
    args.foldLeft(new RespWriter().array(args.length))(_.bulk(_)).toByteArray

  def encodeStrings(args: Seq[String]): Array[Byte] = writeCommand(args, new RespWriter).toByteArray

  /** A command as a RESP array of bulk strings, its arguments UTF-8
    * straight into `w`. */
  private[streaming] def writeCommand(args: Seq[String], w: RespWriter): RespWriter =
    args.foldLeft(w.array(args.length))(_.bulk(_))

  /** Encode a reply: the exact inverse of [[decode]] for every VALID
    * reply shape, walked over a fresh [[RespWriter]]. */
  def encodeReply(r: Reply): Array[Byte] = {
    val w = new RespWriter
    def go(x: Reply): Unit = x match {
      case SimpleReply(s)          => w.simple(s)
      case ErrorReply(m)           => w.error(m)
      case IntReply(v)             => w.int(v)
      case BulkReply(None)         => w.nil()
      case BulkReply(Some(b))      => w.bulk(b)
      case ArrayReply(None)        => w.array(-1)
      case ArrayReply(Some(items)) => w.array(items.length); items.foreach(go)
    }
    go(r)
    w.toByteArray
  }

  /** A bulk-string reply from text. */
  def bulk(s: String): Reply = BulkReply(Some(s.getBytes(UTF_8)))

  /** Nesting bound for [[RespReader]]: open arrays sit on a heap stack,
    * and this bounds it — a buffer of repeated `*1\r\n` frames must not
    * grow reader state one level per four bytes. Redis's own protocol
    * nests at most a few levels; 64 is generous for every legal Streams
    * reply. */
  val MaxDepth = 64

  /** One reply starting at `from`: the reply and the index just past
    * it, or None when the buffer does not yet hold a complete reply
    * (read more bytes and retry — the TCP-fragmentation contract).
    * Malformed input throws IllegalArgumentException. A thin wrapper
    * over a fresh [[RespReader]] capped at the bytes on hand, so a
    * length header past the end of `buf` is an incomplete prefix; it
    * reads no byte past the first reply. */
  def decode(buf: Array[Byte], from: Int = 0): Option[(Reply, Int)] = {
    val reader = new RespReader(buf.length - from)
    try Option(reader.next(buf, from, buf.length))
    catch { case e: RuntimeException if e.getMessage == reader.capError => None }
  }

  /** Parse one stream entry `[id, [f1, v1, f2, v2, …]]` into the
    * library's normalized [[StreamMessage]] (the C6 normalization the
    * reference does in `consumer.py:160-176`). The content keeps wire
    * order, as Redis stores XADD fields verbatim. A null field array
    * (trimmed entry in an XCLAIM reply) yields an empty content map. */
  def parseEntry(r: Reply): StreamMessage = r match {
    case ArrayReply(Some(Vector(id, fields))) =>
      val content = fields match {
        case ArrayReply(Some(fv)) =>
          require(fv.length % 2 == 0, "odd field/value list")
          ListMap(fv.grouped(2).map { case Vector(f, v) => f.text -> v.text }.toSeq: _*)
        case ArrayReply(None) => Map.empty[String, String]
        case other            => sys.error(s"bad field list: $other")
      }
      StreamMessage(id.text, content)
    case other => sys.error(s"bad stream entry: $other")
  }

  /** Parse an XREADGROUP / XREAD reply:
    * `[[stream, [entry…]], …]` → per-stream message lists; a null
    * array (no data before block timeout) → empty result. */
  def parseXRead(r: Reply): Seq[(String, Seq[StreamMessage])] = r match {
    case ArrayReply(None) => Seq.empty
    case ArrayReply(Some(streams)) =>
      streams.map {
        case ArrayReply(Some(Vector(name, ArrayReply(Some(entries))))) =>
          name.text -> entries.map(parseEntry)
        case other => sys.error(s"bad XREAD stream block: $other")
      }
    case other => sys.error(s"bad XREAD reply: $other")
  }
}

/** The one incremental RESP2 reader: the server's command framer, the
  * in-process loopback, the client and [[RespCodec.decode]] all parse
  * through it. Every byte is consumed once — header bytes into a line
  * buffer, bulk payloads arraycopy'd into arrays allocated only after
  * the cap check — and open arrays sit on a heap stack bounded by
  * [[RespCodec.MaxDepth]], so a fragment boundary anywhere costs
  * nothing and no input can overflow the call stack. An open array's
  * element storage grows with the elements that arrive, never from the
  * count in its header, so memory follows the bytes received: a short
  * `*<huge>` header allocates nothing.
  *
  * With `commands` set the reader takes only the inbound grammar, an
  * array of bulk strings (Redis answers "Protocol error: expected '$'"
  * to anything else): any other type byte is fatal as it arrives, so
  * a command in flight never holds a nested array or a reply type.
  *
  * [[feed]] returns each top-level value the fragment completes, in
  * order, with the offset just past it, plus an optional FATAL error
  * (unframeable bytes, or the top-level value in flight passing
  * `maxBytes`, headers included). Values completed before the error
  * are still returned; after it the reader stays dead, because an
  * unframed stream cannot resynchronize. */
private[streaming] final class RespReader(maxBytes: Int, commands: Boolean = false) {
  import RespCodec._

  /** The fatal error of a value past the cap. */
  def capError: String = s"frame exceeds $maxBytes bytes"

  private final class Open(val size: Int) {
    var items = new Array[Reply](math.min(size, 16))
    var at = 0
  }
  private val open = new Array[Open](MaxDepth)
  private var depth = 0
  private var mode = 0 // 0 type byte, 1 header line, 2 its LF, 3 line done, 4 payload, 5 CR, 6 LF
  private var kind = 0 // the header's type byte
  private var line = new Array[Byte](32)
  private var lineLen = 0
  private var payload: Array[Byte] = null
  private var payloadAt = 0
  private var inFlight = 0L // bytes of the top-level value so far
  private var fatal: Option[String] = None

  def feed(buf: Array[Byte], off: Int, len: Int): (Seq[(Reply, Int)], Option[String]) = {
    if (fatal.nonEmpty) return (Vector.empty, fatal)
    val done = Vector.newBuilder[(Reply, Int)]
    try {
      var value = next(buf, off, off + len)
      while (value != null) { done += value; value = next(buf, value._2, off + len) }
    } catch { case e: Exception => fatal = Some(String.valueOf(e.getMessage)) }
    (done.result(), fatal)
  }

  /** Reads `buf` from `from` until one top-level value completes — it
    * comes back with the offset just past it — or up to `end` (null).
    * Malformed input throws IllegalArgumentException; a value past the
    * cap throws a RuntimeException carrying [[capError]]. */
  private[streaming] def next(buf: Array[Byte], from: Int, end: Int): (Reply, Int) = {
    var i = from
    var value: Reply = null
    while (i < end && value == null) {
      val start = i
      if (mode == 0) {
        val b = buf(i); i += 1
        require(depth < MaxDepth, s"RESP nesting exceeds $MaxDepth levels")
        val types = if (!commands) "+-:$*" else if (depth == 0) "*" else "$"
        require(types.indexOf(b) >= 0, s"unexpected RESP type byte: ${b.toChar}")
        kind = b; mode = 1
      }
      if (mode == 1) { // the line up to its CR, in one copy per fragment
        val at = i
        while (i < end && buf(i) != '\r' && buf(i) != '\n') i += 1
        if (lineLen + i - at > line.length) line = java.util.Arrays.copyOf(line, 2 * (lineLen + i - at))
        System.arraycopy(buf, at, line, lineLen, i - at)
        lineLen += i - at
        if (i < end) { require(buf(i) == '\r', "bare LF in header"); i += 1; mode = 2 }
      }
      if (mode == 2 && i < end) { require(buf(i) == '\n', "bare CR in header"); i += 1; mode = 3 }
      if (mode == 4) { // payload: one arraycopy per fragment
        val take = math.min(end - i, payload.length - payloadAt)
        System.arraycopy(buf, i, payload, payloadAt, take)
        payloadAt += take; i += take
        if (payloadAt == payload.length) mode = 5
      }
      if (mode == 5 && i < end) { require(buf(i) == '\r', "bulk string not CRLF-terminated"); i += 1; mode = 6 }
      if (mode == 6 && i < end) {
        require(buf(i) == '\n', "bulk string not CRLF-terminated"); i += 1
        value = complete(BulkReply(Some(payload))); payload = null
      }
      inFlight += i - start
      if (mode == 3) value = header()
      if (value != null) inFlight = 0
      else if (inFlight > maxBytes) sys.error(capError)
    }
    if (value == null) null else (value, i)
  }

  /** The value a completed header line makes, handed to [[complete]];
    * a bulk or array header instead opens its payload or its array. */
  private def header(): Reply = {
    mode = 0
    val text = new String(line, 0, lineLen, UTF_8)
    lineLen = 0
    if (kind == '+') return complete(SimpleReply(text))
    if (kind == '-') return complete(ErrorReply(text))
    val n = text.toLong
    if (kind == ':') complete(IntReply(n))
    else if (kind == '$') {
      require(n >= -1, s"malformed bulk length: $n")
      if (n == -1) return complete(BulkReply(None))
      if (n > maxBytes - inFlight) sys.error(capError)
      payload = new Array[Byte](n.toInt); payloadAt = 0
      mode = if (n == 0) 5 else 4
      null
    } else {
      require(n >= -1, s"malformed array length: $n")
      if (n == -1) return complete(ArrayReply(None))
      if (n > (maxBytes - inFlight) / 3) sys.error(capError) // an element takes >= 3 bytes
      if (n == 0) complete(ArrayReply(Some(Vector.empty)))
      else { open(depth) = new Open(n.toInt); depth += 1; null }
    }
  }

  /** Adds a finished value to the innermost open array, closing every
    * array it fills; returns the top-level value it completes, or null. */
  private def complete(r: Reply): Reply = {
    mode = 0
    var v = r
    while (depth > 0) {
      val a = open(depth - 1)
      if (a.at == a.items.length) a.items = java.util.Arrays.copyOf(a.items, math.min(a.size, 2 * a.at))
      a.items(a.at) = v; a.at += 1
      if (a.at < a.size) return null
      depth -= 1; open(depth) = null
      v = ArrayReply(Some(a.items.toVector))
    }
    v
  }
}

/** The one RESP2 writer: commands, replies and stream entries are all
  * written through it, into one growable byte array. A length header
  * is written as ASCII digits, with no `String`; an ASCII string is
  * copied in the pass that checks it, any other is encoded to UTF-8
  * once. Simple and error strings are line-framed by the protocol, so
  * CR and LF in them (reachable through error messages that quote wire
  * input — the classic RESP response-injection vector) become spaces
  * in place; Redis itself forbids newlines in these types. Bulk
  * payloads are never altered.
  *
  * A [[RespServer]] connection keeps one writer: [[writeTo]] hands its
  * bytes to the socket and empties it, dropping a buffer that one large
  * reply grew past [[RespWriter.MaxKept]], so an idle connection never
  * holds a big XRANGE's bytes. */
private[streaming] final class RespWriter {
  import RespWriter._

  private var buf = new Array[Byte](BaseSize)
  private var at = 0

  /** Bytes written so far: a mark [[truncate]] can go back to. */
  def size: Int = at
  private[streaming] def capacity: Int = buf.length

  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, at)

  def truncate(mark: Int): Unit = at = mark

  /** Writes the bytes to `out` and empties the writer. */
  def writeTo(out: java.io.OutputStream): Unit = {
    out.write(buf, 0, at)
    at = 0
    if (buf.length > MaxKept) buf = new Array[Byte](BaseSize)
  }

  def simple(s: String): RespWriter = line('+', s)
  def error(s: String): RespWriter = line('-', s)
  def int(v: Long): RespWriter = header(':', v)
  def nil(): RespWriter = header('$', -1)
  /** An array header of `n` elements; -1 is the null array. */
  def array(n: Int): RespWriter = header('*', n)
  def bulk(b: Array[Byte]): RespWriter = header('$', b.length).raw(b).crlf()

  def bulk(s: String): RespWriter = {
    val mark = at
    if (header('$', s.length).ascii(s)) crlf() else { at = mark; bulk(s.getBytes(UTF_8)) }
  }

  /** One stream entry, `[id, [f1, v1, f2, v2, …]]`, fields in the
    * order the message holds them. */
  def entry(m: StreamMessage): RespWriter = {
    array(2).bulk(m.msgid).array(2 * m.content.size)
    m.content.foreach { case (f, v) => bulk(f).bulk(v) }
    this
  }

  private def line(kind: Char, s: String): RespWriter = {
    val from = at + 1
    if (!put(kind).ascii(s)) raw(s.getBytes(UTF_8))
    // in UTF-8 the bytes CR and LF encode only those two characters
    for (i <- from until at if buf(i) == '\r' || buf(i) == '\n') buf(i) = ' '
    crlf()
  }

  private def header(kind: Char, v: Long): RespWriter = {
    put(kind)
    if (v < 0) put('-')
    digits(if (v < 0) v else -v)
    crlf()
  }

  /** The decimal digits of `-n`, for `n <= 0`: Long.MinValue has no
    * positive. */
  private def digits(n: Long): Unit = {
    if (n <= -10) digits(n / 10)
    put(('0' - n % 10).toChar)
  }

  /** Writes `s` one byte per char if it is all ASCII, and says whether
    * it was; a string that is not leaves the writer as it was. */
  private def ascii(s: String): Boolean = {
    room(s.length)
    var i = 0
    while (i < s.length && s.charAt(i) < 0x80) { buf(at + i) = s.charAt(i).toByte; i += 1 }
    if (i == s.length) at += i
    i == s.length
  }

  private def raw(b: Array[Byte]): RespWriter = {
    room(b.length)
    System.arraycopy(b, 0, buf, at, b.length)
    at += b.length
    this
  }

  private def crlf(): RespWriter = put('\r').put('\n')

  private def put(c: Char): RespWriter = {
    room(1)
    buf(at) = c.toByte
    at += 1
    this
  }

  private def room(n: Int): Unit = if (n > buf.length - at)
    buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, at + n))
}

private[streaming] object RespWriter {
  /** A fresh writer's buffer: a small command or reply fits in it. */
  val BaseSize = 512
  /** The largest buffer [[RespWriter.writeTo]] keeps for the next
    * bytes, and the most a connection holds before it writes out. */
  val MaxKept: Int = 64 * 1024
}

/** Builders for the Streams command set the reference issues — each
  * returns the argument vector [[RespCodec.encodeStrings]] puts on the
  * wire. Kept as data (not sockets) so they are testable here and
  * transport-wirable in production. */
object StreamCommands {

  /** XADD with the reference's optional approximate MAXLEN trim
    * (`producer.py:44-48`: `maxlen=…, approximate=True`). Fields are
    * a Seq, not a Map: Redis stores XADD field order verbatim in the
    * entry, and the reference producer writes insertion-ordered dict
    * fields — a hash-ordered Map would reorder 5+ fields on the wire. */
  def xadd(stream: String, fields: Seq[(String, String)],
      maxlen: Option[Long] = None, id: String = "*"): Seq[String] = {
    val trim = maxlen.toSeq.flatMap(m => Seq("MAXLEN", "~", m.toString))
    Seq("XADD", stream) ++ trim ++ Seq(id) ++ fields.flatMap(kv => Seq(kv._1, kv._2))
  }

  /** XREADGROUP (`consumer.py:146-151`: COUNT + BLOCK + `>` or `0`). */
  def xreadgroup(group: String, consumer: String, stream: String,
      count: Int, blockMs: Long, newOnly: Boolean = true): Seq[String] =
    Seq("XREADGROUP", "GROUP", group, consumer,
      "COUNT", count.toString, "BLOCK", blockMs.toString,
      "STREAMS", stream, if (newOnly) ">" else "0")

  def xack(stream: String, group: String, ids: Seq[String]): Seq[String] =
    Seq("XACK", stream, group) ++ ids

  /** XPENDING range form, optionally filtered to one consumer — the
    * trailing consumername redis-py appends (`common.py:66-73`). */
  def xpendingRange(stream: String, group: String,
      min: String = "-", max: String = "+", count: Int = 100,
      consumer: Option[String] = None): Seq[String] =
    Seq("XPENDING", stream, group, min, max, count.toString) ++ consumer

  /** XRANGE — the scaler's backlog probe (`scaler.py:56-62`). */
  def xrange(stream: String, min: String = "-", max: String = "+",
      count: Option[Int] = None): Seq[String] =
    Seq("XRANGE", stream, min, max) ++ count.toSeq.flatMap(n => Seq("COUNT", n.toString))

  /** XCLAIM (`monitor.py:132-137`: min-idle-time + ids). */
  def xclaim(stream: String, group: String, consumer: String,
      minIdleMs: Long, ids: Seq[String]): Seq[String] =
    Seq("XCLAIM", stream, group, consumer, minIdleMs.toString) ++ ids

  /** XAUTOCLAIM (the reference's named future work; M6). */
  def xautoclaim(stream: String, group: String, consumer: String,
      minIdleMs: Long, start: String, count: Int): Seq[String] =
    Seq("XAUTOCLAIM", stream, group, consumer, minIdleMs.toString,
      start, "COUNT", count.toString)

  /** XGROUP CREATE with MKSTREAM. The default start id is `0-0` —
    * deliver from the beginning — because that is what the reference
    * client sends (`common.py:28-31`: `id="0-0", mkstream=True`; its
    * own docstring quotes the `$` form and then deliberately uses
    * `0-0`). */
  def xgroupCreate(stream: String, group: String, startId: String = "0-0"): Seq[String] =
    Seq("XGROUP", "CREATE", stream, group, startId, "MKSTREAM")

  def xgroupDelConsumer(stream: String, group: String, consumer: String): Seq[String] =
    Seq("XGROUP", "DELCONSUMER", stream, group, consumer)

  def xgroupDestroy(stream: String, group: String): Seq[String] =
    Seq("XGROUP", "DESTROY", stream, group)

  def xinfoGroups(stream: String): Seq[String] = Seq("XINFO", "GROUPS", stream)
  def xinfoConsumers(stream: String, group: String): Seq[String] =
    Seq("XINFO", "CONSUMERS", stream, group)
  def xinfoStream(stream: String): Seq[String] = Seq("XINFO", "STREAM", stream)
  def xlen(stream: String): Seq[String] = Seq("XLEN", stream)
  def xdel(stream: String, ids: Seq[String]): Seq[String] = Seq("XDEL", stream) ++ ids
  def xtrimMaxlen(stream: String, maxlen: Long, approximate: Boolean): Seq[String] =
    Seq("XTRIM", stream, "MAXLEN") ++ (if (approximate) Seq("~") else Nil) :+ maxlen.toString
}
