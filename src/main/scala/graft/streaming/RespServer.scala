package graft.streaming

import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import RespCodec._

/** A real localhost TCP endpoint around [[RespLoopback]] — the last
  * piece of the reference's defining trait: a client speaking the wire
  * protocol to a server over a socket (`redis_streams/common.py:13-18`
  * constructs exactly such a connection).
  *
  * One RESP reader and one RESP writer (both in RespCodec.scala) serve
  * both directions. [[RespReader]] consumes each byte once, whatever
  * the fragmentation, and each user adds only its own rule —
  * [[RespCommandFramer]] the inbound shape check (an array of bulk
  * strings) and the server's 8 MiB command cap, [[RespClient]] a reply
  * queue and its 512 MiB reply cap. [[RespWriter]] writes each reply
  * once: a connection keeps one writer, the dispatch writes into it,
  * and its bytes go to the socket in one write per fragment, or as
  * soon as they pass 64 KiB. The frame → execute → write step is
  * [[RespLoopback.serve]], shared with the in-process
  * [[RespLoopback.call]], so a socket and an in-process call read
  * commands by one grammar, and pipelining (several commands in one
  * segment) and fragmentation (one command across many segments) fall
  * out of the same loop with no extra code.
  *
  * Concurrency: one daemon acceptor thread, one daemon handler thread
  * per connection. All command execution funnels into
  * [[RespLoopback.respond]], whose engine objects ([[StreamLog]],
  * [[ConsumerGroup]]) are internally synchronized — concurrent clients
  * interleave at command granularity exactly like Redis's own
  * single-threaded command loop.
  *
  * Error surface: malformed-but-framed commands answer `-ERR …` and
  * the connection lives on; an unframeable byte stream (unknown type
  * byte, bad length) answers one `-ERR protocol error` and closes the
  * connection, because resynchronizing an unframed stream is
  * impossible — Redis does the same.
  */
final class RespServer(
    val loopback: RespLoopback = new RespLoopback(),
    maxClients: Int = RespServer.DefaultMaxClients)
    extends AutoCloseable {

  // port 0 = ephemeral: the OS picks a free port, tests never collide
  private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
  private val running = new AtomicBoolean(true)
  private val connections = mutable.Set.empty[Socket]

  def port: Int = server.getLocalPort
  def host: String = server.getInetAddress.getHostAddress

  private val acceptor = new Thread(() => {
    while (running.get) {
      try {
        val sock = server.accept()
        // Registration re-checks `running` INSIDE the lock close() also
        // takes: a connection accepted in the accept()/close() window
        // would otherwise register after close() cleared the set and
        // keep its handler thread serving a shut-down engine. The same
        // locked check bounds the accept surface: thread-per-connection
        // with no cap would let a malicious client mint one thread per
        // connect — past maxClients the client is refused with Redis's
        // own maxclients error and closed, no handler thread spent.
        val admitted = connections.synchronized {
          if (running.get && connections.size < maxClients) {
            connections += sock; true
          } else false
        }
        if (admitted) {
          val t = new Thread(() => handle(sock), s"resp-conn-${sock.getPort}")
          t.setDaemon(true)
          t.start()
        } else {
          try {
            if (running.get) { // over capacity (vs shutting down): say why
              val os = sock.getOutputStream
              os.write(encodeReply(ErrorReply("ERR max number of clients reached")))
              os.flush()
            }
          } catch { case _: Exception => () }
          try sock.close() catch { case _: Exception => () }
        }
      } catch {
        case _: SocketException => () // server closed — loop exits via flag
        case _: Exception       => ()
      }
    }
  }, "resp-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** One connection's lifetime: each TCP fragment goes to the
    * connection's [[RespCommandFramer]] through [[RespLoopback.serve]],
    * which writes the reply of every command it completes, in order,
    * into the connection's [[RespWriter]] (pipelining falls out of the
    * loop for free); the writer's bytes go to the socket in one write
    * per fragment, or sooner once they pass [[RespWriter.MaxKept]], so a
    * client that pipelines large reads and does not read the replies is
    * held back by TCP, not by the server's heap.
    * The framer reads each byte once, so a 1 MiB command trickled one
    * byte per segment costs O(n), and caps the in-flight command at
    * [[RespServer.MaxFrameBytes]] (Redis's proto-max-bulk-len analog):
    * a client streaming a huge length header answers one ERR and loses
    * the connection — it never grows the heap until OOM. */
  private def handle(sock: Socket): Unit = {
    val in = sock.getInputStream
    val out = sock.getOutputStream
    val framer = new RespCommandFramer(RespServer.MaxFrameBytes)
    val writer = new RespWriter
    val chunk = new Array[Byte](8192)
    try {
      var open = true
      while (open) {
        val n = in.read(chunk)
        // false after a fatal reply: an unframed stream cannot resync
        open = n >= 0 && loopback.serve(framer, chunk, 0, n, writer, _.writeTo(out))
        writer.writeTo(out)
      }
    } catch { case _: Exception => () } // peer reset — just clean up
    finally {
      try sock.close() catch { case _: Exception => () }
      connections.synchronized(connections -= sock)
    }
  }

  override def close(): Unit = if (running.compareAndSet(true, false)) {
    try server.close() catch { case _: Exception => () }
    // `running` is already false, so the acceptor's locked admission
    // check (above) refuses any connection racing this cleanup.
    connections.synchronized {
      connections.foreach(s => try s.close() catch { case _: Exception => () })
      connections.clear()
    }
  }
}

object RespServer {
  /** Hard cap on one in-flight command's bytes — Redis's
    * proto-max-bulk-len analog (512 MiB there; 8 MiB here, generous
    * for stream commands whose values are message fields). */
  val MaxFrameBytes: Int = 8 * 1024 * 1024

  /** Default accept-surface bound — Redis's maxclients analog (10000
    * there; 64 here, generous for an embedded test/ops endpoint whose
    * handler model is thread-per-connection). */
  val DefaultMaxClients: Int = 64
}

/** The inbound shape check over [[RespReader]]: a command is an array
  * of bulk strings (the multibulk grammar; Redis itself answers
  * "Protocol error: expected '$'" to anything else). The reader runs
  * in its `commands` grammar, so a non-array command or a non-bulk
  * element is fatal at its first byte and never collected.
  *
  * [[feed]] returns the commands completed by the fragment, each
  * `Right(args)` (well-framed) or `Left(reason)` (framed but
  * semantically malformed — null/empty array, null bulk element: the
  * caller answers ERR and keeps the connection), plus an optional
  * FATAL error: `ERR protocol error` for an unframeable stream, and
  * `ERR frame exceeds N bytes` for a command past the cap. The caller
  * answers it once and closes; after a fatal the framer stays dead by
  * design.
  */
private[streaming] final class RespCommandFramer(maxFrameBytes: Int) {
  private val reader = new RespReader(maxFrameBytes, commands = true)

  def feed(chunk: Array[Byte], off: Int, len: Int): (Seq[Either[String, Seq[String]]], Option[String]) = {
    val (values, fatal) = reader.feed(chunk, off, len)
    val commands = values.map(_._1 match {
      case ArrayReply(Some(args)) if args.isEmpty => Left("empty command array")
      case ArrayReply(Some(args)) if args.contains(BulkReply(None)) => Left("null bulk in command")
      case ArrayReply(Some(args)) => Right(args.map(_.text))
      case _ => Left("null command array")
    })
    (commands, fatal.map(m => if (m == reader.capError) s"ERR $m" else "ERR protocol error"))
  }
}

/** Minimal blocking RESP client — the role redis-py plays for the
  * reference (`common.py:13-18`): write a command array into its one
  * [[RespWriter]] and that to the socket, read replies through one
  * [[RespReader]] that consumes each byte once, so a reply of n bytes
  * costs O(n) however the socket fragments it. The reply in flight is
  * capped at [[RespClient.MaxReplyBytes]], and the reader allocates for
  * bytes received, never for a length header alone, so a hostile server
  * cannot make the client allocate more than it sends. Test-path
  * simplicity over pooling — one socket, one in-flight command. */
final class RespClient(host: String, port: Int) extends AutoCloseable {
  private val sock = new Socket(host, port)
  private val in = sock.getInputStream
  private val out = sock.getOutputStream
  private val reader = new RespReader(RespClient.MaxReplyBytes)
  private val writer = new RespWriter
  private val chunk = new Array[Byte](65536)
  private val replies = mutable.Queue.empty[Reply]
  private var fatal: Option[String] = None

  private def take(bytes: Array[Byte], n: Int): Unit = {
    val (values, f) = reader.feed(bytes, 0, n)
    values.foreach(v => replies += v._1)
    fatal = f
  }

  /** Raw bytes out — lets tests exercise deliberate fragmentation and
    * pipelining below the command abstraction. */
  def send(bytes: Array[Byte]): Unit = { out.write(bytes); out.flush() }

  /** The next reply: a queued one, else read until one completes. */
  def readReply(): Reply = {
    while (replies.isEmpty) {
      fatal.foreach(m => throw new IllegalArgumentException(s"bad reply: $m"))
      val n = in.read(chunk)
      require(n >= 0, "connection closed mid-reply")
      take(chunk, n)
    }
    replies.dequeue()
  }

  /** One request→reply exchange. */
  def call(args: Seq[String]): Reply = {
    writeCommand(args, writer).writeTo(out)
    readReply()
  }

  /** Whether the peer has closed: probes with one read. A byte that
    * arrives instead of EOF (an unread pipelined reply's first byte)
    * is fed to the reader, not swallowed — the next readReply stays
    * frame-aligned — and the probe timeout is restored afterwards so a
    * later blocking readReply doesn't inherit a 2 s
    * SocketTimeoutException. Only a probe TIMEOUT means "still open";
    * any other I/O failure (connection reset surfaces as a
    * SocketException, not a -1 read) is a dead connection. */
  def isClosedByServer: Boolean = {
    val prev = try sock.getSoTimeout catch { case _: Exception => 0 }
    try {
      sock.setSoTimeout(2000)
      val b = in.read()
      if (b >= 0) { take(Array(b.toByte), 1); false } else true
    }
    catch {
      case _: java.net.SocketTimeoutException => false
      case _: Exception                       => true
    }
    finally { try sock.setSoTimeout(prev) catch { case _: Exception => () } }
  }

  override def close(): Unit = try sock.close() catch { case _: Exception => () }
}

object RespClient {
  /** Hard cap on one in-flight reply's bytes: Redis's own
    * proto-max-bulk-len, 512 MiB. The server's 8 MiB command cap cannot
    * serve here — a 100k-entry XRANGE reply is 10-20 MB. */
  val MaxReplyBytes: Int = 512 * 1024 * 1024
}
