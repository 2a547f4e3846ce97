package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import RespCodec._

/** The reference's defining trait — a client talking the wire protocol
  * to a server over a REAL TCP socket (`common.py:13-18`) — exercised
  * end to end: [[RespClient]] connects to a live [[RespServer]] on
  * 127.0.0.1 and runs the `test_producer.py:31-48` produce→consume
  * flow, then failure claim, fragmentation, pipelining and
  * protocol-garbage handling, all over actual sockets. */
class RespServerSpec extends AnyFunSuite {

  private def withServer(f: (RespServer, RespClient) => Unit): Unit = {
    val server = new RespServer()
    try {
      val client = new RespClient(server.host, server.port)
      try f(server, client) finally client.close()
    } finally server.close()
  }

  private def ok(r: Reply): Reply = r match {
    case e: ErrorReply => fail(s"wire error: $e")
    case other         => other
  }

  /** Bytes the calling thread allocates while running `f`. */
  private def allocatedBy(f: => Unit): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread.getId
    val before = mx.getThreadAllocatedBytes(id)
    f
    mx.getThreadAllocatedBytes(id) - before
  }

  /** A hostile server: answers one connection with `bytes`, hangs up. */
  private def withHostile(bytes: String)(f: RespClient => Unit): Unit = {
    val hostile = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val peer = new Thread(() => {
      val s = hostile.accept()
      try { s.getOutputStream.write(bytes.getBytes("UTF-8")); s.getOutputStream.flush() }
      finally s.close()
    })
    peer.start()
    val client = new RespClient(hostile.getInetAddress.getHostAddress, hostile.getLocalPort)
    try f(client) finally { client.close(); peer.join(5000); hostile.close() }
  }

  test("produce -> consume -> ack over a real TCP socket (test_producer.py:31-48 flow)") {
    withServer { (_, client) =>
      // producer.add({"source": ..., "value": "42"}) → id with '-'
      val id = ok(client.call(StreamCommands.xadd("stream",
        Seq("source" -> "producer_test", "value" -> "42")))).text
      assert(id.contains("-"))
      assert(ok(client.call(StreamCommands.xlen("stream"))) == IntReply(1))

      // consumer.get_items(): group-create + XREADGROUP '>'
      ok(client.call(StreamCommands.xgroupCreate("stream", "g")))
      val read = parseXRead(ok(client.call(
        StreamCommands.xreadgroup("g", "c1", "stream", count = 10, blockMs = 500))))
      assert(read == Seq("stream" -> Seq(
        StreamMessage(id, Map("source" -> "producer_test", "value" -> "42")))))

      // remove_item_from_stream: XACK (the v0.3.0 semantics — PEL only)
      assert(ok(client.call(StreamCommands.xack("stream", "g", Seq(id)))) == IntReply(1))
      assert(ok(client.call(StreamCommands.xlen("stream"))) == IntReply(1))
    }
  }

  test("two clients, one group: claim flows between real sockets") {
    val clock = new ManualClock(1000)
    val server = new RespServer(new RespLoopback(clock))
    try {
      val dead = new RespClient(server.host, server.port)
      val live = new RespClient(server.host, server.port)
      try {
        val ids = (1 to 3).map { i =>
          clock.advance(1)
          ok(dead.call(StreamCommands.xadd("s", Seq("i" -> i.toString)))).text
        }
        ok(dead.call(StreamCommands.xgroupCreate("s", "g")))
        ok(dead.call(StreamCommands.xreadgroup("g", "dead", "s", 10, 0)))
        clock.advance(60001)

        // the live client (separate socket) claims the dead one's PEL
        val claimed = ok(live.call(
          StreamCommands.xclaim("s", "g", "live", 60000, ids))) match {
          case ArrayReply(Some(entries)) => entries.map(parseEntry)
          case other                     => fail(s"bad XCLAIM reply: $other")
        }
        assert(claimed.map(_.msgid) == ids)

        // and acks them; the dead consumer's PEL view is now empty
        assert(ok(live.call(StreamCommands.xack("s", "g", ids))) == IntReply(3))
        val pending = ok(dead.call(StreamCommands.xpendingRange("s", "g")))
        assert(pending == ArrayReply(Some(Vector())))
      } finally { dead.close(); live.close() }
    } finally server.close()
  }

  test("fragmentation: a command delivered one byte at a time still executes") {
    withServer { (_, client) =>
      val bytes = encodeStrings(StreamCommands.xadd("frag", Seq("k" -> "v")))
      bytes.foreach(b => client.send(Array(b))) // worst-case TCP fragmentation
      assert(ok(client.readReply()).text.contains("-"))
      assert(ok(client.call(StreamCommands.xlen("frag"))) == IntReply(1))
    }
  }

  test("pipelining: three commands in one write get three replies in order") {
    withServer { (_, client) =>
      client.send(
        encodeStrings(StreamCommands.xadd("p", Seq("a" -> "1"))) ++
        encodeStrings(StreamCommands.xadd("p", Seq("b" -> "2"))) ++
        encodeStrings(StreamCommands.xlen("p")))
      val id1 = ok(client.readReply()).text
      val id2 = ok(client.readReply()).text
      assert(StreamId(id1) < StreamId(id2))
      assert(ok(client.readReply()) == IntReply(2))
    }
  }

  test("framed-but-bad command answers ERR and the connection survives") {
    withServer { (_, client) =>
      client.call(Seq("NOSUCHCMD", "x")) match {
        case ErrorReply(m) => assert(m.startsWith("ERR"))
        case other         => fail(s"expected ERR, got $other")
      }
      // same socket still works
      assert(ok(client.call(StreamCommands.xlen("p"))) == IntReply(0))
    }
  }

  test("unframeable garbage answers one ERR and the server drops the connection") {
    withServer { (server, client) =>
      client.send("!!!garbage\r\n".getBytes("UTF-8"))
      client.readReply() match {
        case ErrorReply(m) => assert(m.contains("protocol error"))
        case other         => fail(s"expected protocol error, got $other")
      }
      assert(client.isClosedByServer)
      // the server itself is fine: a fresh connection works
      val again = new RespClient(server.host, server.port)
      try assert(ok(again.call(StreamCommands.xlen("s"))) == IntReply(0))
      finally again.close()
    }
  }

  test("deep array nesting answers ERR instead of overflowing the stack") {
    withServer { (_, client) =>
      client.send(Array.fill(RespCodec.MaxDepth + 8)("*1\r\n".getBytes("UTF-8")).flatten)
      client.readReply() match {
        case ErrorReply(_) => ()
        case other         => fail(s"expected ERR, got $other")
      }
    }
  }

  test("XREADGROUP treats 'count' as an opaque consumer name; COUNT caps PEL re-reads") {
    withServer { (_, client) =>
      (1 to 5).foreach(i => ok(client.call(StreamCommands.xadd("s", Seq("i" -> i.toString)))))
      ok(client.call(StreamCommands.xgroupCreate("s", "g")))
      // a consumer literally named "count" must not bind the COUNT clause
      val read = parseXRead(ok(client.call(
        Seq("XREADGROUP", "GROUP", "g", "count", "STREAMS", "s", ">"))))
      assert(read.head._2.length == 5)
      // COUNT applies to the '0' PEL re-read too (r9 ADVICE)
      val own = parseXRead(ok(client.call(
        Seq("XREADGROUP", "GROUP", "g", "count", "COUNT", "2", "STREAMS", "s", "0"))))
      assert(own.head._2.length == 2)
      // COUNT 0 = no limit (Redis checks `count && entries >= count`),
      // never an empty read — a consumer configured with 0 must drain
      val all = parseXRead(ok(client.call(
        Seq("XREADGROUP", "GROUP", "g", "count", "COUNT", "0", "STREAMS", "s", "0"))))
      assert(all.head._2.length == 5)
      client.call(Seq("XREADGROUP", "GROUP", "g", "count", "COUNT", "-1",
        "STREAMS", "s", "0")) match {
        case _: ErrorReply => ()
        case other         => fail(s"negative COUNT must error, got $other")
      }
    }
  }

  test("maxClients: connection max+1 is refused with Redis's maxclients error; a freed slot readmits") {
    val server = new RespServer(new RespLoopback(), maxClients = 2)
    try {
      val c1 = new RespClient(server.host, server.port)
      val c2 = new RespClient(server.host, server.port)
      try {
        // both admitted connections actually serve
        assert(ok(c1.call(StreamCommands.xlen("s"))) == IntReply(0))
        assert(ok(c2.call(StreamCommands.xlen("s"))) == IntReply(0))
        val c3 = new RespClient(server.host, server.port)
        try {
          c3.readReply() match {
            case ErrorReply(m) => assert(m.contains("max number of clients"))
            case other         => fail(s"expected maxclients refusal, got $other")
          }
          assert(c3.isClosedByServer)
        } finally c3.close()
        // closing an admitted client frees its slot (the handler's
        // finally deregisters); a fresh connection is eventually served
        c2.close()
        val deadline = System.currentTimeMillis() + 5000
        var served = false
        while (!served && System.currentTimeMillis() < deadline) {
          val c4 = new RespClient(server.host, server.port)
          try {
            c4.call(StreamCommands.xlen("s")) match {
              case IntReply(0) => served = true
              case _           => Thread.sleep(20)
            }
          } catch { case _: Exception => Thread.sleep(20) }
          finally c4.close()
        }
        assert(served, "freed slot was never reused within 5s")
      } finally c1.close()
    } finally server.close()
  }

  test("a 1 MiB frame fed one byte at a time decodes in linear time (framer, r10 ask #5)") {
    val big = "x" * (1024 * 1024)
    val bytes = encodeStrings(StreamCommands.xadd("big", Seq("payload" -> big)))
    val framer = new RespCommandFramer(RespServer.MaxFrameBytes)
    val t0 = System.nanoTime()
    var commands = Vector.empty[Either[String, Seq[String]]]
    var i = 0
    while (i < bytes.length) { // worst-case fragmentation: 1 byte per feed
      val (done, fatal) = framer.feed(bytes, i, 1)
      assert(fatal.isEmpty, s"unexpected fatal: $fatal")
      commands ++= done
      i += 1
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(commands == Vector(Right(StreamCommands.xadd("big", Seq("payload" -> big)))))
    // the old re-append/re-decode path is O(n^2): ~10^12 byte ops here,
    // minutes. Linear framing does ~2 MiB of work; even a cold JIT and
    // a loaded CI box stay orders of magnitude under this bound.
    assert(elapsedMs < 10000, f"1 MiB one-byte-at-a-time took $elapsedMs%.0f ms - not linear")
  }

  test("1 MiB binary-safe value round-trips over the socket in odd-sized fragments") {
    withServer { (_, client) =>
      // CR/LF-riddled payload: framing must come from lengths, not scanning
      val big = Array.tabulate(1024 * 1024)(i => (i % 256).toByte)
      val bigStr = new String(big.map(b => (('a' + (b & 15)).toChar)))
      val bytes = encodeStrings(StreamCommands.xadd("big", Seq("v" -> ("\r\n" + bigStr))))
      var at = 0
      var step = 1
      while (at < bytes.length) { // 1,2,3,... byte fragments across the frame
        val n = math.min(step, bytes.length - at)
        client.send(java.util.Arrays.copyOfRange(bytes, at, at + n))
        at += n
        step = if (step >= 4096) 1 else step * 3
      }
      val id = ok(client.readReply()).text
      assert(id.contains("-"))
      val got = ok(client.call(StreamCommands.xrange("big"))) match {
        case ArrayReply(Some(entries)) => entries.map(parseEntry)
        case other                     => fail(s"bad XRANGE reply: $other")
      }
      assert(got == Seq(StreamMessage(id, Map("v" -> ("\r\n" + bigStr)))))
    }
  }

  test("a command past MaxFrameBytes answers the cap error and loses the connection") {
    withServer { (server, client) =>
      // honest header, oversized payload: the framer's cap pre-check
      // fires on the bulk length BEFORE any allocation
      val n = RespServer.MaxFrameBytes + 1
      client.send(s"*3\r\n$$4\r\nXADD\r\n$$1\r\ns\r\n$$$n\r\n".getBytes("UTF-8"))
      client.readReply() match {
        case ErrorReply(m) => assert(m.contains("exceeds"))
        case other         => fail(s"expected cap error, got $other")
      }
      assert(client.isClosedByServer)
      // server unaffected
      val again = new RespClient(server.host, server.port)
      try assert(ok(again.call(StreamCommands.xlen("s"))) == IntReply(0))
      finally again.close()
    }
  }

  test("null array, empty array and null bulk are framed-but-malformed: ERR, connection lives") {
    withServer { (_, client) =>
      client.send("*-1\r\n*0\r\n*2\r\n$4\r\nXLEN\r\n$-1\r\n".getBytes("UTF-8"))
      (1 to 3).foreach { _ =>
        client.readReply() match {
          case ErrorReply(m) => assert(m.contains("malformed"))
          case other         => fail(s"expected ERR, got $other")
        }
      }
      assert(ok(client.call(StreamCommands.xlen("s"))) == IntReply(0)) // still serving
    }
  }

  test("XTRIM rejects MINID; XADD rejects zero field-value pairs (r9 ADVICE)") {
    withServer { (_, client) =>
      (1 to 4).foreach(i => ok(client.call(StreamCommands.xadd("s", Seq("i" -> i.toString)))))
      client.call(Seq("XTRIM", "s", "MINID", "5")) match {
        case ErrorReply(m) => assert(m.contains("MAXLEN"))
        case other         => fail(s"expected ERR, got $other")
      }
      assert(ok(client.call(StreamCommands.xlen("s"))) == IntReply(4)) // nothing trimmed
      client.call(Seq("XADD", "s", "*")) match {
        case ErrorReply(m) => assert(m.contains("wrong number of arguments"))
        case other         => fail(s"expected ERR, got $other")
      }
    }
  }

  test("a reply past MaxReplyBytes fails readReply with the cap error, its payload never allocated") {
    // a hostile server: one 2 GiB bulk header, then it hangs up
    withHostile("$2147483647\r\n") { client =>
      val e = intercept[IllegalArgumentException](client.readReply())
      assert(e.getMessage.contains(s"frame exceeds ${RespClient.MaxReplyBytes} bytes"), e.getMessage)
    }
  }

  test("a client XRANGE of 100k entries costs at most 2x the server's execute + encode") {
    withServer { (server, client) =>
      // events-shaped entries (FIXTURES.md), as the backlog probe pulls them
      val log = server.loopback.streamLog("big")
      val types = Seq("view", "click", "purchase", "share")
      (0 until 100000).foreach { i =>
        log.add(scala.collection.immutable.ListMap("event_id" -> i.toString,
          "ts" -> (1700000000000L + i * 37L).toString, "user_id" -> (i * 7919 % 5000).toString,
          "event_type" -> types(i % 4), "value" -> f"${i % 997 * 0.37}%.2f",
          "props" -> s"""{"k": ${i % 10}}"""))
      }
      val cmd = StreamCommands.xrange("big")
      def ms(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
      def serverRun(): Double = ms(encodeReply(server.loopback.execute(cmd)))
      def clientRun(): Double = ms(client.call(cmd) match {
        case ArrayReply(Some(entries)) => assert(entries.length == 100000)
        case other                     => fail(s"bad XRANGE reply: ${other.getClass}")
      })
      // both sides in each round, first one then the other, so a busy
      // stretch of a shared box lands on both; min of 5 after 3 warm-ups.
      // A 4-core box measured the client at 1.3-1.7x the server.
      val rounds = (1 to 8).map { k =>
        if (k % 2 == 0) { val s = serverRun(); (s, clientRun()) }
        else { val c = clientRun(); (serverRun(), c) }
      }.drop(3)
      val serverMs = rounds.map(_._1).min
      val clientMs = rounds.map(_._2).min
      assert(clientMs <= 2 * serverMs,
        f"client XRANGE $clientMs%.0f ms vs server execute + encode $serverMs%.0f ms")
    }
  }

  test("pipelined large XRANGEs are written out as they go: a client that does not read holds the server back") {
    withServer { (server, _) =>
      // 512 entries of a 1000-byte value: each reply is about 520 KB
      val log = server.loopback.streamLog("big")
      (0 until 512).foreach(i => log.add(Map("i" -> i.toString, "v" -> "x" * 1000)))
      val commands = 64
      val request = Array.fill(commands)(encodeStrings(StreamCommands.xrange("big"))).flatten
      val sock = new java.net.Socket()
      try {
        sock.setReceiveBufferSize(64 << 10) // no receive-side autotuning
        sock.connect(new java.net.InetSocketAddress(server.host, server.port))
        sock.getOutputStream.write(request) // about 2.6 KB: one read on the server
        sock.getOutputStream.flush()
        val mx = java.lang.management.ManagementFactory.getThreadMXBean
          .asInstanceOf[com.sun.management.ThreadMXBean]
        val name = s"resp-conn-${sock.getLocalPort}"
        def handler = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).find(_.getName == name)
        val deadline = System.nanoTime() + 5000000000L
        while (handler.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
        val id = handler.getOrElse(fail(s"no thread $name")).getId
        // the handler works until the socket buffers are full, then blocks
        var last = -1L
        var now = mx.getThreadAllocatedBytes(id)
        while (now != last) { last = now; Thread.sleep(300); now = mx.getThreadAllocatedBytes(id) }
        // 64 replies held at once are about 33 MB in the writer, and the
        // handler allocated 74 MB while it doubled; written out as they
        // go, the kernel's buffers (a few MB) hold back the rest, and the
        // handler allocated 10.5 MB (4-core box, 4 MB send buffer cap)
        assert(now < (32 << 20), s"the handler allocated $now bytes while the client read nothing")
        // every reply still arrives, whole and in order
        val reader = new RespReader(RespClient.MaxReplyBytes)
        val chunk = new Array[Byte](65536)
        var got = 0
        while (got < commands) {
          val n = sock.getInputStream.read(chunk)
          assert(n > 0, s"connection closed after $got replies")
          val (values, fatal) = reader.feed(chunk, 0, n)
          assert(fatal.isEmpty, fatal)
          values.foreach {
            case (ArrayReply(Some(entries)), _) =>
              assert(entries.length == 512 && parseEntry(entries.last).content("v").length == 1000)
              got += 1
            case (other, _) => fail(s"bad XRANGE reply: ${other.getClass}")
          }
        }
      } finally sock.close()
    }
  }

  test("nested huge array headers allocate nothing: the server answers a protocol error") {
    // 64 array headers of 2.8M elements each, 640 bytes in all: sizing
    // element storage from the header would take ~1 GB on the server
    val nested = "*2796000\r\n" * 64
    withServer { (_, client) =>
      client.send(nested.getBytes("UTF-8"))
      assert(client.readReply() == ErrorReply("ERR protocol error"))
      assert(client.isClosedByServer)
    }
    // the same bytes through the server's framer, in this thread (after
    // one warm-up, so class loading is not counted): the second '*' is
    // not a bulk element, fatal as it arrives
    val wire = nested.getBytes("UTF-8")
    new RespCommandFramer(RespServer.MaxFrameBytes).feed(wire, 0, wire.length)
    val framer = new RespCommandFramer(RespServer.MaxFrameBytes)
    val framerBytes = allocatedBy {
      assert(framer.feed(wire, 0, wire.length) == ((Vector.empty, Some("ERR protocol error"))))
    }
    // the reply grammar nests them to MaxDepth, each open array empty
    val deep = ("*178000000\r\n" * MaxDepth).getBytes("UTF-8")
    val reader = new RespReader(RespClient.MaxReplyBytes)
    val readerBytes = allocatedBy(assert(reader.feed(deep, 0, deep.length) == ((Vector.empty, None))))
    // sized from the headers, either would take ~0.7 GB
    assert(framerBytes < (16 << 20) && readerBytes < (16 << 20), s"framer $framerBytes, reader $readerBytes bytes")
  }

  test("a huge array header from the server allocates nothing until its elements arrive") {
    // 178M elements pass the 512 MiB cap at 3 bytes each; an array of
    // that many references would be ~0.7 GB
    withHostile("*178000000\r\n:1\r\n") { client =>
      val bytes = allocatedBy {
        val e = intercept[IllegalArgumentException](client.readReply())
        assert(e.getMessage.contains("connection closed mid-reply"), e.getMessage)
      }
      assert(bytes < (16 << 20), s"readReply allocated $bytes bytes")
    }
  }
}
