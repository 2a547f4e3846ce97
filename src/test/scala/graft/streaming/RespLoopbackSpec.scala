package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import RespCodec._

/** End-to-end protocol cycles driven entirely through WIRE BYTES:
  * client builders encode, the loopback decodes + executes against the
  * real StreamLog/ConsumerGroup, the reply bytes decode back through
  * the client parser — the complete reference workflow
  * (produce → consume → ack → monitor → claim) minus only the socket. */
class RespLoopbackSpec extends AnyFunSuite {

  private def wire(lb: RespLoopback, args: Seq[String]): Reply = {
    val Some((r, consumed)) = decode(lb.call(encodeStrings(args))): @unchecked
    r match { case e: ErrorReply => fail(s"wire error for $args: $e"); case _ => }
    r
  }

  test("produce -> consume -> ack cycle over wire bytes") {
    val clock = new ManualClock(1000)
    val lb = new RespLoopback(clock)

    val id1 = wire(lb, StreamCommands.xadd("jobs", Seq("task" -> "a", "n" -> "1"))).text
    clock.advance(5)
    val id2 = wire(lb, StreamCommands.xadd("jobs", Seq("task" -> "b", "n" -> "2"))).text
    assert(StreamId(id1) < StreamId(id2))
    assert(wire(lb, StreamCommands.xlen("jobs")) == IntReply(2))

    wire(lb, StreamCommands.xgroupCreate("jobs", "g1"))
    val read = parseXRead(wire(lb,
      StreamCommands.xreadgroup("g1", "c1", "jobs", count = 10, blockMs = 1000)))
    assert(read == Seq("jobs" -> Seq(
      StreamMessage(id1, Map("task" -> "a", "n" -> "1")),
      StreamMessage(id2, Map("task" -> "b", "n" -> "2")))))

    // nothing new: Redis replies nil (null array) on '>' with no data
    val Some((empty, _)) = decode(lb.call(encodeStrings(
      StreamCommands.xreadgroup("g1", "c1", "jobs", 10, 0)))): @unchecked
    assert(empty == ArrayReply(None))

    // XREADGROUP 0 re-reads the owned PEL
    val owned = parseXRead(wire(lb,
      StreamCommands.xreadgroup("g1", "c1", "jobs", 10, 0, newOnly = false)))
    assert(owned.head._2.map(_.msgid) == Seq(id1, id2))

    assert(wire(lb, StreamCommands.xack("jobs", "g1", Seq(id1))) == IntReply(1))
    assert(wire(lb, StreamCommands.xack("jobs", "g1", Seq(id1))) == IntReply(0)) // already acked
    val pending = wire(lb, StreamCommands.xpendingRange("jobs", "g1")) match {
      case ArrayReply(Some(rows)) => rows
      case other                  => fail(s"bad XPENDING reply: $other")
    }
    assert(pending.length == 1)
    val ArrayReply(Some(Vector(pid, pconsumer, _, ptimes))) = pending.head: @unchecked
    assert(pid.text == id2 && pconsumer.text == "c1" && ptimes == IntReply(1))
  }

  test("failure rebalance over the wire: idle consumer's work claimed, then autoclaim sweeps") {
    val clock = new ManualClock(0)
    val lb = new RespLoopback(clock)
    clock.advance(10)
    val ids = (1 to 4).map { i =>
      clock.advance(1)
      wire(lb, StreamCommands.xadd("s", Seq("i" -> i.toString))).text
    }
    wire(lb, StreamCommands.xgroupCreate("s", "g"))
    wire(lb, StreamCommands.xreadgroup("g", "dead", "s", 4, 0)) // dead consumer takes all
    clock.advance(60001)

    // XCLAIM two ids explicitly; entries come back with their fields
    val claimed = wire(lb, StreamCommands.xclaim("s", "g", "live", 60000, ids.take(2))) match {
      case ArrayReply(Some(entries)) => entries.map(parseEntry)
      case other                     => fail(s"bad XCLAIM reply: $other")
    }
    assert(claimed.map(_.msgid) == ids.take(2))
    assert(claimed.head.content == Map("i" -> "1"))

    // XAUTOCLAIM sweeps the rest; cursor wraps to 0-0 when done. The
    // two explicitly claimed ids had their delivery clock reset by the
    // XCLAIM, so only the OTHER two are idle enough to sweep.
    val ArrayReply(Some(Vector(cursor, ArrayReply(Some(swept))))) =
      wire(lb, StreamCommands.xautoclaim("s", "g", "live", 60000, "0-0", 100)): @unchecked
    assert(cursor.text == MsgId.Zero)
    assert(swept.map(parseEntry).map(_.msgid) == ids.drop(2))

    // XINFO CONSUMERS reflects ownership
    val info = wire(lb, StreamCommands.xinfoConsumers("s", "g")) match {
      case ArrayReply(Some(rows)) => rows.map {
        case ArrayReply(Some(Vector(_, name, _, pending, _, _))) =>
          name.text -> pending.asInstanceOf[IntReply].v
        case other => fail(s"bad consumer row: $other")
      }.toMap
      case other => fail(s"bad XINFO reply: $other")
    }
    assert(info("live") == 4L && info("dead") == 0L)

    // DELCONSUMER on the dead consumer loses nothing (all claimed away)
    assert(wire(lb, StreamCommands.xgroupDelConsumer("s", "g", "dead")) == IntReply(0))
  }

  test("trim and delete over the wire; claimed-but-trimmed entries answer nil fields") {
    val clock = new ManualClock(100)
    val lb = new RespLoopback(clock)
    val ids = (1 to 6).map { i =>
      clock.advance(1)
      wire(lb, StreamCommands.xadd("t", Seq("v" -> i.toString))).text
    }
    wire(lb, StreamCommands.xgroupCreate("t", "g"))
    wire(lb, StreamCommands.xreadgroup("g", "c", "t", 6, 0))
    // trim the stream under the PEL: 4 oldest physically removed
    assert(wire(lb, StreamCommands.xtrimMaxlen("t", 2, approximate = false)) == IntReply(4))
    assert(wire(lb, StreamCommands.xlen("t")) == IntReply(2))
    clock.advance(60001)
    // claiming a trimmed id returns the id with NIL fields (tombstone)
    val ArrayReply(Some(entries)) =
      wire(lb, StreamCommands.xclaim("t", "g", "c2", 60000, Seq(ids.head))): @unchecked
    assert(entries.map(parseEntry) == Seq(StreamMessage(ids.head, Map.empty)))
    // XDEL removes by id
    assert(wire(lb, StreamCommands.xdel("t", ids.takeRight(1))) == IntReply(1))
    assert(wire(lb, StreamCommands.xlen("t")) == IntReply(1))
  }

  test("XINFO STREAM answers the full Redis >=7 field set (r11 ask #7)") {
    val clock = new ManualClock(500)
    val lb = new RespLoopback(clock)
    def info(): Map[String, Reply] = {
      val ArrayReply(Some(kv)) = wire(lb, StreamCommands.xinfoStream("s")): @unchecked
      kv.grouped(2).map { case Vector(k, v) => k.text -> v }.toMap
    }
    // never-written stream, made by XGROUP CREATE … MKSTREAM: zero
    // everything, nil first/last entries
    wire(lb, StreamCommands.xgroupCreate("s", "g"))
    val virgin = info()
    assert(virgin("entries-added") == IntReply(0))
    assert(virgin("max-deleted-entry-id").text == MsgId.Zero)
    assert(virgin("first-entry") == BulkReply(None))

    // emptied-by-XDEL stream: lifetime add count survives
    val id0 = wire(lb, StreamCommands.xadd("s", Seq("v" -> "0"))).text
    wire(lb, StreamCommands.xdel("s", Seq(id0)))
    val empty = info()
    assert(empty("length") == IntReply(0))
    assert(empty("first-entry") == BulkReply(None))
    assert(empty("last-entry") == BulkReply(None))
    assert(empty("entries-added") == IntReply(1)) // lifetime count survives XDEL

    val ids = (1 to 4).map { i =>
      clock.advance(1)
      wire(lb, StreamCommands.xadd("s", Seq("v" -> i.toString))).text
    }
    wire(lb, StreamCommands.xgroupCreate("s", "g"))
    val full = info()
    assert(full("length") == IntReply(4))
    assert(full("entries-added") == IntReply(5))
    assert(full("last-generated-id").text == ids.last)
    assert(full("groups") == IntReply(1))
    assert(parseEntry(full("first-entry")) == StreamMessage(ids.head, Map("v" -> "1")))
    assert(parseEntry(full("last-entry")) == StreamMessage(ids.last, Map("v" -> "4")))

    // XDEL moves max-deleted-entry-id; an exact trim moves it further
    // (greatest trimmed id), and first-entry advances past the trim
    wire(lb, StreamCommands.xdel("s", Seq(ids(1))))
    assert(info()("max-deleted-entry-id").text == ids(1))
    wire(lb, StreamCommands.xtrimMaxlen("s", 1, approximate = false))
    val trimmed = info()
    assert(trimmed("max-deleted-entry-id").text == ids(2))
    assert(parseEntry(trimmed("first-entry")) == StreamMessage(ids.last, Map("v" -> "4")))
    assert(trimmed("length") == IntReply(1))
  }

  test("wire-produced entries flow into a Structured Streaming query (loopback -> DSv2 source)") {
    // The two halves joined: a client XADDs over wire bytes, the
    // loopback's backing log registers with the DSv2 source, and a
    // Structured Streaming query consumes the same entries — ingest by
    // protocol, process by engine, with nothing hand-copied between.
    val s = graft.streaming.SparkTestBase.session
    val clock = new ManualClock(1700000000000L)
    val lb = new RespLoopback(clock)
    (1 to 5).foreach { i =>
      clock.advance(1)
      wire(lb, StreamCommands.xadd("pipe", Seq("i" -> i.toString)))
    }
    val key = StreamLogRegistry.register(lb.streamLog("pipe"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = s.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", "10")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen ++= df.collect().map(_.getMap[String, String](1)("i")) }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // produce MORE over the wire mid-query: the next micro-batch picks it up
      clock.advance(1)
      wire(lb, StreamCommands.xadd("pipe", Seq("i" -> "6")))
      q.processAllAvailable()
      assert(seen.synchronized(seen.toSeq) == (1 to 6).map(_.toString))
    } finally {
      q.stop()
      StreamLogRegistry.unregister(key)
    }
  }

  test("unknown commands and malformed bytes answer RESP errors, not exceptions") {
    val lb = new RespLoopback(new ManualClock(0))
    val Some((e1, _)) = decode(lb.call(encodeStrings(Seq("GET", "k")))): @unchecked
    assert(e1.isInstanceOf[ErrorReply])
    val Some((e2, _)) = decode(lb.call(":42\r\n".getBytes)): @unchecked
    assert(e2.isInstanceOf[ErrorReply])
  }

  test("group commands on a missing group answer NOGROUP; only CREATE creates; DESTROY reports 0/1") {
    val lb = new RespLoopback(new ManualClock(0))
    lb.call(encodeStrings(StreamCommands.xadd("s", Seq("k" -> "v"))))
    // XREADGROUP before CREATE: Redis's NOGROUP, and no phantom group state
    val Some((err, _)) = decode(lb.call(encodeStrings(
      StreamCommands.xreadgroup("nope", "c", "s", 10, 0)))): @unchecked
    err match {
      case ErrorReply(m) => assert(m.startsWith("NOGROUP"), s"wrong error: $m")
      case other         => fail(s"expected NOGROUP error, got $other")
    }
    assert(lb.execute(StreamCommands.xack("s", "nope", Seq("1-1")))
      .isInstanceOf[ErrorReply])
    // destroying a group that never existed reports 0, as Redis does
    assert(lb.execute(StreamCommands.xgroupDestroy("s", "nope")) == IntReply(0))
    lb.execute(StreamCommands.xgroupCreate("s", "g"))
    assert(lb.execute(StreamCommands.xgroupDestroy("s", "g")) == IntReply(1))
  }

  test("XADD exact MAXLEN form trims exactly; error text with CRLF cannot desync the wire") {
    val clock = new ManualClock(5)
    val lb = new RespLoopback(clock)
    (1 to 5).foreach { i =>
      clock.advance(1)
      // exact trim form: MAXLEN 3 with no '~'
      lb.execute(Seq("XADD", "x", "MAXLEN", "3", "*", "v", i.toString))
    }
    assert(lb.execute(StreamCommands.xlen("x")) == IntReply(3))
    // response-injection probe: the quoted command name carries CRLF;
    // the reply must decode as ONE error with no stray bytes after it
    val wireBytes = lb.call(encodeStrings(Seq("BAD\r\nCMD")))
    val Some((reply, consumed)) = decode(wireBytes): @unchecked
    assert(consumed == wireBytes.length, "stray bytes after error reply (injection)")
    assert(reply.isInstanceOf[ErrorReply])
  }

  test("negative MAXLEN is rejected before the write: XADD and XTRIM answer errors, nothing persists") {
    val clock = new ManualClock(5)
    val lb = new RespLoopback(clock)
    lb.execute(StreamCommands.xadd("n", Seq("v" -> "0")))
    def state(): (Reply, Reply) = {
      val ArrayReply(Some(kv)) = lb.execute(StreamCommands.xinfoStream("n")): @unchecked
      (lb.execute(StreamCommands.xlen("n")),
        kv.grouped(2).collectFirst { case Vector(k, v) if k.text == "entries-added" => v }.get)
    }
    val before = state()
    Seq(
      Seq("XADD", "n", "MAXLEN", "-1", "*", "v", "1"),
      Seq("XADD", "n", "MAXLEN", "~", "-1", "*", "v", "2"),
      StreamCommands.xtrimMaxlen("n", -1, approximate = false),
      StreamCommands.xtrimMaxlen("n", -1, approximate = true)).foreach { cmd =>
      lb.execute(cmd) match {
        case ErrorReply(m) => assert(m.contains("MAXLEN argument must be >= 0"), s"$cmd: $m")
        case other         => fail(s"$cmd must answer an error, got $other")
      }
    }
    assert(state() == before && before == (IntReply(1), IntReply(1)))
  }

  test("XAUTOCLAIM accepts '... start' (COUNT defaults to 100) and '... start COUNT n', nothing else") {
    val clock = new ManualClock(0)
    val lb = new RespLoopback(clock)
    val ids = (1 to 105).map { i =>
      clock.advance(1)
      wire(lb, StreamCommands.xadd("a", Seq("i" -> i.toString))).text
    }
    wire(lb, StreamCommands.xgroupCreate("a", "g"))
    wire(lb, StreamCommands.xreadgroup("g", "dead", "a", 105, 0))
    clock.advance(10)
    def autoclaim(args: String*): (String, Seq[String]) = {
      val ArrayReply(Some(Vector(cursor, ArrayReply(Some(entries))))) =
        wire(lb, Seq("XAUTOCLAIM", "a", "g", "live", "10", "0-0") ++ args): @unchecked
      (cursor.text, entries.map(parseEntry(_).msgid))
    }
    // no COUNT: the Redis default of 100, cursor at the first unscanned id
    assert(autoclaim() == (ids(100), ids.take(100)))
    clock.advance(10)
    assert(autoclaim("COUNT", "3") == (ids(3), ids.take(3)))
    clock.advance(10)
    assert(autoclaim("count", "200") == (MsgId.Zero, ids))
    Seq(Seq("FOO", "5"), Seq("COUNT"), Seq("COUNT", "5", "JUSTID"), Seq("5")).foreach { extra =>
      val reply = lb.execute(Seq("XAUTOCLAIM", "a", "g", "live", "0", "0-0") ++ extra)
      reply match {
        case ErrorReply(m) => assert(m.contains("expected XAUTOCLAIM"), s"$extra: $m")
        case other         => fail(s"XAUTOCLAIM ... $extra must be rejected, got $other")
      }
    }
  }

  test("a stream owns its groups: engine-side destroy and create are what the wire sees") {
    val lb = new RespLoopback(new ManualClock(10))
    val id = wire(lb, StreamCommands.xadd("s", Seq("k" -> "v"))).text
    def groupNames(): Seq[String] = {
      val ArrayReply(Some(rows)) = wire(lb, StreamCommands.xinfoGroups("s")): @unchecked
      rows.map { case ArrayReply(Some(kv)) => kv(1).text; case other => fail(s"bad row: $other") }
    }
    def groupCount(): Reply = {
      val ArrayReply(Some(kv)) = wire(lb, StreamCommands.xinfoStream("s")): @unchecked
      kv.grouped(2).collectFirst { case Vector(k, v) if k.text == "groups" => v }.get
    }

    // created over the wire, destroyed engine-side: gone from the wire too
    wire(lb, StreamCommands.xgroupCreate("s", "g"))
    lb.consumerGroup("s", "g").get.destroy()
    assert(groupNames().isEmpty)
    assert(groupCount() == IntReply(0))
    lb.execute(StreamCommands.xreadgroup("g", "c", "s", 10, 0)) match {
      case ErrorReply(m) => assert(m.startsWith("NOGROUP"), s"wrong error: $m")
      case other         => fail(s"expected NOGROUP after destroy, got $other")
    }

    // created engine-side: the wire serves the same object, so a message
    // it delivered is not delivered again over the wire
    val g = ConsumerGroup.create(lb.streamLog("s"), "g")
    assert(lb.consumerGroup("s", "g").get eq g)
    assert(g.readNew("engine", 10).map(_.msgid) == Seq(id))
    assert(wire(lb, StreamCommands.xreadgroup("g", "wire", "s", 10, 0)) == ArrayReply(None))
    assert(groupCount() == IntReply(1))

    // XINFO GROUPS lists groups by name, not by creation order
    wire(lb, StreamCommands.xgroupCreate("s", "b"))
    ConsumerGroup.create(lb.streamLog("s"), "a")
    assert(groupNames() == Seq("a", "b", "g"))
  }

  test("XACK, XDEL and XCLAIM with no ids answer Redis's arity error and touch nothing") {
    val clock = new ManualClock(10)
    val lb = new RespLoopback(clock)
    val id = wire(lb, StreamCommands.xadd("s", Seq("k" -> "v"))).text
    wire(lb, StreamCommands.xgroupCreate("s", "g"))
    wire(lb, StreamCommands.xreadgroup("g", "c", "s", 10, 0))
    Seq(
      "xack"   -> Seq("XACK", "s", "g"),
      "xack"   -> Seq("XACK", "s"),
      "xdel"   -> Seq("XDEL", "s"),
      "xclaim" -> Seq("XCLAIM", "s", "g", "ghost", "0"),
      "xclaim" -> Seq("XCLAIM", "s", "g", "ghost")).foreach { case (name, cmd) =>
      assert(lb.execute(cmd) == ErrorReply(s"ERR wrong number of arguments for '$name' command"),
        s"$cmd")
    }
    val ArrayReply(Some(consumers)) = wire(lb, StreamCommands.xinfoConsumers("s", "g")): @unchecked
    val names = consumers.map { case ArrayReply(Some(kv)) => kv(1).text; case o => fail(s"$o") }
    assert(names == Seq("c"), "an XCLAIM with no ids must not create its consumer")
    assert(wire(lb, StreamCommands.xlen("s")) == IntReply(1))
    assert(wire(lb, StreamCommands.xack("s", "g", Seq(id))) == IntReply(1))
  }

  test("malformed stream ids (signed, blank, half, past Long) answer Redis's invalid-id error and touch nothing") {
    val clock = new ManualClock(10)
    val lb = new RespLoopback(clock)
    val id = wire(lb, StreamCommands.xadd("s", Seq("k" -> "v"))).text
    wire(lb, StreamCommands.xgroupCreate("s", "g"))
    wire(lb, StreamCommands.xreadgroup("g", "c", "s", 10, 0))
    clock.advance(10)
    val bad = Seq("5--3", "+5-3", "-5-3", "5-+3", " 5-3", "5-3 ", "5-3-1", "5", "5-", "-3", "",
      "\u0665-3", "9223372036854775808-0", "0-9223372036854775808")
    for (b <- bad; cmd <- Seq(
        Seq("XRANGE", "s", b, "+"), Seq("XRANGE", "s", "-", b),
        Seq("XPENDING", "s", "g", b, "+", "10"), Seq("XPENDING", "s", "g", "-", b, "10"),
        Seq("XACK", "s", "g", id, b), Seq("XCLAIM", "s", "g", "c2", "0", id, b),
        Seq("XAUTOCLAIM", "s", "g", "c2", "0", b), Seq("XDEL", "s", id, b))) {
      assert(lb.execute(cmd) ==
        ErrorReply("ERR Invalid stream ID specified as stream command argument"), s"$cmd")
    }
    // nothing acked, claimed or deleted, and no consumer c2 was created
    val ArrayReply(Some(Vector(ArrayReply(Some(row))))) =
      wire(lb, StreamCommands.xpendingRange("s", "g")): @unchecked
    assert(row(0).text == id && row(1).text == "c" && row(3) == IntReply(1))
    val ArrayReply(Some(consumers)) = wire(lb, StreamCommands.xinfoConsumers("s", "g")): @unchecked
    assert(consumers.map { case ArrayReply(Some(kv)) => kv(1).text; case o => fail(s"$o") } == Seq("c"))
    assert(wire(lb, StreamCommands.xlen("s")) == IntReply(1))
    // the largest valid id still parses, and 9-0 orders before 10-0
    def xrange(min: String, max: String): Seq[String] = {
      val ArrayReply(Some(entries)) = wire(lb, Seq("XRANGE", "s", min, max)): @unchecked
      entries.map(parseEntry(_).msgid)
    }
    assert(xrange("9-0", "9223372036854775807-9223372036854775807") == Seq(id))
  }

  test("call answers every command of a request, by the socket's grammar") {
    val lb = new RespLoopback(new ManualClock(10))
    val out = lb.call(encodeStrings(StreamCommands.xadd("p", Seq("a" -> "1"))) ++
      encodeStrings(StreamCommands.xadd("p", Seq("b" -> "2"))))
    val Some((id1, n1)) = decode(out): @unchecked
    val Some((id2, n2)) = decode(out, n1): @unchecked
    assert(n2 == out.length, "the two replies must come back to back, nothing after")
    assert(StreamId(id1.text) < StreamId(id2.text))
    assert(wire(lb, StreamCommands.xlen("p")) == IntReply(2))
    // simple strings are not command arguments: the socket answers a
    // protocol error, so the in-process call does too
    assert(lb.call("*2\r\n+XLEN\r\n+p\r\n".getBytes("UTF-8")).toSeq ==
      encodeReply(ErrorReply("ERR protocol error")).toSeq)
  }

  test("reads, deletes and claims on a missing key answer as Redis does and create no stream") {
    val lb = new RespLoopback(new ManualClock(10))
    wire(lb, StreamCommands.xadd("s", Seq("k" -> "v")))
    val nogroup = ErrorReply("NOGROUP No such consumer group 'g' for key name 'ghost'")
    Seq(
      StreamCommands.xlen("ghost") -> IntReply(0),
      StreamCommands.xrange("ghost") -> ArrayReply(Some(Vector())),
      StreamCommands.xdel("ghost", Seq("1-0")) -> IntReply(0),
      StreamCommands.xtrimMaxlen("ghost", 0, approximate = false) -> IntReply(0),
      StreamCommands.xclaim("ghost", "g", "c", 0, Seq("1-0")) -> nogroup,
      StreamCommands.xautoclaim("ghost", "g", "c", 0, "0-0", 10) -> nogroup).foreach {
      case (cmd, want) =>
        assert(lb.execute(cmd) == want, s"$cmd")
        assert(lb.streamCount == 1, s"$cmd created a stream")
    }
    // XINFO STREAM answers Redis's error without making a stream
    assert(lb.execute(StreamCommands.xinfoStream("ghost")) == ErrorReply("ERR no such key"))
    assert(lb.streamCount == 1, "XINFO STREAM created a stream")
    // argument and id validation still run first, with the usual errors
    assert(lb.execute(Seq("XRANGE", "ghost", "5--3", "+")) ==
      ErrorReply("ERR Invalid stream ID specified as stream command argument"))
    assert(lb.execute(Seq("XDEL", "ghost", "5")) ==
      ErrorReply("ERR Invalid stream ID specified as stream command argument"))
    assert(lb.execute(StreamCommands.xtrimMaxlen("ghost", -1, approximate = false)) ==
      ErrorReply("ERR requirement failed: MAXLEN argument must be >= 0"))
    assert(lb.streamCount == 1)
  }

  test("call writes the bytes encodeReply makes of the same reply built by hand") {
    val clock = new ManualClock(1000)
    val lb = new RespLoopback(clock)
    def arr(items: Reply*): Reply = ArrayReply(Some(items.toVector))
    def entry(id: String, fv: String*): Reply = arr(bulk(id), arr(fv.map(bulk): _*))
    def same(cmds: Seq[String]*)(want: Reply*): Unit = {
      val got = lb.call(cmds.map(encodeStrings).reduce(_ ++ _))
      assert(got.toSeq == want.map(encodeReply).reduce(_ ++ _).toSeq, s"$cmds")
    }
    wire(lb, StreamCommands.xgroupCreate("s", "g"))
    same(StreamCommands.xrange("s"))(arr())
    val id1 = wire(lb, StreamCommands.xadd("s", Seq("k" -> "v1", "n" -> "1"))).text
    clock.advance(1)
    // a non-ASCII value, and a value with CRLF inside, kept verbatim
    val id2 = wire(lb, StreamCommands.xadd("s", Seq("name" -> "Zoë ✓ 日本", "raw" -> "a\r\nb"))).text
    val (e1, e2) = (entry(id1, "k", "v1", "n", "1"), entry(id2, "name", "Zoë ✓ 日本", "raw", "a\r\nb"))
    same(StreamCommands.xrange("s", count = Some(1)))(arr(e1))
    same(StreamCommands.xrange("s"))(arr(e1, e2))
    // XREADGROUP '>' with data, '>' with nothing (nil array), '0'
    same(StreamCommands.xreadgroup("g", "c", "s", 10, 0))(arr(arr(bulk("s"), arr(e1, e2))))
    same(StreamCommands.xreadgroup("g", "c", "s", 10, 0))(ArrayReply(None))
    same(StreamCommands.xreadgroup("g", "c", "s", 10, 0, newOnly = false))(arr(arr(bulk("s"), arr(e1, e2))))
    // a claimed id whose entry is gone answers nil fields
    wire(lb, StreamCommands.xdel("s", Seq(id1)))
    clock.advance(100)
    val gone = arr(bulk(id1), ArrayReply(None))
    same(StreamCommands.xclaim("s", "g", "c2", 50, Seq(id1, id2)))(arr(gone, e2))
    clock.advance(100)
    same(StreamCommands.xautoclaim("s", "g", "c3", 50, "0-0", 1))(arr(bulk(id2), arr(gone)))
    same(StreamCommands.xinfoStream("s"))(arr(
      bulk("length"), IntReply(1), bulk("last-generated-id"), bulk(id2),
      bulk("max-deleted-entry-id"), bulk(id1), bulk("entries-added"), IntReply(2),
      bulk("groups"), IntReply(1), bulk("first-entry"), e2, bulk("last-entry"), e2))
    // an error line quoting CRLF has it scrubbed to spaces
    same(Seq("a\r\nb"))(ErrorReply("ERR unknown command: A\r\nB"))
    assert(lb.call(encodeStrings(Seq("a\r\nb"))).toSeq == "-ERR unknown command: A  B\r\n".getBytes("UTF-8").toSeq)
    // the second of three pipelined commands fails: three whole replies
    same(StreamCommands.xlen("s"), StreamCommands.xack("s", "g", Seq("5--3")), StreamCommands.xlen("s"))(
      IntReply(1), ErrorReply("ERR Invalid stream ID specified as stream command argument"), IntReply(1))
  }
}
