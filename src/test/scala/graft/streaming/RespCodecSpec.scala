package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import RespCodec._

/** Golden-byte tests of the RESP2 codec against the public protocol
  * spec — no server needed: commands are byte-exact, replies decode
  * incrementally over every possible TCP fragmentation point. */
class RespCodecSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  test("commands encode as RESP arrays of bulk strings (spec golden bytes)") {
    assert(new String(encodeStrings(Seq("PING")), UTF_8) == "*1\r\n$4\r\nPING\r\n")
    assert(new String(encodeStrings(StreamCommands.xadd("s", Seq("k" -> "v"))), UTF_8) ==
      "*5\r\n$4\r\nXADD\r\n$1\r\ns\r\n$1\r\n*\r\n$1\r\nk\r\n$1\r\nv\r\n")
    assert(new String(encodeStrings(StreamCommands.xack("s", "g", Seq("1-0", "1-1"))), UTF_8) ==
      "*5\r\n$4\r\nXACK\r\n$1\r\ns\r\n$1\r\ng\r\n$3\r\n1-0\r\n$3\r\n1-1\r\n")
  }

  test("command builders carry the reference's exact argument shapes") {
    assert(StreamCommands.xadd("st", Seq("a" -> "1"), maxlen = Some(1000)) ==
      Seq("XADD", "st", "MAXLEN", "~", "1000", "*", "a", "1"))
    // field order is wire order (Redis stores it verbatim): 5 fields
    // stay exactly as given, where a hash-ordered Map would scramble
    val fields = Seq("e" -> "5", "a" -> "1", "d" -> "4", "b" -> "2", "c" -> "3")
    assert(StreamCommands.xadd("st", fields).drop(3) == fields.flatMap(kv => Seq(kv._1, kv._2)))
    assert(StreamCommands.xreadgroup("g", "c", "st", count = 5, blockMs = 2000) ==
      Seq("XREADGROUP", "GROUP", "g", "c", "COUNT", "5", "BLOCK", "2000", "STREAMS", "st", ">"))
    assert(StreamCommands.xreadgroup("g", "c", "st", 5, 0, newOnly = false).last == "0")
    assert(StreamCommands.xpendingRange("st", "g") ==
      Seq("XPENDING", "st", "g", "-", "+", "100"))
    assert(StreamCommands.xclaim("st", "g", "c", 60000, Seq("9-1")) ==
      Seq("XCLAIM", "st", "g", "c", "60000", "9-1"))
    assert(StreamCommands.xautoclaim("st", "g", "c", 60000, "0-0", 10) ==
      Seq("XAUTOCLAIM", "st", "g", "c", "60000", "0-0", "COUNT", "10"))
    // start id 0-0, NOT '$': the reference client creates groups
    // from-beginning (common.py:28-31), despite quoting the '$' form
    assert(StreamCommands.xgroupCreate("st", "g") ==
      Seq("XGROUP", "CREATE", "st", "g", "0-0", "MKSTREAM"))
    assert(StreamCommands.xtrimMaxlen("st", 500, approximate = true) ==
      Seq("XTRIM", "st", "MAXLEN", "~", "500"))
  }

  test("all five reply types decode (incl. nulls and binary-safe bulks)") {
    assert(decode(bytes("+OK\r\n")) == Some((SimpleReply("OK"), 5)))
    assert(decode(bytes("-ERR no such key\r\n")) == Some((ErrorReply("ERR no such key"), 18)))
    assert(decode(bytes(":42\r\n")) == Some((IntReply(42L), 5)))
    assert(decode(bytes(":-7\r\n")) == Some((IntReply(-7L), 5)))
    val Some((BulkReply(Some(b)), 11)) = decode(bytes("$5\r\nhello\r\n")): @unchecked
    assert(new String(b, UTF_8) == "hello")
    assert(decode(bytes("$-1\r\n")) == Some((BulkReply(None), 5)))
    assert(decode(bytes("*-1\r\n")) == Some((ArrayReply(None), 5)))
    // binary-safe: the payload CONTAINS \r\n and must not terminate early
    val Some((BulkReply(Some(bin)), _)) = decode(bytes("$4\r\na\r\nb\r\n")): @unchecked
    assert(bin.toSeq == "a\r\nb".getBytes(UTF_8).toSeq)
    // empty array and nesting
    assert(decode(bytes("*0\r\n")) == Some((ArrayReply(Some(Vector())), 4)))
    val Some((ArrayReply(Some(Vector(IntReply(1), ArrayReply(Some(inner))))), _)) =
      decode(bytes("*2\r\n:1\r\n*1\r\n+a\r\n")): @unchecked
    assert(inner == Vector(SimpleReply("a")))
  }

  test("malformed negative counts throw instead of silently parsing") {
    // only -1 is a valid negative count (RESP null); -2 etc. must not
    // decode as an empty value and desynchronize the reply stream
    intercept[IllegalArgumentException](decode(bytes("*-2\r\n")))
    intercept[IllegalArgumentException](decode(bytes("$-5\r\n")))
  }

  test("incremental decode returns None at EVERY partial prefix, then parses whole") {
    // An XREADGROUP-shaped nested reply; any prefix must yield None
    // (the TCP fragmentation contract), never a wrong parse or throw.
    val full = bytes(
      "*1\r\n" +                              // 1 stream block
        "*2\r\n$2\r\nst\r\n" +                //   [name,
        "*2\r\n" +                            //    2 entries
          "*2\r\n$3\r\n1-0\r\n*2\r\n$1\r\nk\r\n$2\r\nv1\r\n" +
          "*2\r\n$3\r\n1-1\r\n*2\r\n$1\r\nk\r\n$2\r\nv2\r\n")
    (1 until full.length).foreach { cut =>
      assert(decode(java.util.Arrays.copyOfRange(full, 0, cut)).isEmpty,
        s"prefix of $cut bytes wrongly decoded")
    }
    val Some((reply, consumed)) = decode(full): @unchecked
    assert(consumed == full.length)
    val parsed = parseXRead(reply)
    assert(parsed == Seq("st" -> Seq(
      StreamMessage("1-0", Map("k" -> "v1")),
      StreamMessage("1-1", Map("k" -> "v2")))))
  }

  test("decode consumes exactly one reply — pipelined replies read sequentially") {
    val two = bytes(":1\r\n+OK\r\n")
    val Some((IntReply(1), n1)) = decode(two): @unchecked
    val Some((SimpleReply("OK"), n2)) = decode(two, n1): @unchecked
    assert(n2 == two.length)
  }

  test("XREAD null reply (block timeout) parses to empty; trimmed XCLAIM entry to empty map") {
    assert(parseXRead(ArrayReply(None)) == Seq.empty)
    val trimmed = ArrayReply(Some(Vector(
      BulkReply(Some(bytes("7-0"))), ArrayReply(None))))
    assert(parseEntry(trimmed) == StreamMessage("7-0", Map.empty))
  }

  test("property: arbitrary reply trees round-trip encodeReply -> decode exactly") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def check(prop: Prop): Unit = { // the MonitorScalerSpec harness
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
      assert(res.passed, res.status.toString)
    }
    // Binary-safe bulks (any bytes incl. \r\n), nested arrays to depth
    // 3, nulls — decode(encodeReply(r)) must return r and consume
    // every byte.
    val genLeaf: Gen[Reply] = Gen.oneOf(
      Gen.alphaNumStr.map(SimpleReply),
      Gen.alphaNumStr.map(s => ErrorReply(s"ERR $s")),
      Gen.choose(Long.MinValue, Long.MaxValue).map(IntReply),
      Gen.const(BulkReply(None)),
      Gen.const(ArrayReply(None)),
      Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(b => BulkReply(Some(b))))
    def genReply(depth: Int): Gen[Reply] =
      if (depth == 0) genLeaf
      else Gen.frequency(
        3 -> genLeaf,
        2 -> Gen.choose(0, 4).flatMap(n =>
          Gen.containerOfN[Vector, Reply](n, genReply(depth - 1))
            .map(v => ArrayReply(Some(v)))))
    // structural equality helper: BulkReply holds Array[Byte], whose
    // == is reference equality — compare byte content explicitly
    def same(a: Reply, b: Reply): Boolean = (a, b) match {
      case (BulkReply(Some(x)), BulkReply(Some(y))) => x.toSeq == y.toSeq
      case (ArrayReply(Some(x)), ArrayReply(Some(y))) =>
        x.length == y.length && x.zip(y).forall((same _).tupled)
      case _ => a == b
    }
    check(Prop.forAll(genReply(3)) { r =>
      val wire = encodeReply(r)
      decode(wire) match {
        case Some((back, consumed)) => consumed == wire.length && same(back, r)
        case None                   => false
      }
    })
  }

  test("command encode → decode round-trips through the entry parser") {
    // Simulate the server echoing an entry shaped like what xadd sent:
    // build the RESP bytes a server would reply to XRANGE with.
    val entry = bytes(
      "*2\r\n$4\r\n42-0\r\n*4\r\n$4\r\nuser\r\n$5\r\nalice\r\n$3\r\nact\r\n$5\r\nlogin\r\n")
    val Some((r, _)) = decode(entry): @unchecked
    assert(parseEntry(r) == StreamMessage("42-0", Map("user" -> "alice", "act" -> "login")))
  }

  test("a 1 MiB XRANGE-shaped reply fed one byte at a time decodes in linear time") {
    // 10k entries of ~105 bytes: the reply-side twin of the framer's
    // 1 MiB one-byte-per-feed spec in RespServerSpec
    val reply = ArrayReply(Some(Vector.tabulate(10000) { i =>
      ArrayReply(Some(Vector(bulk(s"1700000000000-$i"), ArrayReply(Some(Vector(
        bulk("event_id"), bulk(i.toString), bulk("payload"), bulk("x" * 32)))))))
    }))
    val wire = encodeReply(reply)
    assert(wire.length > 1000000 && wire.length < 1200000, s"${wire.length} bytes")
    def run(): Double = {
      val reader = new RespReader(RespClient.MaxReplyBytes)
      var got = Vector.empty[(Reply, Int)]
      val t0 = System.nanoTime()
      var i = 0
      while (i < wire.length) { // worst-case fragmentation: 1 byte per feed
        val (done, fatal) = reader.feed(wire, i, 1)
        if (fatal.nonEmpty) fail(s"unexpected fatal: $fatal")
        got ++= done
        i += 1
      }
      val ms = (System.nanoTime() - t0) / 1e6
      assert(got.map(_._2) == Vector(wire.length))
      assert(encodeReply(got.head._1).toSeq == wire.toSeq)
      ms
    }
    (1 to 3).foreach(_ => run())
    val elapsedMs = (1 to 5).map(_ => run()).min // min of 5 after 3 warm-ups
    // re-appending and re-decoding from byte 0 is O(n^2): ~10^12 byte ops
    assert(elapsedMs < 10000, f"1 MiB reply one byte at a time took $elapsedMs%.0f ms - not linear")
  }

  test("integers and lengths are written as their decimal digits, Long.MinValue included") {
    Seq(0L, 1L, 9L, 10L, 99L, 100L, -1L, -9L, -10L, Long.MaxValue, Long.MinValue).foreach { v =>
      assert(new String(encodeReply(IntReply(v)), UTF_8) == s":$v\r\n")
    }
  }

  test("a writer that grew past MaxKept goes back to its base buffer when it writes out") {
    val w = new RespWriter
    val sink = java.io.OutputStream.nullOutputStream()
    assert(w.capacity == RespWriter.BaseSize)
    w.bulk(new Array[Byte](1 << 20))
    assert(w.size == (1 << 20) + 12 && w.capacity > (1 << 20))
    w.writeTo(sink)
    assert(w.size == 0 && w.capacity == RespWriter.BaseSize)
    // a reply under MaxKept keeps its buffer for the next one
    w.bulk(new Array[Byte](4096))
    val grown = w.capacity
    w.writeTo(sink)
    assert(grown > RespWriter.BaseSize && w.size == 0 && w.capacity == grown)
  }
}
