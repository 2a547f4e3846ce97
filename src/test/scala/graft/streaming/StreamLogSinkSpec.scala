package graft.streaming

/** E2E stream-to-stream pipeline: StreamLog source → transform →
  * StreamLog XADD sink (the reference's produce→consume loop expressed
  * as readStream → writeStream). */
class StreamLogSinkSpec extends SparkTestBase {

  test("source -> transform -> XADD sink round-trip preserves content and assigns fresh ids") {
    val s = spark
    val clock = new ManualClock(1700000000000L)
    val src = new StreamLog(clock)
    (1 to 6).foreach { i => src.add(Map("i" -> i)); clock.advance(1) }
    val dst = new StreamLog(clock)
    val srcKey = StreamLogRegistry.register(src)
    val dstKey = StreamLogRegistry.register(dst)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sink-ckpt").toString

    val q = s.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", srcKey).option("batchSize", "4")
      .load()
      .selectExpr("msgid",
        "map('i', content['i'], 'doubled', CAST(CAST(content['i'] AS INT) * 2 AS STRING)) AS content")
      .writeStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", dstKey)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(dst.len == 6, s"expected 6 sink messages, got ${dst.len}")
      val contents = dst.range().map(_.content)
      assert(contents.map(_("i")).sorted == (1 to 6).map(_.toString).sorted)
      assert(contents.forall(c => c("doubled").toInt == c("i").toInt * 2))
      val ids = dst.range().map(_.msgid)
      assert(ids == ids.sortBy(StreamId(_)), "sink must assign monotonic ids")
    } finally q.stop()
  }
}
