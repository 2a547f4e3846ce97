package graft.streaming

import java.util.concurrent.CountDownLatch

/** S1's live semantics driven end-to-end: backlog/pending derived from
  * a RUNNING query's real source offsets — the delivered cursor read
  * from the query's offset WAL (epoch planned, not yet committed) and
  * the acked cursor from the source's epoch commit — then through the
  * exact S2/S3 tables to a scale decision. */
class StreamingScalerSpec extends SparkTestBase {

  test("backlog -> rate -> decision from real source offsets of a running query") {
    val s = spark
    val clock = new ManualClock(1700000000000L)
    val log = new StreamLog(clock)
    val ids = (1 to 5).map { i =>
      val id = log.add(Map("i" -> i.toString)); clock.advance(1); id
    }
    val key = StreamLogRegistry.register(log)
    val scaler = new StreamingScaler(key)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scaler-ckpt").toFile

    val gate = new CountDownLatch(1)
    val holdEpoch0: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (df, epochId) => { df.count(); if (epochId == 0) gate.await() }
    val q = s.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", "2")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .foreachBatch(holdEpoch0)
      .start()
    try {
      // ---- Phase 1: epoch 0 is in flight — its end offset is durably
      // resolved in the offset WAL, but the epoch commit (the ack
      // boundary) hasn't happened. The scaler must see 2 delivered
      // messages pending and 3 still backlogged.
      val wal = new java.io.File(ckpt, "offsets/0")
      val deadline = System.currentTimeMillis() + 30000
      while (!wal.exists() && System.currentTimeMillis() < deadline) Thread.sleep(25)
      assert(wal.exists(), "epoch-0 offset WAL never appeared")
      val src = scala.io.Source.fromFile(wal)
      val delivered = try src.getLines().toList.last.trim finally src.close()
      assert(delivered == ids(1), s"WAL end offset: $delivered vs ${ids(1)}")
      assert(StreamLogRegistry.committedId(key) == MsgId.Zero,
        "nothing may be acked while epoch 0 is held open")
      assert(scaler.collectMetrics(delivered) == ((3, 2)),
        "backlog must count past the WAL cursor, pending past the commit")
      // rate = clamp(3/2 * 100) = 100 >= scale-out threshold
      assert(scaler.getScaleDecision(delivered, consumers = 1) == ((100.0, Scale.Out)))

      // ---- Phase 2: release the epoch and drain. The engine commits a
      // source epoch while constructing the NEXT one, so the acked
      // cursor may lawfully trail the tip by one epoch — assert the
      // deterministic facts: the held epoch's ack landed, the delivered
      // cursor (latest WAL entry) reached the tip, and a caught-up
      // consumer reads rate 0 / NO_SCALE whatever the residual pending.
      gate.countDown()
      q.processAllAvailable()
      val dl2 = System.currentTimeMillis() + 20000
      while (!(StreamId(ids(1)) <= StreamId(StreamLogRegistry.committedId(key))) &&
             System.currentTimeMillis() < dl2) {
        q.processAllAvailable(); Thread.sleep(25)
      }
      val acked = StreamLogRegistry.committedId(key)
      assert(StreamId(ids(1)) <= StreamId(acked), s"epoch-0 ack must have landed: $acked")
      val walDir = new java.io.File(ckpt, "offsets")
      val latestWal = walDir.listFiles().filter(_.getName.forall(_.isDigit))
        .maxBy(_.getName.toInt)
      val src2 = scala.io.Source.fromFile(latestWal)
      val deliveredTip = try src2.getLines().toList.last.trim finally src2.close()
      assert(deliveredTip == ids.last, s"delivered cursor must reach the tip: $deliveredTip")
      val (backlog2, _) = scaler.collectMetrics(deliveredTip)
      assert(backlog2 == 0, "caught-up consumer has no backlog")
      assert(scaler.getScaleDecision(deliveredTip, consumers = 1) == ((0.0, Scale.NoScale)))

      // ---- Phase 3: producer runs ahead of a stopped consumer — pure
      // backlog, no pending past the acked cursor beyond what was
      // already delivered: the (rate == 0, backlog >= 1) => OUT row.
      q.stop()
      (6 to 8).foreach { i => log.add(Map("i" -> i.toString)); clock.advance(1) }
      val (backlog3, pending3) = scaler.collectMetrics(acked)
      assert(backlog3 >= 3, s"the 3 new messages must all be backlogged: $backlog3")
      assert(pending3 <= 1, s"at most the one-epoch commit lag may be pending: $pending3")
      assert(scaler.getScaleDecision(acked, consumers = 1) ==
        ((0.0, Scale.Out)), "rate 0 with nonzero backlog must scale OUT")
    } finally {
      gate.countDown()
      if (q.isActive) q.stop()
      StreamLogRegistry.unregister(key)
    }
  }
}
