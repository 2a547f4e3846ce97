package graft.streaming

import scala.collection.mutable

/** E2E of the DataSource V2 micro-batch source: the C1/C3 count-quota
  * admission control must cap every micro-batch at batchSize, deliver
  * everything exactly once to the sink, and commit offsets (ack). */
class StreamLogSourceSpec extends SparkTestBase {

  test("offsets are stable under MAXLEN trims between micro-batches (no re-delivery, no skips)") {
    val s = spark
    val clock = new ManualClock(1700000000000L)
    val log = new StreamLog(clock)
    (1 to 6).foreach { i => log.add(Map("i" -> i)); clock.advance(1) }
    val key = StreamLogRegistry.register(log)

    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = s.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", "4")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= df.collect().map(r => (r.getString(0), r.getMap[String, String](1)("i")))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // trim away the head (messages 1-4 are gone), append new ones: a
      // position-based offset would now re-deliver or skip
      log.trim(2)
      (7 to 8).foreach { i => log.add(Map("i" -> i)); clock.advance(1) }
      q.processAllAvailable()
      val payloads = seen.synchronized(seen.toSeq.map(_._2))
      assert(payloads == (1 to 8).map(_.toString),
        s"trim shifted delivery: $payloads")
      assert(payloads.distinct.size == payloads.size, "no re-delivery after trim")
    } finally q.stop()
  }

  test("micro-batches respect the batch_size admission quota and deliver all messages") {
    val s = spark
    val clock = new ManualClock(1700000000000L)
    val log = new StreamLog(clock)
    (1 to 10).foreach { i => log.add(Map("i" -> i)); clock.advance(1) }
    val key = StreamLogRegistry.register(log)

    val batchSizes = mutable.ArrayBuffer.empty[Long]
    val seen = mutable.ArrayBuffer.empty[String]
    val q = s.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", "3")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect()
        batchSizes.synchronized {
          batchSizes += rows.length.toLong
          seen ++= rows.map(_.getString(0))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(batchSizes.forall(_ <= 3), s"admission quota violated: $batchSizes")
      assert(batchSizes.sum == 10, s"lost or duplicated messages: $batchSizes")
      assert(batchSizes.count(_ == 3) >= 3, "expected three full batches of 3")
      assert(seen.distinct.size == 10, "exactly-once per epoch")
      assert(seen.toSeq == seen.toSeq.sortBy(StreamId(_)), "delivery in id order")
      // the final epoch's commit lands on the next trigger — require
      // progress, not the very last id yet
      assert(StreamId(MsgId.Zero) < StreamId(StreamLogRegistry.committedId(key)),
        "epoch commit (ack boundary) must advance")
      val wave1Last = seen.toSeq.sortBy(StreamId(_)).last

      // late arrivals are picked up by subsequent triggers
      (11 to 12).foreach { i => log.add(Map("i" -> i)); clock.advance(1) }
      q.processAllAvailable()
      assert(batchSizes.sum == 12)
      assert(StreamId(wave1Last) <= StreamId(StreamLogRegistry.committedId(key)),
        "commit must cover the first wave after the next trigger")
    } finally q.stop()
  }

  test("C1 quota holds end-to-end across failure replay: pending re-delivered inside the same quota") {
    // The reference's count-quota counts a consumer's PENDING items
    // toward the batch (consumer.py:92-103: re-read own pending, then
    // top up to batch_size). The DSv2 twin of "pending" is an epoch
    // that delivered but never committed: after a crash, the SAME
    // offset range is replayed — through planInputPartitions' fallback
    // re-read, since the planned-slice map dies with the stream — and
    // the replay must still fit the quota because the range was
    // admission-capped when first planned. This drives Consumer
    // getItems semantics through the registered source end-to-end:
    // every micro-batch ≤ batchSize, the crashed epoch re-delivered
    // verbatim, nothing lost, nothing delivered twice across DISTINCT
    // epochs.
    val s = spark
    val clock = new ManualClock(1700000000000L)
    val log = new StreamLog(clock)
    (1 to 10).foreach { i => log.add(Map("i" -> i)); clock.advance(1) }
    val key = StreamLogRegistry.register(log)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-c1-replay").toString

    val batches = mutable.ArrayBuffer.empty[Seq[String]]
    @volatile var crashOnce = true
    def start() = s.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", "3")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.collect().map(_.getString(0)).toSeq
        batches.synchronized { batches += ids }
        if (crashOnce && batches.synchronized(batches.size) == 2) {
          crashOnce = false
          // fail AFTER the sink saw the rows, BEFORE the epoch commits:
          // these three messages are now this query's pending items
          throw new RuntimeException("injected crash before ack")
        }
        ()
      }
      .start()

    val q1 = start()
    try q1.processAllAvailable()
    catch { case _: Throwable => () } // the injected crash surfaces here
    try q1.awaitTermination(10000) catch { case _: Throwable => () }
    assert(q1.exception.isDefined, "query 1 must die from the injected crash")

    val q2 = start() // recovery: a fresh stream instance, same checkpoint
    try {
      q2.processAllAvailable()
      val all = batches.synchronized(batches.toList)
      assert(all.forall(_.size <= 3), s"admission quota violated: ${all.map(_.size)}")
      // the crashed epoch (batch 2) is re-delivered verbatim by the
      // recovered query — same ids, same quota (C2/C4 pending re-read)
      assert(all(2) == all(1),
        s"replayed epoch differs from crashed epoch: ${all(2)} vs ${all(1)}")
      // apart from that one replay, delivery is exactly-once and ordered
      val distinctEpochs = all.take(2) ++ all.drop(3)
      val ids = distinctEpochs.flatten
      assert(ids.distinct.size == ids.size, "duplicate delivery outside the replayed epoch")
      assert(ids.size == 10, s"lost messages: got ${ids.size} of 10")
      assert(ids == ids.sortBy(StreamId(_)), "delivery must follow id order")
    } finally q2.stop()
  }

  test("a planned slice whose batch never runs is dropped by the commit past it, the rest by stop") {
    val log = new StreamLog(new ManualClock(1700000000000L))
    (1 to 6).foreach(i => log.add(Map("i" -> i)))
    val key = StreamLogRegistry.register(log)
    try {
      val stream = new StreamLogMicroBatchStream(key, batchSize = 2)
      val limit = stream.getDefaultReadLimit
      val first = stream.latestOffset(stream.initialOffset(), limit)
      val second = stream.latestOffset(first, limit)
      assert(stream.plannedSize == 2) // no planInputPartitions ran for either
      stream.commit(first)
      assert(stream.plannedSize == 1, "the slice past the commit is still to run")
      stream.commit(second)
      assert(stream.plannedSize == 0)
      stream.latestOffset(second, limit)
      stream.stop()
      assert(stream.plannedSize == 0)
    } finally StreamLogRegistry.unregister(key)
  }
}
