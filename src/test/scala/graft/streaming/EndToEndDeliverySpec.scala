package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The reference's full hot path as ONE Spark streaming query
  * (`consumer.py:92-103` deliver→PEL→ack, `test_consumer.py:28-43`
  * count-OR-time batching): the DSv2 [[StreamLogSourceProvider]]
  * delivers under the batch-size admission quota, deliveries and
  * ack/claim commands merge into [[StreamingPel]]'s keyed state, and
  * the latest per-consumer snapshots roll up to the Monitor-shape
  * summary. Round 1 verified the source and the state machine
  * separately; this suite drives them through Spark's actual engine
  * together — the wiring a user migrating off the reference hits first.
  */
class EndToEndDeliverySpec extends SparkTestBase {

  test("source delivery -> PEL state -> ack, at-least-once across a forced redelivery") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val clock = new ManualClock(1700000000000L)
    val log = new StreamLog(clock)
    // consumer assignment rides in the payload (the reference's field
    // map): c0 gets even ids, c1 odd — 6 messages, batchSize 4 so the
    // engine needs at least two micro-batches (C1/C3 quota).
    val ids = (1 to 6).map { i =>
      val id = log.add(Map("c" -> s"c${i % 2}", "at" -> (1000 + i)))
      clock.advance(1); id
    }
    val byConsumer = ids.zipWithIndex.groupMap { case (_, idx) => s"c${(idx + 1) % 2}" } { case (id, _) => id }
    val key = StreamLogRegistry.register(log)

    // Delivery command stream straight off the DSv2 source…
    val delivers = s.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", "4")
      .load()
      .select(
        col("content")("c").as("consumer"),
        col("msgid"),
        lit("deliver").as("action"),
        col("content")("at").cast("long").as("atMs"))
      .as[PelCommand]
    // …merged with the ack/claim command stream (C7/M6).
    val control = MemoryStream[PelCommand]
    val q = StreamingPel.attach(s, delivers.union(control.toDS()))
      .writeStream.format("memory").queryName("e2e_pel").outputMode("update")
      .start()

    def latest(): Map[String, (Int, Int)] =
      s.sql("""SELECT consumer, pendingCount, timesDeliveredMax FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY consumer ORDER BY lastActivityMs DESC) rn
                 FROM e2e_pel) WHERE rn = 1""")
        .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap

    try {
      // Wave 1: everything delivered, nothing acked — PEL holds all 6.
      q.processAllAvailable()
      assert(latest() == Map("c0" -> ((3, 1)), "c1" -> ((3, 1))), s"wave-1 PEL: ${latest()}")

      // c0 acks its batch (C7): its PEL slice drains, c1's untouched.
      control.addData(byConsumer("c0").map(id => PelCommand("c0", id, "ack", 2000L)): _*)
      q.processAllAvailable()
      // timesDeliveredMax is over CURRENT pending entries, so a drained slice reports 0
      assert(latest() == Map("c0" -> ((0, 0)), "c1" -> ((3, 1))), s"post-ack PEL: ${latest()}")

      // Forced redelivery of an unacked c1 message (XREADGROUP 0 /
      // XCLAIM path): at-least-once means the PEL keeps the entry and
      // bumps times_delivered — not a loss, not a duplicate insert.
      control.addData(PelCommand("c1", byConsumer("c1").head, "deliver", 3000L))
      q.processAllAvailable()
      assert(latest() == Map("c0" -> ((0, 0)), "c1" -> ((3, 2))), s"redelivery PEL: ${latest()}")

      // Late wave through the same running query (C3 top-up). atMs must
      // keep advancing past the acks or the latest-snapshot window below
      // ties on lastActivityMs.
      val late = (7 to 8).map { i =>
        val id = log.add(Map("c" -> "c0", "at" -> (3500 + i))); clock.advance(1); id
      }
      q.processAllAvailable()
      assert(latest() == Map("c0" -> ((2, 1)), "c1" -> ((3, 2))), s"wave-2 PEL: ${latest()}")

      // Drain every remaining PEL entry; the Monitor-shape rollup must
      // report a fully-acked group (M1 group summary over snapshots).
      control.addData(
        (byConsumer("c1").map(id => PelCommand("c1", id, "ack", 4000L)) ++
          late.map(id => PelCommand("c0", id, "ack", 4001L))): _*)
      q.processAllAvailable()
      assert(latest() == Map("c0" -> ((0, 0)), "c1" -> ((0, 0))), s"drained PEL: ${latest()}")
      val summary = StreamingPel.groupSummary(
        latest().toSeq.map { case (c, (p, t)) => PelSnapshot(c, p, t, 0L) }.toDS())
        .collect().head
      assert(summary.getLong(0) == 2 && summary.getLong(1) == 0L,
        s"group summary must show 2 consumers / 0 pending: $summary")

      // The source's epoch commit (the offset-log ack boundary) must
      // have advanced past the first wave.
      assert(StreamId(ids.last) <= StreamId(StreamLogRegistry.committedId(key)),
        "source commit must cover wave 1")
    } finally {
      q.stop()
      StreamLogRegistry.unregister(key)
    }
  }
}
