package graft.streaming

/** Runnable end-to-end example of the protocol layer, mirroring the
  * reference's `example_implementation/` trio (producer.py /
  * consumer.py / scaler.py): produce a burst, consume in batches with
  * acks, leave one consumer overloaded, run the monitoring sweep with
  * auto-cleanup, and ask the scaler for a decision.
  *
  * Run: `sbt "runMain graft.streaming.ProtocolDemo"`
  */
object ProtocolDemo {
  def main(args: Array[String]): Unit = {
    val clock = new ManualClock(1700000000000L)
    val log = new StreamLog(clock)

    // P1/P2: producer with approximate retention
    (1 to 40).foreach { i =>
      log.add(Map("iteration" -> i, "payload" -> s"item-$i"), maxlen = Some(64))
      clock.advance(25)
    }
    println(s"produced 40 messages, XLEN=${log.len}, last=${log.lastGeneratedId}")

    // C1-C8: two consumers collecting batches; worker-1 acks, worker-2 doesn't
    val w1 = new Consumer(log, "grp", "worker-1", batchSize = 10,
      maxWaitTimeMs = 2000, pollTimeMs = 250)
    val w2 = new Consumer(log, "grp", "worker-2", batchSize = 10,
      maxWaitTimeMs = 2000, pollTimeMs = 250)
    val b1 = w1.getItems()
    b1.foreach(m => w1.removeItemFromConsumerGroup(m.msgid))   // healthy: processes+acks
    val b2 = w2.getItems()                                     // unhealthy: never acks
    println(s"worker-1 batch=${b1.size} (acked), worker-2 batch=${b2.size} (stuck)")
    println(s"group pending=${w1.group.pendingCount}, last-delivered=${w1.group.lastDelivered}")

    // M1-M7 + R1: monitoring sweep with auto-cleanup
    val monitor = new Monitor(Seq(w1.group), batchSize = 5,
      idleTimeThresholdMs = 60000, minWaitTimeMs = 0)
    monitor.collectMonitoringData(autoCleanup = true)
    monitor.printMonitoringData()
    println(s"after cleanup: consumers=${w1.group.consumers.mkString(",")}, " +
      s"worker-1 pending=${w1.group.pendingOf("worker-1").size}")

    // S1-S5: scale decision
    val scaler = new Scaler(log, "grp")
    val (backlog, pending) = scaler.collectMetrics()
    val (rate, suggestion) = scaler.getScaleDecision(scaleOutRate = 50, scaleInRate = 10)
    println(s"backlog=$backlog pending=$pending rate=$rate suggestion=$suggestion")

    // S4 guard: invalid thresholds must be rejected
    try { scaler.getScaleDecision(scaleOutRate = 10, scaleInRate = 50); println("BUG: no error") }
    catch { case e: IllegalArgumentException => println(s"rejected bad thresholds: ${e.getMessage}") }

    // DataSource V2 micro-batch source: batch_size admission control
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val key = StreamLogRegistry.register(log)
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", "16")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        sizes.synchronized { sizes += df.count() }
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    println(s"streaming source micro-batch sizes (quota 16): ${sizes.mkString(",")}")

    // Stream-to-stream pipeline: source → transform → XADD sink
    val dst = new StreamLog(clock)
    val dstKey = StreamLogRegistry.register(dst)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-demo-ckpt").toString
    val pipe = spark.readStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", key).option("batchSize", "16")
      .load()
      .selectExpr("msgid", "map('payload', content['payload']) AS content")
      .writeStream
      .format("graft.streaming.StreamLogSourceProvider")
      .option("log", dstKey).option("checkpointLocation", ckpt)
      .start()
    pipe.processAllAvailable(); pipe.stop()
    println(s"sink log after pipeline: XLEN=${dst.len}, first=${dst.range().head.content}")
    spark.stop()
  }
}
