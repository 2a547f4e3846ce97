package perfbench

import scala.collection.mutable

/** What one run of a loop measured. Times are nanoseconds. Each worker
  * thread fills its own instance; they are merged after the join. */
final class Measured {
  val read = new Timed
  val write = new Timed
  val deliver = new Timed
  /** Completion instants of the messages the loop finished in its timed
    * window (acked, or seen by the sink). */
  val done = new Samples
  /** When the timed window opened. */
  var start = 0L
  var attempted = 0L
  var failed = 0L
  /** Audit violations, one line each. */
  val audits = mutable.ArrayBuffer.empty[String]
  /** Per-layer values that are not span timings: counts, gauges and the
    * Spark progress phases. */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def merge(o: Measured): Unit = {
    read.addAll(o.read); write.addAll(o.write); deliver.addAll(o.deliver); done.addAll(o.done)
    attempted += o.attempted; failed += o.failed
    audits ++= o.audits
  }

  def fail(what: String): Unit = { audits += what; failed += 1 }

  /** Messages per second: the median over the whole seconds of the
    * window, so that one stalled second does not move the figure. */
  def throughput(seconds: Double): Double = {
    val whole = seconds.toInt
    val ts = done.toArray
    if (whole < 1) ts.length / seconds
    else {
      val per = new Array[Double](whole)
      ts.foreach { t =>
        val w = ((t - start) / 1000000000L).toInt
        if (w >= 0 && w < whole) per(w) += 1
      }
      Stats.median(per)
    }
  }
}
