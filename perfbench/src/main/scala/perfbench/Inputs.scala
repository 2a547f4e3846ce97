package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** Everything a workload generates from its seed: the message payloads
  * and the crash schedule.
  *
  * A payload is one row of the `events` table that plays the Redis
  * stream in the repository's fixtures (FIXTURES.md, "Stream +
  * LLM-pipeline tables"): `event_id`, `ts`, `user_id`, `event_type`,
  * `value` and `props`, each as the string a stream entry carries. The
  * value distributions follow the sf0.1 `events.parquet`: ids in
  * sequence, timestamps from 2024-01-01 with exponential gaps (mean
  * 26 s), users uniform over 1500, the five event types uniform, values
  * exponential with mean 50 at two decimals, and `props` a one-key JSON
  * object `{"k": n}` with n uniform in 0..99. The seed picks the values,
  * and with them each field's length; the shape is the same for every
  * seed, so seeds change the bytes, not the expected cost. */
final class Inputs(seed: Long) {

  /** A fixed pool of payloads, cycled by the producers so that message
    * generation costs nothing inside the timed loop. */
  val payloads: Array[Vector[(String, String)]] = {
    val r = new SplittableRandom(seed)
    val firstId = r.nextLong(1000000L)
    var tsUs = Inputs.EpochUs
    Array.tabulate(Inputs.PoolSize) { i =>
      tsUs += Inputs.exponential(r, Inputs.MeanGapUs).toLong
      Vector(
        "event_id" -> (firstId + i).toString,
        "ts" -> Inputs.timestamp(tsUs),
        "user_id" -> r.nextInt(Inputs.Users).toString,
        "event_type" -> Inputs.EventTypes(r.nextInt(Inputs.EventTypes.length)),
        "value" -> "%.2f".formatLocal(Locale.ROOT, math.max(0.01, Inputs.exponential(r, 50.0))),
        "props" -> s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** The same payloads as the maps the in-process log takes. */
  val maps: Array[Map[String, Any]] = payloads.map(_.toMap[String, Any])

  /** Crash times (ms since the timed window opened) and the victim
    * index drawn for each: one crash every `everyMs`, jittered by up to
    * ±20 %, none in the last `quietMs` so the rebalance completes before
    * the drain deadline. */
  def crashes(windowMs: Long, everyMs: Long, quietMs: Long, victims: Int): Vector[(Long, Int)] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Iterator.from(1).map { k =>
      val jitter = (r.nextDouble() - 0.5) * 0.4 * everyMs
      (k * everyMs + jitter.toLong, r.nextInt(victims))
    }.takeWhile(_._1 <= windowMs - quietMs).toVector
  }
}

object Inputs {
  val PoolSize = 4096
  val Fields = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
  val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Users = 1500
  private val EpochUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val MeanGapUs = 26e6
  private val TsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  private def exponential(r: SplittableRandom, mean: Double): Double = -mean * math.log(1.0 - r.nextDouble())
  private def timestamp(us: Long): String =
    TsFormat.format(Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
}
