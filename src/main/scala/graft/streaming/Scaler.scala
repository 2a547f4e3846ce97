package graft.streaming

/** S1-S5 over a [[GroupPort]]: the reference Scaler (`scaler.py:36-117`),
  * written once for [[Scaler]] and [[WireScaler]]. Returns `(rate,
  * suggestion)` where rate is the backlog/pending utilization
  * percentage and suggestion ∈ {OUT, IN, NO_SCALE}.
  */
abstract class ScalerRole private[streaming] {

  private[streaming] def port: GroupPort

  /** S1 (`scaler.py:36-63`): (backlog, pending) — backlog is the
    * messages not yet delivered to the group, as the adapter counts it. */
  def collectMetrics(): (Int, Int) = port.scalerSignals match { case (backlog, pending, _) => (backlog, pending) }

  /** S5 (`scaler.py:99-117`, defaults out=50, in=10) on freshly
    * collected signals: an advisor must not decide on stale values. */
  def getScaleDecision(scaleOutRate: Int = 50, scaleInRate: Int = 10): (Double, String) =
    port.scalerSignals match { case (b, p, c) => Scaler.decide(b, p, c, scaleOutRate, scaleInRate) }
}

/** [[ScalerRole]] on the in-process engine. Its S1 backlog is the
  * count of ids in (last-delivered, last-generated]: the value the
  * reference's inclusive XRANGE minus 1 intends (`scaler.py:49-62`). */
final class Scaler(log: StreamLog, groupName: String) extends ScalerRole {

  val group: ConsumerGroup = ConsumerGroup.create(log, groupName) // G1 bootstrap
  private[streaming] val port: GroupPort = new EnginePort(group)

  def calculateRate(backlog: Int, pending: Int): Double =
    Scaler.calculateRate(backlog, pending)

  def validateScalingParams(scaleOutRate: Int, scaleInRate: Int): Unit =
    Scaler.validateScalingParams(scaleOutRate, scaleInRate)

  def calculateScale(
      rate: Double, backlog: Int, consumers: Int,
      scaleOutRate: Int, scaleInRate: Int): String =
    Scaler.calculateScale(rate, backlog, consumers, scaleOutRate, scaleInRate)
}

/** The pure S2-S5 arithmetic, shared by [[ScalerRole]] and the
  * streaming-offset [[StreamingScaler]] below. */
object Scaler {

  /** S5 (`scaler.py:99-117`): validate → rate → decide. */
  def decide(backlog: Int, pending: Int, consumers: Int,
      scaleOutRate: Int, scaleInRate: Int): (Double, String) = {
    validateScalingParams(scaleOutRate, scaleInRate)
    val rate = calculateRate(backlog, pending)
    (rate, calculateScale(rate, backlog, consumers, scaleOutRate, scaleInRate))
  }

  /** S2: utilization rate = round(clamp(backlog/pending·100, 1, 100), 4);
    * 0 when EITHER backlog or pending is 0 — the reference's
    * `all([stream_length, stream_pending])` guard (`scaler.py:74-83`)
    * leaves the rate at 0 unless both are nonzero, which the decision
    * table relies on ((0, 2) → NO_SCALE in `test_scaler.py:11-32`). */
  def calculateRate(backlog: Int, pending: Int): Double =
    if (pending == 0 || backlog == 0) 0.0
    else {
      val raw = backlog.toDouble / pending * 100.0
      BigDecimal(math.min(math.max(raw, 1.0), 100.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

  /** S4: threshold validation — requires 0 ≤ in < out ≤ 100 (strict
    * in < out, reference `scaler.py:65-72`). */
  def validateScalingParams(scaleOutRate: Int, scaleInRate: Int): Unit = {
    require(scaleInRate >= 0 && scaleInRate <= 100,
      s"scale_in_rate must be within [0, 100]: $scaleInRate")
    require(scaleOutRate >= 0 && scaleOutRate <= 100,
      s"scale_out_rate must be within [0, 100]: $scaleOutRate")
    require(scaleInRate < scaleOutRate,
      s"scale_in_rate ($scaleInRate) must be lower than scale_out_rate ($scaleOutRate)")
  }

  /** S3: decision table, evaluated in reference order
    * (`scaler.py:85-97`). */
  def calculateScale(
      rate: Double, backlog: Int, consumers: Int,
      scaleOutRate: Int, scaleInRate: Int): String =
    if (rate == 0.0 && backlog == 0) Scale.NoScale
    else if (rate == 0.0 && backlog >= 1) Scale.Out
    else if (rate < scaleInRate && consumers > 1) Scale.In
    else if (rate >= scaleOutRate) Scale.Out
    else Scale.NoScale
}

/** The Scaler's live twin for Structured Streaming: S1's cursors mapped
  * onto the DSv2 offset model of [[StreamLogSourceProvider]]
  * (reference `scaler.py:36-63` semantics, no consumer group needed):
  *
  *  - the '''delivered''' cursor is a resolved end offset of the running
  *    query (its offset WAL / `StreamingQueryProgress.sources.endOffset`
  *    — [[LogOffset]] serializes as the raw stream id);
  *  - the '''acked''' cursor is the source's last epoch commit
  *    ([[StreamLogRegistry.committedId]], written by
  *    `StreamLogMicroBatchStream.commit` — the C7 ack boundary);
  *  - '''backlog''' = ids past the delivered cursor (S1's
  *    never-delivered ⇒ XLEN / caught-up ⇒ 0 / else count rules);
  *  - '''pending''' = ids delivered but not yet epoch-committed — the
  *    PEL's cardinality in offset arithmetic: (acked, delivered].
  *
  * Rate and decision reuse the exact S2/S3 tables from [[Scaler]].
  */
final class StreamingScaler(logKey: String) {

  private def log = StreamLogRegistry.get(logKey)

  /** S1, offset-based. @param deliveredUpTo a resolved end offset of
    * the running query (offset WAL entry or progress endOffset).
    *
    * Caveat (documented, not a defect of the PEL path): `pending`
    * counts delivered-but-uncommitted ids still PRESENT in the log
    * buffer, so a MAXLEN trim that drops delivered-but-uncommitted
    * messages undercounts it — pair aggressive producer-side trimming
    * with the PEL-based [[Scaler.collectMetrics]], whose pending is
    * tracked independently of the buffer ([[ConsumerGroup]] state). */
  def collectMetrics(deliveredUpTo: String): (Int, Int) = {
    // One snapshot: an XADD between two separate counts would skew
    // pending by the messages it added.
    val (backlog, sinceAck) = log.countsAfter(deliveredUpTo, StreamLogRegistry.committedId(logKey))
    (backlog, math.max(0, sinceAck - backlog))
  }

  /** S5 from live offsets ([[Scaler.decide]]).
    * @param consumers the running query's delivery parallelism (the
    *        consumer-count analog in the S3 table) */
  def getScaleDecision(deliveredUpTo: String, consumers: Int,
      scaleOutRate: Int = 50, scaleInRate: Int = 10): (Double, String) = {
    val (backlog, pending) = collectMetrics(deliveredUpTo)
    Scaler.decide(backlog, pending, consumers, scaleOutRate, scaleInRate)
  }
}
