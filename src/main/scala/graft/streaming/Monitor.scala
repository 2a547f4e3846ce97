package graft.streaming

import scala.collection.mutable

/** M4-M6 + R1 over [[GroupPort]]s: the reference Monitor's sweep and
  * cleanup loop (`monitor.py:141-209`), written once for [[Monitor]]
  * and [[WireMonitor]]. Classification (M3) and the report grid (R1)
  * are the pure functions of the [[Monitor]] companion.
  */
abstract class MonitorRole private[streaming] (
    batchSize: Int,               // pending-warn threshold, monitor.py:53-54
    idleTimeThresholdMs: Long,    // idle-warn threshold, monitor.py:55
    minWaitTimeMs: Long) {        // XCLAIM min-idle guard, monitor.py:65-68

  /** The groups one sweep visits, in sweep order (M1). */
  private[streaming] def watched: Seq[GroupPort]

  /** The one rule the two monitors differ on, fixed by each constructor:
    *
    *  - `None` ([[Monitor]]): each group's healthy consumer with the
    *    least pending is that group's target, and each dead consumer is
    *    cleaned in its own group (the clean argmin, SURVEY §7.3).
    *  - `Some(own)` ([[WireMonitor]]), the reference rule: the last
    *    healthy consumer seen in any group is the one target
    *    (`monitor.py:161-166`: the zeroed comparison always passes),
    *    and cleanup runs in `own` for every dead consumer
    *    (`common.py:48-85` hard-codes the monitor's group).
    */
  private[streaming] val targetRule: Option[GroupPort]

  private val metrics = mutable.ArrayBuffer.empty[ConsumerMetrics]
  // (group cleanup runs in, dead consumer, its pending) in sweep order,
  // so cleanup rows come out in the order the groups were swept.
  private val unhealthy = mutable.ArrayBuffer.empty[(GroupPort, String, Int)]
  private val targets = mutable.Map.empty[GroupPort, (String, Int)] // by the group cleanup runs in
  private var lastCleanupResults: Seq[(String, Int, Int)] = Nil

  /** M3: pure health classification — pending-warning wins over
    * idle-warning (reference `monitor.py:85-91`). */
  def statusByMetrics(pending: Int, idleMs: Long): String =
    Monitor.statusByMetrics(pending, idleMs, batchSize, idleTimeThresholdMs)

  /** M4 (`monitor.py:141-185`): classify every consumer of every
    * watched group, remember the unhealthy ones, pick the claim target
    * by [[targetRule]]. With `autoCleanup`, rebalances (M5) before
    * returning. */
  def collectMonitoringData(autoCleanup: Boolean = true): Seq[ConsumerMetrics] = {
    metrics.clear(); unhealthy.clear(); targets.clear()
    watched.foreach { p =>
      val home = targetRule.getOrElse(p)
      p.consumerInfo.foreach { case (cid, pending, idleMs) =>
        val status = statusByMetrics(pending, idleMs)
        metrics += ConsumerMetrics(cid, pending, idleMs, status)
        if (status != ConsumerStatus.Ok) unhealthy += ((home, cid, pending))
        else if (targetRule.isDefined || targets.get(home).forall(pending < _._2))
          targets(home) = cid -> pending
      }
    }
    if (autoCleanup) cleanup()
    metrics.toSeq
  }

  /** The claim target the last sweep picked for cleanups in `home`. */
  private[streaming] def target(home: GroupPort): Option[String] = targets.get(home).map(_._1)

  /** Outcome of the last [[cleanup]] pass: (deadConsumer, claimed,
    * lost) per rebalanced consumer. `lost > 0` is the reference's
    * logged-error condition (`monitor.py:125-127`) — this library has
    * no logging dependency, so the loss is surfaced as DATA instead of
    * silently discarded: operators read it here or from cleanup()'s
    * return value. */
  def lastCleanup: Seq[(String, Int, Int)] = lastCleanupResults

  /** M5 driver loop (`monitor.py:186-194`): every unhealthy consumer
    * that has a target, in sweep order; no target, no cleanup
    * (`monitor.py:182-185`). */
  def cleanup(): Seq[(String, Int, Int)] = {
    lastCleanupResults = for ((home, dead, pending) <- unhealthy.toSeq; tc <- target(home))
      yield cleanupUnhealthyConsumer(home, dead, pending, tc)
    lastCleanupResults
  }

  /** M5/M6/G2/G3 (`monitor.py:93-127`): list the dead consumer's PEL,
    * as many entries as the sweep saw pending; claim them for the
    * target with min-idle `minWaitTimeMs`; delete the consumer.
    * Returns (dead, claimed, lost). */
  private[streaming] def cleanupUnhealthyConsumer(
      home: GroupPort, dead: String, pending: Int, targetConsumer: String): (String, Int, Int) = {
    val ids = home.pending(pending, Some(dead)).map(_.id)
    val claimed = if (ids.isEmpty) 0 else home.claim(targetConsumer, minWaitTimeMs, ids).size
    (dead, claimed, home.delConsumer(dead))
  }

  /** R1: grid-style report (reference `monitor.py:195-209`). */
  def renderTable(): String = Monitor.renderTable(metrics.toSeq)

  def printMonitoringData(out: Appendable = System.out): Unit = {
    out.append(renderTable()).append("\n")
    ()
  }
}

/** [[MonitorRole]] on the in-process engine, over the given groups. */
final class Monitor(
    groups: Seq[ConsumerGroup],
    batchSize: Int = 2,
    idleTimeThresholdMs: Long = 30000L,
    minWaitTimeMs: Long = 0L) extends MonitorRole(batchSize, idleTimeThresholdMs, minWaitTimeMs) {
  private[streaming] val watched: Seq[GroupPort] = groups.map(new EnginePort(_))
  private[streaming] val targetRule: Option[GroupPort] = None
}

/** The M3 classification table and R1 rendering as pure functions. */
object Monitor {
  /** M3 (reference `monitor.py:85-91`): pending-warning wins. */
  def statusByMetrics(pending: Int, idleMs: Long,
      batchSize: Int, idleTimeThresholdMs: Long): String =
    if (pending > batchSize) ConsumerStatus.PendingWarn
    else if (idleMs > idleTimeThresholdMs) ConsumerStatus.IdleWarn
    else ConsumerStatus.Ok

  /** R1 (reference `monitor.py:195-209`). */
  def renderTable(metrics: Seq[ConsumerMetrics]): String = {
    val header = Seq("Consumer id", "Idle time", "Pending items", "Status")
    val rows = metrics.map(m =>
      Seq(m.consumerId, m.idleTimeMs.toString, m.pendingItems.toString, m.status))
    val widths = (header +: rows).transpose.map(_.map(_.length).max)
    def line(cells: Seq[String]) =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
    (Seq(sep, line(header), sep) ++ rows.map(line) :+ sep).mkString("\n")
  }
}
