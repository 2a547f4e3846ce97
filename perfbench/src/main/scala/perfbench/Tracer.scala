package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a root span; spans
  * with the same `trace` were caused by the same loop iteration. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long, phase: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are wrapped around the benchmark's
  * calls into each layer, never inside the library. A disabled tracer
  * runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val buffers = new ConcurrentLinkedQueue[mutable.ArrayBuffer[Span]]
  private val local = ThreadLocal.withInitial[mutable.ArrayBuffer[Span]] { () =>
    val b = mutable.ArrayBuffer.empty[Span]; buffers.add(b); b
  }
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** "live" while the workload's own loop runs; "probe:<loop>" while
    * another loop runs only to measure layers the workload does not use. */
  @volatile var phase: String = "live"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val (parent, trace) = stack match {
        case (p, t) :: _ => (p, t)
        case Nil         => (0L, id)
      }
      open.set((id, trace) :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        local.get += Span(id, parent, trace, name, t0, t1, phase)
      }
    }

  /** All spans; call only after every recording thread has finished. */
  def spans: Seq[Span] = buffers.asScala.toSeq.flatMap(_.toList)

  /** Per span name: calls, total and self time (duration minus the part
    * covered by direct children), in phase order. */
  def selfTimeTable: String = {
    val all = spans
    val childNs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent != 0L) childNs(s.parent) += s.durNs)
    val rows = all.groupBy(s => (s.phase, s.name)).toSeq.map { case ((ph, name), ss) =>
      val total = ss.map(_.durNs).sum
      val self = ss.map(s => s.durNs - childNs(s.id)).sum
      (ph, name, ss.size, total / 1e6, self / 1e6)
    }.sortBy(r => (r._1, -r._5))
    val header = f"${"phase"}%-20s ${"span"}%-36s ${"calls"}%9s ${"total_ms"}%12s ${"self_ms"}%12s"
    (header +: rows.map { case (ph, n, c, t, s) => f"$ph%-20s $n%-36s $c%9d $t%12.3f $s%12.3f" })
      .mkString("\n")
  }

  /** Writes the first [[Tracer.JsonlPerPhase]] spans of each phase, by
    * start time, as JSONL, so that a long live phase does not crowd out
    * the probes; returns how many spans were written and how many were
    * recorded. */
  def writeJsonl(file: File): (Int, Int) = {
    val out = new PrintWriter(file, "UTF-8")
    try {
      val all = spans
      val ss = all.groupBy(_.phase).values.flatMap(_.sortBy(_.startNs).take(Tracer.JsonlPerPhase))
        .toSeq.sortBy(_.startNs)
      ss.foreach { s =>
        out.println(s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
          s""""parent":${s.parent},"trace":${s.trace},"id":${s.id},"phase":"${s.phase}"}""")
      }
      (ss.size, all.size)
    } finally out.close()
  }
}

object Tracer {
  val Off = new Tracer(false)
  /** Keeps a traced run's JSONL under ~10 MB a phase. */
  val JsonlPerPhase = 50000
}
