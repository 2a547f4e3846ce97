package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Ports of the reference monitor/scaler decision-table tests
  * (test_monitor.py, test_scaler.py) plus ScalaCheck properties for the
  * pure classification/clamping functions. */
class MonitorScalerSpec extends AnyFunSuite {

  /** Run a ScalaCheck property inside a ScalaTest test (no
    * scalatestplus bridge available offline). */
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  private def fixture(): (ManualClock, StreamLog) = {
    val clock = new ManualClock(1700000000000L)
    (clock, new StreamLog(clock))
  }

  // --- M3 classification (test_monitor.py:12-42, 69-91) ---

  test("too many pending wins over idle; idle warns past threshold") {
    val (clock, log) = fixture()
    val m = new Monitor(Nil, batchSize = 2, idleTimeThresholdMs = 10)
    assert(m.statusByMetrics(pending = 3, idleMs = 0) == ConsumerStatus.PendingWarn)
    assert(m.statusByMetrics(pending = 3, idleMs = 99999) == ConsumerStatus.PendingWarn)
    assert(m.statusByMetrics(pending = 2, idleMs = 11) == ConsumerStatus.IdleWarn)
    assert(m.statusByMetrics(pending = 0, idleMs = 5) == ConsumerStatus.Ok)
  }

  test("idle classification after simulated sleep (test_monitor.py:69-91)") {
    val (clock, log) = fixture()
    (1 to 2).foreach(i => log.add(Map("i" -> i)))
    val g = ConsumerGroup.create(log, "mon-idle")
    g.readNew("c1", 1)
    clock.advance(1000)
    val m = new Monitor(Seq(g), batchSize = 2, idleTimeThresholdMs = 10)
    val metrics = m.collectMonitoringData(autoCleanup = false)
    assert(metrics.map(_.status) == Seq(ConsumerStatus.IdleWarn))
  }

  // --- M4/M5 sweep + auto-cleanup (test_monitor.py:12-42) ---

  test("auto-cleanup claims the unhealthy consumer's items for the healthy argmin target") {
    val (clock, log) = fixture()
    (1 to 4).foreach(i => log.add(Map("i" -> i)))
    val g = ConsumerGroup.create(log, "mon-clean")
    g.readNew("overloaded", 3)          // 3 pending > batchSize=2 → unhealthy
    g.readNew("healthy", 1)             // 1 pending → OK, argmin target
    val m = new Monitor(Seq(g), batchSize = 2, idleTimeThresholdMs = 60000)
    m.collectMonitoringData(autoCleanup = true)
    assert(!g.consumers.contains("overloaded"), "unhealthy consumer deleted")
    assert(g.pendingOf("healthy").size == 4, "items claimed before deletion, none lost")
    assert(g.pendingOf("healthy").map(_.timesDelivered).max == 2)
  }

  test("cleanup rows follow the order the groups were passed") {
    val (clock, log) = fixture()
    (1 to 2).foreach(i => log.add(Map("i" -> i)))
    // created in one order, passed in another, neither of them name order
    val groups = Seq("mon-b", "mon-c", "mon-a").map(ConsumerGroup.create(log, _))
    groups.foreach(g => g.readNew(s"${g.name}-dead", 1))
    clock.advance(5000)
    groups.foreach(g => g.readNew(s"${g.name}-live", 1))
    val passed = Seq(groups(2), groups(0), groups(1))
    val m = new Monitor(passed, batchSize = 2, idleTimeThresholdMs = 1000)
    m.collectMonitoringData()
    assert(m.lastCleanup == passed.map(g => (s"${g.name}-dead", 1, 0)))
    assert(passed.forall(g => g.consumers == Seq(s"${g.name}-live") && g.pendingOf(s"${g.name}-live").size == 2))
  }

  test("report renders a grid with all four columns (test_monitor.py:44-67)") {
    val (clock, log) = fixture()
    (1 to 2).foreach(i => log.add(Map("i" -> i)))
    val g = ConsumerGroup.create(log, "mon-render")
    g.readNew("c1", 2)
    val m = new Monitor(Seq(g))
    m.collectMonitoringData(autoCleanup = false)
    val sb = new java.lang.StringBuilder
    m.printMonitoringData(sb)
    val out = sb.toString
    Seq("Consumer id", "Idle time", "Pending items", "Status", "c1").foreach(h =>
      assert(out.contains(h), s"missing '$h' in:\n$out"))
  }

  test("ConsumerMetrics JSON rendering (monitor.py:37-44)") {
    val j = ConsumerMetrics("c1", 2, 30, ConsumerStatus.Ok).toJson
    assert(j == """{"consumer_id": "c1", "pending_items": 2, "idle_time": 30, "status": "OK"}""")
  }

  // --- Scaler decision table (test_scaler.py) ---

  test("(backlog 0, pending 2) → rate 0, NO_SCALE (test_scaler.py:11-32)") {
    val (clock, log) = fixture()
    (1 to 2).foreach(i => log.add(Map("i" -> i)))
    val sc = new Scaler(log, "sc-1")
    sc.group.readNew("c1", 2)           // fully delivered, unacked
    assert(sc.collectMetrics() == ((0, 2)))
    assert(sc.getScaleDecision() == ((0.0, Scale.NoScale)))
  }

  test("(backlog 1, pending 2) → rate 50 → OUT at out=50 (test_scaler.py:34-58)") {
    val (clock, log) = fixture()
    (1 to 3).foreach(i => log.add(Map("i" -> i)))
    val sc = new Scaler(log, "sc-2")
    sc.group.readNew("c1", 2)           // one message still undelivered
    assert(sc.collectMetrics() == ((1, 2)))
    assert(sc.getScaleDecision(scaleOutRate = 50, scaleInRate = 10) == ((50.0, Scale.Out)))
  }

  test("rate 50 < in=75 with 2 consumers → IN (test_scaler.py:60-99)") {
    val (clock, log) = fixture()
    (1 to 3).foreach(i => log.add(Map("i" -> i)))
    val sc = new Scaler(log, "sc-3")
    sc.group.readNew("c1", 1)
    sc.group.readNew("c2", 1)
    assert(sc.getScaleDecision(scaleOutRate = 76, scaleInRate = 75) == ((50.0, Scale.In)))
  }

  test("pending 0 with backlog ≥ 1 → rate 0 → OUT") {
    val (clock, log) = fixture()
    (1 to 2).foreach(i => log.add(Map("i" -> i)))
    val sc = new Scaler(log, "sc-4")
    sc.group.readNew("c1", 0)           // consumer registered, nothing delivered
    assert(sc.getScaleDecision() == ((0.0, Scale.Out)))
  }

  test("empty stream → (0, NO_SCALE) (test_scaler.py:138-144)") {
    val (clock, log) = fixture()
    val sc = new Scaler(log, "sc-5")
    assert(sc.getScaleDecision() == ((0.0, Scale.NoScale)))
  }

  test("threshold validation errors (test_scaler.py:129-136)") {
    val (clock, log) = fixture()
    val sc = new Scaler(log, "sc-6")
    intercept[IllegalArgumentException](sc.getScaleDecision(101, 10))
    intercept[IllegalArgumentException](sc.getScaleDecision(50, -1))
    intercept[IllegalArgumentException](sc.getScaleDecision(10, 50))
    intercept[IllegalArgumentException](sc.getScaleDecision(50, 50))
  }

  // --- ScalaCheck properties over the pure functions ---

  private val scaler = {
    val (clock, log) = fixture()
    new Scaler(log, "sc-prop")
  }

  test("property: rate is 0 or clamped to [1, 100] with 4-decimal scale") {
    check(Prop.forAll(Gen.chooseNum(0, 100000), Gen.chooseNum(0, 100000)) {
      (backlog: Int, pending: Int) =>
        val r = scaler.calculateRate(backlog, pending)
        (r == 0.0 || (r >= 1.0 && r <= 100.0)) &&
          BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble == r &&
          (!(backlog == 0 || pending == 0) || r == 0.0)
    })
  }

  test("property: rate is monotone in backlog for fixed pending > 0") {
    check(Prop.forAll(Gen.chooseNum(1, 10000), Gen.chooseNum(0, 10000), Gen.chooseNum(0, 10000)) {
      (pending: Int, b1: Int, b2: Int) =>
        val (lo, hi) = if (b1 <= b2) (b1, b2) else (b2, b1)
        scaler.calculateRate(lo, pending) <= scaler.calculateRate(hi, pending)
    })
  }

  test("property: validation accepts exactly 0 <= in < out <= 100") {
    check(Prop.forAll(Gen.chooseNum(-10, 110), Gen.chooseNum(-10, 110)) { (out: Int, in: Int) =>
      val ok = in >= 0 && in <= 100 && out >= 0 && out <= 100 && in < out
      val threw = try { scaler.validateScalingParams(out, in); false }
        catch { case _: IllegalArgumentException => true }
      threw == !ok
    })
  }

  test("property: classification precedence is total and pending-first") {
    val (_, log) = fixture()
    val m = new Monitor(Nil, batchSize = 5, idleTimeThresholdMs = 1000)
    check(Prop.forAll(Gen.chooseNum(0, 20), Gen.chooseNum(0L, 5000L)) { (pending: Int, idle: Long) =>
      val s = m.statusByMetrics(pending, idle)
      if (pending > 5) s == ConsumerStatus.PendingWarn
      else if (idle > 1000) s == ConsumerStatus.IdleWarn
      else s == ConsumerStatus.Ok
    })
  }
}
