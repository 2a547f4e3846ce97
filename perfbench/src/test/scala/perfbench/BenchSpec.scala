package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the percentile helper agrees with an exact sort") {
    val r = new scala.util.Random(7)
    for (n <- Seq(1, 2, 3, 10, 99, 100, 101, 1000, 4097); q <- Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)) {
      val xs = Array.fill(n)(r.nextInt(1000).toLong - 200)
      val sorted = xs.sorted
      // the nearest-rank definition, by counting: the smallest sample
      // with at least q·n samples at or below it
      val need = (BigDecimal(q) * n).setScale(0, BigDecimal.RoundingMode.CEILING).toLong.max(1L)
      val expected = sorted.find(v => xs.count(_ <= v) >= need).get
      assert(Stats.percentile(xs, q) == expected, s"n=$n q=$q")
    }
  }

  test("the tail quantile keeps ten samples beyond it") {
    assert(Stats.tailQuantile(100000) == 0.99)
    assert(Stats.tailQuantile(1000) == 0.99)
    for (n <- Seq(21, 50, 66, 500, 999)) {
      val q = Stats.tailQuantile(n)
      assert(n - Stats.rank(n, q) - 1 >= 10, s"n=$n q=$q")
      assert(q >= 0.5 && q <= 0.99)
    }
  }

  test("the same seed gives the same inputs, another seed other inputs") {
    val a = new Inputs(42); val b = new Inputs(42); val c = new Inputs(43)
    assert(a.payloads.toSeq == b.payloads.toSeq)
    assert(a.crashes(60000, 5000, 3000, 4) == b.crashes(60000, 5000, 3000, 4))
    assert(a.payloads.toSeq != c.payloads.toSeq)
    assert(a.crashes(60000, 5000, 3000, 4) != c.crashes(60000, 5000, 3000, 4))
    val crashes = a.crashes(10000, 5000, 3000, 4)
    assert(crashes.size == 1 && crashes.forall { case (t, v) => t <= 7000 && v >= 0 && v < 4 })
    // shaped like the fixtures' `events` rows
    assert(a.payloads.forall { p =>
      p.map(_._1) == Inputs.Fields && Inputs.EventTypes.contains(p(3)._2) &&
      p(4)._2.toDouble > 0 && p(5)._2.matches("""\{"k": \d{1,2}\}""")
    })
    assert(a.payloads.map(_(0)._2.toLong).sliding(2).forall { case Array(x, y) => y == x + 1 })
    assert(a.payloads.map(_(1)._2).sliding(2).forall { case Array(x, y) => x <= y })
  }

  test("the load guard counts threads plus connections in every phase of a run") {
    assert(Main.phases("wire-shallow", trace = false).map(_.name) == Seq("live"))
    assert(Main.phases("wire-shallow", trace = true).map(_.name) ==
      Seq("live", "probe:engine", "probe:wire-inprocess", "probe:source"))
    assert(Main.phases("engine-deep", trace = true).map(_.name) ==
      Seq("live", "probe:wire-tcp", "probe:wire-inprocess", "probe:source"))
    // peak: the wire loop over TCP, two client threads on two connections
    for (w <- Config.Workloads) assert(Main.phases(w, trace = true).map(_.load.total).max == 4)
    assert(Config.parse(Seq("--workload", "engine-deep", "--seed", "1", "--seconds", "1", "--trace", "0",
      "--out", "x")).isLeft)
  }

  // The metric names and units a run prints, checked against the
  // benchmark definition at the repository root.
  private lazy val declared: Map[String, Seq[(String, String)]] = {
    val text = new String(Files.readAllBytes(new File("BENCHMARK.json").toPath), "UTF-8")
    val json = org.json4s.jackson.JsonMethods.parse(text)
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    Seq("end_to_end", "per_layer").map { k =>
      k -> (json \ k).extract[List[Map[String, Any]]].map(m => m("name").toString -> m("unit").toString)
    }.toMap
  }

  test("BENCHMARK.json names exactly the metrics the benchmark prints") {
    assert(declared("end_to_end") == Main.EndToEnd)
    assert(declared("per_layer") == Main.PerLayer)
  }

  for (w <- Config.Workloads; trace <- Seq(false, true)) {
    test(s"smoke: $w ${if (trace) "traced" else "untraced"} prints every metric and passes its audits") {
      val root = new File(".bench_build")
      root.mkdirs()
      val out = Files.createTempDirectory(root.toPath, "smoke-").toFile
      try {
        val r = Main.run(Config(w, seed = 3, seconds = 2.0, trace = trace, out = out))
        assert(r.audits.isEmpty, r.audits.mkString("; "))
        assert(r.correct && r.attempted > 0)
        val want = if (trace) Main.PerLayer else Main.EndToEnd
        assert(r.metrics.map(m => m._1 -> m._3) == want)
        if (!trace) assert(r.metrics.forall(_._2 > 0), r.metrics.mkString(", "))
        assert(r.json.startsWith("{\"correct\": true"))
        if (trace) assert(new File(out, s"layers-$w-seed3.txt").isFile)
      } finally {
        Option(out.listFiles).foreach(_.foreach(_.delete()))
        out.delete()
      }
    }
  }
}
