package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own arithmetic: span self time, percentiles, and the
  * metric lists BENCHMARK.json declares. */
class HarnessSpec extends AnyFunSuite {

  private def span(id: Int, start: Double, end: Double) =
    Span(id, s"s$id", -1, start, end, "run", 0.0)

  test("self time subtracts the union of the children, clipped to the span") {
    val p = span(1, 0.0, 100.0)
    assert(Trace.selfMs(p, Nil) == 100.0)
    assert(Trace.selfMs(p, Seq((10.0, 30.0))) == 80.0)
    // overlapping children count once
    assert(Trace.selfMs(p, Seq((10.0, 30.0), (20.0, 40.0))) == 70.0)
    // disjoint children add
    assert(Trace.selfMs(p, Seq((10.0, 20.0), (50.0, 60.0))) == 80.0)
    // parts outside the parent are clipped away
    assert(Trace.selfMs(p, Seq((-50.0, 10.0), (90.0, 150.0))) == 80.0)
    // a child covering the whole parent leaves no self time
    assert(Trace.selfMs(p, Seq((-1.0, 101.0))) == 0.0)
    // empty and inverted intervals cover nothing
    assert(Trace.selfMs(p, Seq((40.0, 40.0), (70.0, 60.0))) == 100.0)
    // order does not matter
    assert(Trace.coveredMs(0, 100, Seq((50.0, 60.0), (10.0, 55.0), (5.0, 8.0))) == 53.0)
  }

  test("nested spans: a parent's self time excludes its child spans") {
    val parent = span(1, 0.0, 10.0)
    val kids = Seq(span(2, 1.0, 4.0), span(3, 4.0, 9.0))
    assert(Trace.selfMs(parent, kids.map(k => (k.startMs, k.endMs))) == 2.0)
  }

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(1000000).contains(99.9))
  }

  test("quantiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 5.0)
    assert(math.abs(Stats.quantile(xs, 0.9) - 4.6) < 1e-12)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("BENCHMARK.json declares exactly the metrics the harness reports") {
    val src = scala.io.Source.fromFile(new java.io.File("../BENCHMARK.json"))
    val json = try src.mkString finally src.close()
    def names(section: String): Seq[String] = {
      val body = json.split("\"" + section + "\"")(1).split("]")(0)
      "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == End2End.names)
    assert(names("per_layer") == Layers.names)
    assert(names("workloads") == Main.Workloads)
  }
}
