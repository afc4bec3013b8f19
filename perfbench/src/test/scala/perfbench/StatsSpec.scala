package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reportable only with ten samples ranked above it") {
    assert(Stats.samplesFor(0.50) == 20)
    assert(Stats.samplesFor(0.90) == 100)
    assert(Stats.samplesFor(0.95) == 200)
    assert(Stats.reportable(200, 0.95) && !Stats.reportable(199, 0.95))
    assert(Stats.reportable(20, 0.50) && !Stats.reportable(19, 0.50))
    assert(Stats.beyond(0, 0.5) == 0)
  }

  test("nearest-rank percentiles and the plain median") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.50) == 50.0)
    assert(Stats.percentile(xs, 0.90) == 90.0)
    assert(Stats.percentile(xs, 1.00) == 100.0)
    assert(Stats.percentile(Seq(7.0), 0.95) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the gap is span time that no busy interval covers") {
    val spans = Seq((0.0, 10.0), (5.0, 20.0), (30.0, 40.0))
    val busy = Seq((2.0, 4.0), (3.0, 6.0), (18.0, 32.0), (50.0, 60.0))
    // spans cover [0,20) and [30,40): 30; busy covers 4 + 2 + 2 of it
    assert(Intervals.length(spans) == 30.0)
    assert(Intervals.gap(spans, busy) == 22.0)
    assert(Intervals.gap(spans, Nil) == 30.0)
  }
}
