package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median takes the middle sample, or the mean of the two middle ones") {
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("geomean is the n-th root of the product and rejects non-positive samples") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(2.0, 2.0, 2.0)) - 2.0) < 1e-12)
    intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
    intercept[IllegalArgumentException](Stats.geomean(Nil))
  }

  test("the highest supported percentile keeps at least ten samples beyond it") {
    assert(Stats.highestPercentile(0).isEmpty)
    assert(Stats.highestPercentile(99).isEmpty)
    assert(Stats.highestPercentile(100).contains(90.0))
    assert(Stats.highestPercentile(999).contains(90.0))
    assert(Stats.highestPercentile(1000).contains(99.0))
    assert(Stats.highestPercentile(10000).contains(99.9))
  }

  test("percentile is nearest-rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
    assert(Stats.percentile(Seq(7.0), 50) == 7.0)
  }
}
