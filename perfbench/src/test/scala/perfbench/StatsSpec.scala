package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between order statistics") {
    assert(Stats.median(Seq(3d, 1d, 2d)) === 2d)
    assert(Stats.median(Seq(1d, 2d, 3d, 4d)) === 2.5)
    assert(Stats.percentile(Seq(0d, 10d), 75) === 7.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("a tail percentile is reported only with ten samples beyond it") {
    assert(Stats.tailPercentile(19) === None)
    assert(Stats.tailPercentile(20) === Some(50d))
    assert(Stats.tailPercentile(39) === Some(50d))
    assert(Stats.tailPercentile(40) === Some(75d))
    assert(Stats.tailPercentile(100) === Some(90d))
    assert(Stats.tailPercentile(200) === Some(95d))
    assert(Stats.tailPercentile(1000) === Some(99d))
    assert(Stats.tailPercentile(10000) === Some(99.9))
    assert(Stats.label(95d) === "95" && Stats.label(99.9) === "99.9")
  }
}
