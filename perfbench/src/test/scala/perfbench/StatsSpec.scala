package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail percentile is the highest ladder step with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19) == 50.0) // too few for any step: falls back to the median
    assert(Stats.tailPercentile(20) == 50.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(99) == 75.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(199) == 90.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(10000) == 99.9)
    for (n <- 1 to 3000) {
      val p = Stats.tailPercentile(n)
      val beyond = n - math.ceil(n * p / 100.0 - 1e-9).toInt
      assert(p == 50.0 || beyond >= 10, s"n=$n p=$p leaves $beyond")
    }
  }

  test("tail reports the value at the chosen percentile") {
    val xs = (1 to 100).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    assert(p == 90.0)
    assert(math.abs(v - Stats.quantile(xs, 0.9)) < 1e-12)
    assert(xs.count(_ > v) >= 10)
  }

  test("quantiles interpolate linearly") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("a seed gives the same permutation every time, and seeds and passes differ") {
    val a = Stats.permutation(7L, 0, 40)
    assert(a == Stats.permutation(7L, 0, 40))
    assert(a.sorted == (0 until 40))
    assert(a != Stats.permutation(8L, 0, 40))
    assert(a != Stats.permutation(7L, 1, 40))
  }

  test("self time subtracts the union of overlapping children, clipped to the span") {
    // span [0, 100]; children [10, 30] and [20, 50] overlap; [90, 120] sticks out
    assert(Stats.covered(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50)
    // two concurrent children covering the same interval count once
    assert(Stats.selfTime(0, 100, Seq((0L, 60L), (0L, 60L))) == 40)
    // disjoint, nested, empty and outside children
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (12L, 15L), (30L, 40L), (50L, 50L), (200L, 300L))) == 80)
    assert(Stats.selfTime(0, 100, Nil) == 100)
  }
}
