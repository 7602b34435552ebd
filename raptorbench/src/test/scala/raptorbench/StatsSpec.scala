package raptorbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles match Python's statistics.quantiles(xs, n=4)") {
    // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quantiles((1 to 10).map(_.toDouble), 4) == Seq(2.75, 5.5, 8.25))
    // statistics.quantiles([3, 1, 4, 1, 5, 9, 2], n=4) == [1.0, 3.0, 5.0]
    assert(Stats.quantiles(Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0), 4) == Seq(1.0, 3.0, 5.0))
    // statistics.quantiles([10, 20], n=4) == [7.5, 15.0, 22.5]
    assert(Stats.quantiles(Seq(20.0, 10.0), 4) == Seq(7.5, 15.0, 22.5))
  }

  test("quantiles ignore input order") {
    val xs = Seq(5.0, 3.5, 9.25, 1.0, 7.0, 2.0, 8.0, 4.0)
    assert(Stats.quantiles(xs, 4) == Stats.quantiles(xs.reverse, 4))
    assert(Stats.quantiles(xs, 10).size == 9)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(99, 90) == 9)
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(99).contains(75))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(39).contains(50))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(1000).contains(99))
  }
}
