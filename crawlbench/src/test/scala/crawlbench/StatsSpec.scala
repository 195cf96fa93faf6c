package crawlbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median and quantiles report their sample count") {
    val m = Stats.median(Seq(5.0, 1.0, 3.0))
    assert(m == Summary(3.0, 3))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == Summary(2.5, 4))
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) == Summary(2.0, 5))
    assert(Stats.quantile(Seq(7.0), 0.9) == Summary(7.0, 1))
  }

  test("empty samples and out-of-range quantiles are refused") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }
}
