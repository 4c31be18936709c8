package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Nil) == 0)
  }
}
