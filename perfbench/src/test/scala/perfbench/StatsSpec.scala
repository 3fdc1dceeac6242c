package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // reference values printed by CPython's statistics.quantiles
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(1.0, 2, 3, 4)) == ((1.25, 2.5, 3.75)))
    assert(Stats.quartiles(Seq(5.0, 1)) == ((0.0, 3.0, 6.0)))
    val (q1, q2, q3) = Stats.quartiles(Seq(3.2, 1.1, 7.7, 2.5, 9.9, 4.4, 6.1))
    assert(math.abs(q1 - 2.5) < 1e-12 && q2 == 4.4 && q3 == 7.7)
  }

  test("spread is the quartile distance over the median") {
    assert(math.abs(Stats.spread((1 to 10).map(_.toDouble)) - 5.5 / 5.5) < 1e-12)
    assert(Stats.spread(Seq.fill(10)(3.0)) == 0.0)
  }

  test("median and nearest-rank percentiles") {
    assert(Stats.median(Seq(3.0, 1, 2)) == 2.0)
    assert(Stats.median(Seq(4.0, 1, 2, 3)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
    intercept[IllegalArgumentException](Stats.percentile(xs, 0.0))
  }

  test("a p90 needs at least 100 samples") {
    val enough = (1 to 100).map(_.toDouble)
    assert(Stats.p90Named("scan_ms", enough) == Map("scan_ms_p90" -> 90.0))
    assert(Stats.p90Named("scan_ms", enough.tail).isEmpty)
  }

  test("union length merges overlapping intervals") {
    assert(Ledger.unionLength(Nil) == 0.0)
    assert(Ledger.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(Ledger.unionLength(Seq((5.0, 6.0), (0.0, 10.0))) == 10.0)
  }
}
