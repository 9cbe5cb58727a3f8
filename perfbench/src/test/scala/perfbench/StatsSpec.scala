package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(100, 90) == 90)  // 10 samples above p90
    assert(Stats.tailPercentile(99, 90) == 89)   // p90 would leave 9
    assert(Stats.tailPercentile(30, 90) == 66)
    for (n <- 11 to 300; p = Stats.tailPercentile(n, 90) if p > 50)
      assert(n - 1 - Stats.rankIndex(n, p) >= Stats.MinBeyond, s"n=$n p=$p")
  }

  test("too few samples for any tail fall back to the median") {
    assert(Stats.tailPercentile(10, 90) == 50)
    val xs = Seq(5.0, 1.0, 9.0, 3.0)
    assert(Stats.tail(xs, 90) == ((Stats.median(xs), 50)))
  }
}
