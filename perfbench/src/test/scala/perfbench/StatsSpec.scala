package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentiles follow the exclusive interpolation rule") {
    val xs = (1 to 9).map(_.toDouble)
    // position p*(n+1): median of 1..9 sits exactly on 5, p90 on 9
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    // 1..10: p50 at position 5.5, p90 at 9.9
    val ys = (1 to 10).map(_.toDouble)
    assert(math.abs(Stats.percentile(ys, 0.5) - 5.5) < 1e-12)
    assert(math.abs(Stats.percentile(ys, 0.9) - 9.9) < 1e-12)
  }

  test("percentiles do not depend on sample order") {
    val xs = Seq(7.0, 1.0, 3.0, 9.0, 5.0)
    assert(Stats.percentile(xs, 0.5) == Stats.percentile(xs.sorted, 0.5))
  }

  test("positions outside the samples clamp to the extremes") {
    assert(Stats.percentile(Seq(4.0, 2.0), 0.9) == 4.0)
    assert(Stats.percentile(Seq(4.0, 2.0), 0.1) == 2.0)
    assert(Stats.percentile(Seq(3.0), 0.9) == 3.0)
    assert(Stats.percentile(Nil, 0.5).isNaN)
  }

  test("a p90 needs 100 samples, so that ten lie beyond it") {
    assert(Stats.minSamples(0.9) == 100)
    assert(Stats.minSamples(0.5) == 20)
    val xs = (1 to Stats.minSamples(0.9)).map(_.toDouble)
    assert(xs.count(_ > Stats.percentile(xs, 0.9)) >= 10)
  }
}
