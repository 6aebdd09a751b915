package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 90) == 4.6)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("slope is the least-squares growth per unit of x") {
    val flat = (0 until 10).map(x => (x.toDouble, 5.0))
    assert(Stats.slope(flat) == 0.0)
    val growing = (0 until 10).map(x => (x.toDouble, 100.0 + 3.0 * x))
    assert(math.abs(Stats.slope(growing) - 3.0) < 1e-12)
    val noisy = Seq((0.0, 1.0), (1.0, 3.0), (2.0, 2.0), (3.0, 4.0))
    assert(math.abs(Stats.slope(noisy) - 0.8) < 1e-12)
    assert(Stats.slope(Seq((1.0, 2.0))) == 0.0)
    assert(Stats.slope(Seq((1.0, 2.0), (1.0, 9.0))) == 0.0)
  }
}
