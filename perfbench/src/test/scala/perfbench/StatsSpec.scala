package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def near(x: Double, y: Double) = math.abs(x - y) < 1e-9

  test("quantile is the Harrell-Davis estimate") {
    val xs = (1 to 10).map(_.toDouble)
    assert(near(Stats.median(xs), 5.5))
    // weights from Beta(9.9, 1.1), worked out independently
    assert(near(Stats.quantile(xs, 0.9), 9.435115176660435))
    assert(near(Stats.median(Seq(1.0, 2.0, 3.0, 4.0, 5.0)), 3.0))
  }

  test("quantile ignores input order and handles one sample") {
    val xs = Seq(3.0, 1.0, 2.0)
    assert(near(Stats.median(xs), 2.0))
    assert(near(Stats.median(xs.reverse), 2.0))
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
  }

  test("one outlier barely moves the median") {
    val xs = Seq.fill(19)(1.0) :+ 100.0
    assert(Stats.median(xs) < 1.001)
  }

  test("p90 of 100 samples has ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(xs, 0.9) == 10)
  }

  test("quantile rejects an empty sample and a position outside (0, 1)") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 0.0))
  }
}
