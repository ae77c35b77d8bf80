package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p90 is reported as p90 once at least 10 samples lie beyond it") {
    assert(Stats.tailLevel(100) == 0.9)
    assert(Stats.tailLevel(250) == 0.9)
  }

  test("with fewer samples the level drops to leave exactly 10 beyond it") {
    assert(Stats.tailLevel(60) == 50.0 / 60)
    assert(Stats.tailLevel(99) == 89.0 / 99)
    assert(Stats.tailLevel(32) == 22.0 / 32)
  }

  test("the level never drops below the median") {
    assert(Stats.tailLevel(20) == 0.5)
    assert(Stats.tailLevel(10) == 0.5)
    assert(Stats.tailLevel(1) == 0.5)
  }

  test("above the median floor the level leaves at least 10 samples above its rank") {
    (20 to 300).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      val level = Stats.tailLevel(n)
      val v = Stats.percentile(xs, level)
      assert(xs.count(_ > v) >= 10, s"n=$n level=$level value=$v")
    }
  }

  test("nearest-rank percentile and median") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 0.5) == 3.0)
    assert(Stats.percentile(xs, 0.9) == 5.0)
    assert(Stats.percentile(xs, 0.2) == 1.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
