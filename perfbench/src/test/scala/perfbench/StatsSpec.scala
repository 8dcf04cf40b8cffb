package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
  }

  test("the tail percentile is the highest that leaves ten samples beyond it") {
    for (n <- 11 to 2000; p <- Stats.tailPercentile(n)) {
      def beyond(q: Int) = (0 until n).count(_ > (n - 1) * q / 100.0)
      assert(beyond(p) >= 10, s"n=$n p=$p leaves ${beyond(p)} samples beyond")
      assert(p == 99 || beyond(p + 1) < 10, s"n=$n: p${p + 1} also leaves ten")
    }
  }

  test("too few samples for a tail report the maximum and say so") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(15).isEmpty) // p28 would sit below the median
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ("max", 3.0))
    val (name, v) = Stats.tail((1 to 100).map(_.toDouble))
    assert(name == "p90" && math.abs(v - 90.1) < 1e-9)
  }
}
