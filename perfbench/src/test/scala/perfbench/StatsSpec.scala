package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least 10 samples beyond it") {
    for (n <- Seq(11, 12, 75, 100, 1000)) {
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val t = Stats.tail(xs)
      assert(xs.count(_ > t.value) == Stats.TailBeyond, s"n=$n")
      assert(t.samples == n)
      assert(t.percentile == 100.0 * (n - 1 - Stats.TailBeyond) / (n - 1))
      // the percentile it reports is the value it reports
      assert(Stats.percentile(xs, t.percentile) == t.value)
    }
  }

  test("tail of 10 or fewer samples is the maximum, at percentile 100") {
    val t = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(t == Stats.Tail(3.0, 100.0, 3))
  }

  test("percentiles interpolate between order statistics") {
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.percentile(Seq(10.0, 20.0), 25) == 12.5)
    assert(Stats.p50or0(Nil) == 0.0)
  }
}
