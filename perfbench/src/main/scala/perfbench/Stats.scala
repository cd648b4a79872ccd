package perfbench

/** Order statistics used by every metric. Percentiles interpolate
  * linearly between order statistics (numpy's default), so a p50 of
  * whole-millisecond samples still carries the digits it was measured
  * with. */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Median, or 0 when a workload does not exercise the layer. */
  def p50or0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def p99or0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else percentile(xs, 99)

  /** Samples that must lie beyond a reported tail. */
  val TailBeyond = 10

  /** The tail rule: the highest percentile that still has at least
    * [[TailBeyond]] samples beyond it. With n sorted samples that is
    * the order statistic at index n-1-TailBeyond, i.e. percentile
    * 100*(n-1-TailBeyond)/(n-1). Returns (value, percentile, n); with
    * n <= TailBeyond there is no such percentile and the maximum is
    * reported at percentile 100. */
  case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= TailBeyond) Tail(s.last, 100.0, n)
    else {
      val i = n - 1 - TailBeyond
      Tail(s(i), 100.0 * i / (n - 1), n)
    }
  }
}
