package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Linearly interpolated percentile `p` in [0, 100] (the numpy
    * default); NaN without samples, as when every operation failed.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    if (xs.isEmpty) return Double.NaN
    val v = xs.sorted
    val pos = (v.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    v(lo) + (pos - lo) * (v(hi) - v(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail rule: the highest whole percentile that still leaves at
    * least `beyond` samples above it, so a tail figure never rests on a
    * handful of points. None when no percentile from the median up does.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] = {
    def above(p: Int) = (n - 1) - math.floor((n - 1) * p / 100.0).toInt
    (99 to 50 by -1).find(p => n > 0 && above(p) >= beyond)
  }

  /** (percentile, value) of the tail rule, or the maximum when too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): (String, Double) =
    tailPercentile(xs.size, beyond) match {
      case Some(p) => (s"p$p", percentile(xs, p))
      case None => ("max", xs.maxOption.getOrElse(Double.NaN))
    }
}
