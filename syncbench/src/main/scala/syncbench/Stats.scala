package syncbench

/** Order statistics used in the report. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * sample with exactly ten larger ones. Returns (value, percentile);
    * with ten samples or fewer no such percentile exists and the median is
    * returned at percentile 50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    if (n <= 10) (median(xs), 50.0)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n)
  }
}
