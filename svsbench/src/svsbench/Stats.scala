package svsbench

/** Summary statistics with the benchmark's reporting rules. */
object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest percentile that still has at least
    * ten samples beyond it — the 11th largest sample — returned with
    * the percentile it stands for. Below 21 samples that percentile
    * would not lie above the median, so the largest sample is returned
    * (as p100) instead.
    */
  def tail(xs: collection.Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n < 21) (s.last, 100.0)
    else {
      val i = n - 11
      (s(i), 100.0 * (i + 1) / n)
    }
  }
}
