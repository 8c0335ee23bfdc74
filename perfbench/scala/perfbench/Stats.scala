package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of nothing")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest percentile with at least ten samples above it, and that
    * percentile; with fewer than eleven samples, the maximum and 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}
