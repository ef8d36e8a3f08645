package graftbench

/** Order statistics for the reported timings. */
object Stats {
  /** Nearest-rank quantile of `xs` at `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = { require(xs.nonEmpty, "no samples"); xs.sum / xs.size }

  /** The tail: the highest percentile with at least ten samples beyond it,
    * but never below the median. Returns (percentile, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = math.max(0.5, (xs.size - 10).toDouble / xs.size)
    (100.0 * p, quantile(xs, p))
  }
}
