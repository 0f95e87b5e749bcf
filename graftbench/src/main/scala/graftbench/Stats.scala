package graftbench

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median for the run record, where a kind may have no samples. */
  def medianOpt(xs: Seq[Double]): Option[Double] = if (xs.isEmpty) None else Some(median(xs))

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The q-quantile, but only when at least 10 samples lie beyond it;
    * a tail read from fewer samples is noise, so it is refused. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.length * (1 - q) >= 10 - 1e-9) Some(quantile(xs, q)) else None
}
