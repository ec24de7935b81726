package perfbench

/** Percentiles as the benchmark reports them. */
object Stats {

  /** A p90 needs at least this many samples of its class; below it only the
    * median is reported.
    */
  val MinSamplesForP90 = 100

  /** Nearest-rank-free linear interpolation between order statistics, the
    * same definition for every metric.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The p90 of a class, or None when the class holds too few samples for
    * one.
    */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= MinSamplesForP90) Some(quantile(xs, 0.9)) else None
}
