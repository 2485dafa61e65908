package perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1] (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Candidate tail percentiles, highest last. */
  val TailPercentiles: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest candidate percentile that has at least `beyond` of the `n`
    * samples above it — the tail a sample of this size can support. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailPercentiles.filter(p => n * (1.0 - p / 100.0) >= beyond - 1e-9).lastOption
}
