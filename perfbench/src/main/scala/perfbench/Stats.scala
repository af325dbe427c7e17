package perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** Linear-interpolated quantile `q` in [0, 1] of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail may be reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(0.999, 0.99, 0.9, 0.5)

  /** The highest candidate percentile with at least ten of `n` samples
    * beyond it, if any. */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(q => math.floor(n * (1 - q) + 1e-9) >= 10)
}
