package perfbench

/** The harness's one percentile rule: nearest rank on the sorted samples,
  * p in (0, 1] selects the ceil(p * n)-th smallest value (1-based). The
  * median is the same rule at p = 0.5, so an even count takes the lower
  * middle value and every reported figure is one that was measured.
  */
object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0.0 && p <= 1.0, s"percentile rank must be in (0, 1], got $p")
    val sorted = xs.sorted
    val rank = math.ceil(p * sorted.size).toInt.max(1)
    sorted(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
