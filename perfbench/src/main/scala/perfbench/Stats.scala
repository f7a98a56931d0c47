package perfbench

/** Summary statistics for repeated timings. */
object Stats {

  /** Classic median: the middle sample, or the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean; every sample must be positive. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Percentiles a timing may be reported at, besides the median. */
  val Ladder: Seq[Double] = Seq(90.0, 99.0, 99.9)

  /** The highest ladder percentile that still has at least ten samples
    * beyond it, or None when `n` samples support none (n < 100 for p90). */
  def highestPercentile(n: Int): Option[Double] =
    Ladder.filter(p => n * (100 - p) / 100 >= 10 - 1e-9).lastOption

  /** Nearest-rank percentile of the samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100 * s.size).toInt
    s(math.min(math.max(rank, 1), s.size) - 1)
  }
}
