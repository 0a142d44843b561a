package perfbench

/** Order statistics for timings. */
object Stats {

  /** Percentiles the tail helper may report, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank percentile `p` (0 < p ≤ 100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` in `n` samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly above percentile `p`'s rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest percentile of [[Ladder]] with at least `min` samples
    * beyond it, and its value; None if not even the median has. */
  def tail(xs: Seq[Double], min: Int = 10): Option[(Double, Double)] =
    Ladder.find(p => beyond(xs.size, p) >= min).map(p => (p, percentile(xs, p)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
