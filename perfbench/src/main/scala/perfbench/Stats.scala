package perfbench

object Stats {

  /** Linearly interpolated percentile `p` (0-100) of `xs`; 0 when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile with at least ten of `n` samples
    * beyond it (0 when there are fewer than eleven). */
  def tailPercentile(n: Int): Int =
    if (n <= 10) 0 else math.floor(100.0 * (n - 10) / n).toInt
}
