package graftbench

object Stats {
  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest whole percentile with at least ten samples beyond it, by
    * nearest rank: (percentile, value, samples beyond). None when fewer
    * than eleven samples exist.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double, Int)] = {
    val s = xs.sorted
    val n = s.size
    (99 to 1 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, s(rank - 1), n - rank)
    }.find(_._3 >= 10)
  }
}
