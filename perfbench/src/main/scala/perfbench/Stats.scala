package perfbench

/** Order statistics for the reported timings.
  *
  * Percentiles use the nearest-rank rule on the sorted sample. A tail
  * percentile is only as good as the samples beyond it, so [[tail]]
  * reports the highest percentile, up to the one asked for, that still
  * has at least [[MinBeyond]] samples above it; with too few samples for
  * any tail it falls back to the median and says so. */
object Stats {

  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank index of percentile `p` (0 < p ≤ 100) in `n` samples. */
  def rankIndex(n: Int, p: Int): Int =
    math.max(0, math.ceil(p / 100.0 * n).toInt - 1)

  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rankIndex(s.size, p))
  }

  /** The highest whole percentile ≤ `target` with at least
    * [[MinBeyond]] samples strictly above its rank, or 50 when no
    * percentile in [50, target] qualifies. */
  def tailPercentile(n: Int, target: Int): Int =
    (target to 50 by -1)
      .find(p => n - 1 - rankIndex(n, p) >= MinBeyond)
      .getOrElse(50)

  /** (value, percentile used) for a tail of `xs` aimed at `target`. */
  def tail(xs: Seq[Double], target: Int): (Double, Int) = {
    val p = tailPercentile(xs.size, target)
    (if (p == 50) median(xs) else percentile(xs, p), p)
  }
}
