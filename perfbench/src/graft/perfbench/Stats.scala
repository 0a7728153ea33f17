package graft.perfbench

/** Order statistics the benchmark reports. Every latency it prints is
  * a median or a tail rank over raw samples — never a mean, so one
  * slow GC pause moves a figure by at most one rank. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail rank of `n` pooled samples: the highest percentile that
    * still has at least `beyond` samples strictly above it. With the
    * samples sorted ascending that is index `n - beyond - 1`, i.e.
    * percentile `(n - beyond) / n`. Returns (index, percentile), or
    * None when there are too few samples for any such rank. */
  def tailRank(n: Int, beyond: Int = 10): Option[(Int, Double)] =
    if (n <= beyond) None
    else Some((n - beyond - 1, 100.0 * (n - beyond) / n))

  /** (value, percentile, samples) of the tail rank, or the maximum
    * (percentile 100) when fewer than `beyond + 1` samples exist. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    tailRank(s.size, beyond) match {
      case Some((i, p)) => (s(i), p, s.size)
      case None         => (s.last, 100.0, s.size)
    }
  }
}
