package perfbench

/** Order statistics used by every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail of a latency sample: the highest nearest-rank percentile
    * that still has at least `beyond` samples above it, as
    * `(percentile, value)`. With n samples that is rank n - beyond, so
    * 100 samples give p90 and 40 samples give p75. `None` when there
    * are not more than `beyond` samples, because no percentile then has
    * enough samples beyond it to be a tail.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted
      val rank = n - beyond
      Some((100.0 * rank / n, s(rank - 1)))
    }
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples, got $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}
