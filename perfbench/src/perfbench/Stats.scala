package perfbench

/** Order statistics used for every reported timing.
  *
  * Percentiles are nearest-rank: the value at 1-based rank ceil(p * n) of
  * the sorted sample, so a reported percentile is always a measured value.
  */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0.0 && p <= 1.0, s"percentile rank must be in (0, 1], got $p")
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.size - 1e-9).toInt) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly above the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** The tail rule: a percentile may be reported only when at least
    * `minBeyond` samples lie beyond it, so it is not one outlier's value.
    */
  def tailSupported(n: Int, p: Double, minBeyond: Int = 10): Boolean =
    beyond(n, p) >= minBeyond

  /** Failed ops over attempted ops; a failure is a throw or a wrong result. */
  def errorRate(attempted: Long, failed: Long): Double = {
    require(attempted > 0 && failed >= 0 && failed <= attempted,
      s"bad op accounting: $failed failed of $attempted")
    failed.toDouble / attempted
  }
}
