package perfbench

/** Helpers the workloads share for latency reporting and result checks. */
object Workloads {

  /** `<base>_p50` as a named metric, plus the highest tail percentile
    * (p90, p75) the sample supports, if any.
    */
  def named(rep: Report, base: String, xs: Seq[Double]): Unit = {
    rep.named(s"${base}_p50") = (Stats.median(xs), "ms")
    Seq(0.9 -> "p90", 0.75 -> "p75").find { case (p, _) => Stats.tailSupported(xs.size, p) }
      .foreach { case (p, n) => rep.named(s"${base}_$n") = (Stats.percentile(xs, p), "ms") }
    rep.info(s"${base}_samples") = xs.size.toString
  }

  /** The end-to-end op latency every workload reports. */
  def opLatency(rep: Report, xs: Seq[Double]): Unit = {
    rep.e2e("op_ms_p50") = Stats.median(xs)
    rep.info("op_samples") = xs.size.toString
  }

  def latency(rep: Report, base: String, xs: Seq[Double]): Unit = {
    named(rep, base, xs)
    opLatency(rep, xs)
  }

  /** None when both maps have the same slots and every value agrees. */
  def diffSlots(got: Map[Long, Option[Double]],
                want: Map[Long, Option[Double]]): Option[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    if (missing.nonEmpty) Some(s"${missing.size} slots missing, e.g. ${missing.min}")
    else if (extra.nonEmpty) Some(s"${extra.size} unexpected slots, e.g. ${extra.min}")
    else want.toSeq.sortBy(_._1).collectFirst {
      case (t, w) if !((w, got(t)) match {
        case (Some(a), Some(b)) => Mirror.close(b, a)
        case (a, b) => a == b
      }) => s"slot $t: got ${got(t)} want $w"
    }
  }

  /** Tracing overhead in percent: traced over untraced median op time,
    * averaged over `groups` of like ops when given.
    */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double],
                  groups: Seq[(Seq[Double], Seq[Double])] = Nil): Double = {
    val pairs = (if (groups.isEmpty) Seq((traced, untraced)) else groups)
      .filter { case (a, b) => a.nonEmpty && b.nonEmpty }
    if (pairs.isEmpty) Double.NaN
    else pairs.map { case (a, b) => Stats.median(a) / Stats.median(b) - 1 }.sum /
      pairs.size * 100
  }
}
