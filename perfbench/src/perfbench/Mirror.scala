package perfbench

import graft.core.ArchivePolicy
import perfbench.Gen.Point
import scala.collection.mutable

/** A naive, in-process model of what the store must hold after a sequence
  * of batch writes, and of what fetch, fetchMulti and sum/average render
  * targets must return. It shares no code with the engine: routing is the
  * finest level whose retention covers a point's age, the finest level and
  * each coarse interval in its own retention band keep the last write
  * (by batch, then timestamp, then input order), and a coarse interval in a
  * finer band holds the mean of the finer level's values in it when at
  * least `xff` of them are present.
  *
  * That last rule is exact only because every band boundary is aligned to
  * every level's step (see [[Gen]]), so no coarse interval mixes direct
  * and propagated writes. Batch numbers let a reader ask for the state
  * after any prefix of batches.
  */
final class Mirror(policy: ArchivePolicy, now: Long) {
  import Mirror.W
  private val levels = policy.sorted
  private val direct =
    Array.fill(levels.size)(mutable.HashMap.empty[(String, Long), Vector[W]])

  private def align(t: Long, step: Long): Long = t - Math.floorMod(t, step)

  /** Level index a timestamp routes to, or -1 when older than every level. */
  def band(ts: Long): Int = levels.indexWhere(_.retention >= now - ts)

  def write(batch: Int, points: Seq[Point]): Unit =
    points.zipWithIndex.foreach { case (p, i) =>
      val lvl = band(p.ts)
      if (lvl >= 0) {
        val key = (p.series, align(p.ts, levels(lvl).step))
        direct(lvl)(key) = direct(lvl).getOrElse(key, Vector.empty) :+
          W(batch, p.ts, i, p.value)
      }
    }

  /** Value of `level` at interval start `t` after batches 0..`upTo`. */
  def value(level: Int, series: String, t: Long, upTo: Int): Option[Double] = {
    val b = band(t)
    if (b == level)
      direct(level).get((series, t)).flatMap(_.filter(_.batch <= upTo)
        .maxByOption(w => (w.batch, w.ts, w.ord)).map(_.value))
    else if (b >= 0 && b < level) {
      val fine = levels(level - 1).step
      val n = (levels(level).step / fine).toInt
      val vs = (0 until n).flatMap(j => value(level - 1, series, t + j * fine, upTo))
      Mirror.xffMean(vs, n, policy.xff)
    } else None
  }

  /** The fetch planner as the reference states it: clamp `from` to the
    * retention, clamp `to` to now, route to the finest level covering
    * `now - from`, and bump both bounds one step past their floor.
    */
  def plan(from0: Long, to0: Long): (Int, Long, Long) = {
    val from = math.max(from0, now - policy.maxRetention)
    require(from < to0, "Invalid time interval")
    val to = if (to0 > now || to0 < from) now else to0
    val lvl = levels.indexWhere(_.retention >= now - from) match {
      case -1 => levels.size - 1
      case i => i
    }
    val st = levels(lvl).step
    (lvl, align(from, st) + st, align(to, st) + st)
  }

  /** Dense slots of one series: (interval start, value or gap). */
  def fetch(series: String, from: Long, to: Long,
            upTo: Int): Seq[(Long, Option[Double])] = {
    val (lvl, lo, hi) = plan(from, to)
    (lo until hi by levels(lvl).step).map(t => t -> value(lvl, series, t, upTo))
  }

  /** Expected rows of a sum/average render over `series` (the glob's
    * matches): the per-bucket aggregate of present points over the fetch
    * window clamped to [from, until), then maxDataPoints consolidation by
    * average.
    */
  def render(func: String, series: Seq[String], from: Long, until: Long,
             maxDataPoints: Int, upTo: Int): Map[Long, Double] = {
    val (lvl, lo, hi) = plan(from, until)
    val st = levels(lvl).step
    val perBucket = (lo until hi by st).filter(t => t >= from && t < until).flatMap { t =>
      val vs = series.flatMap(s => value(lvl, s, t, upTo))
      if (vs.isEmpty) None
      else Some(t -> (func match {
        case "sumSeries" => Mirror.decSum(vs)
        case "averageSeries" => Mirror.q6(Mirror.decSum(vs) / vs.size)
      }))
    }
    val points = math.max(0L, until - from) / st
    if (points <= maxDataPoints) perBucket.toMap
    else {
      val wide = st * ((points + maxDataPoints - 1) / maxDataPoints)
      perBucket.groupBy { case (t, _) => align(t, wide) }.map { case (t, g) =>
        t -> Mirror.q6(Mirror.decSum(g.map(_._2)) / g.size)
      }
    }
  }
}

object Mirror {
  private final case class W(batch: Int, ts: Long, ord: Int, value: Double)

  /** Mean when at least `xff` of `expected` slots are known. */
  def xffMean(vs: Seq[Double], expected: Int, xff: Double): Option[Double] =
    if (vs.nonEmpty && vs.size.toDouble / expected >= xff) Some(vs.sum / vs.size)
    else None

  private def dec(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** Sum in decimal(18,6), as graphite sums are specified. */
  def decSum(vs: Seq[Double]): Double = vs.map(dec).sum.toDouble

  /** 6-decimal rounding of a division output. */
  def q6(x: Double): Double =
    (BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP) / 1e6).toDouble

  /** Graphite glob match for the `*` and `{a,b}` forms the generator uses. */
  def globMatch(glob: String, name: String): Boolean = {
    val re = new StringBuilder
    var i = 0
    while (i < glob.length) {
      glob(i) match {
        case '*' => re ++= "[^.]*"
        case '{' =>
          val j = glob.indexOf('}', i)
          re ++= glob.substring(i + 1, j).split(',')
            .map(java.util.regex.Pattern.quote).mkString("(?:", "|", ")")
          i = j
        case c => re ++= java.util.regex.Pattern.quote(c.toString)
      }
      i += 1
    }
    name.matches(re.toString)
  }

  def close(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
}
