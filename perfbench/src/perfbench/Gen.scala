package perfbench

import graft.core.{Archive, ArchivePolicy}
import java.util.SplittableRandom

/** The seeded input generator. Every input of the `ingest` and `dashboard`
  * workloads comes from here, and each piece is drawn from its own
  * sub-stream keyed by (seed, stream, index), so file j or request i is the
  * same for a seed no matter how many others a run gets through.
  *
  * Time is simulated: `Now` is fixed, and the store policy's retention
  * bands end on boundaries aligned to every level's step, so each coarse
  * interval lies wholly in one band. That is what lets [[Mirror]] compute
  * every level without replaying the cascade order.
  */
object Gen {
  final case class Point(series: String, ts: Long, value: Double)

  /** 2024-03-20T00:00:00Z, the store's `now` for every write and read. */
  val Now: Long = 1710892800L
  /** 1 min x 1 day, 10 min x 30 days, 1 h x 1 year; xff 0.5, mean. */
  val Policy: ArchivePolicy = ArchivePolicy(
    Seq(Archive(60, 1440), Archive(600, 4320), Archive(3600, 8760)), xff = 0.5)

  val Series: IndexedSeq[String] =
    for (h <- 0 until 8; m <- Seq("cpu", "mem", "req", "err"))
      yield f"app.h$h%02d.$m"

  val Hour = 3600L
  val Day = 86400L
  /** 2024-01-01T00:00:00Z: late points land in January, two months back. */
  val LateBase: Long = 1704067200L
  /** Oldest history hour; band 2 (hourly, direct) runs from here. */
  val HistoryBase: Long = LateBase
  /** 2024-02-01T00:00:00Z: the dashboard's history starts here. Its oldest
    * read starts 42 days back (Feb 7), so a January month would only add
    * set-up work that no request reads.
    */
  val DashHistoryBase: Long = 1706745600L
  val Ret0: Long = Policy.sorted(0).retention
  val Ret1: Long = Policy.sorted(1).retention

  /** First fresh ingest slot; ingest file j carries slot IngestFresh0 + 60 j. */
  val IngestFresh0: Long = Now - Ret0 + Hour
  val IngestMaxFiles: Int = ((Ret0 - Hour) / 60).toInt - 60
  val LatePerFile = 4
  val MalformedPerFile = 1

  /** Dashboard history ends here; the background writer fills slots after. */
  val WriterFresh0: Long = Now - 2 * Hour
  val WriterMaxFlushes: Int = (2 * Hour / 60).toInt

  /** Ad hoc globs; each matches 8 series, so ad hoc requests of a kind
    * cost alike and a seed moves what is read, not how much.
    */
  val Globs: IndexedSeq[String] = IndexedSeq("app.*.cpu", "app.*.req",
    "app.*.mem", "app.*.err", "app.h0{1,2}.*")

  sealed trait Req { def kind: String; def panel: Boolean }
  final case class Fetch(series: String, from: Long, to: Long,
                         panel: Boolean) extends Req { def kind = "fetch" }
  final case class FetchMulti(glob: String, from: Long, to: Long,
                              panel: Boolean) extends Req { def kind = "fetchmulti" }
  final case class Render(func: String, glob: String, from: Long, until: Long,
                          maxDataPoints: Int, panel: Boolean) extends Req {
    def kind = "render"
    def target: String = s"$func($glob)"
  }

  /** The fixed panels a dashboard refresh repeats. */
  val Panels: IndexedSeq[Req] = IndexedSeq(
    Fetch("app.h00.cpu", Now - 3 * Hour, Now, panel = true),
    FetchMulti("app.*.cpu", Now - 40 * Day, Now, panel = true),
    Render("sumSeries", "app.*.req", Now - 3 * Hour, Now, 60, panel = true),
    Render("averageSeries", "app.h0{1,2,3}.*", Now - 2 * Hour, Now, 40,
      panel = true))

  val Kinds: IndexedSeq[String] = IndexedSeq("fetch", "fetchmulti", "render")

  def carbonLine(p: Point): String = f"${p.series} ${p.value}%.3f ${p.ts}"
}

final class Gen(val seed: Long) {
  import Gen._

  private def rng(stream: Int, idx: Long): SplittableRandom = {
    // splitmix-style mix so nearby (seed, stream, idx) triples decorrelate
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L +
      idx * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  /** A value with 3 decimals, exact in decimal(18,6) sums. */
  private def value(r: SplittableRandom): Double = r.nextInt(100000) / 1000.0

  private def slots(stream: Int, from: Long, until: Long, step: Long,
                    presence: Double): Seq[Point] = {
    val r = rng(stream, 0)
    for {
      t <- from until until by step
      s <- Series
      if r.nextDouble() < presence
    } yield Point(s, t + r.nextLong(step), value(r))
  }

  /** Store history written in set-up, one point per (series, slot):
    * hourly points in band 2 (`base` to the 30-day horizon), 10-minute
    * points over the 2 days before the 1-day horizon (band 1), and
    * 1-minute points in band 0 from `fresh0 - band0Span` to `fresh0`.
    */
  def history(base: Long, band0Span: Long, fresh0: Long): Seq[Point] =
    slots(1, base, Now - Ret1, Hour, 0.5) ++
      slots(2, Now - Ret0 - 2 * Day, Now - Ret0, 600, 0.8) ++
      slots(3, fresh0 - band0Span, fresh0, 60, 0.9)

  def ingestHistory: Seq[Point] = history(HistoryBase, Hour, IngestFresh0)
  def dashboardHistory: Seq[Point] = history(DashHistoryBase, 4 * Hour, WriterFresh0)

  /** Fresh points of ingest file j: one per series in slot j. */
  def ingestFresh(j: Int): Seq[Point] = {
    val r = rng(10, j)
    Series.map(s => Point(s, IngestFresh0 + 60L * j + r.nextLong(60), value(r)))
  }

  /** Late points of ingest file j: January hours, each (series, hour)
    * hit by at most one late point in the whole run.
    */
  def ingestLate(j: Int): Seq[Point] = {
    val r = rng(11, j)
    (0 until LatePerFile).map { k =>
      val idx = j.toLong * LatePerFile + k
      Point(Series((idx % Series.size).toInt),
        LateBase + (idx / Series.size) * Hour + r.nextLong(Hour), value(r))
    }
  }

  private val malformed = IndexedSeq("%s notanumber %d", "%s 1.5", "%s NaN %d",
    "%s 1.0 -5", "%s 2.0 3.5", "%s 1 2 3")

  /** Carbon plaintext of ingest file j: fresh, late and malformed lines,
    * shuffled. Malformed lines must be dropped by the parser.
    */
  def ingestFile(j: Int): String = {
    val r = rng(12, j)
    val good = (ingestFresh(j) ++ ingestLate(j)).map(carbonLine)
    val bad = (0 until MalformedPerFile).map { _ =>
      val f = malformed(r.nextInt(malformed.size))
      val s = Series(r.nextInt(Series.size))
      if (f.count(_ == '%') == 2) f.format(s, Now - Hour) else f.format(s)
    }
    val lines = scala.collection.mutable.ArrayBuffer((good ++ bad): _*)
    for (i <- lines.indices.reverse) { // Fisher-Yates
      val k = r.nextInt(i + 1)
      val t = lines(i); lines(i) = lines(k); lines(k) = t
    }
    lines.mkString("", "\n", "\n")
  }

  /** Background-writer flush j of the dashboard: one point per series in
    * the j-th slot after the history, so a flush never overwrites.
    */
  def writerBatch(j: Int): Seq[Point] = {
    require(j < WriterMaxFlushes, s"writer ran past its $WriterMaxFlushes slots")
    val r = rng(20, j)
    Series.map(s => Point(s, WriterFresh0 + 60L * j + r.nextLong(60), value(r)))
  }

  /** Dashboard request i. Kinds take turns and every other request of a
    * kind repeats one of its panels, so every run has the same mix; the
    * ad hoc requests in between are seeded.
    */
  def request(i: Int): Req = {
    val r = rng(30, i)
    val kind = i % 3
    if ((i / 3) % 2 == 0) {
      val panels = Panels.filter(_.kind == Kinds(kind))
      panels((i / 6) % panels.size)
    } else {
      val glob = Globs(r.nextInt(Globs.size))
      kind match {
        case 0 =>
          Fetch(Series(r.nextInt(Series.size)), Now - 3 * Hour, Now, panel = false)
        case 1 =>
          val from = Now - (38 + r.nextInt(5)) * Day
          FetchMulti(glob, from, from + 38 * Day, panel = false)
        case _ =>
          Render(if (r.nextBoolean()) "sumSeries" else "averageSeries", glob,
            Now - 3 * Hour, Now, 60, panel = false)
      }
    }
  }
}
