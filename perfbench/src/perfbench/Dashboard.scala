package perfbench

import graft.operators.GraphiteTarget
import graft.store.HoardStore
import org.apache.spark.sql.functions.col
import perfbench.Gen.{Now, Req}
import perfbench.Main.{ms, timed}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** `dashboard`: one closed-loop read client issuing a seeded mix of fetch,
  * fetchMulti and render requests, beside one open-loop background writer
  * that drops one small carbon file at a fixed rate and ingests it as one
  * micro-batch through `CarbonIngest.start`, whose batch sink is
  * `updateManyDf`.
  *
  * Every result is checked against [[Mirror]] at some state the read
  * could have seen: after the flushes that had completed when it started
  * and before those that started after it ended.
  */
object Dashboard {

  val SetupRepeats = 2
  /** writer flushes per second, well below what `ingest` sustains */
  val WriterRate: Double = 1.0 / 15
  /** seconds the writer runs before the window opens */
  val WriterLeadS = 3.0
  /** untimed requests before the writer starts; with those sent in the
    * writer's lead, enough for the read path's page time to stop falling
    */
  val WarmupRequests = 16
  /** warm-up requests come from their own index range, a multiple of the
    * request pattern's 12-request cycle
    */
  val WarmupBase: Int = 1200000

  /** A timed request; `beside` when a flush ran during some of it. */
  final case class Done(i: Int, kind: String, ms: Double, traced: Boolean, beside: Boolean)

  def run(c: Ctx): Unit = {
    import c._
    val gen = c.gen
    val history = gen.dashboardHistory
    val staging = Files.createDirectories(work.resolve("staging"))
    def carbonFile(name: String, ps: Seq[Gen.Point]): java.nio.file.Path =
      Files.writeString(staging.resolve(name), ps.map(Gen.carbonLine).mkString("", "\n", "\n"))
    // set-up ingests the history through the same streaming path the writer
    // uses, so the writer's first flush is not the JVM's first stream
    val setups = (0 until SetupRepeats).map { r =>
      val root = work.resolve(s"dash-store-$r").toString
      val src = Files.createDirectories(work.resolve(s"history-src-$r"))
      val file = carbonFile(s"history-$r.txt", history)
      timed(tracer.untraced {
        val st = HoardStore.create(spark, root, Gen.Policy, HoardStore.ManifestAppend)
        Ingest.microBatch(c, file, src, Ingest.carbonStream(c, src), st,
          work.resolve(s"history-ckpt-$r").toString)
      })._2
    }
    (0 until SetupRepeats - 1).foreach(r => Main.deleteTree(work.resolve(s"dash-store-$r")))
    rep.e2e("setup_s") = Stats.median(setups.map(_ / 1e9))
    rep.info("setup_s_each") = setups.map(t => f"${t / 1e9}%.2f").mkString(",")
    val storeDir = work.resolve(s"dash-store-${SetupRepeats - 1}").toString
    val reader = HoardStore.open(spark, storeDir)
    val writer = HoardStore.open(spark, storeDir)

    val maxFlushes = math.min(Gen.WriterMaxFlushes, (seconds * WriterRate).ceil.toInt + 3)
    val mirror = new Mirror(Gen.Policy, Now)
    mirror.write(0, history)
    (0 until maxFlushes).foreach(j => mirror.write(j + 1, gen.writerBatch(j)))

    val started = new AtomicInteger(0)
    val committed = new AtomicInteger(0)
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val flushWchar = new java.util.concurrent.atomic.AtomicLong(0)
    val src = Files.createDirectories(work.resolve("writer-src"))
    val ckpt = work.resolve("writer-ckpt").toString
    val lines = Ingest.carbonStream(c, src)
    // warm-up, untimed but checked: every panel once, then a run of
    // requests like the window's, so the read path is compiled before the
    // window opens rather than during its first seconds
    val warm = Gen.Panels ++ (0 until WarmupRequests).map(k => gen.request(WarmupBase + k))
    tracer.untraced(warm.foreach(p => rep.guard(p.kind)(send(c, reader, p))
      .foreach(got => rep.op(p.kind, check(mirror, p, got, 0, 0)))))

    /** Send `req` and check it against every state a flush running beside
      * it could have left: rows, ms and whether a flush overlapped it, or
      * None when it threw.
      */
    def issue(req: Req, traced: Boolean): Option[(Rows, Double, Boolean)] = {
      val lo = committed.get
      val (res, ns) = timed(rep.guard(req.kind) {
        if (traced || !tracer.enabled) send(c, reader, req)
        else tracer.untraced(send(c, reader, req))
      })
      val hi = started.get
      res.map { got =>
        rep.op(req.kind, check(mirror, req, got, lo, hi))
        (got, ms(ns), hi > lo)
      }
    }

    @volatile var stop = false
    @volatile var lagS = 0.0
    val w = new Main.Window
    // the writer starts WriterLeadS before the window opens, so the window
    // opens with a flush in flight that covers only its first seconds, a
    // minority of the pages; a flush covering about half of them would make
    // the page median jump between the two levels from run to run. The
    // process counters (`w`) cover the lead and the window.
    val tw = System.nanoTime()
    val t0 = tw + (WriterLeadS * 1e9).toLong
    val writerThread = new Thread(() => {
      val period = 1e9 / WriterRate
      def dueOf(j: Int): Long = tw + (j * period).toLong
      var j = 0
      // only flushes due before the window closes run
      while (!stop && j < maxFlushes && dueOf(j) < t0 + (seconds * 1e9).toLong) {
        val due = dueOf(j)
        while (!stop && System.nanoTime() < due) Thread.sleep(5)
        if (!stop) {
          started.set(j + 1)
          val tmp = carbonFile(f"flush-$j%06d.txt", gen.writerBatch(j))
          val wc0 = Main.procIo("wchar")
          if (rep.guard("writer.flush") {
                Ingest.microBatch(c, tmp, src, lines, writer, ckpt)
              }.isDefined) {
            flushWchar.addAndGet(Main.procIo("wchar") - wc0)
            rep.op("writer.flush", None)
            // open loop: time from when the flush was due
            commitMs.synchronized(commitMs += ms(System.nanoTime() - due))
          }
          committed.set(j + 1)
          j += 1
        }
      }
      // how far behind schedule the writer is when the run ends
      lagS = math.max(0.0, (System.nanoTime() - dueOf(j)) / 1e9)
    }, "perfbench-writer")
    writerThread.setDaemon(true)
    writerThread.start()

    // the warm-up goes on, untimed, until the window opens
    var k = WarmupRequests
    while (System.nanoTime() < t0) {
      tracer.untraced(issue(gen.request(WarmupBase + k), traced = false))
      k += 1
    }
    val done = mutable.ArrayBuffer.empty[Done]
    var fetchMultiRows = 0L
    var i = 0
    while (System.nanoTime() - t0 < seconds * 1e9) {
      val req = gen.request(i)
      val traced = i % 2 == 0
      issue(req, traced).foreach { case (got, took, beside) =>
        done += Done(i, req.kind, took, traced, beside)
        if (traced && req.kind == "fetchmulti") fetchMultiRows += got.size
      }
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    w.close(rep)
    stop = true
    writerThread.join()

    require(done.nonEmpty, "no dashboard request succeeded")
    rep.named("requests_per_s") = (done.size / measuredS, "1/s")
    // a page refresh is one request of each kind in turn, and its time is
    // what the dashboard's user waits for; the pooled requests would mix
    // three cost levels, whose median jumps between them from run to run
    val pageReqs = done.groupBy(_.i / Gen.Kinds.size).values
      .filter(_.size == Gen.Kinds.size).toSeq
    val pages = pageReqs.map(_.map(_.ms).sum)
    rep.info("pages_beside_flush") = pageReqs.count(_.exists(_.beside)).toString
    require(pages.nonEmpty, "no complete dashboard page in the window")
    Workloads.opLatency(rep, pages)
    Seq("fetch", "fetchmulti", "render").foreach { k =>
      val xs = done.filter(_.kind == k).map(_.ms).toSeq
      if (xs.nonEmpty) Workloads.named(rep, s"${k}_ms", xs)
    }
    val cms = commitMs.synchronized(commitMs.toSeq)
    rep.named("writer_commit_ms_p50") =
      (if (cms.isEmpty) Double.NaN else Stats.median(cms), "ms")
    rep.named("writer_lag_s") = (lagS, "s")
    val flushed = committed.get.toLong * Gen.Series.size
    rep.named("store_bytes_per_point") = (Main.bytesUnder(java.nio.file.Paths.get(storeDir))
      .toDouble / (history.size + flushed), "B")
    // process-wide bytes written while a flush ran; reads beside it add theirs
    rep.layers("store.write_bytes_per_point") =
      flushWchar.get.toDouble / math.max(1L, flushed)
    rep.layers("store.files") = Main.parquetFilesUnder(java.nio.file.Paths.get(storeDir)).toDouble
    rep.info("fetchmulti_rows_returned") = fetchMultiRows.toString
    rep.info("history_points") = history.size.toString
    rep.info("requests") = done.size.toString
    rep.info("flushes") = committed.get.toString
    rep.info("panel_share") = f"${(0 until i).count(gen.request(_).panel).toDouble / math.max(1, i)}%.3f"
    if (tracer.enabled) {
      val byKind = done.groupBy(_.kind).values.toSeq
      rep.layers("trace.overhead_pct") = Workloads.overheadPct(
        done.filter(_.traced).map(_.ms).toSeq, done.filterNot(_.traced).map(_.ms).toSeq,
        byKind.map(d => (d.filter(_.traced).map(_.ms).toSeq, d.filterNot(_.traced).map(_.ms).toSeq)))
    }
  }

  /** Result of one request as plain rows: (series, epoch second, value). */
  type Rows = Seq[(String, Long, Option[Double])]

  private def collectRows(c: Ctx, df: org.apache.spark.sql.DataFrame,
                          seriesCol: String, timeCol: String): Rows = {
    val sel = df.select(col(seriesCol), col(timeCol).cast("long"), col("value"))
    c.tracer.bindScans(sel.queryExecution)
    sel.collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
  }

  def send(c: Ctx, st: HoardStore, req: Req): Rows = {
    val tr = c.tracer
    req match {
      case Gen.Fetch(s, from, to, _) => tr.span("dashboard.fetch") {
        val (_, df) = tr.span("store.fetch.build")(st.fetch(s, from, to, Now))
        tr.span("store.fetch.exec")(collectRows(c, df, "series_id", "interval"))
      }
      case Gen.FetchMulti(glob, from, to, _) => tr.span("dashboard.fetchmulti") {
        val (_, df) = tr.span("store.fetchmulti.build")(
          st.fetchMulti(col("series_id").rlike(GraphiteTarget.globToRegex(glob)), from, to, Now))
        tr.span("store.fetchmulti.exec")(collectRows(c, df, "series_id", "interval"))
      }
      case r: Gen.Render => tr.span("dashboard.render") {
        val pred = tr.span("operators.render.parse") {
          GraphiteTarget.globLeaves(GraphiteTarget.parse(r.target))
            .map(g => col("series_id").rlike(GraphiteTarget.globToRegex(g))).reduce(_ || _)
        }
        val (ti, dense) = tr.span("store.fetchmulti.build")(
          st.fetchMulti(pred, r.from, r.until, Now))
        val df = tr.span("operators.render.build") {
          val universe = dense.where(col("value").isNotNull)
            .select(col("series_id").as("series"), col("interval").as("bucket"), col("value"))
          GraphiteTarget.render(Seq(r.target), universe, ti.step,
            r.from, r.until, Some(r.maxDataPoints))
        }
        tr.span("operators.render.exec")(collectRows(c, df, "series", "bucket"))
      }
    }
  }

  /** None when `got` equals the mirror at some state in [lo, hi]. */
  def check(m: Mirror, req: Req, got: Rows, lo: Int, hi: Int): Option[String] = {
    def first(f: Int => Option[String]): Option[String] = {
      val errs = (lo to hi).map(f)
      if (errs.exists(_.isEmpty)) None else errs.head
    }
    req match {
      case Gen.Fetch(s, from, to, _) =>
        first(k => Workloads.diffSlots(slots(got, s), m.fetch(s, from, to, k).toMap))
      case Gen.FetchMulti(glob, from, to, _) =>
        val names = Gen.Series.filter(Mirror.globMatch(glob, _))
        val extra = got.map(_._1).distinct.filterNot(names.contains)
        if (extra.nonEmpty) Some(s"unexpected series ${extra.take(3).mkString(",")}")
        else first(k => names.iterator.map(s =>
          Workloads.diffSlots(slots(got, s), m.fetch(s, from, to, k).toMap)
            .map(e => s"$s: $e")).collectFirst { case Some(e) => e })
      case r: Gen.Render =>
        val names = Gen.Series.filter(Mirror.globMatch(r.glob, _))
        val present = got.collect { case (_, t, Some(v)) => t -> v }.toMap
        first { k =>
          val want = m.render(r.func, names, r.from, r.until, r.maxDataPoints, k)
          Workloads.diffSlots(present.map { case (t, v) => t -> Some(v) },
            want.map { case (t, v) => t -> Some(v) })
        }
    }
  }

  private def slots(got: Rows, s: String): Map[Long, Option[Double]] =
    got.collect { case (`s`, t, v) => t -> v }.toMap
}
