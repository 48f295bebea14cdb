package graft

import graft.core.ArchivePolicy
import graft.store.HoardStore
import graft.store.HoardStore.RawPoint
import java.nio.file.{Files, Paths}

/** End-to-end replay of the reference's own test fixture
  * (test/timeseriesdata.json, 57,600 points) under the pinned clock the
  * reference used, asserting the golden fetch from
  * test/hoard.test.coffee:121-130 — the last-write-wins values per
  * hourly interval.
  *
  * Each reference golden reads the reference checkout's files and is
  * canceled, naming the file, where that file is absent. Beside each one
  * a "(built fixture)" test repeats its checks on [[WhisperFixtures]]'
  * built files (or a seeded stream of the same shape), with expected
  * values from the builder's naive slot map, so the checks run on any
  * machine. The bulk tree export golden's twin is
  * WhisperTreeRoundTripSpec.
  */
class FixtureReplaySpec extends SparkTestBase {

  private val Reference = "/root/reference/test"

  /** Cancels (with its reason) a golden whose reference files are absent. */
  private def assumeReference(files: String*): Unit = files.foreach { f =>
    val p = s"$Reference/$f"
    assume(Files.exists(Paths.get(p)),
      s"$p absent: reference golden not checked on this box")
  }

  /** The five hourly intervals of the (1311161605, 1311179605] window. */
  private val GoldenWindow = 1311163200L until 1311181200L by 3600L

  /** The built large-shaped file, written into a fresh directory. */
  private def builtLarge(prefix: String): String =
    WhisperFixtures.write(tmpDir(prefix), "large.whisper", WhisperFixtures.large)

  private def hourly(ts: Long): Double = WhisperFixtures.largeValues((3600L, ts))

  test("full fixture replay reproduces the reference goldens") {
    assumeReference("timeseriesdata.json")
    val raw = java.nio.file.Files.readString(
      java.nio.file.Paths.get("/root/reference/test/timeseriesdata.json"))
    val points = raw.trim.stripPrefix("[[").stripSuffix("]]").split("\\],\\s*\\[")
      .map { pair =>
        val Array(ts, v) = pair.split(",")
        RawPoint("series", ts.trim.toLong, v.trim.toDouble)
      }.toSeq
    assert(points.size == 57600)

    val now = 1312502906L // test/hoard.test.coffee:117
    val store = HoardStore.create(spark, tmpDir("fixture") + "/store",
      ArchivePolicy.referenceTest)
    store.updateMany(points, now)

    // golden fetch (test/hoard.test.coffee:121-130)
    val (ti, vals) = store.fetchValues("series", 1311277105L, 1311295105L, now)
    assert(ti == HoardStore.TimeInfo(1311278400L, 1311296400L, 3600L))
    assert(vals.map(_.get) == Seq(1043.0, 3946.0, 1692.0, 899.0, 2912.0))

    // window-math golden from the large.whisper test (values there come
    // from an unpublished source series; the window contract is ours to keep)
    val (ti2, vals2) = store.fetchValues("series", 1311161605L, 1311179605L, now)
    assert(ti2 == HoardStore.TimeInfo(1311163200L, 1311181200L, 3600L))
    assert(vals2.size == 5)

    // propagation cross-check: daily value for one fully-covered day must
    // equal the mean of that day's hourly last-write-wins values
    import org.apache.spark.sql.functions._
    val day = 1311292800L // 2011-07-22 UTC
    val hourly = store.readLevel(ArchivePolicy.referenceTest.sorted.head)
      .where(col("interval") >= timestamp_seconds(lit(day)) &&
        col("interval") < timestamp_seconds(lit(day + 86400)))
      .agg(avg("value")).head().getDouble(0)
    val daily = store.readLevel(ArchivePolicy.referenceTest.sorted.last)
      .where(col("interval") === timestamp_seconds(lit(day)))
      .head().getAs[Double]("value")
    assert(math.abs(hourly - daily) < 1e-9)
  }

  test("full fixture replay reproduces the reference goldens (built fixture)") {
    // a seeded stream of the reference stream's shape (FIXTURES.md §1.1):
    // 57,600 points at an exact 1800 s cadence, 2305 and 505 s into
    // alternate hours, integer values 10-4999
    val rnd = new scala.util.Random(57600)
    val points = (0 until 57600).map(i => RawPoint("series",
      1208824705L + 1800L * i, rnd.between(10, 5000).toDouble))
    assert(points.last.ts == 1312502905L)
    assert(points.map(_.ts % 3600).toSet == Set(505L, 2305L))

    val now = 1312502906L
    val store = HoardStore.create(spark, tmpDir("built-replay") + "/store",
      ArchivePolicy.referenceTest)
    store.updateMany(points, now)

    // naive mirror: the last raw point of each hourly interval wins
    val lastPerHour = points.map(p => (p.ts / 3600 * 3600) -> p.value).toMap
    val (ti, vals) = store.fetchValues("series", 1311277105L, 1311295105L, now)
    assert(ti == HoardStore.TimeInfo(1311278400L, 1311296400L, 3600L))
    assert(vals.map(_.get) ==
      (1311278400L until 1311296400L by 3600L).map(lastPerHour))
    val (ti2, vals2) = store.fetchValues("series", 1311161605L, 1311179605L, now)
    assert(ti2 == HoardStore.TimeInfo(1311163200L, 1311181200L, 3600L))
    assert(vals2.map(_.get) == GoldenWindow.map(lastPerHour))

    // the daily value of one fully-covered day is the mean of that
    // day's hourly last-write-wins values, in the store and the mirror
    import org.apache.spark.sql.functions._
    val day = 1311292800L // 2011-07-22 UTC
    val hourlyMean = store.readLevel(ArchivePolicy.referenceTest.sorted.head)
      .where(col("interval") >= timestamp_seconds(lit(day)) &&
        col("interval") < timestamp_seconds(lit(day + 86400)))
      .agg(avg("value")).head().getDouble(0)
    val daily = store.readLevel(ArchivePolicy.referenceTest.sorted.last)
      .where(col("interval") === timestamp_seconds(lit(day)))
      .head().getAs[Double]("value")
    assert(math.abs(hourlyMean - daily) < 1e-9)
    val mirrorMean = (day until day + 86400 by 3600L).map(lastPerHour).sum / 24
    assert(math.abs(mirrorMean - daily) < 1e-9)
  }

  test("whisper binary import reproduces the reference's header and fetch goldens") {
    assumeReference("large.whisper")
    import graft.store.{HoardImport, WhisperFormat}
    val path = "/root/reference/test/large.whisper"

    // header golden (test/hoard.test.coffee:16-32)
    val h = HoardImport.headerOf(path)
    assert(h.maxRetention == 94608000L)
    assert(h.xff == 0.5f)
    assert(h.archives == Seq(
      WhisperFormat.ArchiveInfo(40, 3600, 8760),
      WhisperFormat.ArchiveInfo(105160, 86400, 1095)))
    assert(h.archives.map(_.retention) == Seq(31536000L, 94608000L))
    assert(h.archives.map(_.sizeBytes) == Seq(105120, 13140))

    // ring decode: both archives are fully populated in the fixture
    val rows = spark.read.format("whisper").load(path)
    import org.apache.spark.sql.functions._
    val counts = rows.groupBy("step").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(3600L -> 8760L, 86400L -> 1095L))

    // import → store → fetch golden (test/hoard.test.coffee:36-51);
    // now = the file's lastUpdate so routing matches the 2011 test run
    val st = HoardImport.intoStore(spark, path, tmpDir("whisper") + "/store")
    val (ti, vals) = st.fetchValues("large", 1311161605L, 1311179605L,
      1312504705L)
    assert(ti == HoardStore.TimeInfo(1311163200L, 1311181200L, 3600L))
    assert(vals.map(_.get) == Seq(2048.0, 4546.0, 794.0, 805.0, 4718.0))

    // the DAILY ring's independent deep history survives the import:
    // its oldest point (2008) is far older than the hourly retention
    val daily = st.readLevel(graft.core.ArchivePolicy.referenceTest.sorted.last)
    val oldest = daily.agg(min(col("interval").cast("long"))).head().getLong(0)
    assert(oldest == 1217894400L)
    assert(daily.count() == 1095L)
  }

  test("whisper binary import reproduces the reference's header and fetch goldens (built fixture)") {
    import graft.store.{HoardImport, WhisperFormat}
    import WhisperFixtures.{LargeNow, OldestDaily, largeValues}
    val path = builtLarge("built-import")
    assert(Files.size(Paths.get(path)) == 118300L)

    val h = HoardImport.headerOf(path)
    assert(h.lastUpdate == LargeNow)
    assert(h.maxRetention == 94608000L)
    assert(h.xff == 0.5f)
    assert(h.archives == Seq(
      WhisperFormat.ArchiveInfo(40, 3600, 8760),
      WhisperFormat.ArchiveInfo(105160, 86400, 1095)))
    assert(h.archives.map(_.retention) == Seq(31536000L, 94608000L))
    assert(h.archives.map(_.sizeBytes) == Seq(105120, 13140))

    // ring decode: both archives are full
    import org.apache.spark.sql.functions._
    val counts = spark.read.format("whisper").load(path)
      .groupBy("step").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(3600L -> 8760L, 86400L -> 1095L))

    // import → store → fetch over the reference's golden window
    val st = HoardImport.intoStore(spark, path, tmpDir("built-whisper") + "/store")
    val (ti, vals) = st.fetchValues("large", 1311161605L, 1311179605L, LargeNow)
    assert(ti == HoardStore.TimeInfo(1311163200L, 1311181200L, 3600L))
    assert(vals.map(_.get) == GoldenWindow.map(hourly))

    // the daily ring's deep history, older than the hourly retention and
    // one slot older than its own, is imported as-is
    val daily = st.readLevel(ArchivePolicy.referenceTest.sorted.last)
      .select(col("interval").cast("long"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(daily.keys.min == OldestDaily)
    assert(daily.size == 1095)
    assert(daily == largeValues.collect { case ((86400L, ts), v) => ts -> v })
  }

  test("whisper export: byte-parity with the reference's create fixture, and import round-trip") {
    assumeReference("testcreate.whisper", "large.whisper")
    import graft.core.Archive
    import graft.store.{HoardExport, HoardImport, WhisperFormat}
    import java.nio.file.{Files, Paths}

    // empty create: the reference test asserts its create() output has
    // the same length as Python Whisper's testcreate.whisper
    // (test/hoard.test.coffee:54-63); pinning the fixture's lastUpdate
    // word, our encoder reproduces the file BYTE-IDENTICALLY
    val refBytes = Files.readAllBytes(
      Paths.get("/root/reference/test/testcreate.whisper"))
    val ours = WhisperFormat.write(1312314443L, 0.5f,
      Seq(Archive(1, 60) -> Seq.empty, Archive(10, 600) -> Seq.empty))
    assert(ours.length == refBytes.length) // 7960, the reference's gate
    assert(java.util.Arrays.equals(ours, refBytes))

    // round-trip: import large.whisper → store → export → re-import;
    // the re-imported store must serve the reference's golden fetch
    val src = "/root/reference/test/large.whisper"
    val lastUpdate = 1312504705L
    val st = HoardImport.intoStore(spark, src, tmpDir("rt") + "/store")
    val out = tmpDir("rt-out") + "/large.whisper"
    HoardExport.toWhisper(st, "large", out, now = lastUpdate)

    val h2 = HoardImport.headerOf(out)
    assert(h2.maxRetention == 94608000L && h2.xff == 0.5f)
    assert(h2.archives.map(a => (a.step, a.points)) ==
      Seq((3600, 8760), (86400, 1095)))

    // slot multisets preserved per step over the LIVE window (ring
    // rotation may differ; slots older than lastUpdate − retention are
    // unfetchable ghosts the export correctly drops — exactly one
    // daily slot in this fixture)
    def liveSlots(p: String) = {
      val bytes = Files.readAllBytes(Paths.get(p))
      val ret = WhisperFormat.header(bytes).archives
        .map(a => a.step -> a.retention).toMap
      WhisperFormat.slots(bytes).filter(s => s.ts > lastUpdate - ret(s.step))
        .toSeq.groupBy(_.step).view
        .mapValues(_.map(s => (s.ts, s.value)).toSet).toMap
    }
    val (orig, rt) = (liveSlots(src), liveSlots(out))
    assert(rt.keySet == orig.keySet)
    orig.foreach { case (step, want) =>
      assert(rt(step) == want, s"step $step slot multiset diverged")
    }

    val st2 = HoardImport.intoStore(spark, out, tmpDir("rt2") + "/store")
    val (ti, vals) = st2.fetchValues("large", 1311161605L, 1311179605L,
      lastUpdate)
    assert(ti == HoardStore.TimeInfo(1311163200L, 1311181200L, 3600L))
    assert(vals.map(_.get) == Seq(2048.0, 4546.0, 794.0, 805.0, 4718.0))
  }

  test("whisper export: byte-parity with the reference's create fixture, and import round-trip (built fixture)") {
    import graft.core.Archive
    import graft.store.{HoardExport, HoardImport, WhisperFormat}

    // empty create: the encoder reproduces the built testcreate file
    // byte for byte, 7,960 B with archives at offsets 40 and 760
    val built = WhisperFixtures.testcreate
    val ours = WhisperFormat.write(WhisperFixtures.CreateLastUpdate, 0.5f,
      Seq(Archive(1, 60) -> Seq.empty, Archive(10, 600) -> Seq.empty))
    assert(built.length == 7960)
    assert(WhisperFormat.header(built).archives.map(_.offset) == Seq(40, 760))
    assert(ours.length == built.length)
    assert(java.util.Arrays.equals(ours, built))

    // round-trip: import → store → export → re-import
    val src = builtLarge("built-rt")
    val lastUpdate = WhisperFixtures.LargeNow
    val st = HoardImport.intoStore(spark, src, tmpDir("built-rt-st") + "/store")
    val out = tmpDir("built-rt-out") + "/large.whisper"
    HoardExport.toWhisper(st, "large", out, now = lastUpdate)

    val h2 = HoardImport.headerOf(out)
    assert(h2.maxRetention == 94608000L && h2.xff == 0.5f)
    assert(h2.archives.map(a => (a.step, a.points)) ==
      Seq((3600, 8760), (86400, 1095)))

    // the live slot sets survive per step; the one daily slot older
    // than lastUpdate − retention is dropped by the export
    def liveSlots(p: String) = {
      val bytes = Files.readAllBytes(Paths.get(p))
      val ret = WhisperFormat.header(bytes).archives
        .map(a => a.step -> a.retention).toMap
      WhisperFormat.slots(bytes).filter(s => s.ts > lastUpdate - ret(s.step))
        .toSeq.groupBy(_.step).view
        .mapValues(_.map(s => (s.ts, s.value)).toSet).toMap
    }
    val (orig, rt) = (liveSlots(src), liveSlots(out))
    assert(orig.values.map(_.size).sum == WhisperFixtures.largeValues.size - 1)
    assert(rt.keySet == orig.keySet)
    orig.foreach { case (step, want) =>
      assert(rt(step) == want, s"step $step slot set diverged")
    }

    val st2 = HoardImport.intoStore(spark, out, tmpDir("built-rt2") + "/store")
    val (ti, vals) = st2.fetchValues("large", 1311161605L, 1311179605L,
      lastUpdate)
    assert(ti == HoardStore.TimeInfo(1311163200L, 1311181200L, 3600L))
    assert(vals.map(_.get) == GoldenWindow.map(hourly))
  }

  test("bulk tree export: byte-identical to the single-series path, dotted names nest") {
    assumeReference("large.whisper")
    import graft.store.{HoardExport, HoardImport}
    import java.nio.file.{Files, Paths}
    val lastUpdate = 1312504705L
    val st = HoardImport.intoStore(spark,
      "/root/reference/test/large.whisper", tmpDir("bulk-src") + "/store")

    // same series through both paths: bytes must match exactly
    val single = tmpDir("bulk-single") + "/large.whisper"
    HoardExport.toWhisper(st, "large", single, now = lastUpdate)
    val tree = tmpDir("bulk-tree")
    assert(HoardExport.toWhisperTree(st, tree, now = lastUpdate) == 1L)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(single)),
      Files.readAllBytes(Paths.get(s"$tree/large.whisper"))),
      "bulk tree export diverged from the single-series bytes")

    // dotted series nest as graphite subdirectories; the multi-series
    // tree re-imports with every series intact
    import org.apache.spark.sql.functions._
    val multi = HoardImport.intoStore(spark, tree,
      tmpDir("bulk-multi") + "/store")
    multi.updateManyDf(
      spark.range(1).select(
        lit("web.srv1.cpu").as("series_id"),
        lit(1312504700L).as("ts"), lit(42.0).as("value"),
        lit(0L).as("seq")),
      lastUpdate)
    val tree2 = tmpDir("bulk-tree2")
    assert(HoardExport.toWhisperTree(multi, tree2, now = lastUpdate) == 2L)
    assert(Files.exists(Paths.get(s"$tree2/web/srv1/cpu.whisper")),
      "dotted series did not nest into graphite subdirectories")
    assert(Files.exists(Paths.get(s"$tree2/large.whisper")))
    // the DSv2 source reads the nested tree back with the FULL dotted
    // name (root-relative path, '/' → '.') — basename-only naming was
    // a reader bug that dropped the tree prefix, fixed in round 8
    val names = spark.read.format("whisper").load(tree2)
      .select("series_id").distinct().collect().map(_.getString(0)).toSet
    assert(names == Set("large", "web.srv1.cpu"))
  }

  test("directory import: a graphite tree becomes one multi-series store; new writes win lww") {
    assumeReference("large.whisper")
    import graft.store.{HoardExport, HoardImport, HoardStore}
    import org.apache.spark.sql.functions._
    val lastUpdate = 1312504705L

    // build a two-file "graphite tree" from the fixture (the exporter
    // makes this self-contained), then import the DIRECTORY
    val src = HoardImport.intoStore(spark,
      "/root/reference/test/large.whisper", tmpDir("tree-src") + "/store")
    val tree = tmpDir("tree")
    HoardExport.toWhisper(src, "large", s"$tree/web01_cpu.whisper", lastUpdate)
    HoardExport.toWhisper(src, "large", s"$tree/web02_cpu.hoard", lastUpdate)

    val st = HoardImport.intoStore(spark, tree, tmpDir("tree-store") + "/store")
    // both files landed as separate series named from their basenames
    Seq("web01_cpu", "web02_cpu").foreach { sid =>
      val (_, vals) = st.fetchValues(sid, 1311161605L, 1311179605L, lastUpdate)
      assert(vals.map(_.get) == Seq(2048.0, 4546.0, 794.0, 805.0, 4718.0), sid)
    }
    // one dense multi-series frame across the whole imported tree
    val (_, dense) = st.fetchMulti(lit(true), 1311161605L, 1311179605L,
      lastUpdate)
    assert(dense.select("series_id").distinct().count() == 2)

    // migration is a beginning, not a snapshot: a post-import write
    // claims a LATER commit base and wins lww over imported points
    st.updateMany(Seq(HoardStore.RawPoint("web01_cpu", 1311166800L, 9999.0)),
      now = lastUpdate)
    val (_, after) = st.fetchValues("web01_cpu", 1311161605L, 1311179605L,
      lastUpdate)
    assert(after.map(_.get) == Seq(2048.0, 9999.0, 794.0, 805.0, 4718.0))
  }

  test("directory import: a graphite tree becomes one multi-series store; new writes win lww (built fixture)") {
    import graft.store.{HoardExport, HoardImport}
    import org.apache.spark.sql.functions._
    val lastUpdate = WhisperFixtures.LargeNow
    val want = GoldenWindow.map(hourly)

    // a two-file tree (one .whisper, one .hoard) exported from the built
    // file's store, then the DIRECTORY imported
    val src = HoardImport.intoStore(spark, builtLarge("built-tree-src"),
      tmpDir("built-tree-st") + "/store")
    val tree = tmpDir("built-tree")
    HoardExport.toWhisper(src, "large", s"$tree/web01_cpu.whisper", lastUpdate)
    HoardExport.toWhisper(src, "large", s"$tree/web02_cpu.hoard", lastUpdate)

    val st = HoardImport.intoStore(spark, tree, tmpDir("built-tree-store") + "/store")
    Seq("web01_cpu", "web02_cpu").foreach { sid =>
      val (_, vals) = st.fetchValues(sid, 1311161605L, 1311179605L, lastUpdate)
      assert(vals.map(_.get) == want, sid)
    }
    val (_, dense) = st.fetchMulti(lit(true), 1311161605L, 1311179605L,
      lastUpdate)
    assert(dense.select("series_id").distinct().count() == 2)

    // a post-import write claims a later commit and wins lww
    st.updateMany(Seq(RawPoint("web01_cpu", 1311166800L, 9999.0)),
      now = lastUpdate)
    val (_, after) = st.fetchValues("web01_cpu", 1311161605L, 1311179605L,
      lastUpdate)
    assert(after.map(_.get) == want.updated(1, 9999.0))
  }
}
