package graft

import graft.core.ArchivePolicy
import graft.store.HoardStore
import graft.store.HoardStore.RawPoint

/** End-to-end replay of the reference's own test fixture
  * (test/timeseriesdata.json, 57,600 points) under the pinned clock the
  * reference used, asserting the golden fetch from
  * test/hoard.test.coffee:121-130 — the last-write-wins values per
  * hourly interval.
  */
class FixtureReplaySpec extends SparkTestBase {

  test("full fixture replay reproduces the reference goldens") {
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

  test("whisper binary import reproduces the reference's header and fetch goldens") {
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

  test("whisper export: byte-parity with the reference's create fixture, and import round-trip") {
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

  test("bulk tree export: byte-identical to the single-series path, dotted names nest") {
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
}
