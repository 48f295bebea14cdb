package graft

import graft.core.{Archive, ArchivePolicy}
import graft.store.HoardStore
import graft.store.HoardStore.RawPoint

/** Store-level contract tests — each maps to a SURVEY §2.2 item or a
  * §2.3 fix-by-intent.
  */
class HoardStoreSpec extends SparkTestBase {

  private val policy = ArchivePolicy.referenceTest // 1h x 1y + 1d x 3y
  private val now = 1312502906L                    // pinned, test/hoard.test.coffee:117

  private def freshStore() =
    HoardStore.create(spark, tmpDir("hoard") + "/store", policy)

  /** Root paths of every file relation the optimized plan scans. */
  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            r.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }

  private def hourlyMonths(s: HoardStore): Map[String, Set[String]] =
    s.latestEntries.filter(e => e.step == 3600 && !e.isCatalog).groupBy(_.month)
      .map { case (m, es) => m -> es.map(_.rel).toSet }

  test("create rejects an existing store; info reads the catalog back") {
    val s = freshStore()
    intercept[IllegalStateException] {
      HoardStore.create(spark, s.root, policy)
    }
    val p = HoardStore.info(spark, s.root)
    assert(p.sorted == policy.sorted && p.xff == 0.5 && p.maxRetention == 94608000L)
  }

  test("update + fetch roundtrip with interval alignment") {
    val s = freshStore()
    val t = now - 7200
    s.update("cpu", 42.5, t, now)
    val (ti, vals) = s.fetchValues("cpu", t - 3600, t + 3600, now)
    assert(ti.step == 3600)
    assert(vals.flatten == Seq(42.5))
  }

  test("last write wins within an interval (contract 2.2.2)") {
    val s = freshStore()
    val t = now - 7200
    s.update("cpu", 1.0, t, now)
    s.update("cpu", 2.0, t + 60, now) // same hourly slot, later write
    val (_, vals) = s.fetchValues("cpu", t - 3600, t + 3600, now)
    assert(vals.flatten == Seq(2.0))
  }

  test("single update propagates to lower archives (B2 fixed)") {
    val s = freshStore()
    val dayStart = (now - 200000) / 86400 * 86400
    // 12 hourly points = exactly xff 0.5 of 24 -> daily value written
    (0 until 12).foreach(h => s.updateMany(Seq(RawPoint("cpu", dayStart + h * 3600, h.toDouble)), now))
    val daily = s.readLevel(Archive(86400, 1095))
      .where(org.apache.spark.sql.functions.col("series_id") === "cpu").collect()
    assert(daily.length == 1)
    assert(daily.head.getAs[Double]("value") == (0 until 12).sum / 12.0)
  }

  test("xff gate rejects sparse intervals but keeps stale values (2.2.7)") {
    val s = freshStore()
    val dayStart = (now - 2000000) / 86400 * 86400
    // first: 12 points -> daily mean 5.5 written
    s.updateMany((0 until 12).map(h => RawPoint("cpu", dayStart + h * 3600, h.toDouble)), now)
    val daily1 = s.readLevel(Archive(86400, 1095)).collect()
    assert(daily1.length == 1 && daily1.head.getAs[Double]("value") == 5.5)
    // then a different day with too-few points: no daily row for it,
    // and the old daily value stays
    val day2 = dayStart + 5 * 86400
    s.updateMany(Seq(RawPoint("cpu", day2, 99.0)), now)
    val daily2 = s.readLevel(Archive(86400, 1095)).orderBy("interval").collect()
    assert(daily2.length == 1 && daily2.head.getAs[Double]("value") == 5.5)
  }

  test("write validation: update rejects future and too-old; batch drops silently (2.2.5)") {
    val s = freshStore()
    intercept[IllegalArgumentException] { s.update("cpu", 1.0, now + 10, now) }
    intercept[IllegalArgumentException] { s.update("cpu", 1.0, now - policy.maxRetention, now) }
    // batch: too-old dropped, valid point kept
    s.updateMany(Seq(
      RawPoint("cpu", now - policy.maxRetention - 5, 1.0),
      RawPoint("cpu", now - 3600, 2.0)), now)
    val hourly = s.readLevel(policy.finest).collect()
    val daily = s.readLevel(Archive(86400, 1095)).collect()
    assert(hourly.length + daily.length == 1)
  }

  test("age-based routing: old points go directly to the daily archive (2.2.4)") {
    val s = freshStore()
    val oldTs = now - 40000000 // ~1.3y: beyond hourly retention, within daily
    s.updateMany(Seq(RawPoint("cpu", oldTs, 7.0)), now)
    assert(s.readLevel(policy.finest).isEmpty)
    val daily = s.readLevel(Archive(86400, 1095)).collect()
    assert(daily.length == 1 && daily.head.getAs[Double]("value") == 7.0)
    // fetch with a window reaching that far picks the daily archive
    val (ti, vals) = s.fetchValues("cpu", oldTs - 86400, oldTs + 86400, now)
    assert(ti.step == 86400)
    assert(vals.flatten == Seq(7.0))
  }

  test("fetch clamps from to retention and to to now (2.2.6)") {
    val s = freshStore()
    s.update("cpu", 3.0, now - 1800, now)
    // from far before retention, to far in the future
    val (ti, vals) = s.fetchValues("cpu", now - policy.maxRetention * 2, now + 99999, now)
    assert(ti.step == 86400) // clamped from -> full-retention age -> daily
    assert(ti.fromInterval == graft.core.Time.bumpEpoch(now - policy.maxRetention, 86400))
    assert(ti.toInterval == graft.core.Time.bumpEpoch(now, 86400))
    // from past `now`: to clamps to now, the window collapses, and the
    // reference's zero-pass loop returns an empty values list
    val (_, dfEmpty) = s.fetch("cpu", now + 10, now + 20, now)
    assert(dfEmpty.isEmpty)
  }

  test("fetch on an empty store returns all nulls (reference :450-456)") {
    val s = freshStore()
    val (ti, vals) = s.fetchValues("ghost", now - 7200, now, now)
    assert(vals.size == ((ti.toInterval - ti.fromInterval) / ti.step).toInt)
    assert(vals.flatten.isEmpty)
  }

  test("store honors a non-default consolidation function (cf=max)") {
    val s = HoardStore.create(spark, tmpDir("hoard-cf") + "/store",
      policy.copy(cf = "max"))
    val dayStart = (now - 200000) / 86400 * 86400
    s.updateMany((0 until 12).map(h =>
      HoardStore.RawPoint("cpu", dayStart + h * 3600, h.toDouble)), now)
    val daily = s.readLevel(graft.core.Archive(86400, 1095)).collect()
    assert(daily.length == 1 && daily.head.getAs[Double]("value") == 11.0)
    assert(HoardStore.info(spark, s.root).cf == "max") // cf roundtrips
  }

  test("fetchMulti returns a dense frame per matching series") {
    import org.apache.spark.sql.functions.col
    val s = freshStore()
    val t = now - 7200
    s.updateMany(Seq(
      HoardStore.RawPoint("cpu", t, 1.0),
      HoardStore.RawPoint("mem", t - 3600, 2.0)), now)
    val (ti, df) = s.fetchMulti(col("series_id").isin("cpu", "mem"),
      t - 7200, t + 3600, now)
    val slots = ((ti.toInterval - ti.fromInterval) / ti.step).toInt
    val rows = df.collect()
    assert(rows.length == 2 * slots) // dense for both series
    assert(rows.count(!_.isNullAt(2)) == 2) // one value each
  }

  test("late data within retention is accepted and re-propagated (SURVEY 3.4)") {
    val s = freshStore()
    val dayStart = (now - 2000000) / 86400 * 86400
    // batch 1: hours 2..13 of a day (12 points -> daily mean written)
    s.updateMany((2 until 14).map(h =>
      HoardStore.RawPoint("cpu", dayStart + h * 3600, h.toDouble)), now)
    // batch 2 arrives LATER but carries an EARLIER point (hour 0):
    // accepted, lands in its slot, daily recomputed over 13 points
    s.updateMany(Seq(HoardStore.RawPoint("cpu", dayStart, 100.0)), now)
    val (_, vals) = s.fetchValues("cpu", dayStart - 1, dayStart + 14 * 3600, now)
    assert(vals.head.contains(100.0)) // the late hour-0 slot is filled
    val daily = s.readLevel(graft.core.Archive(86400, 1095)).collect()
    assert(daily.length == 1)
    assert(math.abs(daily.head.getAs[Double]("value") -
      ((2 until 14).sum + 100.0) / 13.0) < 1e-9)
  }

  test("fetch prunes month partitions, not just interval rows") {
    val s = freshStore()
    // two points in different months so the level has 2+ partitions
    s.updateMany(Seq(
      HoardStore.RawPoint("cpu", now - 3600, 1.0),
      HoardStore.RawPoint("cpu", now - 90 * 86400, 2.0)), now)
    val (_, df) = s.fetch("cpu", now - 7200, now, now)
    // the scan's file list must cover only the window's month (a
    // data-column interval predicate alone would scan every month)
    val months = hourlyMonths(s)
    assert(months.size == 2, s"expected two hourly months, got ${months.keySet}")
    val window = months("2011-08")
    val scanned = scannedPaths(df).flatten
    assert(scanned.nonEmpty && scanned.forall(p => window.exists(p.endsWith)),
      s"scan reads files outside the window's month: $scanned")
    val (_, vals) = s.fetchValues("cpu", now - 7200, now, now)
    assert(vals.flatten == Seq(1.0)) // pruning did not drop the hit
  }

  test("vacuum drops rows beyond each level's retention") {
    val s = freshStore()
    s.updateMany(Seq(RawPoint("cpu", now - 3600, 1.0)), now)
    // age the store: advance the clock by 2 years so the hourly row expires
    val later = now + 2 * 31536000L
    s.vacuum(later)
    assert(s.readLevel(policy.finest).isEmpty)
    s.vacuum(later) // idempotent on an emptied level (no footers to read)
    assert(s.readLevel(policy.finest).isEmpty)
  }

  test("vacuum drops expired months wholesale and leaves live months byte-identical") {
    import java.nio.file.{Files, Paths}
    // 120-day retention: the oldest of three month partitions fully
    // expires; the cutoff lands in a month with no expired rows, so the
    // surviving partitions must not be rewritten at all
    val s = HoardStore.create(spark, tmpDir("hoard-v") + "/store",
      ArchivePolicy(Seq(Archive(3600, 2880)))) // 3600 * 2880 = 120 days
    // ingest with the clock at the OLDEST point so all three are young
    // enough to store (the batch path happily stores ahead-of-clock
    // points in the finest archive); vacuum then runs at `now`
    s.updateMany(Seq(
      RawPoint("cpu", now - 3600, 1.0),             // current month (live)
      RawPoint("cpu", now - 75 * 86400, 2.0),       // ~2.5 months back (live)
      RawPoint("cpu", now - 170 * 86400, 3.0)),      // ~5.6 months back (expired)
      now - 170 * 86400)
    def mtimes(rels: Set[String]): Set[(String, Long)] = rels.map(r =>
      r -> Files.getLastModifiedTime(Paths.get(s.root, r)).toMillis)
    val before = hourlyMonths(s)
    assert(before.size == 3)
    val snap = before.map { case (m, rels) => m -> mtimes(rels) }
    s.vacuum(now)
    val after = hourlyMonths(s)
    assert(after.size == 2, s"expected expired month dropped, got ${after.keySet}")
    assert(!after.contains(before.keySet.min))
    // surviving months were not rewritten: same entries, same files
    after.foreach { case (m, rels) =>
      assert(rels == before(m) && mtimes(rels) == snap(m), s"month $m was rewritten")
    }
    val vals = s.readLevel(Archive(3600, 2880)).collect()
    assert(vals.map(_.getAs[Double]("value")).toSet == Set(1.0, 2.0))
  }

  test("fetchMulti derives its universe from the series catalog, not a level scan") {
    import org.apache.spark.sql.functions.{col, lit}
    val s = freshStore()
    val t = now - 7200
    s.updateMany(Seq(
      HoardStore.RawPoint("cpu", t, 1.0),
      HoardStore.RawPoint("mem", t - 3600, 2.0)), now)
    val (_, df) = s.fetchMulti(lit(true), t - 7200, t + 3600, now)
    val scans = scannedPaths(df)
    val catalogFiles = s.latestEntries.filter(e => e.isCatalog && e.step == 3600)
      .map(_.rel)
    assert(catalogFiles.nonEmpty &&
      scans.exists(_.exists(p => catalogFiles.exists(p.endsWith))),
      s"universe does not read the catalog entries $catalogFiles: $scans")
    // exactly ONE scan of the level data (the windowed read); the
    // pre-catalog plan scanned the level a second time for the universe
    val levelScans = scans.count(_.exists(p =>
      p.contains("/l=3600/") && !p.contains(s"p_month=${HoardStore.CatalogMonth}")))
    assert(levelScans == 1, s"expected 1 level scan, got $levelScans: $scans")
  }

  test("catalog keeps a vacuumed-out series visible to fetchMulti (all-null frame)") {
    import org.apache.spark.sql.functions.lit
    val s = freshStore()
    s.updateMany(Seq(RawPoint("cpu", now - 3600, 1.0)), now)
    val later = now + 2 * 31536000L
    s.vacuum(later) // hourly row expires; catalog entry remains
    val (ti, df) = s.fetchMulti(lit(true), later - 7200, later, later)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.isNullAt(2)),
      "vacuumed series should fetch as an all-null dense frame")
    assert(ti.step == 3600)
  }

  private def dump(s: HoardStore, ar: Archive) = {
    import org.apache.spark.sql.functions.col
    s.readLevel(ar).orderBy("series_id", "interval")
      .select(col("series_id"), col("interval").cast("long"), col("value"))
      .collect().toSeq
  }

  test("compact(1) leaves one manifest entry per (level, month) without changing contents") {
    val s = freshStore()
    (0 until 5).foreach { b =>
      s.updateMany((0 until 10).map(i =>
        RawPoint("cpu", now - 86400 + (b * 10 + i) * 3600 % 86400, b + i * 1.0)),
        now)
    }
    val before = policy.sorted.map(dump(s, _))
    assert(s.latestEntries.groupBy(e => (e.step, e.month)).exists(_._2.size > 1))
    s.compact(maxFilesPerMonth = 1)
    assert(policy.sorted.map(dump(s, _)) == before, "compaction changed level contents")
    s.latestEntries.groupBy(e => (e.step, e.month)).foreach { case (k, es) =>
      assert(es.size == 1, s"$k not folded to one entry: $es")
    }
  }

  test("open() refuses a store whose _merge is not the current marker, naming the strategy") {
    import java.nio.file.{Files, Paths}
    val s = freshStore()
    s.update("cpu", 1.0, now - 7200, now)
    assert(HoardStore.open(spark, s.root).fetchValues("cpu", now - 10800, now, now)
      ._2.flatten == Seq(1.0))
    val marker = Paths.get(s.root, "_merge")
    Files.writeString(marker, "month_rewrite")
    val legacy = intercept[IllegalStateException](HoardStore.open(spark, s.root))
    assert(legacy.getMessage.contains("month_rewrite"), legacy.getMessage)
    // a store whose rows carry the old struct stamp
    Files.writeString(marker, "manifest_append")
    val structStamp = Seq(
      intercept[IllegalStateException](HoardStore.open(spark, s.root)),
      intercept[IllegalStateException](HoardStore.openVersion(spark, s.root, 1)))
    structStamp.foreach(e => assert(e.getMessage.contains("manifest_append"), e.getMessage))
    Files.delete(marker)
    val unmarked = intercept[IllegalStateException](HoardStore.open(spark, s.root))
    assert(unmarked.getMessage.contains("no _merge marker"), unmarked.getMessage)
    // a store that still carries the old side-store catalog directory
    Files.writeString(marker, HoardStore.ManifestMarker)
    Files.createDirectory(Paths.get(s.root, "_series"))
    val sideCatalog = Seq(
      intercept[IllegalStateException](HoardStore.open(spark, s.root)),
      intercept[IllegalStateException](HoardStore.openVersion(spark, s.root, 1)))
    sideCatalog.foreach(e => assert(e.getMessage.contains("_series/"), e.getMessage))
  }

  test("a stored row's last-write-wins stamp is one LONG, its commit id") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampType}
    val s = freshStore()
    s.updateMany(Seq(RawPoint("cpu", now - 7200, 1.0), RawPoint("cpu", now - 7100, 2.0)), now)
    val data = s.latestEntries.filterNot(_.isCatalog)
    assert(data.nonEmpty)
    data.foreach { e =>
      val file = spark.read.parquet(s"${s.root}/${e.rel}")
      assert(file.schema.map(f => f.name -> f.dataType) == Seq("series_id" -> StringType,
        "interval" -> TimestampType, "value" -> DoubleType, "seq" -> LongType),
        s"${e.rel}: ${file.schema.simpleString}")
      // the stamp is the id of the commit directory the file lives in
      val commit = e.commitDir.stripPrefix("c").toLong
      assert(file.select("seq").distinct().collect().map(_.getLong(0)).toSeq == Seq(commit))
    }
  }

  test("17 single-point commits into one month trigger the inline fold; contents unchanged") {
    val s = freshStore()
    val dayStart = (now - 2000000) / 86400 * 86400
    val pts = (0 until 17).map(h => RawPoint("cpu", dayStart + h * 3600, h.toDouble))
    pts.foreach(p => s.updateMany(Seq(p), now))
    // every (level, month) is fed by at most 16 commits, and the hourly
    // month (17 writes) went through a fold
    val byMonth = s.latestEntries.groupBy(e => (e.step, e.month))
    byMonth.foreach { case (k, es) =>
      val commits = es.map(_.commitDir).distinct
      assert(commits.size <= 16, s"$k fed by ${commits.size} commits")
    }
    assert(s.latestEntries.exists(e => e.step == 3600 && e.commitDir.contains("_fold_")),
      "17 commits into one hourly month did not fold")
    val hourly = dump(s, policy.finest).map(r => (r.getLong(1), r.getDouble(2)))
    assert(hourly == pts.map(p => (p.ts, p.value)))
    val daily = dump(s, Archive(86400, 1095))
    assert(daily.size == 1 && daily.head.getDouble(2) == pts.map(_.value).sum / 17)
  }

  test("series catalog stays bounded in file count across many batches") {
    val s = freshStore()
    (0 until 20).foreach { i =>
      s.updateMany(Seq(RawPoint(s"srv$i", now - 3600, i.toDouble)), now)
    }
    // 20 batches add one catalog entry per level each; the inline fold
    // (past 16 commits) folds a level's catalog back to one entry
    s.latestEntries.filter(_.isCatalog).groupBy(_.step).foreach { case (step, es) =>
      assert(es.size <= 17, s"level $step catalog grew to ${es.size} entries")
    }
    val (_, df) = s.fetchMulti(org.apache.spark.sql.functions.lit(true),
      now - 7200, now, now)
    assert(df.select("series_id").distinct().count() == 20,
      "compaction lost catalog entries")
  }

  test("a pinned view lists the series of its own version, not the latest catalog") {
    import org.apache.spark.sql.functions.{col, lit}
    val s = freshStore()
    s.updateMany(Seq(RawPoint("x", now - 3600, 1.0), RawPoint("keep", now - 3600, 2.0)),
      now)
    val snap = s.snapshot()
    s.deleteSeries(col("series_id") === "x")
    val (_, dense) = snap.fetchMulti(lit(true), now - 7200, now, now)
    val xs = dense.where(col("series_id") === "x").collect()
      .flatMap(r => Option(r.getAs[java.lang.Double]("value")))
    assert(xs.toSeq == Seq(1.0), s"snapshot before the delete lost x: $xs")

    val pinned = HoardStore.openVersion(spark, s.root, HoardStore.latestManifestVersion(s.root))
    s.updateMany(Seq(RawPoint("y", now - 3600, 3.0)), now)
    def names(st: HoardStore) = st.seriesCatalog().collect().map(_.getString(0)).toSet
    assert(names(pinned) == Set("keep"), "a version pinned before y's write lists y")
    val (_, pd) = pinned.fetchMulti(lit(true), now - 7200, now, now)
    assert(pd.select("series_id").distinct().collect().map(_.getString(0)).toSet ==
      Set("keep"))
    assert(names(s) == Set("keep", "y"))
  }

  test("a planned fetchMulti frame survives later commits and catalog folds") {
    import org.apache.spark.sql.functions.lit
    val s = freshStore()
    s.updateMany(Seq(RawPoint("srv0", now - 3600, 0.0)), now)
    def plan() = s.fetchMulti(lit(true), now - 7200, now, now)._2
      .orderBy("series_id", "interval").collect().toSeq
    val want = plan()
    val (_, planned) = s.fetchMulti(lit(true), now - 7200, now, now)
    // each commit adds a series to both levels' catalogs: 20 commits
    // pass the fold threshold, so the planned frame's catalog files
    // are superseded (but not deleted) before it runs
    (1 to 20).foreach(i =>
      s.updateMany(Seq(RawPoint(s"srv$i", now - 3600, i.toDouble)), now))
    assert(planned.orderBy("series_id", "interval").collect().toSeq == want,
      "the planned frame does not return the pre-commit view")
    assert(s.latestEntries.exists(e => e.isCatalog && e.commitDir.contains("_fold_")),
      "20 catalog commits did not fold")
    assert(plan().map(_.getString(0)).distinct.size == 21)
  }

  test("zero-slot window returns an empty frame, not an error (reference :493-509)") {
    val s = freshStore()
    s.update("cpu", 1.0, now - 1800, now)
    // from < to but both inside one hourly step after bumping
    val from = (now / 3600) * 3600 - 3599
    val (ti, df) = s.fetch("cpu", from, from + 10, now)
    assert(ti.fromInterval == ti.toInterval)
    assert(df.isEmpty)
    val (ti2, df2) = s.fetchMulti(org.apache.spark.sql.functions.lit(true),
      from, from + 10, now)
    assert(ti2.fromInterval == ti2.toInterval && df2.isEmpty)
  }

  test("seriesGlob selects graphite-style targets over an imported tree shape") {
    val s = freshStore()
    val names = Seq("web01.cpu.user", "web02.cpu.user", "web01.cpu.system",
      "db01.cpu.user", "web01.load", "webXX.cpu.user")
    names.foreach(n => s.update(n, 1.0, now - 1800, now))
    def matches(pattern: String): Set[String] = {
      val (_, df) = s.fetchMulti(s.seriesGlob(pattern), now - 3600, now, now)
      df.select("series_id").distinct().collect().map(_.getString(0)).toSet
    }
    // * stays within one dotted segment
    assert(matches("web*.cpu.user") ==
      Set("web01.cpu.user", "web02.cpu.user", "webXX.cpu.user"))
    assert(matches("*.cpu.*") == Set("web01.cpu.user", "web02.cpu.user",
      "web01.cpu.system", "db01.cpu.user", "webXX.cpu.user"))
    // ? is one non-dot char; classes and alternation pass through
    assert(matches("web0?.cpu.user") ==
      Set("web01.cpu.user", "web02.cpu.user"))
    assert(matches("web[0-9][0-9].cpu.user") ==
      Set("web01.cpu.user", "web02.cpu.user"))
    assert(matches("web{01,02}.cpu.{user,system}") ==
      Set("web01.cpu.user", "web02.cpu.user", "web01.cpu.system"))
    // no cross-segment bleed: *.user must not match web01.load
    assert(!matches("*.user").contains("web01.load"))
    assert(matches("web01.*") == Set("web01.load"))
  }

  test("fill: destination wins conflicts, gaps copy, levels independent") {
    val dst = freshStore()
    val src = freshStore()
    val t = now - 7200
    // conflicting slot: both stores hold t, different values
    dst.update("cpu", 10.0, t, now)
    src.update("cpu", 99.0, t, now)
    // gap: only src holds t-3600
    src.update("cpu", 7.5, t - 3600, now)
    // src-only series
    src.update("mem", 3.25, t, now)
    dst.fill(src)
    val (_, vals) = dst.fetchValues("cpu", t - 7200, t + 3600, now)
    assert(vals == Seq(Some(7.5), Some(10.0), None),
      s"dst must keep 10.0 and gain 7.5; got $vals")
    val (_, mem) = dst.fetchValues("mem", t - 3600, t + 3600, now)
    assert(mem.flatten == Seq(3.25), "src-only series must appear")
    // idempotence: a second fill changes nothing
    dst.fill(src)
    assert(dst.fetchValues("cpu", t - 7200, t + 3600, now)._2 ==
      Seq(Some(7.5), Some(10.0), None))
  }

  test("fill: coarse levels carry src provenance, no repropagation") {
    // a daily slot present ONLY in src's coarse archive (too old for
    // the hourly level) must copy verbatim — fill never recomputes a
    // coarse slot from filled finer data
    val dst = freshStore()
    val src = freshStore()
    val tOld = now - 94608000L + 86400L * 3 // inside 3y daily, outside 1y hourly
    val slot = tOld - java.lang.Math.floorMod(tOld, 86400L)
    src.updateMany(Seq(RawPoint("cpu", tOld, 55.0)), now)
    dst.fill(src)
    val daily = dst.policy.sorted.last
    import org.apache.spark.sql.functions.col
    val got = dst.readLevel(daily)
      .where(col("series_id") === "cpu" &&
        col("interval").cast("long") === slot)
      .select("value").collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(55.0), s"deep slot must copy verbatim; got $got")
  }

  test("fsck flags a poisoned coarse slot; repair restores it exactly") {
    import org.apache.spark.sql.functions.col
    val s = freshStore()
    val dayStart = (now - 2000000) / 86400 * 86400
    // 12 hourly points -> one xff-passing daily slot (value 5.5)
    s.updateMany((0 until 12).map(h =>
      RawPoint("cpu", dayStart + h * 3600, h.toDouble)), now)
    val healthy = s.fsck().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(healthy.toSeq == Seq((86400L, 1L, 0L)), s"healthy: ${healthy.toSeq}")
    // poison the daily slot through the public merge path (a later seq
    // wins lww — exactly what a buggy writer would do)
    val daily = s.policy.sorted.last
    import spark.implicits._
    s.importArchive(
      Seq((daily.step, "cpu", dayStart, 999.0)).toDF("step", "series_id", "ts", "value"))
    val sick = s.fsck().collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(sick.toSeq == Seq((1L, 1L)), "fsck must flag the poisoned slot")
    // repair re-derives from the hourly level and must win lww
    s.fsckRepair()
    val fixed = s.fsck().collect().map(_.getLong(2)).sum
    assert(fixed == 0L, "repair must clear every mismatch")
    val v = s.readLevel(daily)
      .where(col("series_id") === "cpu").collect()
    assert(v.length == 1 && v.head.getAs[Double]("value") == 5.5)
    // idempotence: repairing a healthy store changes nothing
    s.fsckRepair()
    assert(s.fsck().collect().map(_.getLong(2)).sum == 0L)
  }

  test("fill rejects mismatched archive layouts") {
    val dst = freshStore()
    val other = HoardStore.create(spark, tmpDir("hoard-p") + "/store",
      ArchivePolicy(Seq(Archive(3600, 8760))))
    intercept[IllegalArgumentException] { dst.fill(other) }
  }

  /** Spark jobs `body` runs, counted by a listener on a job group. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "counted")
      try body finally sc.clearJobGroup()
      // the listener bus delivers in order: once the marker job is seen,
      // so is every counted job
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("marker"), "the listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    groups.toArray.count(_ == "counted")
  }

  test("one batch commit on a 3-level store runs at most 3 Spark jobs") {
    val s = HoardStore.create(spark, tmpDir("hoard-jobs") + "/store", ArchivePolicy(
      Seq(Archive(60, 1440), Archive(600, 4320), Archive(3600, 8760))))
    val t0 = now - 3600
    val batch = (0 until 33).map(i => RawPoint(s"h${i % 8}.cpu", t0 + i / 8 * 60, i.toDouble))
    // the measured commit also reads pinned finer rows and a catalog
    s.updateMany(batch, now)
    // the routed checkpoint, the one shuffle's map stage and the write
    val jobs = jobsOf(s.updateMany(batch.map(p => p.copy(value = p.value + 1)), now))
    info(s"one updateMany ran $jobs Spark jobs")
    assert(jobs <= 3, s"one updateMany ran $jobs Spark jobs")
  }

  test("fetch, fetchMulti, fetchValues and a single-target render each run one Spark job") {
    import graft.operators.GraphiteTarget
    import org.apache.spark.sql.functions.col
    val (s, batch) = threeLevelStore("hoard-read-jobs")
    s.updateMany(batch(1), now)
    s.updateMany(batch(2), now)
    val (from, until) = (now - 3700, now)
    def render(): Unit = {
      val (ti, dense) = s.fetchMulti(s.seriesGlob("h*.cpu"), from, until, now)
      val universe = dense.where(col("value").isNotNull)
        .select(col("series_id").as("series"), col("interval").as("bucket"), col("value"))
      val rows = GraphiteTarget.render(Seq("sumSeries(h*.cpu)"), universe, ti.step,
        from, until, Some(10)).collect()
      assert(rows.nonEmpty && rows.length <= 10, s"the render returned ${rows.length} buckets")
    }
    // 33 points: five minutes of h0, four of h1 … h7
    def points(df: org.apache.spark.sql.DataFrame): Int = df.collect().count(!_.isNullAt(2))
    val jobs = Seq(
      "fetch" -> jobsOf(assert(points(s.fetch("h0.cpu", from, until, now)._2) == 5)),
      "fetchMulti" -> jobsOf(assert(points(s.fetchMulti(s.seriesGlob("h*.cpu"), from, until,
        now)._2) == 33)),
      "fetchValues" -> jobsOf(assert(s.fetchValues("h0.cpu", from, until, now)._2.flatten.size == 5)),
      "render" -> jobsOf(render()))
    info(jobs.map { case (k, n) => s"$k $n" }.mkString(", "))
    assert(jobs.forall(_._2 == 1), s"jobs per read: $jobs")
  }

  /** A 3-level store after one commit, so the next commit also reads
    * pinned finer rows and a catalog, and a 33-point batch for it.
    */
  private def threeLevelStore(name: String): (HoardStore, Int => Seq[RawPoint]) = {
    val s = HoardStore.create(spark, tmpDir(name) + "/store", ArchivePolicy(
      Seq(Archive(60, 1440), Archive(600, 4320), Archive(3600, 8760))))
    val t0 = now - 3600
    def batch(v: Int) =
      (0 until 33).map(i => RawPoint(s"h${i % 8}.cpu", t0 + i / 8 * 60, (i + v).toDouble))
    s.updateMany(batch(0), now)
    (s, batch)
  }

  test("a second same-shape commit reuses the generated classes of the first") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (s, batch) = threeLevelStore("hoard-codegen")
    s.updateMany(batch(1), now)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    s.updateMany(batch(2), now)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    info(s"the second commit compiled $compiled classes")
    assert(compiled <= 5, s"the second same-shape commit compiled $compiled classes")
  }

  test("a commit's staging write plans each cascade level once") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan,
      WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // every executed node, into the command, the AQE plan and its stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val (s, batch) = threeLevelStore("hoard-plan")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Seq[SparkPlan]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val all = nodes(qe.executedPlan)
        if (all.exists(_.isInstanceOf[DataWritingCommandExec])) writes.add(all)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      s.updateMany(batch(1), now)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"expected one staging write, saw ${writes.size}")
    val write = writes.peek()
    val maxBy = write.count {
      case a: BaseAggregateExec =>
        a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[MaxBy])
      case _ => false
    }
    val stages = write.count(_.isInstanceOf[WholeStageCodegenExec])
    info(s"$maxBy max_by aggregates, $stages codegen stages in ${write.size} nodes: " +
      write.map(_.nodeName).groupBy(identity).map { case (k, v) => s"$k=${v.size}" }
        .toSeq.sorted.mkString(", "))
    assert(maxBy <= 10, s"the staging write has $maxBy max_by aggregates")
    assert(stages <= 25, s"the staging write has $stages whole-stage codegen stages")
  }

  test("propagation into a coarse interval that straddles a month edge reads both months") {
    import org.apache.spark.sql.functions.col
    // a weekly level: the epoch-aligned week [2011-07-28, 2011-08-04)
    // crosses the 2011-08-01 month edge
    val hourly = Archive(3600, 1440)
    val weekly = Archive(604800, 520)
    val s = HoardStore.create(spark, tmpDir("hoard-week") + "/store",
      ArchivePolicy(Seq(hourly, weekly), xff = 0.5))
    val week = 1311811200L
    val edge = 1312156800L // 2011-08-01T00:00:00Z
    assert(week < edge && edge < week + weekly.step)
    // naive mirror: last write per hourly slot, then the xff-gated mean
    val mirror = scala.collection.mutable.Map.empty[Long, Double]
    def expected: Option[Double] = {
      val known = mirror.filter { case (t, _) => t >= week && t < week + weekly.step }
      if (known.size.toDouble / (weekly.step / hourly.step) >= 0.5)
        Some(known.values.sum / known.size)
      else None
    }
    def stored: Option[Double] = s.readLevel(weekly).where(col("series_id") === "w")
      .collect().map(_.getAs[Double]("value")).headOption
    def write(ts: Seq[Long], base: Int): Unit = {
      val pts = ts.zipWithIndex.map { case (t, i) => RawPoint("w", t, (base + i).toDouble) }
      s.updateMany(pts, now)
      pts.foreach(p => mirror(p.ts) = p.value)
    }
    // 45 hours on each side: 90 of 168 passes the gate, neither side alone does
    write((1 to 45).map(h => edge - h * 3600L) ++ (0 until 45).map(h => edge + h * 3600L), 100)
    assert(expected.isDefined)
    assert(stored == expected, s"first batch: stored $stored, mirror $expected")
    // a second batch into August only: five overwrites and ten new hours;
    // the July rows it does not touch still count
    write((0 until 5).map(h => edge + h * 3600L) ++ (45 until 55).map(h => edge + h * 3600L), 1000)
    assert(stored == expected, s"second batch: stored $stored, mirror $expected")
  }

  // ---- one transaction per store mutation --------------------------

  /** A 2-level store holding 4 series over 3 months after 3 commits,
    * each commit a full day per series and month, so both levels hold
    * 3 files in each month.
    */
  private def threeMonthStore(name: String): HoardStore = {
    val s = HoardStore.create(spark, tmpDir(name) + "/store", policy)
    (0 until 3).foreach { b =>
      s.updateMany(for (i <- 0 until 4; d <- 0 until 3; h <- 0 until 24) yield
        RawPoint(s"s$i", (now / 86400 - d * 30 - b - 1) * 86400 + h * 3600, b * 10.0 + i + h), now)
    }
    s
  }

  private def version(s: HoardStore): Long = HoardStore.latestManifestVersion(s.root)

  /** Versions `call` published on `s`. */
  private def published(s: HoardStore)(call: => Unit): Long = {
    val v = version(s)
    call
    version(s) - v
  }

  private def dataEntries(s: HoardStore): Set[String] = {
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(s.root, "_data"))
    try { import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString).toSet
    } finally st.close()
  }

  /** One whisper file per `(name, steps)` under `dir`: an archive of 10
    * points per step, each with its last 5 slots written.
    */
  private def whisperTree(dir: String, files: (String, Seq[Long])*): String = {
    files.foreach { case (name, steps) =>
      WhisperFixtures.write(dir, name, graft.store.WhisperFormat.write(now, 0.5f,
        steps.map(st => Archive(st, 10) ->
          (1 to 5).map(k => (now / st * st - k * st, k.toDouble))))) }
    dir
  }

  test("compact, deleteSeries, a two-level vacuum, fill and intoStore each publish one version") {
    import org.apache.spark.sql.functions.col
    val s = threeMonthStore("one-version")
    assert(s.latestEntries.groupBy(e => (e.step, e.month)).count(_._2.size > 1) == 6)
    assert(published(s)(s.compact(1)) == 1)
    assert(published(s)(s.deleteSeries(col("series_id") === "s1")) == 1)
    assert(s.seriesCatalog().collect().map(_.getString(0)).toSet == Set("s0", "s2", "s3"))

    // each level's boundary month holds an expired and a kept row
    val v = freshStore()
    val later = now + 10 * 86400L
    val (hourCut, dayCut) = (later - 365 * 86400L, later - 1095 * 86400L)
    v.updateMany(Seq(RawPoint("cpu", hourCut - 7200, 1.0), RawPoint("cpu", hourCut + 7200, 2.0),
      RawPoint("cpu", dayCut - 2 * 86400, 3.0), RawPoint("cpu", dayCut + 2 * 86400, 4.0)), now)
    assert(published(v)(v.vacuum(later)) == 1)
    assert(v.latestEntries.filter(_.commitDir.contains("_vac_")).map(_.step).toSet ==
      Set(3600L, 86400L), "vacuum did not rewrite both levels' boundary months")
    assert(policy.sorted.map(dump(v, _).map(_.getDouble(2))) == Seq(Seq(2.0), Seq(4.0)))

    val dst = freshStore()
    assert(published(dst)(dst.fill(s)) == 1)
    assert(policy.sorted.map(dump(dst, _)) == policy.sorted.map(dump(s, _)))

    val tree = whisperTree(tmpDir("one-version-tree"), "a.whisper" -> Seq(3600L, 86400L),
      "b.whisper" -> Seq(3600L, 86400L))
    val st = graft.store.HoardImport.intoStore(spark, tree, tmpDir("one-version-imp") + "/store")
    assert(version(st) == 1)
    assert(policy.sorted.map(st.readLevel(_).count()) == Seq(10L, 10L))
  }

  test("a no-op fill and a healthy fsckRepair publish nothing and leave no commit directory") {
    val s = threeMonthStore("noop")
    val dst = freshStore()
    dst.fill(s)
    val (v, entries) = (version(dst), dataEntries(dst))
    dst.fill(s) // nothing is missing
    // every coarse slot re-derives to its stored value, so the repair
    // probes and stages nothing
    val jobs = jobsOf(dst.fsckRepair())
    info(s"a healthy fsckRepair ran $jobs Spark jobs")
    assert(jobs < 7, s"a healthy fsckRepair ran $jobs Spark jobs")
    assert(version(dst) == v && dataEntries(dst) == entries,
      s"added ${dataEntries(dst) -- entries}")
  }

  test("a crash before a rewrite's publish leaves the last version; a retry succeeds") {
    import org.apache.spark.sql.functions.col
    val s = threeMonthStore("rewrite-crash")
    def state() = (policy.sorted.map(dump(s, _)),
      s.fetchValues("s1", now - 70 * 86400L, now, now)._2)
    val calls = Seq[(String, () => Unit)](
      "compact" -> (() => s.compact(1)),
      "vacuum" -> (() => s.vacuum(now + 305 * 86400L)), // expires June's hourly rows
      "deleteSeries" -> (() => s.deleteSeries(col("series_id") === "s1")))
    calls.foreach { case (name, call) =>
      val (v, before) = (version(s), state())
      s.beforeCommitHook = () => throw new IllegalStateException("crash before publish")
      intercept[IllegalStateException](call())
      assert(version(s) == v && state() == before, s"$name's crash changed the store")
      call()
      assert(version(s) == v + 1, s"$name's retry did not publish")
    }
  }

  test("an append that lands between a fold's stage and publish survives the fold") {
    val a = threeMonthStore("fold-race")
    val ref = threeMonthStore("fold-race-ref")
    // a new series, and an overwrite of a slot in a month the fold rewrites
    val extra = Seq(RawPoint("s9", now - 86400, 42.0), RawPoint("s0", (now / 86400 - 31) * 86400, 7.0))
    val b = HoardStore.open(spark, a.root)
    a.beforeCommitHook = () => b.updateMany(extra, now)
    a.compact(1)
    ref.updateMany(extra, now)
    assert(a.latestEntries.exists(_.commitDir.contains("_fold_")), "the fold did not publish")
    val same = policy.sorted.map(dump(a, _)) == policy.sorted.map(dump(ref, _))
    assert(same, "the fold lost or changed rows of the append that landed before its publish")
    assert(a.seriesCatalog().collect().map(_.getString(0)).toSet == Set("s0", "s1", "s2", "s3", "s9"))
  }

  test("intoStore refuses a tree whose steps are not all policy steps, publishing nothing") {
    val tree = whisperTree(tmpDir("mixed-tree"), "a.whisper" -> Seq(3600L, 86400L),
      "b.whisper" -> Seq(60L, 86400L))
    val root = tmpDir("mixed-store") + "/store"
    val e = intercept[IllegalArgumentException](graft.store.HoardImport.intoStore(spark, tree, root))
    assert(e.getMessage.contains("[60, 3600, 86400]") && e.getMessage.contains("[3600, 86400]"),
      e.getMessage)
    assert(HoardStore.latestManifestVersion(root) == 0)
    assert(dataEntries(HoardStore.open(spark, root)).isEmpty)
  }
}
