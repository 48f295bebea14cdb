package graft

import graft.core.{Archive, ArchivePolicy}
import graft.store.HoardStore
import graft.store.HoardStore.RawPoint
import scala.collection.mutable
import scala.util.Random

/** Whole-engine property test: random multi-batch workloads are replayed
  * against a pure in-memory mirror of the contract (age routing,
  * too-old drops, composite-key last-write-wins across batches,
  * xff-gated mean propagation from the merged finer level, stale-value
  * keep, direct-beats-propagated within a batch). Any divergence between
  * the distributed engine and the sequential mirror is a bug in one of
  * them.
  */
class StorePropertySpec extends SparkTestBase {

  private val policy = ArchivePolicy(Seq(
    Archive(60, 60), Archive(3600, 24), Archive(86400, 30)))
  private val now = 1700000000L

  /** key = (batch, kind, ts, seq); kind 1 = direct, 0 = propagated. */
  private type Key = (Int, Int, Long, Long)
  private implicit val keyOrd: Ordering[Key] = Ordering.Tuple4[Int, Int, Long, Long]

  private def align(t: Long, step: Long): Long = t - java.lang.Math.floorMod(t, step)

  private def mirror(batches: Seq[Seq[RawPoint]]): Map[Long, Map[(String, Long), Double]] = {
    val levels = policy.sorted
    val state = levels.map(ar =>
      ar.step -> mutable.Map.empty[(String, Long), (Double, Key)]).toMap
    batches.zipWithIndex.foreach { case (batch, bi) =>
      val routed = batch.zipWithIndex.flatMap { case (p, i) =>
        policy.indexForAge(now - p.ts).map(lvl => (p, lvl, i.toLong))
      }
      var touchedBelow = Set.empty[(String, Long)] // finest-granularity keys
      levels.zipWithIndex.foreach { case (ar, li) =>
        val direct = routed.collect { case (p, lvl, seq) if lvl == li =>
          ((p.series_id, align(p.ts, ar.step)),
            (p.value, (bi, 1, p.ts, seq): Key))
        }
        val propagated: Seq[((String, Long), (Double, Key))] =
          if (li == 0) Seq.empty
          else {
            val finerStep = levels(li - 1).step
            val expected = (ar.step / finerStep).toDouble
            val touched = touchedBelow.map { case (s0, iv) => (s0, align(iv, ar.step)) }
            touched.toSeq.sorted.flatMap { case (s0, iv) =>
              val known = state(finerStep).collect {
                case ((`s0`, fiv), (v, _)) if align(fiv, ar.step) == iv => v
              }.toSeq
              if (known.nonEmpty && known.size / expected >= policy.xff)
                Some(((s0, iv), (known.sum / known.size, (bi, 0, 0L, 0L): Key)))
              else None
            }
          }
        val newRows = propagated ++ direct
        newRows.foreach { case (k, (v, key)) =>
          state(ar.step).get(k) match {
            case Some((_, oldKey)) if keyOrd.gteq(oldKey, key) => ()
            case _ => state(ar.step)(k) = (v, key)
          }
        }
        touchedBelow ++= newRows.map(_._1)
      }
    }
    state.map { case (step, m) =>
      step -> m.map { case (k, (v, _)) => k -> v }.toMap
    }
  }

  test("ManifestAppend engine == sequential mirror (manifest reads + optimistic commits)") {
    val rnd = new Random(1234)
    val series = Seq("a", "b")
    // ages spread across all three archives, plus too-old and future
    val points = (0 until 180).map { _ =>
      val age = rnd.nextInt(4) match {
        case 0 => rnd.between(0L, 3600L)                 // minute archive
        case 1 => rnd.between(3600L, 86400L)             // hourly archive
        case 2 => rnd.between(86400L, 30L * 86400)       // daily archive
        case _ => if (rnd.nextBoolean()) rnd.between(30L * 86400, 40L * 86400) // too old
                  else -rnd.between(1L, 3000L)           // future (finest)
      }
      RawPoint(series(rnd.nextInt(series.size)), now - age,
        rnd.nextInt(1000).toDouble)
    }
    // 3 arbitrary (non-chronological) batches — batch order semantics
    val batches = points.grouped(60).toSeq
    val store = HoardStore.create(spark, tmpDir("prop-store") + "/store", policy)
    batches.zipWithIndex.foreach { case (b, i) =>
      store.updateMany(b, now)
      // compaction between batches must be invisible to every later
      // read and merge — the LSM background-fold property
      if (i == 1) store.compact(maxFilesPerMonth = 1)
    }

    val want = mirror(batches)
    policy.sorted.foreach { ar =>
      val got = store.readLevel(ar).collect().map { r =>
        (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond) ->
          r.getDouble(2)
      }.toMap
      val w = want(ar.step)
      assert(got.keySet == w.keySet,
        s"step ${ar.step}: keys differ; only-engine=${got.keySet -- w.keySet} " +
          s"only-mirror=${w.keySet -- got.keySet}")
      got.foreach { case (k, v) =>
        assert(math.abs(v - w(k)) < 1e-9, s"step ${ar.step} $k: $v vs ${w(k)}")
      }
    }

    // vacuum at a later clock == a pure retention filter of the mirror
    // (partition-drop fast path + boundary rewrite must lose nothing
    // live and keep nothing expired); run twice for idempotence — the
    // second pass sees fully-emptied levels
    val later = now + 15L * 86400
    (1 to 2).foreach { pass =>
      store.vacuum(later)
      policy.sorted.foreach { ar =>
        val cutoff = later - ar.retention
        val got = store.readLevel(ar).collect().map { r =>
          (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond) ->
            r.getDouble(2)
        }.toMap
        val w = want(ar.step).filter { case ((_, iv), _) => iv >= cutoff }
        assert(got.keySet == w.keySet,
          s"vacuum pass $pass step ${ar.step}: " +
            s"only-engine=${got.keySet -- w.keySet} only-mirror=${w.keySet -- got.keySet}")
        got.foreach { case (k, v) =>
          assert(math.abs(v - w(k)) < 1e-9, s"pass $pass step ${ar.step} $k: $v vs ${w(k)}")
        }
      }
    }

    // every version the replay published (writes, folds, vacuums) lists
    // in each level's catalog every series holding rows at that level
    (1L to HoardStore.latestManifestVersion(store.root)).foreach { v =>
      import org.apache.spark.sql.functions.lit
      val at = HoardStore.openVersion(spark, store.root, v)
      val missing = policy.sorted.map { ar =>
        at.readLevel(ar).select("series_id").except(at.readCatalog(ar))
          .withColumn("step", lit(ar.step))
      }.reduce(_ unionByName _).collect()
      assert(missing.isEmpty, s"v$v: series with rows missing from the level catalog: " +
        missing.mkString(", "))
    }
  }

  // --- multi-writer transactions --------------------------------------

  private def levelContents(st: HoardStore): Map[Long, Map[(String, Long), Double]] =
    policy.sorted.map { ar =>
      ar.step -> st.readLevel(ar).collect().map { r =>
        (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond) ->
          r.getDouble(2)
      }.toMap
    }.toMap

  // --- the one-stage read plan -----------------------------------------

  /** Dense rows of a fetch frame, in (series, interval) order. */
  private def denseRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Option[Double])] =
    df.collect().toSeq.map(r => (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond,
      Option(r.getAs[java.lang.Double](2)).map(_.doubleValue))).sorted

  /** Partitions the plan of `df` puts its rows on: the width of its first
    * repartition, 0 when it has none.
    */
  private def width(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r.numPartitions
    }.getOrElse(0)

  test("fetch and fetchMulti == lww level read + GapFill over the catalog (random windows)") {
    import graft.operators.GapFill
    import graft.store.FileManifestCatalog
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val rnd = new Random(20261019)
    def batch(n: Int, old: Seq[RawPoint]): Seq[RawPoint] = (0 until n).map { _ =>
      if (old.nonEmpty && rnd.nextBoolean()) // an overwrite of an earlier slot
        old(rnd.nextInt(old.size)).copy(value = rnd.nextInt(1000).toDouble)
      else RawPoint(Seq("a", "b", "c")(rnd.nextInt(3)),
        now - rnd.between(0L, 30L * 86400), rnd.nextInt(1000).toDouble)
    }
    val st = HoardStore.create(spark, tmpDir("plan-eq") + "/store", policy)
    var written = Seq.empty[RawPoint]
    var snap: HoardStore = null
    (1 to 6).foreach { b =>
      val pts = batch(80, written)
      st.updateMany(pts, now)
      written ++= pts
      if (b == 3) st.compact(1)
      if (b == 4) snap = st.snapshot()
    }
    assert(snap.latestEntries.exists(_.commitDir.contains("_fold_")), "no month was folded")
    // a catalog series with no rows in the last 20 days
    st.updateMany(Seq(RawPoint("quiet", now - 25L * 86400, 1.0)), now)
    // a series whose data the catalog does not list: the last commit's
    // catalog entries dropped from a hand-published version
    st.updateMany(Seq(RawPoint("orphan", now - 600, 5.0), RawPoint("orphan", now - 7200, 6.0)),
      now)
    val cat = new FileManifestCatalog(st.root)
    val entries = cat.entries(cat.latestVersion)
    val last = entries.map(_.commitDir).max
    assert(entries.exists(e => e.isCatalog && e.commitDir == last))
    assert(cat.tryPublish(cat.latestVersion + 1,
      entries.filterNot(e => e.isCatalog && e.commitDir == last)))
    // a store whose coarse levels are empty: sparse minutes never pass xff 1.0
    val sparse = HoardStore.create(spark, tmpDir("plan-eq-sparse") + "/store",
      ArchivePolicy(policy.archives, xff = 1.0))
    sparse.updateMany((1 to 20).map(i => RawPoint(s"s${i % 2}", now - i * 120, i.toDouble)), now)
    assert(sparse.latestEntries.forall(_.step == 60))

    val series = Seq("a", "b", "c", "quiet", "orphan", "never")
    val preds = Seq(lit(true), col("series_id") === "a",
      col("series_id").isin("b", "quiet", "orphan", "s1"), col("series_id").rlike("^[ac]$"))
    def windows(): Seq[(Long, Long)] =
      Seq((now - 3000, now), (now - 20 * 3600, now), (now - 10L * 86400, now),
        (now - 29L * 86400, now - 86400)) ++ (1 to 4).map { _ =>
        val from = now - rnd.between(120L, 30L * 86400)
        (from, from + rnd.between(1L, now - from + 3600))
      }
    def compare(): Seq[Int] =
      Seq(st, snap, sparse).flatMap { s =>
        windows().flatMap { case (from, to) =>
          def check(got: (HoardStore.TimeInfo, org.apache.spark.sql.DataFrame), pred: Column,
                    universe: Archive => org.apache.spark.sql.DataFrame, what: String): Int = {
            val (ti, df) = got
            val ar = s.policy.sorted.find(_.step == ti.step).get
            val want =
              if (ti.fromInterval >= ti.toInterval) Seq.empty
              else denseRows(GapFill.densify(
                s.readLevelRange(ar, ti.fromInterval, ti.toInterval).where(pred), universe(ar),
                "series_id", "interval", Seq("value"), ti.fromInterval, ti.toInterval, ti.step))
            assert(denseRows(df) == want, s"$what over [$from, $to) at ${s.pinnedVersion}")
            width(df)
          }
          val sid = series(rnd.nextInt(series.size))
          val pred = preds(rnd.nextInt(preds.size))
          Seq(check(s.fetch(sid, from, to, now), col("series_id") === sid,
              _ => Seq(sid).toDF("series_id"), s"fetch($sid)"),
            check(s.fetchMulti(pred, from, to, now), pred,
              s.readCatalog(_).where(pred), s"fetchMulti($pred)"))
        }
      }
    assert(compare().forall(_ <= 1), "a small request was repartitioned")
    // the wide branch: a tiny advisory partition size spreads every
    // request over several tasks
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val saved = spark.conf.getOption(advisory)
    spark.conf.set(advisory, "64")
    val wide = try compare() finally saved match {
      case Some(v) => spark.conf.set(advisory, v)
      case None => spark.conf.unset(advisory)
    }
    info(s"${wide.count(_ > 1)} of ${wide.size} requests ran repartitioned")
    assert(wide.count(_ > 1) > wide.size / 2, s"widths under a 64-byte advisory size: $wide")
  }

  // --- series deletion ------------------------------------------------

  test("deleteSeries removes exactly the matching series") {
    import org.apache.spark.sql.functions.{col, lit}
    val st = HoardStore.create(spark, tmpDir("del") + "/store", policy)
    val rnd = new Random(31)
    def mk(sid: String) = (0 until 50).map(_ =>
      RawPoint(sid, now - rnd.between(0L, 20L * 86400),
        rnd.nextInt(1000).toDouble))
    st.updateMany(mk("gone") ++ mk("kept"), now)
    val before = levelContents(st)
    st.deleteSeries(col("series_id") === "gone")

    val after = levelContents(st)
    policy.sorted.foreach { ar =>
      val want = before(ar.step).filter(_._1._1 == "kept")
      assert(after(ar.step) == want, s"step ${ar.step}: delete diverged")
    }
    // the fetch universe forgets the series
    val (_, dense) = st.fetchMulti(lit(true), now - 3000, now, now)
    assert(!dense.select("series_id").distinct().collect()
      .map(_.getString(0)).contains("gone"),
      "deleted series still in the fetchMulti universe")
    // and the series can be recreated afterwards
    st.updateMany(Seq(RawPoint("gone", now - 60, 7.0)), now)
    assert(st.readLevel(policy.sorted.head).where(col("series_id") === "gone")
      .count() == 1, "recreate after delete failed")
  }

  test("ManifestAppend delete: pinned snapshot still sees the series until expire") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("del-snap") + "/store"
    val st = HoardStore.create(spark, root, policy)
    val rnd = new Random(5)
    st.updateMany((0 until 40).map(_ => RawPoint("pii",
      now - rnd.between(0L, 20L * 86400), rnd.nextInt(1000).toDouble)), now)
    val snap = st.snapshot()
    st.deleteSeries(col("series_id") === "pii")
    // the daily level certainly holds rows (ages span 20 days)
    assert(st.readLevel(policy.sorted.last).count() == 0)
    assert(snap.readLevel(policy.sorted.last).count() > 0,
      "pre-delete snapshot must still read the series (reader lease)")
    st.expireSnapshots(keepLast = 1) // the actual forget-the-bytes step
    assert(HoardStore.open(spark, root)
      .readLevel(policy.sorted.last).count() == 0)
  }

  // --- lock-free optimistic commits (ManifestAppend) ------------------

  test("ManifestAppend: two racing writers commit lock-FREE; result == sequential reference") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = tmpDir("opt-store") + "/store"
    val st = HoardStore.create(spark, root, policy)
    val rnd = new Random(42)
    def mkBatch(sid: String): Seq[RawPoint] = (0 until 60).map { _ =>
      RawPoint(sid, now - rnd.between(0L, 20L * 86400),
        rnd.nextInt(1000).toDouble)
    }
    // disjoint series: the converged state is order-independent, so the
    // property is purely that both commits LAND without any lock
    val (ba, bb) = (mkBatch("wa"), mkBatch("wb"))
    implicit val ec: ExecutionContext = ExecutionContext.global
    val second = HoardStore.open(spark, root)
    val f1 = Future(st.updateMany(ba, now))
    val f2 = Future(second.updateMany(bb, now))
    Await.result(f1, 180.seconds)
    Await.result(f2, 180.seconds)

    val ref = HoardStore.create(spark, tmpDir("opt-ref") + "/store", policy)
    ref.updateMany(ba, now)
    ref.updateMany(bb, now)
    assert(levelContents(st) == levelContents(ref))
  }

  test("ManifestAppend: a conflicting commit forces retry; propagation recomputes over the winner's rows") {
    val root = tmpDir("conflict-store") + "/store"
    val a = HoardStore.create(spark, root, policy)
    val b = HoardStore.open(spark, root)
    // both batches hit the SAME minute-archive hour, so the hourly (and
    // daily) propagated means depend on the UNION of fine rows — the
    // lost-update case a blind append would get wrong
    val batchA = Seq(RawPoint("s", now - 100, 10.0), RawPoint("s", now - 200, 20.0))
    val batchB = Seq(RawPoint("s", now - 300, 99.0), RawPoint("s", now - 150, 5.0))
    // inject B's full commit between A's stage and A's publish
    a.beforeCommitHook = () => b.updateMany(batchB, now)
    a.updateMany(batchA, now)
    assert(a.lastCommitAttempts == 2,
      s"expected exactly one conflict retry, took ${a.lastCommitAttempts} attempts")

    // A retried AFTER B, so the store must equal the sequential replay
    // B-then-A — in particular every propagated level reflects both
    val ref = HoardStore.create(spark, tmpDir("conflict-ref") + "/store", policy)
    ref.updateMany(batchB, now)
    ref.updateMany(batchA, now)
    assert(levelContents(a) == levelContents(ref))
  }

  test("a crash between stage and publish leaves the last published state; expire reclaims the staged files") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("crash-store") + "/store"
    val st = HoardStore.create(spark, root, policy)
    val rnd = new Random(13)
    def mk(sid: String) = (0 until 40).map(_ => RawPoint(sid,
      now - rnd.between(0L, 20L * 86400), rnd.nextInt(1000).toDouble))
    val (first, aborted) = (mk("s"), mk("s") ++ mk("only-aborted"))
    st.updateMany(first, now)
    def dataFiles(): Set[String] = {
      val w = Files.walk(Paths.get(root, "_data"))
      try { import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      } finally w.close()
    }
    val published = dataFiles()
    // the writer dies after staging every level, before the publish
    st.beforeCommitHook = () => throw new IllegalStateException("crash before publish")
    intercept[IllegalStateException](st.updateMany(aborted, now))
    val orphans = dataFiles() -- published
    assert(orphans.nonEmpty, "the aborted batch staged no files")

    val reopened = HoardStore.open(spark, root)
    val ref = HoardStore.create(spark, tmpDir("crash-ref") + "/store", policy)
    ref.updateMany(first, now)
    assert(levelContents(reopened) == levelContents(ref),
      "the aborted batch is visible after reopening")
    val catalog = reopened.seriesCatalog().collect().map(_.getString(0)).toSet
    assert(catalog == Set("s"), s"the aborted batch's series reached the catalog: $catalog")

    reopened.expireSnapshots()
    assert((dataFiles() intersect orphans).isEmpty,
      "expireSnapshots left the aborted batch's staged files")
    assert(levelContents(reopened) == levelContents(ref))
  }

  test("ManifestAppend: snapshots isolate readers from later commits and rewrites") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("snap-store") + "/store"
    val st = HoardStore.create(spark, root, policy)
    val rnd = new Random(7)
    def batch(): Seq[RawPoint] = (0 until 40).map(_ =>
      RawPoint("s", now - rnd.between(0L, 20L * 86400), rnd.nextInt(1000).toDouble))
    st.updateMany(batch(), now)
    st.updateMany(batch(), now)
    val before = levelContents(st)
    val snap = st.snapshot()

    st.updateMany(batch(), now)      // new commit
    st.compact(maxFilesPerMonth = 1) // rewrite: folds every month
    assert(levelContents(snap) == before,
      "pinned snapshot must not see later commits or compactions")
    assert(levelContents(st) != before, "live view must see the new commit")

    // snapshots are read-only
    intercept[IllegalArgumentException](snap.updateMany(batch(), now))

    // explicit time travel addresses the same pinned version
    val tt = HoardStore.openVersion(spark, root, snap.pinnedVersion.get)
    assert(levelContents(tt) == before,
      "openVersion at the snapshot's version must reproduce its view")

    // expire reclaims: old manifests gone, unreferenced data files deleted
    def parquetFiles(): Int = {
      val s = Files.walk(Paths.get(root, "_data"))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally s.close()
    }
    val filesBefore = parquetFiles()
    st.expireSnapshots(keepLast = 1)
    val manifests = {
      val s = Files.list(Paths.get(root, "_manifests"))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.getFileName.toString.startsWith("v"))
      } finally s.close()
    }
    assert(manifests == 1, s"expected one retained manifest, got $manifests")
    assert(parquetFiles() < filesBefore,
      "expireSnapshots should physically delete unreferenced files")
    // the live view is unchanged by the reclaim
    assert(levelContents(st) == levelContents(HoardStore.open(spark, root)))
  }

  // --- resize property -------------------------------------------------

  /** Sequential mirror of [[HoardStore.resize]]'s contract: per-target-
    * slot best-resolution source selection (slot-age classed, horizon
    * cut), xff-gated quantized-mean downsample, cascade for coarser new
    * levels with deep-history union (cascade wins shared slots).
    * Operates on the ENGINE's old level contents, so it tests resize in
    * isolation from ingest.
    */
  private def resizeMirror(old: Map[Long, Map[(String, Long), Double]],
                           oldP: ArchivePolicy, newP: ArchivePolicy,
                           rnow: Long): Map[Long, Map[(String, Long), Double]] = {
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def down(src: Map[(String, Long), Double], fStep: Long,
             cStep: Long): Map[(String, Long), Double] =
      src.groupBy { case ((s0, iv), _) => (s0, align(iv, cStep)) }
        .flatMap { case (k, m) =>
          val expected = (cStep / fStep).toDouble
          if (m.size / expected >= newP.xff) {
            // avg_exact: exact decimal sum -> double -> /n -> 6-dec quantize
            val sum = m.values.map(BigDecimal(_).setScale(6)).sum.toDouble
            Some(k -> round6(sum / m.size))
          } else None
        }
    def oldRows(targetStep: Long, fromAge: Long,
                toAge: Long): Map[(String, Long), Double] = {
      var covered = fromAge
      var acc = Map.empty[(String, Long), Double]
      oldP.sorted.filter(o => targetStep % o.step == 0).foreach { o =>
        val hiAge = math.min(o.retention, toAge)
        if (covered < hiAge) {
          val loAge = covered
          covered = hiAge
          val rows = old(o.step).filter { case ((_, iv), _) =>
            val slot = align(iv, targetStep)
            slot > rnow - hiAge && slot <= rnow - loAge
          }
          val agg = if (o.step == targetStep) rows
                    else down(rows, o.step, targetStep)
          // finer sources were added first and win nothing here: parts
          // are slot-disjoint by construction — plain union
          acc = acc ++ agg
        }
      }
      acc
    }
    def coverage(targetStep: Long, cap: Long): Long = {
      val rets = oldP.sorted.filter(o => targetStep % o.step == 0)
        .map(_.retention)
      if (rets.isEmpty) 0L else math.min(cap, rets.max)
    }
    val nf = newP.finest
    var prev = oldRows(nf.step, 0L, nf.retention)
    var prevStep = nf.step
    var prevCover = coverage(nf.step, nf.retention)
    var out = Map(nf.step -> prev)
    newP.sorted.tail.foreach { aN =>
      val casc = down(prev, prevStep, aN.step)
      val deep = oldRows(aN.step, prevCover, aN.retention)
        .filter { case (k, _) => !casc.contains(k) }
      prev = casc ++ deep
      out += aN.step -> prev
      prevStep = aN.step
      prevCover = math.max(prevCover, coverage(aN.step, aN.retention))
    }
    out
  }

  private def randPolicy(rnd: Random): ArchivePolicy = {
    val s0 = Seq(60L, 120L, 300L)(rnd.nextInt(3))
    val s1 = s0 * Seq(4, 6, 12)(rnd.nextInt(3))
    val s2 = s1 * Seq(4, 8, 24)(rnd.nextInt(3))
    val p0 = 20 + rnd.nextInt(60)
    val r0 = s0 * p0
    val p1 = (r0 / s1 + 1 + rnd.nextInt(30)).toInt
    val r1 = s1 * p1
    val p2 = (r1 / s2 + 1 + rnd.nextInt(20)).toInt
    val archives = if (rnd.nextBoolean())
      Seq(Archive(s0, p0), Archive(s1, p1), Archive(s2, p2))
    else Seq(Archive(s0, p0), Archive(s1, p1))
    ArchivePolicy(archives, cf = "avg_exact")
  }

  test("resize == sequential best-resolution + cascade mirror (random policies)") {
    import org.apache.spark.sql.functions.col
    val rnd = new Random(20260814)
    import spark.implicits._
    (1 to 4).foreach { it =>
      val oldP = randPolicy(rnd)
      val newP = randPolicy(rnd)
      val root = tmpDir(s"rsprop$it") + "/store"
      val st = HoardStore.create(spark, root, oldP)
      // random 2-decimal points spread past the retention horizon so
      // age routing populates every old level, including deep history
      val pts = (1 to 150).map { i =>
        val age = (rnd.nextDouble() * oldP.maxRetention * 1.1).toLong
        (s"s${rnd.nextInt(3)}", now - age,
          math.round(rnd.nextDouble() * 10000) / 100.0, i.toLong)
      }
      st.updateManyDf(
        pts.toDF("series_id", "ts", "value", "seq"), now)
      val rs = st.resize(tmpDir(s"rsout$it") + "/store2", newP, now)
      def levelMap(s0: HoardStore, ar: Archive): Map[(String, Long), Double] =
        s0.readLevel(ar).collect().map { r =>
          (r.getString(0),
            r.getAs[java.sql.Timestamp](1).getTime / 1000) -> r.getDouble(2)
        }.toMap
      val oldLv = oldP.sorted.map(ar => ar.step -> levelMap(st, ar)).toMap
      val expect = resizeMirror(oldLv, oldP, newP, now)
      newP.sorted.foreach { ar =>
        val got = levelMap(rs, ar)
        val exp = expect(ar.step)
        assert(got.keySet == exp.keySet,
          s"it=$it step=${ar.step}: missing=${(exp.keySet -- got.keySet).take(3)} " +
            s"extra=${(got.keySet -- exp.keySet).take(3)}")
        got.foreach { case (k, v) =>
          assert(math.abs(v - exp(k)) < 2e-6, s"it=$it step=${ar.step} $k: $v != ${exp(k)}")
        }
      }
    }
  }
}
