package graft.store

import graft.Scratch
import graft.core.{Archive, ArchivePolicy, Time}
import graft.operators.{Dedup, GapFill, GraphiteTarget, Rollup}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, Path => JPath}
import scala.jdk.CollectionConverters._

/** The multi-series time-series store — the Spark re-expression of the
  * reference's whole API surface (`create`/`info`/`update`/`updateMany`/
  * `fetch`, `src/hoard.coffee:515-519`) over time-partitioned Parquet.
  *
  * One store holds MANY series (the reference: one file per series);
  * each archive level holds (series_id, interval, value, seq) rows in
  * immutable Parquet files under `_data/`, and the store's state is the
  * file list the latest manifest in `_manifests/` names, each entry
  * keyed by its (level, month). Each level's series catalog is named by
  * the same manifest (entries under the reserved month
  * [[HoardStore.CatalogMonth]]), so one publish makes a batch's rows and
  * its new series visible together, and a pinned view sees the catalog
  * of its own version. Semantics per SURVEY §2.2, with the reference's
  * defects fixed by intent (§2.3): xff honored (B1), single update
  * propagates (B2), batch coalescing moot under Parquet (B3).
  *
  * Determinism: every write carries a monotone `seq` stamp, whose batch
  * base is claimed by atomically creating a `_commits/` marker; merges
  * are last-write-wins by seq (the distributed replacement for the
  * reference's single-fd write ordering), resolved at read time across
  * a (level, month)'s files. `now` is always an explicit parameter —
  * never wall clock (SURVEY §5.3).
  *
  * One commit path: a batch stages its winner files for every level
  * and its catalog files in one write against a pinned manifest
  * version, then publishes one new version by an atomic claim. Writers
  * take no lock — a publish that finds a concurrent commit in a (level,
  * month) it read or wrote discards its staged files and re-runs the
  * cascade (optimistic concurrency). Nothing is visible before the publish and nothing of
  * the batch is written after it, so a crash at any point
  * leaves readers the last published version; unpublished files are
  * reclaimed by [[expireSnapshots]]. Write-amp is ∝ batch size;
  * compaction, vacuum and deletes are manifest rewrites that free no
  * disk: [[expireSnapshots]] is the only call that deletes data files,
  * and the store never calls it on its own. Propagation
  * recomputes only touched coarser intervals (§2.2.10) from the level
  * above (§2.2.8), each hop one partial-aggregated groupBy, all levels
  * in one plan: nothing is written and read back between levels.
  */
final class HoardStore private (val spark: SparkSession, val root: String,
                                val pinnedVersion: Option[Long] = None) {

  import HoardStore._

  // p_month partition values are DEFINED as UTC months; date_format
  // renders in the session timezone, so pin it — otherwise a non-UTC
  // session would write/prune partitions inconsistently with the
  // UTC-based month math in monthsCovering.
  graft.Graft.configure(spark)

  def policy: ArchivePolicy = readPolicy(root)

  // ---- write path ----------------------------------------------------

  /** Single-point update (`src/hoard.coffee:181-239`): rejects
    * timestamps in the future or older than maxRetention, then behaves
    * as a one-point batch — including propagation (fixing B2).
    */
  def update(series: String, value: Double, ts: Long, now: Long): Unit = {
    val p = policy
    val age = now - ts
    if (!(age < p.maxRetention && age >= 0))
      throw new IllegalArgumentException(
        "Timestamp not covered by any archives in this database.")
    updateMany(Seq(RawPoint(series, ts, value)), now)
  }

  /** Batch upsert (`src/hoard.coffee:241-293`): each point routes to the
    * finest archive covering its age; points older than every archive
    * are silently dropped; future points land in the finest archive
    * (matching the reference's binning loop, which never checks the
    * future side on the batch path).
    */
  def updateMany(points: Seq[RawPoint], now: Long): Unit = {
    import spark.implicits._
    if (points.nonEmpty)
      // input order is the ingest sequence (deterministic tiebreak)
      updateManyDf(points.zipWithIndex
        .map { case (pt, i) => (pt.series_id, pt.ts, pt.value, i.toLong) }
        .toDF("series_id", "ts", "value", "seq"), now)
  }

  /** DataFrame batch ingest: (series_id STRING, ts LONG epoch-seconds,
    * value DOUBLE [, seq LONG]).
    *
    * Writes are made deterministic WITHOUT any global sort (a
    * row_number over an unpartitioned window would serialize the batch
    * through one task at cluster scale): the last-write-wins key is the
    * composite struct (batch, kind, ts, seq) — later batches beat
    * earlier ones (the reference: later writes to a slot overwrite),
    * within a batch chronological order wins (the reference sorts
    * oldest-first per archive and commits in order), the caller's `seq`
    * column breaks same-second ties, and direct writes (kind=1) beat
    * the same batch's propagated values (kind=0), matching the
    * reference's commit ordering (archive commits happen after earlier
    * archives' propagation).
    */
  def updateManyDf(batch0: DataFrame, now: Long): Unit =
    // stage against a pinned snapshot, validate at publish time, re-run
    // the whole cascade on conflict (the re-run IS the propagation
    // recompute — it re-reads the finer levels at the new snapshot)
    runOptimistic(txn => cascade(batch0, now, txn))

  private def cascade(batch0: DataFrame, now: Long, txn: Txn): Unit = {
    val p = policy
    val levels = p.sorted
    val base = HoardStore.claimCommitBase(root) // this batch's seq base
    txn.commitId = base

    // without a caller seq, synthesize a monotone per-row ingest id so
    // two same-second points for one series still resolve to ONE
    // deterministic winner for a given input ordering (callers needing
    // replay-stable lww across repartitionings should supply `seq`)
    val tieBreak =
      if (batch0.columns.contains("seq")) col("seq") else monotonically_increasing_id()

    // route each point to the step of the finest level covering its age
    // (too-old points are silently dropped); the same pass observes, per
    // coarser level, the ts bounds of the rows whose intervals it
    // recomputes
    val bounds = new Observation()
    val routed = batch0
      .withColumn("l", stepForAgeExpr(levels, lit(now) - col("ts")))
      .where(col("l").isNotNull)
      .observe(bounds, count(lit(1)).as("rows"), levels.tail.flatMap(ar => Seq(
        min(when(col("l") < ar.step, col("ts"))).as(s"lo${ar.step}"),
        max(when(col("l") < ar.step, col("ts"))).as(s"hi${ar.step}"))): _*)
      .select(lit(Routed).as("kind"), col("l"), col("series_id"),
        timestamp_seconds(col("ts")).as("interval"), col("value"),
        struct(lit(base).as("b"), lit(1).as("k"),
          col("ts").as("t"), tieBreak.cast("long").as("s")).as("seq"))
      .localCheckpoint(true)
    val seen = bounds.get
    if (seen("rows") == 0L) return

    // A coarse level recomputes exactly the intervals that routed rows
    // of finer levels fall in (each step divides the next), from the
    // next-finer level as this batch leaves it: the pinned files of the
    // months those intervals span — read, they are the conflict
    // footprint — under this batch's own winners there. Only pinned rows
    // inside the bounds' span reach the shuffle.
    val snap = manifestEntries(root, txn.snapVer)
    def scan(kind: Int, step: Long, es: Seq[ManifestEntry]) =
      if (es.isEmpty) None
      else Some(spark.read.schema(if (kind == Known) catalogSchema else levelSchema)
        .parquet(es.map(e => s"$root/${e.rel}"): _*)
        .select(lit(kind).as("kind"), lit(step).as("l"), col("*")))
    val pinned = levels.sliding(2).toSeq.flatMap {
      case Seq(fine, coarse) if seen(s"lo${coarse.step}") != null =>
        def edge(k: String) =
          Math.floorDiv(seen(s"$k${coarse.step}").asInstanceOf[Long], coarse.step) * coarse.step
        val (from, to) = (edge("lo"), edge("hi") + coarse.step)
        val months = monthsCovering(from, to)
        months.foreach(m => txn.touched += ((fine.step, m)))
        scan(Pinned, fine.step, snap.filter(e =>
            e.step == fine.step && !e.isCatalog && months.contains(e.month)))
          .map(_.where(col("interval") >= timestamp_seconds(lit(from)) &&
            col("interval") < timestamp_seconds(lit(to))))
      case _ => None
    }
    val catalog = levels.flatMap(ar =>
      scan(Known, ar.step, snap.filter(e => e.isCatalog && e.step == ar.step)))
    // The commit's one shuffle: every step below groups by series_id
    // (plus other keys), so none shuffles again. A checkpoint would
    // forget the hash partitioning, and so would a cache planned on before
    // it is built; AQE does not coalesce a cached shuffle, hence the width.
    val input = (routed +: (pinned ++ catalog))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val u = input.repartition(shuffleWidth(input), col("series_id")).persist()
    def rows(kind: Int) = u.where(col("kind") === kind)
    try {
      u.foreachPartition((_: Iterator[Row]) => ())
      val winners = levels.indices.foldLeft(Seq.empty[DataFrame]) { (done, i) =>
        val ar = levels(i)
        val direct = rows(Routed).where(col("l") === ar.step).select(col("series_id"),
          Time.align(col("interval"), ar.step).as("interval"), col("value"), col("seq"))
        val newRows =
          if (i == 0) direct
          else {
            val finer = lww(rows(Pinned).where(col("l") === levels(i - 1).step)
                .select("series_id", "interval", "value", "seq").unionByName(done.last))
              .select(col("series_id"), col("interval"), col("value"), lit(false).as("mark"))
            val marks = rows(Routed).where(col("l") < ar.step).select(col("series_id"),
              col("interval"), lit(null).cast(DoubleType).as("value"), lit(true).as("mark"))
            val touched = finer.unionByName(marks)
              .withColumn("hit", max(col("mark")).over(Window.partitionBy(
                col("series_id"), Time.align(col("interval"), ar.step))))
              .where(col("hit") && !col("mark"))
              .select("series_id", "interval", "value")
            // propagation (xff gate + mean); propagated rows stamp below
            // this batch's direct rows (the reference commits direct
            // archive writes after earlier archives' propagation)
            Rollup.downsample(touched, "series_id", "interval", "value",
                levels(i - 1).step, ar.step, p.xff, p.cf)
              .withColumn("seq", struct(lit(base).as("b"), lit(0).as("k"),
                lit(0L).as("t"), lit(0L).as("s")))
              .unionByName(direct)
          }
        done :+ lww(newRows)
      }
      stage(levels.zip(winners).map { case (ar, w) => w.withColumn("l", lit(ar.step)) }
        .reduce(_ unionByName _), rows(Known).select("l", "series_id"), txn)
    } finally u.unpersist()
  }

  /** Bulk-load pre-aggregated rows into ONE level AS-IS — no age
    * routing, no propagation cascade: the migration path for
    * whisper/hoard archive rings ([[HoardImport]]), whose coarser
    * archives hold independently-propagated history older than the
    * finer archives' retention and therefore must NOT be recomputed
    * from the fine level. Rows: `(series_id, ts` epoch-seconds`,
    * value)`; intervals are aligned to the level's step. Later normal
    * writes stamp newer seqs and win lww as usual. The staging write
    * reads `rows` twice (its rows, then its series for the catalog), so
    * callers pass a materialized frame.
    */
  def importArchive(ar: Archive, rows: DataFrame): Unit = runOptimistic { txn =>
    require(policy.sorted.exists(_.step == ar.step),
      s"no level with step ${ar.step} in this store's policy")
    val base = HoardStore.claimCommitBase(root)
    txn.commitId = base
    val winners = lww(rows.select(col("series_id"),
        Time.align(timestamp_seconds(col("ts")), ar.step).as("interval"),
        col("value"),
        struct(lit(base).as("b"), lit(1).as("k"),
          col("ts").cast("long").as("t"), lit(0L).as("s")).as("seq")))
    stage(winners.withColumn("l", lit(ar.step)),
      catalogAt(txn.snapVer, ar).withColumn("l", lit(ar.step)), txn)
  }

  /** Stage one commit — a cascade or an archive import — in one write
    * to the commit's OWN directory (nobody else writes there, so its
    * listing is race-free). `winners` holds every level's new rows
    * `(l, series_id, interval, value, seq)`, one per key, `l` being the
    * level's step; they go to `l=<step>/p_month=<yyyy-MM>`, so a level
    * with no rows writes nothing. Existing data is neither read nor
    * rewritten (write-amp ∝ batch); readers resolve lww across a month's
    * files. The series of each level's winners that `known` (the
    * snapshot catalog's `(l, series_id)`) does not list go to
    * `l=<step>/p_month=catalog` (null data columns; catalog reads take
    * `series_id` only): catalog entries of the same publish, outside the
    * conflict footprint — two writers that both add a series both
    * publish, and every catalog read applies distinct(). The catalog is
    * what lets fetchMulti derive its series universe WITHOUT scanning the
    * level's data; a series stays in it after vacuum expires its points,
    * as the reference's series file exists until deleted.
    */
  private def stage(winners: DataFrame, known: DataFrame, t: Txn): Unit = {
    val sub = f"c${t.commitId}%012d"
    val dir = Paths.get(dataPath(root), sub)
    val fresh = winners.select(col("l"), col("series_id"), lit(true).as("fresh"))
      .unionByName(known.select(col("l"), col("series_id"), lit(false).as("fresh")))
      .groupBy("l", "series_id").agg(bool_and(col("fresh")).as("fresh"))
      .where(col("fresh"))
      .select(col("l"), col("series_id"), lit(CatalogMonth).as("p_month"))
    winners.withColumn("p_month", date_format(col("interval"), "yyyy-MM"))
      .unionByName(fresh, allowMissingColumns = true)
      .write.mode(SaveMode.Overwrite).partitionBy("l", "p_month").parquet(dir.toString)
    for (l <- listDir(dir) if l.startsWith("l=");
         m <- listDir(dir.resolve(l)) if m.startsWith("p_month=");
         f <- listDir(dir.resolve(l).resolve(m)) if f.endsWith(".parquet")) {
      val e = ManifestEntry(l.stripPrefix("l=").toLong, m.stripPrefix("p_month="),
        s"_data/$sub/$l/$m/$f")
      t.staged += e
      if (!e.isCatalog) t.touched += ((e.step, e.month))
    }
  }

  // ---- optimistic manifest transactions ------------------------------

  /** Test seam: fires once immediately before the first commit-validate
    * of the next optimistic transaction (lets a test inject a competing
    * commit deterministically between stage and publish).
    */
  @volatile private[graft] var beforeCommitHook: () => Unit = () => ()

  /** Attempts the last optimistic transaction took (1 = no conflict). */
  @volatile var lastCommitAttempts: Int = 0

  /** Lock-free optimistic commit: stage data files against a pinned
    * snapshot, validate the conflict footprint at publish time, and on
    * conflict DISCARD the staged files and re-run the whole body from a
    * fresh snapshot — the re-run is what recomputes propagation against
    * data a concurrent writer landed after our snapshot (the lost-update
    * hazard a blind append would have). Plain appends whose (level,
    * month) footprint is untouched by concurrent commits publish
    * first-try; the version claim itself is atomic (hard-link publish),
    * so losing the race to the version number alone just re-validates
    * and re-claims without re-running the body. After the publish,
    * (level, month)s fed by more than [[CompactThreshold]] commits are
    * folded, so read-time lww fan-in stays bounded on long ingests. A
    * fold writes a full copy of its month and keeps the inputs on disk
    * until [[expireSnapshots]]. A body that stages nothing (an empty
    * or all-too-old batch) publishes no version.
    */
  private def runOptimistic(body: Txn => Unit): Unit = synchronized {
    require(pinnedVersion.isEmpty, "snapshot views are read-only")
    val maxAttempts = 10
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val txn = new Txn(latestManifestVersion(root))
      body(txn)
      if (txn.staged.isEmpty) done = true
      else {
        val hook = beforeCommitHook; beforeCommitHook = () => (); hook()
        if (commitTxn(txn)) done = true
        else {
          txn.staged.map(_.commitDir).distinct
            .foreach(d => Scratch.deleteRecursively(Paths.get(dataPath(root), d)))
          if (attempt > maxAttempts) throw new IllegalStateException(
            s"optimistic commit on $root lost $maxAttempts validation " +
              "rounds to concurrent writers")
        }
      }
    }
    lastCommitAttempts = attempt
    // files from one commit never share a key, so only the number of
    // commits feeding a (level, month) adds read-time lww work
    foldMonths(_.map(_.commitDir).distinct.size > CompactThreshold)
  }

  private val CompactThreshold = 16

  /** Publish an append transaction. Returns false on a SEMANTIC
    * conflict (a commit since our snapshot added files to a (level,
    * month) this txn read or wrote — its propagation inputs may be
    * stale); internally re-claims on a plain version race.
    */
  private def commitTxn(txn: Txn): Boolean = {
    var v = latestManifestVersion(root)
    while (true) {
      if (v != txn.snapVer) {
        val base = manifestEntries(root, txn.snapVer).toSet
        val added = manifestEntries(root, v).filterNot(base)
        if (added.exists(e => txn.touched((e.step, e.month)))) return false
        // entries REMOVED since the snapshot are compaction/vacuum
        // rewrites: contents are lww-identical (compaction) or a
        // retention filter (vacuum) — serializable as this-txn-first
      }
      if (tryPublish(v + 1, manifestEntries(root, v) ++ txn.staged.toSeq))
        return true
      v = latestManifestVersion(root)
    }
    false // unreachable
  }

  /** Publish a rewrite (compaction/vacuum): `removed` must all still be
    * live — if another rewrite already took any of them, abandon (the
    * caller deletes its scratch output). Appends landed since the
    * snapshot are unaffected: they stay in the manifest and the
    * read-time lww folds them with the rewrite's output.
    */
  private def commitRewrite(removed: Set[ManifestEntry],
                            added: Seq[ManifestEntry]): Boolean = {
    var v = latestManifestVersion(root)
    while (true) {
      val cur = manifestEntries(root, v)
      if (!removed.subsetOf(cur.toSet)) return false
      if (tryPublish(v + 1, cur.filterNot(removed) ++ added)) return true
      v = latestManifestVersion(root)
    }
    false // unreachable
  }

  /** Atomic manifest publish through the [[ManifestCatalog]] seam —
    * file-backed hard-link CAS by default; a remote commit service
    * (or a test's in-memory CAS) when injected. The claim is
    * exactly-once per version; readers never observe a torn manifest.
    */
  private def tryPublish(ver: Long, entries: Seq[ManifestEntry]): Boolean =
    HoardStore.catalogFor(root).tryPublish(ver, entries)

  /** A read-only view pinned to the current manifest version: immune to
    * every later commit, compaction and vacuum — snapshot isolation for
    * readers overlapping a rewrite. Valid until [[expireSnapshots]]
    * reclaims versions older than its keep horizon (the reader-lease
    * contract every snapshot table format has).
    */
  def snapshot(): HoardStore =
    new HoardStore(spark, root, Some(latestManifestVersion(root)))

  /** Reclaim space: drop manifest versions older than the last
    * `keepLast` and physically delete data files no retained version
    * references — superseded files and files a crashed or conflicted
    * writer staged but never published alike. This is the ONLY place
    * the store deletes a data file, which is what makes every pinned
    * snapshot read stable.
    */
  def expireSnapshots(keepLast: Int = 2): Unit = synchronized {
    val cat = HoardStore.catalogFor(root)
    val vers = cat.versions
    if (vers.isEmpty) return
    val keep = math.max(1, keepLast)
    val live = vers.takeRight(keep)
      .flatMap(v => manifestEntries(root, v))
      .map(_.rel).toSet
    vers.dropRight(keep).foreach(cat.deleteVersion)
    val dataDir = Paths.get(dataPath(root))
    if (Files.exists(dataDir)) {
      val rootP = Paths.get(root)
      val st = Files.walk(dataDir)
      val files = try st.iterator().asScala.filter(p =>
          Files.isRegularFile(p)).toList
        finally st.close()
      files.foreach { p =>
        val rel = rootP.relativize(p).toString
        if (rel.endsWith(".parquet")) {
          if (!live.contains(rel)) Files.deleteIfExists(p)
        } else Files.deleteIfExists(p) // _SUCCESS / .crc markers
      }
      // prune commit dirs emptied of every referenced file
      val dd = Files.walk(dataDir)
      try dd.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala
        .filter(p => p != dataDir && Files.isDirectory(p))
        .foreach { p =>
          val ls = Files.list(p)
          val empty = try !ls.iterator().hasNext finally ls.close()
          if (empty) Files.deleteIfExists(p)
        }
      finally dd.close()
    }
  }

  /** Entries of the latest published manifest. */
  private[graft] def latestEntries: Seq[ManifestEntry] =
    manifestEntries(root, latestManifestVersion(root))

  /** Merged view of one (level, month)'s or one catalog's entries: the
    * lww winner per key for level data, the distinct series for catalog
    * entries.
    */
  private def readEntries(es: Seq[ManifestEntry]): DataFrame =
    if (es.exists(_.isCatalog)) readCatalogEntries(es)
    else lww(spark.read.schema(levelSchema).parquet(es.map(e => s"$root/${e.rel}"): _*))

  /** One manifest rewrite: remove `inputs` and add `rows` as one fresh
    * file of (level `step`, `month`) — no file when `rows` is empty. A
    * lost race (another rewrite already took an input) abandons the
    * scratch output. Superseded files stay on disk for pinned snapshots
    * until [[expireSnapshots]].
    */
  private def rewrite(step: Long, month: String, tag: String,
                      inputs: Set[ManifestEntry], rows: DataFrame): Unit = {
    val kept = rows.localCheckpoint(true)
    val sub = f"c${HoardStore.claimCommitBase(root)}%012d_${tag}_l${step}_$month"
    val dir = Paths.get(dataPath(root), sub)
    val added =
      if (kept.head(1).isEmpty) Seq.empty
      else {
        kept.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.toString)
        listDir(dir).filter(_.endsWith(".parquet"))
          .map(f => ManifestEntry(step, month, s"_data/$sub/$f"))
      }
    if (!commitRewrite(inputs, added)) Scratch.deleteRecursively(dir)
  }

  /** Fold every (level, month) and every level catalog whose entries
    * `needsFold` into one file — contents unchanged by construction (the
    * same merge the readers apply).
    */
  private def foldMonths(needsFold: Seq[ManifestEntry] => Boolean): Unit =
    synchronized {
      require(pinnedVersion.isEmpty, "snapshot views are read-only")
      latestEntries.groupBy(e => (e.step, e.month)).filter(g => needsFold(g._2))
        .foreach { case ((step, month), inputs) =>
          rewrite(step, month, "fold", inputs.toSet, readEntries(inputs))
        }
    }

  /** Last-write-wins winner per (series, interval) by composite seq. */
  private def lww(rows: DataFrame): DataFrame = Dedup.lastWriteWins(
      rows,
      Seq(col("series_id"), col("interval")), col("seq"),
      Seq("value" -> col("value"), "seq_keep" -> col("seq")))
    .withColumnRenamed("seq_keep", "seq")

  /** Fold every (level, month) — and every level catalog — holding
    * more than `maxFilesPerMonth` files back to one file (one winner
    * per key; one row per catalog series). The write path already folds
    * past [[CompactThreshold]] commits per (level, month) or catalog;
    * call this to fold below that. The inputs stay on disk until
    * [[expireSnapshots]].
    */
  def compact(maxFilesPerMonth: Int = 1): Unit =
    foldMonths(_.size > maxFilesPerMonth)

  // ---- series catalog ------------------------------------------------

  /** Graphite-style series glob → predicate for [[fetchMulti]]: the
    * target syntax a graphite user brings to a tree imported by
    * [[HoardImport]] (`web*.cpu.user`, `web{01,02}.load`), translated by
    * the render evaluator's own [[GraphiteTarget.globToRegex]] so fetch
    * and render select the same series. Evaluates as one RLIKE column:
    * applied to the catalog for the fetch universe and pushed into the
    * level scan like any predicate.
    */
  def seriesGlob(pattern: String): org.apache.spark.sql.Column =
    col("series_id").rlike(GraphiteTarget.globToRegex(pattern))

  /** Distinct series across ALL levels of this view's manifest version
    * — the browse catalog. Age routing can land a series only at a
    * coarse level (points already older than the finer retentions), so
    * a single level's catalog under-reports the store; the union never
    * does.
    */
  def seriesCatalog(): DataFrame =
    readCatalogEntries(manifestEntries(root, viewVersion).filter(_.isCatalog))

  /** Graphite's `/metrics/find` over the store catalog: glob → tree
    * nodes with leaf/branch flags ([[graft.operators.GraphiteTarget
    * .findNodes]]) — the browse API next to [[seriesGlob]]'s fetch
    * predicate; catalog-only, no data I/O (O2's contract).
    */
  def findMetrics(query: String): DataFrame =
    graft.operators.GraphiteTarget.findNodes(
      seriesCatalog().select(col("series_id").as("series")), query)

  /** Distinct series ever written at a level, as of this view's
    * manifest version (pinned or latest): one small parquet read of the
    * files its catalog entries name — no directory listing.
    */
  def readCatalog(ar: Archive): DataFrame = catalogAt(viewVersion, ar)

  private def catalogAt(ver: Long, ar: Archive): DataFrame =
    readCatalogEntries(manifestEntries(root, ver)
      .filter(e => e.isCatalog && e.step == ar.step))

  private def readCatalogEntries(es: Seq[ManifestEntry]): DataFrame =
    if (es.isEmpty) emptyFrame(catalogSchema)
    else spark.read.schema(catalogSchema)
      .parquet(es.map(e => s"$root/${e.rel}"): _*).distinct()

  /** The manifest version this view reads: its pinned one, else the
    * latest.
    */
  private def viewVersion: Long =
    pinnedVersion.getOrElse(latestManifestVersion(root))

  // ---- read path -----------------------------------------------------

  private def catalogSchema = StructType(Seq(StructField("series_id", StringType)))

  private def levelSchema = StructType(Seq(
    StructField("series_id", StringType), StructField("interval", TimestampType),
    StructField("value", DoubleType),
    StructField("seq", StructType(Seq(
      StructField("b", LongType), StructField("k", IntegerType),
      StructField("t", LongType), StructField("s", LongType))))))

  /** Manifest-planned read: the file list comes from this view's
    * manifest version — NO directory listing, which at object-store
    * scale is the difference between one small metadata read and a
    * recursive LIST over millions of files. Month pruning selects
    * manifest entries, so partition pruning happens before Spark ever
    * sees a path.
    */
  private def readLevelWithSeq(ar: Archive,
                               months: Option[Seq[String]] = None): DataFrame = {
    val selected = manifestEntries(root, viewVersion).filter(e =>
      e.step == ar.step && !e.isCatalog && months.forall(_.contains(e.month)))
    if (selected.isEmpty) emptyFrame(levelSchema) else readEntries(selected)
  }

  def readLevel(ar: Archive): DataFrame =
    readLevelWithSeq(ar).select("series_id", "interval", "value")

  /** Month partitions covering [fromSec, toSec) — the pruning predicate
    * for windowed reads.
    */
  private def monthsCovering(fromSec: Long, toSec: Long): Seq[String] = {
    import java.time.{Instant, YearMonth, ZoneOffset}
    val start = YearMonth.from(Instant.ofEpochSecond(fromSec).atZone(ZoneOffset.UTC))
    val end = YearMonth.from(Instant.ofEpochSecond(math.max(fromSec, toSec - 1))
      .atZone(ZoneOffset.UTC))
    Iterator.iterate(start)(_.plusMonths(1)).takeWhile(!_.isAfter(end))
      .map(ym => f"${ym.getYear}%04d-${ym.getMonthValue}%02d").toSeq
  }

  /** Windowed level read with month pruning: the interval predicate
    * alone sits on a data column, so without selecting the window's
    * months' manifest entries a fetch would scan every month of the
    * level — at 100 TB the difference between touching 2 months' files
    * and touching 600.
    */
  def readLevelRange(ar: Archive, fromSec: Long, toSec: Long): DataFrame =
    readLevelWithSeq(ar, Some(monthsCovering(fromSec, toSec)))
      .where(col("interval") >= timestamp_seconds(lit(fromSec)) &&
        col("interval") < timestamp_seconds(lit(toSec)))
      .select("series_id", "interval", "value")

  /** The fetch planner (`src/hoard.coffee:426-441`): clamp `from` to
    * retention, validate, clamp `to` to now, route to the finest
    * archive covering `now - from`, bump both bounds one step past the
    * floor. Shared by fetch and fetchMulti so the window math cannot
    * drift between them.
    */
  private def planWindow(from0: Long, to0: Long, now: Long): (Archive, TimeInfo) = {
    val p = policy
    val from = math.max(from0, now - p.maxRetention)
    require(from < to0, "Invalid time interval")
    val to = if (to0 > now || to0 < from) now else to0
    val ar = p.forAge(now - from).getOrElse(p.sorted.last)
    (ar, TimeInfo(Time.bumpEpoch(from, ar.step), Time.bumpEpoch(to, ar.step),
      ar.step))
  }

  /** Range fetch (`src/hoard.coffee:426-513`): [[planWindow]] then a
    * dense gap-filled frame over [fromInterval, toInterval).
    */
  def fetch(series: String, from0: Long, to0: Long, now: Long): (TimeInfo, DataFrame) = {
    val (ar, ti) = planWindow(from0, to0, now)
    // a window that collapses to zero (or negative) slots — from < to
    // but both inside one step, or from past `now` so the clamp inverts
    // the bounds — yields an empty frame, like the reference's zero-pass
    // fetch loop (`src/hoard.coffee:493-509`)
    if (ti.fromInterval >= ti.toInterval) return (ti, emptyDense)
    val data = readLevelRange(ar, ti.fromInterval, ti.toInterval)
      .where(col("series_id") === series)
    val universe = spark.createDataFrame(
      java.util.List.of(Row(series)), catalogSchema)
    val dense = GapFill.densify(data, universe, "series_id", "interval",
      Seq("value"), ti.fromInterval, ti.toInterval, ar.step)
    (ti, dense)
  }

  /** Multi-series fetch — capability beyond the reference (which holds
    * one series per file): same planner, one dense gap-filled frame
    * covering every series matching `seriesPred` that has data at the
    * routed level (series with no points inside the window come back
    * all-null, like an empty single-series fetch).
    */
  def fetchMulti(seriesPred: org.apache.spark.sql.Column, from0: Long,
                 to0: Long, now: Long): (TimeInfo, DataFrame) = {
    val (ar, ti) = planWindow(from0, to0, now)
    if (ti.fromInterval >= ti.toInterval) return (ti, emptyDense)
    val data = readLevelRange(ar, ti.fromInterval, ti.toInterval)
      .where(seriesPred)
    // the universe comes from the series CATALOG (maintained on write),
    // not from scanning the level's data — the whole-level distinct
    // this replaces would be a full scan per multi-series fetch
    val universe = readCatalog(ar).where(seriesPred)
    val dense = GapFill.densify(data, universe, "series_id", "interval",
      Seq("value"), ti.fromInterval, ti.toInterval, ar.step)
    (ti, dense)
  }

  /** Test/driver convenience: materialized dense values in interval
    * order (the reference's `values` array). Collects one row PER SLOT
    * to the driver, so the slot count is capped — a year-wide
    * finest-level window would otherwise materialize millions of rows
    * driver-side; distributed callers should use [[fetch]] directly.
    */
  def fetchValues(series: String, from: Long, to: Long, now: Long,
                  maxSlots: Long = 1000000L): (TimeInfo, Seq[Option[Double]]) = {
    val (ti, df) = fetch(series, from, to, now)
    val slots = (ti.toInterval - ti.fromInterval) / ti.step
    require(slots <= maxSlots,
      s"fetchValues would collect $slots slots to the driver " +
        s"(cap $maxSlots); use fetch() for windows this wide")
    val vals = df.orderBy("interval").select("value").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    (ti, vals)
  }

  /** Retention-policy migration — the engine's `whisper-resize`
    * (public tooling every Graphite deployment ships; the reference
    * has no equivalent, SURVEY §2.1 O-ops stop at fetch): rebuild this
    * store's data under `newPolicy` at `newRoot`.
    *
    * Semantics, level by level (finest→coarsest):
    *  - the new FINEST level takes best-resolution old data: for each
    *    age range the finest OLD archive covering it whose step
    *    divides the new step (equal steps carry values verbatim;
    *    coarser-divisible sources aggregate through the engine's own
    *    xff-gated [[Rollup.downsample]]);
    *  - each COARSER new level is the cascade of the new level above
    *    it — mean-of-means, exactly what a native store under
    *    `newPolicy` would hold (SURVEY §2.2.8) — plus, beyond the
    *    finer level's coverage, deep history from old coarser
    *    archives (best-resolution, same divisibility rule), so
    *    independently-propagated history survives the migration the
    *    way `whisper-resize --aggregate` keeps it;
    *  - age ranges only an un-divisible old archive covers are
    *    DROPPED (loudly in the Scaladoc, silently in data — the same
    *    stance as the batch path's too-old drop);
    *  - ranges are cut at retention horizons relative to `now`
    *    (explicit, never wall clock).
    */
  def resize(newRoot: String, newPolicy: ArchivePolicy,
             now: Long): HoardStore = {
    val dst = HoardStore.create(spark, newRoot, newPolicy)

    /** Best-resolution old rows aggregated to `targetStep`, target-slot
      * ages in (fromAge, toAge], horizon-cut per source archive.
      *
      * Ranges are classed by the age of the row's TARGET slot start
      * (align(interval, targetStep)), not the row's own age: a target
      * slot straddling a retention horizon would otherwise receive
      * rows from TWO source archives as two aggregate rows with tied
      * seq stamps — a nondeterministic merge. Per-slot classing keeps
      * every slot single-sourced (best resolution wins the whole
      * slot), so the import is deterministic by construction.
      */
    def oldRows(targetStep: Long, fromAge: Long, toAge: Long): Seq[DataFrame] = {
      var covered = fromAge
      policy.sorted.filter(o => targetStep % o.step == 0).flatMap { o =>
        val hiAge = math.min(o.retention, toAge)
        if (covered >= hiAge) None
        else {
          val loAge = covered
          covered = hiAge
          val slotStart =
            Time.align(col("interval"), targetStep).cast("long")
          val rows = readLevel(o).where(
            slotStart > now - hiAge && slotStart <= now - loAge)
          Some(
            if (o.step == targetStep) rows
            else Rollup.downsample(rows, "series_id", "interval", "value",
              o.step, targetStep, newPolicy.xff, newPolicy.cf))
        }
      }
    }
    def coverage(targetStep: Long, cap: Long): Long = {
      val rets = policy.sorted.filter(o => targetStep % o.step == 0)
        .map(_.retention)
      if (rets.isEmpty) 0L else math.min(cap, rets.max)
    }
    def load(ar: Archive, parts: Seq[DataFrame]): DataFrame = {
      val rows = parts.reduceOption(_ unionByName _)
        .getOrElse(readLevel(policy.finest).limit(0))
        .localCheckpoint(true)
      dst.importArchive(ar,
        rows.select(col("series_id"),
          col("interval").cast("long").as("ts"), col("value")))
      rows
    }

    val nf = newPolicy.finest
    var prev = load(nf, oldRows(nf.step, 0L, nf.retention))
    var prevStep = nf.step
    var prevCover = coverage(nf.step, nf.retention)
    newPolicy.sorted.tail.foreach { aN =>
      val casc = Rollup.downsample(prev, "series_id", "interval", "value",
        prevStep, aN.step, newPolicy.xff, newPolicy.cf)
      // deep history the finer chain can't see; the cascade value wins
      // where both touch a slot (it has the finer provenance)
      val deep = oldRows(aN.step, prevCover, aN.retention)
        .reduceOption(_ unionByName _)
        .map(_.join(casc.select("series_id", "interval"),
          Seq("series_id", "interval"), "left_anti"))
      prev = load(aN, Seq(casc) ++ deep.toSeq)
      prevStep = aN.step
      prevCover = math.max(prevCover, coverage(aN.step, aN.retention))
    }
    dst
  }

  /** whisper-fill: copy `src`'s points into THIS store only where this
    * store has no value — the migration/backfill tool every Graphite
    * deployment ships (reference ecosystem's whisper-fill/carbonate):
    * per archive level, the destination wins EVERY conflict and levels
    * fill independently with NO repropagation, exactly the tool's
    * contract (a filled coarse slot keeps its src-side provenance; it
    * is never recomputed from filled finer data). Layouts must match
    * level-for-level, as the tool requires.
    *
    * Shape: per level one anti-join on (series, interval), then the
    * standard level merge; new keys only, so the lww merge cannot
    * disturb existing rows regardless of seq stamps. Passing `now`
    * month-prunes BOTH scans to each level's live window
    * (now - retention, now + step) via readLevelRange — without it the
    * scans are unpruned full-level reads (a fill across a deep-history
    * store should pass its clock).
    */
  def fill(src: HoardStore, now: Option[Long] = None): Unit = {
    require(policy.sorted.map(a => (a.step, a.retention)) ==
      src.policy.sorted.map(a => (a.step, a.retention)),
      "fill requires matching archive layouts (whisper-fill contract)")
    policy.sorted.foreach { ar =>
      val srcAr = src.policy.sorted.find(_.step == ar.step).get
      def level(st: HoardStore, a: Archive) = now match {
        case Some(n) => st.readLevelRange(a, n - a.retention + 1, n + a.step)
        case None    => st.readLevel(a)
      }
      val have = level(this, ar).select("series_id", "interval")
      val missing = level(src, srcAr)
        .join(have, Seq("series_id", "interval"), "left_anti")
        .localCheckpoint(true)
      if (missing.head(1).nonEmpty)
        importArchive(ar, missing.select(col("series_id"),
          col("interval").cast("long").as("ts"), col("value")))
    }
  }

  /** Integrity check (the fsck whisper never had): recompute each
    * coarser level from the next-finer one through the SAME cascade
    * operator the write path uses (xff gate, cf, alignment) and report
    * per level how many stored slots were checkable and how many
    * diverge. Only slots the finer level can actually derive are
    * checked (deep age-routed history has no finer provenance — by
    * design, the same contract `fill` preserves). A healthy store
    * reports zero mismatches; the recompute is bit-identical to the
    * original cascade because it runs the identical operator over the
    * identical finer rows.
    *
    * Shape: per level pair one downsample + one equi-join on
    * (series, interval); the summary is O(|levels|) rows.
    */
  def fsck(): DataFrame = {
    import spark.implicits._
    val rows = policy.sorted.sliding(2).collect {
      case Seq(fine, coarse) =>
        val cmp = rederived(fine, coarse)
          .select(when(col("value") === col("expected"), 0L)
            .otherwise(1L).as("bad"))
          .agg(count(lit(1)).as("n"), sum(col("bad")).as("m"))
          .head()
        (coarse.step, cmp.getLong(0),
          Option(cmp.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
    }.toSeq
    rows.toDF("step", "n_checked", "n_mismatch")
  }

  /** Repair every mismatch fsck would report: re-derive the coarser
    * slots from the finer level and merge them back with a fresh seq
    * base (lww makes the recompute win). Healthy slots merge to their
    * identical value — the operation is idempotent.
    */
  def fsckRepair(): Unit =
    policy.sorted.sliding(2).foreach {
      case Seq(fine, coarse) =>
        val bad = rederived(fine, coarse)
          .where(!(col("value") === col("expected")))
          .select(col("series_id"),
            col("interval").cast("long").as("ts"),
            col("expected").as("value"))
          .localCheckpoint(true)
        if (bad.head(1).nonEmpty) importArchive(coarse, bad)
      case _ => ()
    }

  /** `coarse`'s stored slots that `fine` can derive, each beside the
    * `expected` value the write path's cascade operator derives.
    */
  private def rederived(fine: Archive, coarse: Archive): DataFrame =
    readLevel(coarse).join(
      Rollup.downsample(readLevel(fine), "series_id", "interval", "value",
          fine.step, coarse.step, policy.xff, policy.cf)
        .withColumnRenamed("value", "expected"),
      Seq("series_id", "interval"))

  /** Series deletion — the reference's `rm <series>.whisper`, as a
    * store operation (and the right-to-be-forgotten path a shared
    * 100 TB store needs, which per-series files got for free): every
    * point of every matching series is removed from every level, and
    * every level's catalog entries are rewritten without the series so
    * fetchMulti's universe shrinks. `pred` is a `series_id` predicate
    * (it composes with [[seriesGlob]]). Later writes may recreate the
    * series.
    *
    * Cost shape: one read per (level, month) and per level catalog to
    * find the ones that hold matching rows (a delete by arbitrary
    * predicate cannot do better without a per-series index), then a
    * manifest rewrite of ONLY those — snapshot readers pinned before
    * the delete still see the series, catalog included, until
    * [[expireSnapshots]] physically reclaims it (call it to actually
    * forget the bytes).
    */
  def deleteSeries(pred: org.apache.spark.sql.Column): Unit = synchronized {
    require(pinnedVersion.isEmpty, "snapshot views are read-only")
    latestEntries.groupBy(e => (e.step, e.month)).foreach {
      case ((step, month), inputs) =>
        val part = readEntries(inputs)
        if (part.where(pred).head(1).nonEmpty)
          rewrite(step, month, "del", inputs.toSet, part.where(!pred))
    }
  }

  /** Retention vacuum: drop rows beyond each level's retention —
    * the Parquet analogue of ring-buffer wraparound reclaiming slots.
    *
    * Scale shape: a manifest edit, not a physical delete. Months
    * STRICTLY before the cutoff month are fully expired, so their
    * entries are dropped without reading a byte; only the single
    * boundary month (the one mixing kept and expired rows) is read,
    * filtered and rewritten — and only when it actually contains
    * expired rows. Work is O(1 month), not O(level), and repeated
    * vacuums are no-op idempotent (an emptied level is never re-read).
    * Frees no disk by itself: the superseded files stay (pinned
    * snapshots may read them) until [[expireSnapshots]]. Catalog
    * entries are left alone, so a vacuumed-out series stays listed.
    */
  def vacuum(now: Long): Unit = synchronized {
    require(pinnedVersion.isEmpty, "snapshot views are read-only")
    policy.sorted.foreach { ar =>
      val cutoff = now - ar.retention
      val cutoffMonth = monthsCovering(cutoff, cutoff + 1).head
      val ents = latestEntries.filter(e => e.step == ar.step && !e.isCatalog)
      val expired = ents.filter(_.month < cutoffMonth).toSet
      val boundary = ents.filter(_.month == cutoffMonth)
      val pred = col("interval") >= timestamp_seconds(lit(cutoff))
      val part = if (boundary.isEmpty) None else Some(readEntries(boundary))
      if (part.exists(_.where(!pred).head(1).nonEmpty))
        rewrite(ar.step, cutoffMonth, "vac", expired ++ boundary,
          part.get.where(pred))
      else if (expired.nonEmpty) commitRewrite(expired, Seq.empty)
    }
  }

  private def emptyDense: DataFrame = emptyFrame(
    StructType(Seq(StructField("series_id", StringType),
      StructField("interval", TimestampType), StructField("value", DoubleType))))

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Directory entry names, with the NIO stream closed (Files.list
    * leaks a directory fd per call otherwise — a long-lived driver JVM
    * vacuuming in a loop would exhaust its fd table).
    */
  private def listDir(dir: JPath): Seq[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toList
    finally st.close()
  }
}

object HoardStore {

  final case class RawPoint(series_id: String, ts: Long, value: Double)
  final case class TimeInfo(fromInterval: Long, toInterval: Long, step: Long)

  /** The store's commit protocol. It has exactly one value and selects
    * nothing: [[create]] keeps the parameter so existing callers that
    * name [[ManifestAppend]] still compile.
    */
  sealed trait MergeStrategy

  /** Data files are immutable and live in per-commit directories under
    * `_data/`; the store's state is whatever file list the LATEST
    * manifest in `_manifests/` names (readers plan from metadata — no
    * directory listing); writers commit lock-FREE by optimistic
    * validate-and-publish with conflict re-try; readers can pin a
    * version ([[HoardStore.snapshot]]) and stay isolated from every
    * concurrent rewrite until [[HoardStore.expireSnapshots]]. Persisted
    * as `manifest_append` in the store's `_merge` marker.
    */
  case object ManifestAppend extends MergeStrategy

  /** One immutable file the manifest points at, keyed by the (level,
    * month) partition it belongs to — the conflict and pruning
    * granularity — or, under [[CatalogMonth]], one file of a level's
    * series catalog.
    */
  private[graft] final case class ManifestEntry(step: Long, month: String,
                                                rel: String) {
    /** The directory one commit (write, fold, vacuum or delete) wrote. */
    def commitDir: String = rel.split('/')(1)

    /** A series-catalog file, not level data: level reads, vacuum and
      * the conflict footprint skip it.
      */
    def isCatalog: Boolean = month == CatalogMonth
  }

  /** The reserved month of catalog entries; it is never a `yyyy-MM`. */
  private[graft] val CatalogMonth = "catalog"

  /** In-flight optimistic transaction: the snapshot it reads, the files
    * it staged and its (level, month) conflict footprint.
    */
  private[store] final class Txn(val snapVer: Long) {
    var commitId: Long = 0L
    val staged = scala.collection.mutable.Buffer.empty[ManifestEntry]
    val touched = scala.collection.mutable.Set.empty[(Long, String)]
  }

  private[store] def dataPath(root: String): String = s"$root/_data"

  /** Per-root catalog registry: file-backed unless a test (or a future
    * remote-commit deployment) injects another [[ManifestCatalog]] for
    * the root BEFORE the store first touches it. All manifest reads and
    * the CAS publish go through this seam — nothing else in the store
    * touches `_manifests` except expired-data-file deletion.
    */
  private val catalogs =
    new java.util.concurrent.ConcurrentHashMap[String, ManifestCatalog]()

  private[store] def catalogFor(root: String): ManifestCatalog =
    catalogs.computeIfAbsent(root, r => new FileManifestCatalog(r))

  /** Test / deployment injection point (see [[ManifestCatalog]]). */
  private[graft] def injectCatalog(root: String, c: ManifestCatalog): Unit =
    catalogs.put(root, c)

  private[graft] def removeCatalog(root: String): Unit = catalogs.remove(root)

  private[graft] def latestManifestVersion(root: String): Long =
    catalogFor(root).latestVersion

  /** Entries of manifest `ver` (0 = the empty pre-creation state). */
  private[store] def manifestEntries(root: String,
                                     ver: Long): Seq[ManifestEntry] =
    catalogFor(root).entries(ver)

  private def strategyFile(root: String): JPath = Paths.get(root, "_merge")

  private val ManifestMarker = "manifest_append"

  /** DDL (`src/hoard.coffee:30-69`): rejects an existing store, persists
    * the policy catalog and the `_merge` marker. No preallocation — data
    * files appear on first write. `mergeStrategy` selects nothing (see
    * [[MergeStrategy]]).
    */
  def create(spark: SparkSession, root: String, policy: ArchivePolicy,
             mergeStrategy: MergeStrategy = ManifestAppend): HoardStore = {
    val dir = Paths.get(root)
    if (Files.exists(policyFile(root)))
      throw new IllegalStateException(s"Store already exists: $root")
    Files.createDirectories(dir)
    writePolicy(root, policy)
    Files.writeString(strategyFile(root), ManifestMarker)
    new HoardStore(spark, root)
  }

  /** Opens a store. Stores written by the removed month-rewrite,
    * record-merge or delta-append strategies (or older ones with no
    * `_merge` marker) are refused: their data lives outside any
    * manifest, and there is no migration path. So are stores that still
    * carry the old `_series/` catalog directory, whose catalog no
    * manifest names.
    */
  def open(spark: SparkSession, root: String): HoardStore = {
    requireManifestStore(root)
    new HoardStore(spark, root)
  }

  private def requireManifestStore(root: String): Unit = {
    require(Files.exists(policyFile(root)), s"No store at $root")
    val found =
      if (Files.exists(strategyFile(root)))
        Files.readString(strategyFile(root)).trim
      else "none (no _merge marker)"
    if (found != ManifestMarker)
      throw new IllegalStateException(
        s"Store $root uses merge strategy $found; only $ManifestMarker " +
          "stores can be opened (there is no migration path)")
    if (Files.exists(Paths.get(root, "_series")))
      throw new IllegalStateException(
        s"Store $root has a _series/ catalog directory from before the " +
          "series catalog moved into the manifest (there is no migration path)")
  }

  /** Time travel: a read-only view of the store at a historical
    * manifest version (what [[HoardStore.snapshot]] pins implicitly,
    * addressed explicitly). Every write publishes one version, so a
    * version between writes shows each batch whole; a vacuum or delete
    * may publish several versions (one per level or month it rewrites).
    * Valid while the version survives `expireSnapshots`.
    */
  def openVersion(spark: SparkSession, root: String,
                  version: Long): HoardStore = {
    requireManifestStore(root)
    val latest = latestManifestVersion(root)
    require(version >= 1 && version <= latest,
      s"version $version out of range [1, $latest] (older versions may " +
        "have been expired)")
    require(catalogFor(root).versions.contains(version),
      s"manifest v$version was expired")
    new HoardStore(spark, root, Some(version))
  }

  /** Catalog read (`src/hoard.coffee:392-424`) — policy + derived
    * retention, without touching data files (fixing B4's whole-file
    * read per op).
    */
  def info(spark: SparkSession, root: String): ArchivePolicy = readPolicy(root)

  // ---- catalog persistence (.properties: no JSON dep needed) ---------

  private def policyFile(root: String): JPath = Paths.get(root, "_policy.properties")

  private def writePolicy(root: String, p: ArchivePolicy): Unit = {
    val props = new java.util.Properties()
    props.setProperty("archives",
      p.sorted.map(a => s"${a.step}:${a.points}").mkString(","))
    props.setProperty("xff", p.xff.toString)
    props.setProperty("cf", p.cf)
    val out = Files.newOutputStream(policyFile(root))
    try props.store(out, "graft hoard store policy") finally out.close()
  }

  private def readPolicy(root: String): ArchivePolicy = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(policyFile(root))
    try props.load(in) finally in.close()
    val archives = props.getProperty("archives").split(",").toSeq.map { s =>
      val Array(step, points) = s.split(":")
      Archive(step.toLong, points.toLong)
    }
    ArchivePolicy(archives, props.getProperty("xff").toDouble,
      Option(props.getProperty("cf")).getOrElse("avg"))
  }

  /** Transactional commit allocation: batch N is claimed by atomically
    * creating `_commits/%012d` (create-exclusive is atomic), so no two
    * writers — nor a writer and its own crashed predecessor — can ever
    * share a seq base. The marker is durable evidence of the claim even
    * if the batch itself never lands; commit ids are monotone,
    * O(#batches) tiny empty files, folded implicitly by being listable
    * in one readdir.
    */
  private[store] def claimCommitBase(root: String): Long = {
    val dir = Paths.get(root, "_commits")
    Files.createDirectories(dir)
    val seed = {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.matches("\\d{12}"))
        .foldLeft(0L)((m, f) => math.max(m, f.toLong))
      finally s.close()
    }
    var n = seed + 1
    while (true) {
      try { Files.createFile(dir.resolve(f"$n%012d")); return n }
      catch { case _: java.nio.file.FileAlreadyExistsException => n += 1 }
    }
    0L // unreachable
  }

  /** CASE chain routing an age to the step of the finest covering archive
    * (`src/hoard.coffee:257-272`); NULL = older than every archive. */
  private def stepForAgeExpr(levels: Seq[Archive], age: Column): Column =
    levels.tail.foldLeft(when(age <= levels.head.retention, lit(levels.head.step))) {
      (acc, ar) => acc.when(age <= ar.retention, lit(ar.step))
    }

  /** Shuffle width for `df`: one task per advisory partition size of
    * its estimated bytes — the width AQE's coalescing would pick.
    */
  private def shuffleWidth(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    (df.queryExecution.optimizedPlan.stats.sizeInBytes /
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1)
      .min(BigInt(conf.numShufflePartitions)).toInt
  }

  // a cascade's input rows: this batch's routed points, a finer level's
  // pinned rows that propagation reads, a level's snapshot catalog
  private val Routed = 0
  private val Pinned = 1
  private val Known = 2
}
