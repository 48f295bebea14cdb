package graft.queries

import graft.Tables
import graft.core.{Archive, ArchivePolicy}
import graft.store.HoardStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HS1–HS2: end-to-end store-path queries — the events table is ingested
  * through the REAL write path (age routing, lww merge, xff cascade)
  * into a temp HoardStore, and the declared results come from the
  * store's read path (fetch planner, gap-fill / rollup levels). The
  * oracle recomputes the same semantics from raw events in SQL, so this
  * is the strongest cross-check: storage engine vs declarative spec.
  *
  * `now` is pinned to 2024-02-01 UTC so the events fall inside the
  * hourly archive's retention (the query parameter, never wall clock).
  */
object StoreQueries {

  private val Now = 1706745600L // 2024-02-01 00:00:00 UTC
  // cf=avg_exact: the daily cascade means go through a decimal(18,6)
  // sum so partial-aggregation order can never perturb the 6th decimal
  // (the cross-engine-deterministic mean; plain double AVG DID flip at
  // sf0.1/32 cores elsewhere) — the oracle mirrors the decimal detour
  private val Policy = ArchivePolicy(Seq(Archive(3600, 8760), Archive(86400, 1095)),
    cf = "avg_exact")

  /** hs12's target policy: same hourly finest, 2-DAY coarse level. */
  private val PolicyR = ArchivePolicy(
    Seq(Archive(3600, 8760), Archive(172800, 548)), cf = "avg_exact")

  /** one store build per sf dir per JVM (queries stay idempotent). */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val builtResize = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def storeResized(s: SparkSession, dir: String): HoardStore = {
    val root = builtResize.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-store-rs")
        .toString + "/store"
      storeFor(s, dir).resize(tmp, PolicyR, Now)
      tmp
    })
    HoardStore.open(s, root)
  }

  /** hs13's two-store fill scenario: the destination ingested only the
    * TAIL of the month (ts >= Jan-16 00:00 — a freshly provisioned
    * server), the source is the full from-scratch store, and
    * `dst.fill(src)` backfills the missing history. The cut sits on a
    * day boundary so every level slot is single-sourced: dst's slots
    * equal the full store's for the tail (same underlying points), and
    * filled slots copy the full store's head — so the MERGED store must
    * be value-indistinguishable from the from-scratch store and hs13
    * shares hs2's oracle VERBATIM. Dst-wins conflict semantics get
    * their own divergent-values unit gate in HoardStoreSpec.
    */
  private val builtFill = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def storeFilled(s: SparkSession, dir: String): HoardStore = {
    val root = builtFill.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-store-fill")
        .toString + "/store"
      val dst = HoardStore.create(s, tmp, Policy)
      val ev = Tables.load(s, dir, "events").select(
        col("event_type").as("series_id"),
        col("ts").cast("long").as("ts"),
        col("value"), col("event_id").as("seq"))
      val cut = 1705363200L // 2024-01-16 00:00:00 UTC (day boundary)
      dst.updateManyDf(ev.where(col("ts") >= cut), Now)
      dst.fill(storeFor(s, dir))
      tmp
    })
    HoardStore.open(s, root)
  }

  private def storeFor(s: SparkSession, dir: String): HoardStore = {
    val root = built.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-store")
        .toString + "/store"
      val st = HoardStore.create(s, tmp, Policy)
      val ev = Tables.load(s, dir, "events").select(
        col("event_type").as("series_id"),
        col("ts").cast("long").as("ts"), // uint32-second semantics: truncate
        col("value"),
        col("event_id").as("seq"))      // ingest sequence breaks second-ties
      // the oracle packs (second, seq) as second*1e9 + event_id — 9
      // digits is the int64-safe max (epoch ~1.7e9 * 1e9 < 2^63); the
      // engine itself orders by the (ts, seq) PAIR, so the guard is
      // on the oracle's packing, not the store. Fail loudly instead
      // of flapping the gate on a bigger fixture (tripped at sf100's
      // 1e8 event_ids with the old 7-digit pack).
      val maxId = Option(ev.agg(max(col("seq"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      require(maxId < 1000000000L,
        s"hs oracle key packs seq into 9 digits; max event_id $maxId too large")
      st.updateManyDf(ev, Now)
      tmp
    })
    HoardStore.open(s, root)
  }

  /** Two-batch store: the same events split chronologically at
    * 2024-01-16 and ingested as two updateMany calls. Slots straddling
    * nothing — every slot's batch-2 points are later than its batch-1
    * points, so batch-wins == chronological lww and the SAME oracle as
    * the one-batch store must hold. This is the incremental-correctness
    * property: merge + re-propagation of touched intervals converges to
    * the from-scratch computation.
    */
  private val built2 = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def storeTwoBatch(s: SparkSession, dir: String): HoardStore = {
    val root = built2.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-store2")
        .toString + "/store"
      val st = HoardStore.create(s, tmp, Policy)
      val ev = Tables.load(s, dir, "events").select(
        col("event_type").as("series_id"),
        col("ts").cast("long").as("ts"),
        col("value"), col("event_id").as("seq"))
      // mid-day cut: Jan-16's DAILY interval receives hourly points from
      // both batches, so batch 2 must re-propagate an interval batch 1
      // already wrote (the stale-overwrite path)
      val cut = 1705406400L // 2024-01-16 12:00:00 UTC
      st.updateManyDf(ev.where(col("ts") < cut), Now)
      st.updateManyDf(ev.where(col("ts") >= cut), Now)
      tmp
    })
    HoardStore.open(s, root)
  }

  /** Two-batch store with a compaction between the batches, and with
    * `expire` a snapshot reclaim after them: append-only commits +
    * read-time lww + month folding (+ reclaim) must all converge to the
    * same rollup as the one-batch store — hs6 (`expire = false`) and
    * hs9 (`expire = true`) share hs2/hs3's oracle VERBATIM.
    */
  private val builtCompacted =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean), String]()

  private def storeCompacted(s: SparkSession, dir: String,
                             expire: Boolean): HoardStore = {
    val root = builtCompacted.computeIfAbsent((dir, expire), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-store-compacted")
        .toString + "/store"
      val st = HoardStore.create(s, tmp, Policy)
      val ev = Tables.load(s, dir, "events").select(
        col("event_type").as("series_id"),
        col("ts").cast("long").as("ts"),
        col("value"), col("event_id").as("seq"))
      val cut = 1705406400L // 2024-01-16 12:00:00 UTC (same as hs3)
      st.updateManyDf(ev.where(col("ts") < cut), Now)
      st.compact(maxFilesPerMonth = 1) // fold mid-stream: must be invisible
      st.updateManyDf(ev.where(col("ts") >= cut), Now)
      if (expire) st.expireSnapshots(keepLast = 1) // must not change reads
      tmp
    })
    HoardStore.open(s, root)
  }

  /** Streaming-ingested store: the events staged as TWO parquet files
    * and delivered through Structured Streaming (`maxFilesPerTrigger=1`
    * ⇒ two micro-batches) into `StreamIngest.start`'s foreachBatch →
    * `updateManyDf` path — the production ingress shape of SURVEY
    * §3.4. The store after the stream drains must equal the
    * from-scratch batch store, so s6 and s11 share hs2/hs3's oracle
    * VERBATIM. Each `statsName` (the query recording the stream's
    * stats) builds its own store, so the two queries' stats stay apart.
    */
  private val builtStream =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private def storeStreamed(s: SparkSession, dir: String,
                            statsName: String): HoardStore = {
    val root = builtStream.computeIfAbsent((dir, statsName), _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-store-stream")
        .toString
      val st = HoardStore.create(s, tmp + "/store", Policy)
      val ev = Tables.load(s, dir, "events").select(
        col("event_type").as("series_id"),
        col("ts").cast("long").as("ts"),
        col("value"), col("event_id").as("seq"))
      // stage as two files cut mid-day (hs3's boundary: Jan-16's daily
      // interval spans both micro-batches, exercising re-propagation
      // through the STREAMING path)
      val cut = 1705406400L // 2024-01-16 12:00:00 UTC
      val stage = tmp + "/in"
      ev.where(col("ts") < cut).coalesce(1)
        .write.mode("append").parquet(stage)
      ev.where(col("ts") >= cut).coalesce(1)
        .write.mode("append").parquet(stage)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = graft.streaming.StreamIngest.start(stream, st, () => Now,
        tmp + "/ckpt")
      q.processAllAvailable()
      graft.streaming.StreamStats.record(statsName, q)
      q.stop()
      tmp + "/store"
    })
    HoardStore.open(s, root)
  }

  /** Carbon-ingested store: the events rendered onto the WIRE as carbon
    * plaintext lines (`metric value timestamp`), staged as two text
    * files cut at hs3's mid-day boundary, and replayed through
    * Structured Streaming → [[graft.streaming.CarbonIngest]]'s parse →
    * the real write path. Every 97th event is corrupted on the wire
    * (three deterministic malformed shapes: missing field, non-numeric
    * value, non-integer timestamp) and must be DROPPED by the parser,
    * never ingested, never fatal. Carbon lww is arrival-order, which a
    * distributed replay cannot pin, so the fixture pins it by
    * construction: survivors pre-dedup to one point per (series,
    * second), max event_id winning — the oracle replays the identical
    * rule. The daily rollup after the stream drains must equal the
    * from-wire recomputation.
    */
  private val builtCarbon = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def storeCarbon(s: SparkSession, dir: String): HoardStore = {
    val root = builtCarbon.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-carbon")
        .toString
      val st = HoardStore.create(s, tmp + "/store", Policy)
      val ev = Tables.load(s, dir, "events").select(
        col("event_type").as("series_id"),
        col("ts").cast("long").as("ts"),
        col("value"), col("event_id").as("seq"))
      // double → string → double round-trips exactly (Spark casts via
      // Double.toString, shortest-exact), so the wire adds no error
      val good = ev.where(col("seq") % 97 =!= 0)
        .groupBy(col("series_id"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .select(concat_ws(" ", col("series_id"),
          col("value").cast("string"), col("ts").cast("string")).as("line"),
          col("ts"))
      val bad = ev.where(col("seq") % 97 === 0).select(
        when(col("seq") % 3 === 0,
          concat_ws(" ", col("series_id"), col("value").cast("string")))
          .when(col("seq") % 3 === 1, concat_ws(" ", col("series_id"),
            lit("not-a-number"), col("ts").cast("string")))
          .otherwise(concat_ws(" ", col("series_id"),
            col("value").cast("string"), lit("12x4"))).as("line"),
        col("ts"))
      val lines = good.unionByName(bad)
      val cut = 1705406400L // 2024-01-16 12:00:00 UTC (same as hs3/s6)
      val stage = tmp + "/in"
      lines.where(col("ts") < cut).select("line").coalesce(1)
        .write.mode("append").text(stage)
      lines.where(col("ts") >= cut).select("line").coalesce(1)
        .write.mode("append").text(stage)
      val stream = s.readStream.option("maxFilesPerTrigger", 1).text(stage)
      val q = graft.streaming.CarbonIngest.start(stream, st, () => Now,
        tmp + "/ckpt")
      q.processAllAvailable()
      graft.streaming.StreamStats.record("s18_carbon", q)
      q.stop()
      tmp + "/store"
    })
    HoardStore.open(s, root)
  }

  /** Store whose manifest version after batch 1 is remembered:
    * batch 2 and a compaction land AFTER the pin, so a time-travel
    * read at the pinned version must see exactly the batch-1 state.
    * expireSnapshots is deliberately NOT run here (hs9 covers
    * reclaim) — the pinned version must stay readable, the
    * reader-lease contract.
    */
  private val builtSnapshotted =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private def storeSnapshotted(s: SparkSession, dir: String): (String, Long) =
    builtSnapshotted.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-store-snap")
        .toString + "/store"
      val st = HoardStore.create(s, tmp, Policy)
      val ev = Tables.load(s, dir, "events").select(
        col("event_type").as("series_id"),
        col("ts").cast("long").as("ts"),
        col("value"), col("event_id").as("seq"))
      val cut = 1705406400L // 2024-01-16 12:00:00 UTC (same as hs3/hs6/hs9)
      st.updateManyDf(ev.where(col("ts") < cut), Now)
      val pinned = st.snapshot().pinnedVersion.get
      st.updateManyDf(ev.where(col("ts") >= cut), Now)
      st.compact(maxFilesPerMonth = 1)
      (tmp, pinned)
    })

  /** Store with a series DELETED after ingest (the reference's
    * `rm <series>.whisper` as a store op): the delete rewrites every
    * month holding the series through the manifest; the oracle is the
    * shared rollup recomputation minus the deleted series — per-series
    * rollups mean other series are untouched.
    */
  private val builtDeleted = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def storeDeleted(s: SparkSession, dir: String): HoardStore = {
    val root = builtDeleted.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-store-del")
        .toString + "/store"
      val st = HoardStore.create(s, tmp, Policy)
      val ev = Tables.load(s, dir, "events").select(
        col("event_type").as("series_id"),
        col("ts").cast("long").as("ts"),
        col("value"), col("event_id").as("seq"))
      st.updateManyDf(ev, Now)
      st.deleteSeries(st.seriesGlob("click"))
      tmp
    })
    HoardStore.open(s, root)
  }

  /** hs7's whisper store: [[largeWhisper]] imported once per JVM through
    * the binary migration path (`HoardImport`). `WhisperNow` is the
    * file's `lastUpdate` header word — the natural replay clock for
    * archived data.
    */
  private[graft] val WhisperNow = 1312504705L
  private val builtWhisper = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A whisper file shaped like the reference's `test/large.whisper`
    * (policy [[3600,8760],[86400,1095]], lastUpdate `WhisperNow`), built
    * from this repository alone: the reference's golden fetch values
    * (test/hoard.test.coffee:36-51) at the hourly slots 1311163200 …
    * 1311177600, seeded integers in every other slot of both rings.
    */
  private def largeWhisper: Array[Byte] = {
    val planted = Seq(2048.0, 4546.0, 794.0, 805.0, 4718.0)
      .zipWithIndex.map { case (v, i) => (1311163200L + 3600L * i) -> v }.toMap
    val rnd = new scala.util.Random(20110805)
    graft.store.WhisperFormat.write(WhisperNow, 0.5f,
      Seq(graft.core.Archive(3600, 8760), graft.core.Archive(86400, 1095)).map { ar =>
        val newest = WhisperNow / ar.step * ar.step
        ar -> (0L until ar.points).reverse.map(k => newest - k * ar.step)
          .map(t => t -> planted.getOrElse(t, (10 + rnd.nextInt(4990)).toDouble))
      })
  }

  /** hs16's exported graphite tree, one per sf dir per JVM. */
  private val builtTree = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val builtSink = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def whisperStore(s: SparkSession): HoardStore = {
    val root = builtWhisper.computeIfAbsent("large", _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-whisper")
      val file = java.nio.file.Files.write(tmp.resolve("large.whisper"), largeWhisper)
      graft.store.HoardImport.intoStore(s, file.toString, tmp.toString + "/store")
      tmp.toString + "/store"
    })
    HoardStore.open(s, root)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s6_streamstore" -> ((s, dir) => {
      // daily rollup level after the events arrive as a STREAM (two
      // micro-batches through foreachBatch → the real write path): must
      // equal the from-scratch batch recomputation — same oracle as
      // hs2/hs3/hs6
      graft.Graft.configure(s)
      val st = storeStreamed(s, dir, "s6_streamstore")
      st.readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "s18_carbon" -> ((s, dir) => {
      // daily rollup after the events arrive as CARBON PLAINTEXT LINES
      // through the streaming parse (malformed wire lines dropped, 1%
      // of the fixture): the graphite ecosystem's write protocol into
      // the real store path, verified against a from-wire recompute
      graft.Graft.configure(s)
      val st = storeCarbon(s, dir)
      st.readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs6_deltastore" -> ((s, dir) => {
      // daily rollup level after two append-only batches with a
      // compaction between them (write-amp ∝ batch): must equal the
      // from-scratch recomputation — the same oracle as hs2/hs3
      val st = storeCompacted(s, dir, expire = false)
      st.readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "s11_streammanifest" -> ((s, dir) => {
      // daily rollup after the events arrive as a STREAM with each
      // micro-batch committing through the lock-free optimistic
      // manifest path — must equal the from-scratch recomputation
      graft.Graft.configure(s)
      val st = storeStreamed(s, dir, "s11_streammanifest")
      st.readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs11_snapshot" -> ((s, dir) => {
      // TIME TRAVEL: the daily level read through the manifest version
      // pinned after batch 1, while the live store has since absorbed
      // batch 2 AND a compaction rewrite. The pinned read must equal
      // the from-scratch recomputation over batch 1 ONLY — later
      // commits and file rewrites are invisible to a historical
      // version, the snapshot-isolation contract (SURVEY §8.3).
      val (root, ver) = storeSnapshotted(s, dir)
      HoardStore.openVersion(s, root, ver)
        .readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs10_delete" -> ((s, dir) => {
      // daily rollup after deleteSeries('click'): the deleted series is
      // gone from every level AND from the fetch universe; the rest is
      // bit-identical to the undeleted recomputation
      val st = storeDeleted(s, dir)
      st.readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs9_manifeststore" -> ((s, dir) => {
      // daily rollup level after two optimistic manifest commits with a
      // compaction rewrite between them and a snapshot-expire after:
      // must equal the from-scratch recomputation — the same oracle as
      // every other store build
      val st = storeCompacted(s, dir, expire = true)
      st.readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs3_incremental" -> ((s, dir) => {
      // daily rollup level after TWO chronological batches — must equal
      // the from-scratch recomputation (same oracle as hs2)
      val st = storeTwoBatch(s, dir)
      st.readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs12_resize" -> ((s, dir) => {
      // retention-policy migration (the engine's whisper-resize): the
      // standard hourly+daily store rebuilt under hourly+2-DAY via
      // HoardStore.resize — equal-step data carries verbatim, the new
      // coarse level is the engine's own xff-gated cascade of it. The
      // oracle recomputes the 2-day rollup from raw events under the
      // NEW policy: a resized store must be indistinguishable from a
      // store that always had the new policy (within the finest
      // level's coverage).
      val st = storeResized(s, dir)
      st.readLevel(PolicyR.sorted.last)
        .select(col("series_id"),
          col("interval").cast("long").as("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket_s")
    }),

    "hs1_storefetch" -> ((s, dir) => {
      val st = storeFor(s, dir)
      // window (2024-01-05, 2024-01-07]-aligned; routes to the hourly level
      val (_, dense) = st.fetch("click", 1704412800L, 1704585600L, Now)
      dense.select(col("interval").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket")
    }),

    "hs15_fsck" -> ((s, dir) => {
      // integrity check as a declared gate: the healthy store's coarse
      // level re-derived from the hourly level through the same
      // cascade operator must match slot for slot — n_mismatch 0, and
      // n_checked equal to the raw recomputation's xff-passing daily
      // slot count (so the CHECKER's coverage is itself oracle-gated,
      // not just its verdict). The corruption/repair path is gated in
      // HoardStoreSpec with a deliberately poisoned slot.
      storeFor(s, dir).fsck().orderBy("step")
    }),

    "hs14_inventory" -> ((s, dir) => {
      // store inventory (the admin "ls -l" every metrics deployment
      // scripts against its whisper tree): per series, point counts
      // and first/last slot per level — read straight off the level
      // tables, one partial-agg groupBy each, O(series) output. The
      // oracle recomputes the same inventory from raw events through
      // the lww + xff contract, so the store's retained SHAPE (not
      // just its values) is gated.
      val st = storeFor(s, dir)
      val hs = st.readLevel(Policy.sorted.head)
        .groupBy(col("series_id"))
        .agg(count(lit(1)).as("n_hourly"),
          min(col("interval").cast("long")).as("first_hour_s"),
          max(col("interval").cast("long")).as("last_hour_s"))
      val ds = st.readLevel(Policy.sorted.last)
        .groupBy(col("series_id")).agg(count(lit(1)).as("n_daily"))
      hs.join(ds, Seq("series_id"), "left")
        .na.fill(0L, Seq("n_daily"))
        .orderBy("series_id")
    }),

    "hs13_fill" -> ((s, dir) => {
      // whisper-fill as a declared gate: tail-only store backfilled
      // from the full store must serve the SAME daily rollup as the
      // from-scratch store — head slots arrive via fill (src
      // provenance, no repropagation), tail slots are dst's own and
      // fill may not touch them. Shares hs2's oracle verbatim.
      val st = storeFilled(s, dir)
      st.readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs2_storerollup" -> ((s, dir) => {
      val st = storeFor(s, dir)
      st.readLevel(Policy.sorted.last)
        .select(col("series_id"),
          col("interval").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs4_multifetch" -> ((s, dir) => {
      // one dense gap-filled frame across ALL series in a window — the
      // multi-series capability the reference (one series per file)
      // cannot express
      val st = storeFor(s, dir)
      val (_, dense) = st.fetchMulti(lit(true), 1704412800L, 1704499200L, Now)
      dense.select(col("series_id"),
          col("interval").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs8_seriesglob" -> ((s, dir) => {
      // Graphite-target selection over the store: the `*r*` glob
      // (one-segment wildcard semantics) compiles to ONE RLIKE
      // predicate applied to the catalog for the fetch universe and
      // pushed into the level scan — the target syntax a Graphite
      // user brings to an imported tree. The oracle replays the
      // documented glob -> regex contract ('^[^.]*r[^.]*$') so the
      // translation itself is gated, not just the fetch.
      val st = storeFor(s, dir)
      val (_, dense) = st.fetchMulti(st.seriesGlob("*r*"),
        1704412800L, 1704499200L, Now)
      dense.select(col("series_id"),
          col("interval").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs16_treeexport" -> ((s, dir) => {
      // bulk REVERSE migration round-trip through the HoardExport API:
      // toWhisperTree writes the store's live rings (HoardExport
      // .liveRings) through the whisper sink in one distributed pass
      // (one shuffle, one file per series written executor-side), and
      // the exported rings are read back through the DSv2 whisper
      // source — the daily level must still match the from-scratch
      // recomputation, so encode + decode + tree layout are all on the
      // hook for the same oracle every other store build shares
      val st = storeFor(s, dir)
      val tree = builtTree.computeIfAbsent(dir, _ => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-tree")
          .toString + "/tree"
        val n = graft.store.HoardExport.toWhisperTree(st, tmp, Now)
        require(n > 0, "tree export wrote no files")
        tmp
      })
      s.read.format("whisper").load(tree)
        .where(col("step") === 86400)
        .select(col("series_id"),
          col("ts").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs18_sinkroundtrip" -> ((s, dir) => {
      // DSv2 WRITE-path round-trip: the store's live rings (the same
      // HoardExport.liveRings frame toWhisperTree writes) go through
      // `df.write.format("whisper")` directly (the sink's
      // RequiresDistributionAndOrdering makes Spark plan the one
      // series-clustering shuffle) and are read back through the
      // source — hs16's contract with the sink driven by its options
      // instead of the HoardExport API. Same shared daily-rollup
      // oracle as every other store build.
      val st = storeFor(s, dir)
      val tree = builtSink.computeIfAbsent(dir, _ => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-sinktree")
          .toString + "/tree"
        val p = st.policy
        graft.store.HoardExport.liveRings(st, Now).write.format("whisper")
          .option("archives",
            p.sorted.map(a => s"${a.step}:${a.points}").mkString(","))
          .option("now", Now.toString)
          .option("xff", p.xff.toString)
          .mode("append").save(tmp)
        tmp
      })
      s.read.format("whisper").load(tree)
        .where(col("step") === 86400)
        .select(col("series_id"),
          col("ts").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series_id", "bucket")
    }),

    "hs7_whisperimport" -> ((s, dir) => {
      // the reference's golden fetch (test/hoard.test.coffee:36-51)
      // replayed through the BINARY IMPORT path: a large-shaped file
      // with the golden values planted → HoardImport.intoStore (ring
      // decode, level bulk-load) → the engine's fetch planner. It proves
      // the import recovers planted values; byte-compatibility with the
      // reference's own file is FixtureReplaySpec's (reference-only)
      // golden. `now` pins to the file's lastUpdate header word so
      // archive routing matches the reference test's 2011-era run
      // (fetch clamps against wall clock otherwise).
      val st = whisperStore(s)
      val (_, dense) = st.fetch("large", 1311161605L, 1311179605L,
        WhisperNow)
      dense.select(col("interval").cast("long").as("interval_s"),
          round(col("value"), 6).as("value"))
        .orderBy("interval_s")
    }),

    "hs5_info" -> ((s, dir) => {
      // catalog read (the reference's info()): policy rows, no data I/O
      storeFor(s, dir) // ensure the store exists
      val p = HoardStore.info(s, built.get(dir))
      import s.implicits._
      p.sorted.map(a => (a.step, a.points, a.retention, p.maxRetention,
          p.xff, p.cf))
        .toDF("step", "points", "retention", "max_retention", "xff", "cf")
        .orderBy("step")
    }),

    "hs19_metricsfind" -> ((s, dir) => {
      // catalog-only tree browse (the /metrics/find sibling of O2):
      // flat event-type series → all depth-1 leaves
      storeFor(s, dir).findMetrics("*").orderBy("node")
    }),

    "hs17_rendertarget" -> ((s, dir) => {
      // END-TO-END graphite read path: a composed render-target STRING
      // evaluated against the REAL store — parse, fetch the target's
      // glob universe through the fetch planner (hourly archive, hs8's
      // window), then run the function pipeline on the fetched frame.
      // This is the full drop-in read API a graphite-web deployment
      // would point at the engine: one string in, one frame out. The
      // fetch predicate reuses the SAME globToRegex translation the
      // evaluator applies, so selection is gated once, end to end.
      import graft.operators.GraphiteTarget
      val target = "movingAverage(scale(sumSeries({click,view}), 10), 4)"
      val node = GraphiteTarget.parse(target)
      val pred = GraphiteTarget.globLeaves(node)
        .map(g => col("series_id").rlike(GraphiteTarget.globToRegex(g)))
        .reduce(_ || _)
      val st = storeFor(s, dir)
      val (_, dense) = st.fetchMulti(pred, 1704412800L, 1704499200L, Now)
      // render functions operate on PRESENT points; the dense gap rows
      // fetch adds are a fetch-shape concern (hs8 gates those)
      val universe = dense.where(col("value").isNotNull)
        .select(col("series_id").as("series"), col("interval").as("bucket"),
          col("value"))
      GraphiteTarget.evalNode(node, universe, step = 3600).df
        .select(col("series"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("series", "bucket")
    })
  )

  /** The from-scratch daily-rollup recomputation — the ONE oracle
    * every store-convergence gate shares by design: hs2 (one batch),
    * hs3 (two chronological batches), hs6 (two batches with a
    * mid-stream compaction), s6 (two micro-batches through the
    * Structured Streaming ingress). Whatever the write path, the level
    * contents must converge to this.
    */
  private val DailyRollupSql =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h,
      |         arg_max(value, (epoch_us(ts) // 1000000) * 1000000000 + event_id) AS v
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |daily AS (
      |  SELECT event_type, date_trunc('day', h) AS d,
      |         CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
      |              / COUNT(v) AS DECIMAL(18,6)) AS DOUBLE) AS v
      |  FROM hourly GROUP BY event_type, date_trunc('day', h)
      |  HAVING COUNT(v) >= 12)
      |SELECT event_type AS series_id, CAST(CAST(d AS DATE) AS VARCHAR) AS bucket,
      |       ROUND(v, 6) AS value
      |FROM daily ORDER BY series_id, bucket""".stripMargin

  val oracles: Map[String, String] = Map(
    "s6_streamstore" -> DailyRollupSql,
    "hs13_fill" -> DailyRollupSql,
    "hs16_treeexport" -> DailyRollupSql,
    "hs18_sinkroundtrip" -> DailyRollupSql,

    // hand-built replay of hs17's composed target over the store's
    // hourly lww state in hs8's fetch window: sumSeries in decimal,
    // ×10, trailing-4 moving average with the engine's q6 contract
    "hs17_rendertarget" ->
      """WITH hourly AS (
        |  SELECT event_type AS sid, date_trunc('hour', ts) AS h,
        |         arg_max(value, (epoch_us(ts) // 1000000) * 1000000000 + event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |w AS (
        |  SELECT h, v FROM hourly
        |  WHERE sid IN ('click', 'view')
        |    AND h >= TIMESTAMP '2024-01-05 01:00:00'
        |    AND h <= TIMESTAMP '2024-01-06 00:00:00'),
        |agg AS (
        |  SELECT h, CAST(CAST(SUM(CAST(v AS DECIMAL(18,6)))
        |              AS DECIMAL(18,6)) AS DOUBLE) * 10 AS v
        |  FROM w GROUP BY h)
        |SELECT 'sumSeries({click,view})' AS series,
        |       CAST(h AS VARCHAR) AS bucket,
        |       ROUND(ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER win
        |             AS DOUBLE) / COUNT(v) OVER win * 1e6) / 1e6, 6) AS value
        |FROM agg
        |WINDOW win AS (ORDER BY h ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY series, bucket""".stripMargin,

    // the checker's coverage equals the xff-passing daily slot count
    "hs15_fsck" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |daily AS (
        |  SELECT event_type, date_trunc('day', h) AS d
        |  FROM hourly GROUP BY event_type, date_trunc('day', h)
        |  HAVING COUNT(*) >= 12)
        |SELECT CAST(86400 AS BIGINT) AS step,
        |       CAST(COUNT(*) AS BIGINT) AS n_checked,
        |       CAST(0 AS BIGINT) AS n_mismatch
        |FROM daily""".stripMargin,

    // lww slots + xff-gated daily slots recomputed from raw events
    "hs14_inventory" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |daily AS (
        |  SELECT event_type, date_trunc('day', h) AS d
        |  FROM hourly GROUP BY event_type, date_trunc('day', h)
        |  HAVING COUNT(*) >= 12),
        |hs AS (
        |  SELECT event_type AS series_id, COUNT(*) AS n_hourly,
        |         CAST(MIN(epoch_us(h) // 1000000) AS BIGINT)
        |           AS first_hour_s,
        |         CAST(MAX(epoch_us(h) // 1000000) AS BIGINT)
        |           AS last_hour_s
        |  FROM hourly GROUP BY event_type),
        |ds AS (
        |  SELECT event_type AS series_id, COUNT(*) AS n_daily
        |  FROM daily GROUP BY event_type)
        |SELECT hs.series_id, hs.n_hourly, hs.first_hour_s, hs.last_hour_s,
        |       COALESCE(ds.n_daily, 0) AS n_daily
        |FROM hs LEFT JOIN ds USING (series_id)
        |ORDER BY series_id""".stripMargin,
    "hs6_deltastore" -> DailyRollupSql,
    "hs9_manifeststore" -> DailyRollupSql,
    "s11_streammanifest" -> DailyRollupSql,

    "hs19_metricsfind" ->
      """SELECT DISTINCT event_type AS node,
        |       true AS is_leaf, false AS is_branch
        |FROM events ORDER BY node""".stripMargin,

    // the from-wire recompute: drop the corrupted 1% (event_id % 97),
    // pin carbon's arrival-order lww per second to max event_id (the
    // fixture's construction rule), then the usual hourly-lww →
    // xff-gated decimal daily mean — all in integer epoch arithmetic
    "s18_carbon" ->
      """WITH persec AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 AS s,
        |         arg_max(value, event_id) AS v
        |  FROM events WHERE event_id % 97 <> 0
        |  GROUP BY event_type, epoch_us(ts) // 1000000),
        |hourly AS (
        |  SELECT event_type, s // 3600 * 3600 AS h, arg_max(v, s) AS v
        |  FROM persec GROUP BY event_type, s // 3600 * 3600),
        |daily AS (
        |  SELECT event_type, h // 86400 * 86400 AS d,
        |         CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
        |              / COUNT(v) AS DECIMAL(18,6)) AS DOUBLE) AS v
        |  FROM hourly GROUP BY event_type, h // 86400 * 86400
        |  HAVING COUNT(v) >= 12)
        |SELECT event_type AS series_id,
        |       CAST(CAST(to_timestamp(d) AS DATE) AS VARCHAR) AS bucket,
        |       ROUND(v, 6) AS value
        |FROM daily ORDER BY series_id, bucket""".stripMargin,

    // the shared recomputation over batch 1 ONLY (ts < the hs3 cut):
    // what a reader pinned before batch 2 must see
    "hs11_snapshot" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, (epoch_us(ts) // 1000000) * 1000000000 + event_id) AS v
        |  FROM events WHERE (epoch_us(ts) // 1000000) < 1705406400
        |  GROUP BY event_type, date_trunc('hour', ts)),
        |daily AS (
        |  SELECT event_type, date_trunc('day', h) AS d,
        |         CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
        |              / COUNT(v) AS DECIMAL(18,6)) AS DOUBLE) AS v
        |  FROM hourly GROUP BY event_type, date_trunc('day', h)
        |  HAVING COUNT(v) >= 12)
        |SELECT event_type AS series_id, CAST(CAST(d AS DATE) AS VARCHAR) AS bucket,
        |       ROUND(v, 6) AS value
        |FROM daily ORDER BY series_id, bucket""".stripMargin,

    // the shared recomputation minus the deleted series
    "hs10_delete" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, (epoch_us(ts) // 1000000) * 1000000000 + event_id) AS v
        |  FROM events WHERE event_type <> 'click'
        |  GROUP BY event_type, date_trunc('hour', ts)),
        |daily AS (
        |  SELECT event_type, date_trunc('day', h) AS d,
        |         CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
        |              / COUNT(v) AS DECIMAL(18,6)) AS DOUBLE) AS v
        |  FROM hourly GROUP BY event_type, date_trunc('day', h)
        |  HAVING COUNT(v) >= 12)
        |SELECT event_type AS series_id, CAST(CAST(d AS DATE) AS VARCHAR) AS bucket,
        |       ROUND(v, 6) AS value
        |FROM daily ORDER BY series_id, bucket""".stripMargin,
    "hs3_incremental" -> DailyRollupSql,

    // the store's lww key is (epoch-second, ingest seq); the oracle
    // packs the same ordering into one BIGINT key
    "hs1_storefetch" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h,
        |         arg_max(value, (epoch_us(ts) // 1000000) * 1000000000 + event_id) AS v
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY date_trunc('hour', ts)),
        |spine AS (
        |  SELECT g AS h FROM generate_series(
        |    TIMESTAMP '2024-01-05 01:00:00',
        |    TIMESTAMP '2024-01-07 00:00:00', INTERVAL 1 HOUR) t(g))
        |SELECT CAST(s.h AS VARCHAR) AS bucket, ROUND(hh.v, 6) AS value
        |FROM spine s LEFT JOIN hourly hh ON s.h = hh.h
        |ORDER BY bucket""".stripMargin,

    // glob fetch replay: identical frame, series universe filtered by
    // the glob's documented regex translation
    "hs8_seriesglob" ->
      """WITH hourly AS (
        |  SELECT event_type AS series_id, date_trunc('hour', ts) AS h,
        |         arg_max(value, (epoch_us(ts) // 1000000) * 1000000000 + event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |series AS (
        |  SELECT DISTINCT event_type AS series_id FROM events
        |  WHERE regexp_matches(event_type, '^[^.]*r[^.]*$')),
        |spine AS (
        |  SELECT series_id, g AS h
        |  FROM series CROSS JOIN generate_series(
        |    TIMESTAMP '2024-01-05 01:00:00',
        |    TIMESTAMP '2024-01-06 00:00:00', INTERVAL 1 HOUR) t(g))
        |SELECT s.series_id, CAST(s.h AS VARCHAR) AS bucket,
        |       ROUND(hh.v, 6) AS value
        |FROM spine s LEFT JOIN hourly hh
        |  ON s.series_id = hh.series_id AND s.h = hh.h
        |ORDER BY s.series_id, bucket""".stripMargin,

    "hs4_multifetch" ->
      """WITH hourly AS (
        |  SELECT event_type AS series_id, date_trunc('hour', ts) AS h,
        |         arg_max(value, (epoch_us(ts) // 1000000) * 1000000000 + event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |series AS (SELECT DISTINCT event_type AS series_id FROM events),
        |spine AS (
        |  SELECT series_id, g AS h
        |  FROM series CROSS JOIN generate_series(
        |    TIMESTAMP '2024-01-05 01:00:00',
        |    TIMESTAMP '2024-01-06 00:00:00', INTERVAL 1 HOUR) t(g))
        |SELECT s.series_id, CAST(s.h AS VARCHAR) AS bucket,
        |       ROUND(hh.v, 6) AS value
        |FROM spine s LEFT JOIN hourly hh
        |  ON s.series_id = hh.series_id AND s.h = hh.h
        |ORDER BY s.series_id, bucket""".stripMargin,

    "hs5_info" ->
      """SELECT * FROM (VALUES
        |  (CAST(3600 AS BIGINT), CAST(8760 AS BIGINT),
        |   CAST(31536000 AS BIGINT), CAST(94608000 AS BIGINT),
        |   CAST(0.5 AS DOUBLE), 'avg_exact'),
        |  (CAST(86400 AS BIGINT), CAST(1095 AS BIGINT),
        |   CAST(94608000 AS BIGINT), CAST(94608000 AS BIGINT),
        |   CAST(0.5 AS DOUBLE), 'avg_exact'))
        | t(step, points, retention, max_retention, xff, cf)
        |ORDER BY step""".stripMargin,

    "hs2_storerollup" -> DailyRollupSql,

    // the resized store's 2-day level vs the from-scratch recomputation
    // under the NEW policy (hourly lww -> xff-gated 2-day exact mean)
    "hs12_resize" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value,
        |           (epoch_us(ts) // 1000000) * 1000000000 + event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |two_day AS (
        |  SELECT event_type,
        |         (epoch_us(h) // 1000000)
        |           - ((epoch_us(h) // 1000000) % 172800) AS b,
        |         CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
        |              / COUNT(v) AS DECIMAL(18,6)) AS DOUBLE) AS v
        |  FROM hourly GROUP BY 1, 2
        |  HAVING CAST(COUNT(v) AS DOUBLE) / 48 >= 0.5)
        |SELECT event_type AS series_id, CAST(b AS BIGINT) AS bucket_s,
        |       ROUND(v, 6) AS value
        |FROM two_day ORDER BY series_id, bucket_s""".stripMargin,

    // the reference's golden fetch values for large.whisper
    // (test/hoard.test.coffee:36-51): [2048, 4546, 794, 805, 4718] at
    // hourly intervals [1311163200, 1311181200) — the import gate is
    // that the engine reproduces them from the BINARY file alone
    "hs7_whisperimport" ->
      """SELECT * FROM (VALUES
        |  (CAST(1311163200 AS BIGINT), CAST(2048.0 AS DOUBLE)),
        |  (CAST(1311166800 AS BIGINT), CAST(4546.0 AS DOUBLE)),
        |  (CAST(1311170400 AS BIGINT), CAST(794.0 AS DOUBLE)),
        |  (CAST(1311174000 AS BIGINT), CAST(805.0 AS DOUBLE)),
        |  (CAST(1311177600 AS BIGINT), CAST(4718.0 AS DOUBLE)))
        | t(interval_s, value)
        |ORDER BY interval_s""".stripMargin
  )
}
