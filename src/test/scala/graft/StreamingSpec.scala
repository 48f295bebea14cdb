package graft

import graft.core.ArchivePolicy
import graft.store.HoardStore
import graft.streaming.StreamIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("streaming micro-batches feed the store upsert + cascade") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val now = 1312502906L
    val store = HoardStore.create(spark, tmpDir("stream") + "/store",
      ArchivePolicy.referenceTest)

    val mem = MemoryStream[(String, Long, Double)]
    val stream = mem.toDF().toDF("series_id", "ts", "value")
    // AvailableNow snapshots availability at start: data must be queued
    // BEFORE the query starts or the single planned batch may miss it
    mem.addData(("cpu", now - 7200, 1.0), ("cpu", now - 7200 + 60, 2.0),
      ("mem", now - 3600, 9.0))
    val q = StreamIngest.start(stream, store, () => now,
      tmpDir("stream-ckpt"))
    q.awaitTermination(120000)

    val (_, cpu) = store.fetchValues("cpu", now - 10800, now, now)
    assert(cpu.flatten == Seq(2.0)) // within-batch last-write-wins held
    val (_, memV) = store.fetchValues("mem", now - 10800, now, now)
    assert(memV.flatten == Seq(9.0))
  }

  test("StreamIngest restarted from its checkpoint after the first of two micro-batches == one-shot run") {
    import spark.implicits._
    val now = 1312502906L
    val day = (now - 2000000) / 86400 * 86400
    // s6's shape: two parquet files cut mid-day, one file per trigger,
    // so the daily interval receives hourly points from both batches
    val pts = (0 until 24).flatMap(h => Seq(
      ("cpu", day + h * 3600, h * 1.5, h.toLong),
      ("mem", day + h * 3600 + 60, 100.0 - h, 100L + h)))
      .toDF("series_id", "ts", "value", "seq")
    val stage = tmpDir("restart-in")
    val cut = day + 12 * 3600
    pts.where($"ts" < cut).coalesce(1).write.mode("append").parquet(stage)
    pts.where($"ts" >= cut).coalesce(1).write.mode("append").parquet(stage)
    def stream() = spark.readStream.schema(pts.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    def contents(st: HoardStore) = st.policy.sorted.map(ar => ar.step ->
      st.readLevel(ar).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2))).toSet
    ).toMap

    val oneShot = HoardStore.create(spark, tmpDir("restart-one") + "/store",
      ArchivePolicy.referenceTest)
    assert(StreamIngest.start(stream(), oneShot, () => now,
      tmpDir("restart-one-ckpt")).awaitTermination(120000))

    val st = HoardStore.create(spark, tmpDir("restart") + "/store",
      ArchivePolicy.referenceTest)
    val ckpt = tmpDir("restart-ckpt")
    // the query dies when the second micro-batch asks for its clock:
    // batch 0 is committed, batch 1 is planned but has written nothing
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val dying = StreamIngest.start(stream(), st, () => {
      if (calls.incrementAndGet() == 2)
        throw new IllegalStateException("stopped after the first micro-batch")
      now
    }, ckpt)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      dying.awaitTermination())
    assert(HoardStore.latestManifestVersion(st.root) == 1)

    val resumed = StreamIngest.start(stream(), HoardStore.open(spark, st.root),
      () => now, ckpt)
    assert(resumed.awaitTermination(120000))
    // no batch lost, none applied twice: the same contents, and one
    // published manifest version per micro-batch on both sides
    assert(contents(st) == contents(oneShot))
    assert(contents(st)(86400L).size == 2, "the daily interval spans both batches")
    assert(HoardStore.latestManifestVersion(st.root) == 2)
    assert(HoardStore.latestManifestVersion(oneShot.root) == 2)
  }

  test("flatMapGroupsWithState sessionization closes sessions across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val sessions = StreamIngest.sessionize(mem.toDS(), gapSec = 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    // batch 1: two points 100s apart, then a gap > 1000s -> closes one
    mem.addData(("cpu", 0L, 1.0), ("cpu", 100L, 2.0), ("cpu", 2000L, 5.0))
    q.processAllAvailable()
    // batch 2: another gap -> closes the (2000) session; state crossed batches
    mem.addData(("cpu", 10000L, 7.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT start, end, n, sum FROM sessions_out ORDER BY start").collect()
    q.stop()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      == Seq((0L, 100L, 2L, 3.0), (2000L, 2000L, 1L, 5.0)))
  }

  test("sessionize absorbs a late cross-batch point without regressing bounds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val sessions = StreamIngest.sessionize(mem.toDS(), gapSec = 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("late_sessions").start()
    mem.addData(("cpu", 0L, 1.0), ("cpu", 100L, 2.0))
    q.processAllAvailable()
    // late point (50) merges without dragging `last` back; 1090 is still
    // within gap of the true last (100); 5000 closes the session
    mem.addData(("cpu", 50L, 3.0), ("cpu", 1090L, 4.0), ("cpu", 5000L, 9.0))
    q.processAllAvailable()
    // a straggler gap-separated from the open session's start becomes its
    // own closed single-point island, not a merge
    mem.addData(("cpu", 2500L, 8.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT start, end, n, sum FROM late_sessions ORDER BY start").collect()
    q.stop()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      == Seq((0L, 1090L, 4L, 10.0), (2500L, 2500L, 1L, 8.0)))
  }

  test("gap-separated stragglers in different batches coalesce within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    // horizon 10000 >> gap 1000: stragglers stay mergeable in state
    val sessions = StreamIngest.sessionize(mem.toDS(), gapSec = 1000,
      horizonSec = 10000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("straggler_sessions").start()
    mem.addData(("cpu", 0L, 1.0), ("cpu", 5000L, 2.0))
    q.processAllAvailable()
    // two stragglers from the SAME earlier island, in different batches
    mem.addData(("cpu", 2400L, 3.0))
    q.processAllAvailable()
    mem.addData(("cpu", 2600L, 4.0))
    q.processAllAvailable()
    // advance the clock far enough to close everything before 10000
    mem.addData(("cpu", 20000L, 9.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT start, end, n, sum FROM straggler_sessions ORDER BY start").collect()
    q.stop()
    // the stragglers merged into ONE session (2400-2600), not two
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      == Seq((0L, 0L, 1L, 1.0), (2400L, 2600L, 2L, 7.0), (5000L, 5000L, 1L, 2.0)))
  }

  test("watermarked hourly streaming aggregate (declarative ingress)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    val stream = mem.toDF().toDF("series_id", "ts", "value")
    val agg = StreamIngest.hourlyAggregates(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hourly_agg").start()
    def t(e: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(e))
    mem.addData(("cpu", t(3600), 1.0), ("cpu", t(3660), 3.0), ("cpu", t(7200), 5.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT series_id, bucket, n, mean_value FROM hourly_agg ORDER BY bucket")
      .collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n") == 2 && rows(0).getAs[Double]("mean_value") == 2.0)
    assert(rows(1).getAs[Long]("n") == 1)
  }

  test("incremental dedup candidates are COMPLETE: crossMatches == brute force") {
    // r12 regression pin for the banded-LSH completeness bug (sf10:
    // 3 docs lost every J>=0.7 pair to band misses). The counting
    // generator is provably complete, so crossMatches must equal the
    // brute-force vid equi-join EXACTLY on a seeded random corpus
    // dense in near-threshold pairs: 120 docs sharing a 40-token
    // vocabulary with heavy mutation-of-a-parent structure.
    import graft.pipeline.IncrementalDedup
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 40).map(v => 1000L + v)
    // 60 parent/child doc pairs across the even/odd parity split: the
    // odd doc drops d in {0,1,2,3} tokens from its 12-token even
    // parent (J = (12-d)/(12+d) = 1.0, .846, .714, .6 — the last is
    // below tau, so the expected set exercises both sides of the
    // threshold), plus per-doc random extra tokens for noise
    val docs: Seq[(Long, Seq[Long])] = (0 until 60).flatMap { k =>
      val parent = rnd.shuffle(vocab).take(12).toSeq.sorted
      val d = k % 4
      val child = rnd.shuffle(parent).drop(d) ++
        rnd.shuffle(vocab.filterNot(parent.contains)).take(d)
      Seq((2L * k, parent), (2L * k + 1, child.sorted))
    }
    val ids = docs.flatMap { case (id, vs) => vs.map(v => (id, v)) }
      .toDF("doc_id", "vid")
    val in = ids.where(col("doc_id") % 2 === 1)
    val ex = ids.where(col("doc_id") % 2 === 0)
    val got = IncrementalDedup.crossMatches(in, ex, "doc_id")
      .select("id_in", "id_ex").as[(Long, Long)].collect().toSet
    val brute = in.select(col("doc_id").as("id_in"), col("vid"))
      .join(ex.select(col("doc_id").as("id_ex"), col("vid")), "vid")
      .groupBy("id_in", "id_ex").agg(count(lit(1)).as("i"))
      .join(in.groupBy(col("doc_id").as("id_in"))
        .agg(count(lit(1)).as("ni")), "id_in")
      .join(ex.groupBy(col("doc_id").as("id_ex"))
        .agg(count(lit(1)).as("ne")), "id_ex")
      .where(col("i") * 17 >= (col("ni") + col("ne")) * 7)
      .select("id_in", "id_ex").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture produced no qualifying pairs")
    assert(got == brute,
      s"missed: ${(brute -- got).take(5)} extra: ${(got -- brute).take(5)}")
    // BOTH generators are complete and must agree with brute force —
    // the adaptive choice (r13: the thresholdPairs dual-generator
    // pattern, cross-side) can never change the answer, only the plan
    val index = IncrementalDedup.buildIndex(ex, "doc_id")
    for (g <- Seq("counting", "prefix")) {
      val forced = IncrementalDedup
        .crossMatches(in, index, "doc_id", forceGenerator = Some(g))
        .select("id_in", "id_ex").as[(Long, Long)].collect().toSet
      assert(IncrementalDedup.lastGenerator.get().startsWith(g + ":"),
        s"forced generator '$g' not taken: " +
          IncrementalDedup.lastGenerator.get())
      assert(forced == brute, s"generator '$g' diverged — " +
        s"missed: ${(brute -- forced).take(5)} " +
        s"extra: ${(forced -- brute).take(5)}")
    }
    // incoming tokens UNSEEN at index build (frozen df = 0) order
    // first in the shared total order — the prefix path must stay
    // complete for a batch full of them: re-probe with every incoming
    // doc carrying 3 extra never-indexed tokens (J drops but the
    // >=tau pairs that remain must all survive)
    val inNoisy = in.unionByName(in.select("doc_id").distinct()
      .crossJoin(Seq(900001L, 900002L, 900003L).toDF("vid")))
    val bruteN = inNoisy.select(col("doc_id").as("id_in"), col("vid"))
      .join(ex.select(col("doc_id").as("id_ex"), col("vid")), "vid")
      .groupBy("id_in", "id_ex").agg(count(lit(1)).as("i"))
      .join(inNoisy.groupBy(col("doc_id").as("id_in"))
        .agg(count(lit(1)).as("ni")), "id_in")
      .join(ex.groupBy(col("doc_id").as("id_ex"))
        .agg(count(lit(1)).as("ne")), "id_ex")
      .where(col("i") * 17 >= (col("ni") + col("ne")) * 7)
      .select("id_in", "id_ex").as[(Long, Long)].collect().toSet
    val gotN = IncrementalDedup
      .crossMatches(inNoisy, index, "doc_id", Some("prefix"))
      .select("id_in", "id_ex").as[(Long, Long)].collect().toSet
    assert(gotN == bruteN, s"prefix generator under unseen tokens — " +
      s"missed: ${(bruteN -- gotN).take(5)} extra: ${(gotN -- bruteN).take(5)}")
  }

  test("incremental dedup composes across micro-batches (two-file source == batch answer)") {
    // s4's cross-batch contract: the incoming odd docs split into TWO
    // source files, maxFilesPerTrigger=1 => two genuine micro-batches,
    // each running the batch dedup path against the static index; the
    // union of per-batch matches must reduce to EXACTLY the
    // single-batch p23 answer (batches partition the incoming set, so
    // no match is found twice and none is lost).
    import graft.pipeline.{IncrementalDedup, TextOps}
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    def shingleIds(d: org.apache.spark.sql.DataFrame) =
      TextOps.shinglesOfText(d, "doc_id", "text", 3)
        .select(col("doc_id"), xxhash64(col("shingle")).as("vid")).distinct()
    val exIndex = IncrementalDedup.buildIndex(
      shingleIds(docs.where(pmod(col("doc_id"), lit(2)) === 0)), "doc_id")
      .checkpointed

    // stage the odd docs as two parquet files in one source dir
    val odd = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val mid = odd.agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)
    val srcDir = java.nio.file.Paths.get(tmpDir("s4-src"))
    Seq(odd.where(col("doc_id") <= mid), odd.where(col("doc_id") > mid))
      .zipWithIndex.foreach { case (half, i) =>
        val stage = java.nio.file.Paths.get(tmpDir(s"s4-stage$i"))
        half.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = java.nio.file.Files.list(stage).toArray.map(_.toString)
          .find(_.endsWith(".parquet")).get
        java.nio.file.Files.copy(java.nio.file.Paths.get(part),
          srcDir.resolve(s"batch$i.parquet"))
      }

    val out = tmpDir("s4-out")
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.schema(odd.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      .writeStream
      .option("checkpointLocation", tmpDir("s4-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet()
        IncrementalDedup.crossMatches(shingleIds(batch), exIndex, "doc_id")
          .write.mode("append").parquet(out)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches.get() == 2, s"expected 2 micro-batches, got ${batches.get()}")

    val streamed = IncrementalDedup.bestWitness(spark.read.parquet(out))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3)))
    val batchAnswer = graft.queries.PipelineQueries
      .defs("p23_increment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty && streamed.toSeq == batchAnswer.toSeq)
  }

  test("stream-stream interval join (s5) == static self-join") {
    val streamed = SparkEntry.queries("s5_streamjoin")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = Tables.load(spark, dir, "events")
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("cus"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        unix_micros(col("ts")).as("pus"))
    val static = c.join(p, col("user_id") === col("pu") &&
        col("pus") >= col("cus") && col("pus") - col("cus") <= 1800000000L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (col("pus") - col("cus")).as("gap_us"))
      .orderBy("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty && streamed.toSeq == static.toSeq)
  }

  test("stream-static dim join (s7) == static join+aggregate") {
    val streamed = SparkEntry.queries("s7_streamdim")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val ev = Tables.load(spark, dir, "events")
    val dim = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val static = ev.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
          .as("sum_value"))
      .orderBy("c_mktsegment", "event_type")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty && streamed.toSeq == static.toSeq)
  }

  test("line filter (s9) is batch-partition-independent and drops known lines") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val known1 = (1 to 8).map("k" + _).mkString(" ")   // in the index
    val fresh = (1 to 8).map("f" + _).mkString(" ")    // not in the index
    val corpus = Seq(
      (1L, s"$known1 $fresh"),          // index line dropped, fresh kept
      (3L, s"$fresh $fresh"),           // within-doc repeat: second dropped
      (5L, known1),                     // everything dropped
      (7L, "tail only")                 // short line, kept
    ).toDF("doc_id", "text")
    val known = TextAnalysis
      .linesOf(Seq((0L, known1)).toDF("doc_id", "text"), "doc_id", "text", 8)
      .select("lid")

    def run(batches: Seq[Seq[Long]]): Map[Long, (Long, Long, String)] =
      batches.flatMap { ids =>
        TextAnalysis.lineFilter(
            corpus.where(col("doc_id").isInCollection(ids)),
            "doc_id", "text", 8, known)
          .collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
              r.getAs[String]("dedup_text"))))
      }.toMap

    val oneBatch = run(Seq(Seq(1L, 3L, 5L, 7L)))
    // semantics
    assert(oneBatch(1L) == ((2L, 1L, fresh)))
    assert(oneBatch(3L) == ((2L, 1L, fresh)))
    assert(oneBatch(5L) == ((1L, 0L, "")))
    assert(oneBatch(7L) == ((1L, 1L, "tail only")))
    // ANY batching converges to the same answer — the property that
    // makes the foreachBatch stream exact with zero cross-batch state
    assert(run(Seq(Seq(1L), Seq(3L), Seq(5L), Seq(7L))) == oneBatch)
    assert(run(Seq(Seq(5L, 7L), Seq(1L, 3L))) == oneBatch)
  }

  test("left-outer stream join (s15): null rows emit; matched == s5 inner") {
    val rows = SparkEntry.queries("s15_louterjoin")(spark, dir).collect()
    assert(rows.nonEmpty)
    // the outer semantics must actually fire: some clicks have no
    // purchase within their window and emit null-side rows
    val unmatched = rows.filter(_.getLong(4) == 0L)
    assert(unmatched.nonEmpty, "fixture must exercise the null side")
    unmatched.foreach { r =>
      assert(r.isNullAt(2) && r.isNullAt(3), "unmatched rows carry nulls")
    }
    // sentinels never leak
    assert(rows.forall(_.getLong(0) >= 0L))
    // the matched subset is EXACTLY the inner join's result set
    val matched = rows.filter(_.getLong(4) == 1L)
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val inner = SparkEntry.queries("s5_streamjoin")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(matched == inner, "outer join's matched half diverged from s5")
    // every click appears at least once (completeness of the left side)
    val clicks = Tables.load(spark, dir, "events")
      .where(org.apache.spark.sql.functions.col("event_type") === "click")
      .count()
    assert(rows.map(_.getLong(0)).distinct.length.toLong == clicks)
  }

  test("memory-sink s-queries (s3, s8) equal their static answers and drop their views") {
    val ev = Tables.load(spark, dir, "events")
    val s3 = SparkEntry.queries("s3_streamdedup")(spark, dir).collect().toSeq
    val s3Static = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_distinct"))
      .orderBy("event_type").collect().toSeq
    assert(s3.nonEmpty && s3 == s3Static)
    val s8 = SparkEntry.queries("s8_streamfinal")(spark, dir).collect().toSeq
    // s8's oracle: hourly windows that end at or before the
    // millisecond-floored max event time minus the 2h watermark delay
    val wm = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime - 2 * 3600 * 1000L
    val s8Static = ev.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("b"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6).as("sum_value"))
      .where(unix_millis(col("b")) + 3600 * 1000L <= wm)
      .select(col("event_type"), col("b").cast("string").as("bucket"), col("n"),
        col("sum_value"))
      .orderBy("event_type", "bucket").collect().toSeq
    assert(s8.nonEmpty && s8 == s8Static)
    val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(!views.exists(_.matches("s\\d+_.*_\\d+")), s"memory-sink views left: ${views.mkString(",")}")
  }

  test("a streamed micro-batch runs the same Spark jobs as the direct commit of its rows") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val now = 1312502906L
    val stage = tmpDir("jobs-in")
    Seq(("cpu", now - 7200, 1.0), ("cpu", now - 7140, 2.0), ("mem", now - 3600, 9.0))
      .toDF("series_id", "ts", "value").coalesce(1).write.mode("append").parquet(stage)
    val rows = spark.read.parquet(stage)
    def store(tag: String) = HoardStore.create(spark, tmpDir(tag) + "/store",
      ArchivePolicy.referenceTest)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    val runId = try {
      sc.setJobGroup("direct", "one updateManyDf")
      try store("jobs-direct").updateManyDf(rows, now) finally sc.clearJobGroup()
      // a stream runs its micro-batches under its run id as job group
      val q = StreamIngest.start(spark.readStream.schema(rows.schema).parquet(stage),
        store("jobs-stream"), () => now, tmpDir("jobs-ckpt"))
      assert(q.awaitTermination(120000))
      // the listener bus delivers in order: once the marker job is
      // seen, so is every job before it
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("marker"), "the listener never saw the marker job")
      q.runId.toString
    } finally sc.removeSparkListener(listener)
    val direct = groups.toArray.count(_ == "direct")
    val streamed = groups.toArray.count(_ == runId)
    assert(direct > 0 && streamed == direct,
      s"the micro-batch ran $streamed jobs, the direct commit $direct")
  }

  test("query fixtures leave nothing in java.io.tmpdir once their JVM exits") {
    // a child JVM with a fresh temp dir builds and collects store, fill,
    // stream-store, staged-replay and carbon fixtures, then exits
    val tmp = new java.io.File(tmpDir("leak-tmp"))
    val log = new java.io.File(tmpDir("leak-log"), "child.log")
    val cmd = Seq(System.getProperty("java.home") + "/bin/java", "-Xmx2g") ++
      graft.tools.ChildJvm.AddOpens ++ Seq("-Dspark.ui.enabled=false",
        s"-Djava.io.tmpdir=$tmp", "-cp", System.getProperty("java.class.path"),
        "graft.QueryLeakMain", dir,
        "hs2_storerollup", "hs13_fill", "s6_streamstore", "s13_streamfunnel", "s18_carbon")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log)
    // Spark's local dirs follow java.io.tmpdir too
    pb.environment().remove("SPARK_LOCAL_DIRS")
    val rc = pb.start().waitFor()
    def tail = scala.io.Source.fromFile(log).getLines().toSeq.takeRight(30).mkString("\n")
    assert(rc == 0, s"child exited $rc:\n$tail")
    val left = Option(tmp.list()).toSeq.flatten.sorted
    assert(left.isEmpty, s"left in the child's temp dir: ${left.mkString(", ")}")
  }
}

/** The leak test's child JVM: collects each declared query named after
  * the sf dir, then exits.
  */
object QueryLeakMain {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session(cores = 2, appName = "graft-leak")
    args.tail.foreach(n => SparkEntry.queries(n)(spark, args.head).collect())
    spark.stop()
  }
}
