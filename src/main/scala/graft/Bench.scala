package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}.
  *
  * Each query is executed with the noop sink so the full plan
  * (including result production) runs without collect-to-driver
  * overhead; a warm-up query first absorbs JVM/codegen start-up cost
  * so per-query numbers measure the plan, not the JIT.
  *
  * Environment: SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS place the run;
  * SPARK_GRAFT_BENCH_ONLY (a comma list of declared names; an unknown
  * name is refused) runs only those queries and marks the run as a
  * dev-loop re-measure: it prints no hardware fingerprint and launches
  * no stress child. With at most 5 names every query lands in the
  * 5-slowest re-run set and reports a median of 3.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // targeted re-measure: run ONLY these queries. The local baseline
    // MERGE below folds the subset's numbers into the SF's full map,
    // so partial runs never clobber it.
    val onlySet = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(SparkEntry.queryNames).getOrElse(Set.empty[String])
    val spark: SparkSession = Graft.session(cores = cpus, appName = "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // r13 verdict item 8: hardware fingerprint + calibration, so PERF
    // round-over-round comparisons can DETECT box changes (BENCH_r12 and
    // BENCH_r13 came from different machines and the geomean read as a
    // 0.36x code regression that was mostly hardware). Measured once on
    // the idle box before the warm-up: core count, physical RAM, this
    // JVM's heap, a fixed single-thread spin (CPU speed), and a 512 MB
    // fsync'd sequential write to the scratch dir (the disk every spill
    // and state-store commit pays). Printed now AND re-printed just
    // before the JSON line so it rides the driver's 2000-char tail
    // (head-truncation can only clip the fingerprint, never the JSON
    // line, which stays <= 1900 chars + sbt's ~74-char trailer).
    // A targeted re-measure skips it: its spin and write would only
    // delay a dev-loop run that is compared same-box anyway.
    val hwfp: String =
      if (onlySet.nonEmpty) ""
      else scala.util.Try {
        val cores = Runtime.getRuntime.availableProcessors
        val memGb = scala.io.Source.fromFile("/proc/meminfo").getLines()
          .collectFirst { case l if l.startsWith("MemTotal:") =>
            "\\d+".r.findFirstIn(l).get.toLong / (1024 * 1024) }
          .getOrElse(-1L)
        val heapGb = Runtime.getRuntime.maxMemory >> 30
        var x = 88172645463325252L
        var i = 0L
        val t0 = System.nanoTime()
        while (i < 400000000L) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
        }
        val spinMs = (System.nanoTime() - t0) / 1e6
        val dir = new java.io.File(System.getProperty("java.io.tmpdir"))
        val f = java.io.File.createTempFile("graft-hwfp", ".bin", dir)
        val buf = new Array[Byte](8 << 20)
        java.util.Arrays.fill(buf, x.toByte) // also keeps the spin live
        val t1 = System.nanoTime()
        val out = new java.io.FileOutputStream(f)
        try {
          var j = 0; while (j < 64) { out.write(buf); j += 1 }
          out.getFD.sync()
        } finally out.close()
        val wMbps = 512.0 / ((System.nanoTime() - t1) / 1e9)
        f.delete()
        f"[bench] hwfp cores=$cores mem=${memGb}g heap=${heapGb}g " +
          f"spin_ms=$spinMs%.0f wr_mbps=$wMbps%.0f"
      }.getOrElse("[bench] hwfp failed")
    if (hwfp.nonEmpty) System.err.println(hwfp)

    // partial-results insurance for multi-hour scale-step sweeps: every
    // completed measurement rides stderr immediately, and a shutdown
    // hook dumps the partial map if the JVM dies before the JSON line.
    // On a NORMAL completion the hook stays silent — a 231-entry dump
    // at exit lands AFTER the JSON line in the merged output and
    // displaced it out of the driver's 2000-char tail (BENCH_r08
    // arrived with parsed: null exactly that way).
    val done = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    @volatile var completedNormally = false
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (!done.isEmpty && !completedNormally) {
        import scala.jdk.CollectionConverters._
        System.err.println("[bench] PARTIAL " + done.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => f"$k=$v%.3f" }.mkString(","))
      }))

    // Heaps-fixture redirect for the pairs family (r11 verdict item 5):
    // the driver's sf0.1 documents reuse a FIXED ~31-word vocabulary, a
    // corpus shape whose pair-probe volumes grow quadratically and
    // whose bench numbers therefore stress the adversarial case, not
    // the realistic one (BENCH_NOTES round 11: the Heaps-law campaign).
    // When a sibling ScaleGen heaps fixture `testdata/<sf>h` exists
    // (same doc/vector counts, Heaps-law vocabulary), the pair-family
    // queries read documents/embeddings from IT, so the committed
    // BENCH_r*.json rows for p2/p4/p45/… measure the realistic shape
    // and regressions on it are visible to the bench gate. Rotate mode
    // stays available as the adversarial stress (DupStress/BENCH_NOTES
    // record it).
    val pairsFamily = Set("p2_minhash", "p3_lshpairs", "p4_jaccard",
      "p5_simhash", "p6_embpairs", "p8_annlsh", "p10_lshdedup",
      "p23_increment", "p45_containment", "p60_lshrecall",
      "s4_streamincrement")
    // The heaps dir resolves as a SIBLING of sfDir first (r12 advice:
    // the old CWD-relative "testdata/<sf>h" could silently read a
    // stale tree when SPARK_GRAFT_SF_DIR points elsewhere or bench
    // runs from another CWD), with the CWD-relative path as fallback,
    // and the claimed same-count invariant is VERIFIED per TABLE
    // (parquet counts ride row-group metadata — cheap at any SF):
    // the documents-reading pairs queries redirect only when the two
    // trees' documents counts match, the embeddings-reading ones
    // (p6/p8) only when embeddings counts match. The split matters:
    // the driver's sf0.1 has 2,000 embeddings while the heaps regen
    // carries 5,000, so the r12 redirect silently benched p6/p8 on a
    // 2.5x larger vector set — with the check they read sfDir again
    // (the Heaps-law vocabulary shape is a TEXT property; vectors
    // gain nothing from the redirect).
    val embPairs = Set("p6_embpairs", "p8_annlsh")
    def tableRows(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t.parquet").count()
    def parityDir(table: String): Option[String] = {
      val nm = new java.io.File(sfDir).getName + "h"
      val sib = Option(new java.io.File(sfDir).getParentFile)
        .map(p => new java.io.File(p, nm))
      (sib.toSeq :+ new java.io.File("testdata", nm))
        .find(_.isDirectory)
        .flatMap { f =>
          scala.util.Try {
            if (tableRows(f.getPath, table) == tableRows(sfDir, table))
              Some(f.getPath)
            else {
              System.err.println(s"[bench] heaps fixture ${f.getPath} " +
                s"$table row count differs from $sfDir" +
                " - redirect skipped for its readers")
              None
            }
          }.recover { case e =>
            System.err.println("[bench] heaps fixture parity check " +
              s"failed on $table (${e.getMessage}) - redirect skipped")
            None
          }.get
        }
    }
    val heapsDir: Option[String] = parityDir("documents")
    val heapsEmbDir: Option[String] = parityDir("embeddings")
    heapsDir.foreach(d => System.err.println(
      s"[bench] doc-pairs family reads heaps fixture $d " +
        s"(${(pairsFamily -- embPairs).toSeq.sorted.mkString(",")})"))
    heapsEmbDir.foreach(d => System.err.println(
      s"[bench] emb-pairs family reads heaps fixture $d " +
        s"(${embPairs.toSeq.sorted.mkString(",")})"))
    def dirFor(name: String): String =
      if (embPairs(name)) heapsEmbDir.getOrElse(sfDir)
      else if (pairsFamily(name)) heapsDir.getOrElse(sfDir)
      else sfDir

    // classes the JVM's codegen compiled so far: what a query adds shows
    // whether its generated code came from the cache
    def compiled(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // Spark jobs a query runs: the listener counts every job start, and
    // a marker job, whose start the listener bus delivers after those of
    // every earlier job, settles the count on each side of the query
    val jobStarts = new java.util.concurrent.atomic.AtomicLong()
    val markersSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobStarts.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(markersSeen.add)
      }
    })
    val markers = new java.util.concurrent.atomic.AtomicLong()
    def settledJobs(): Long = {
      val sc = spark.sparkContext
      val marker = s"bench-marker-${markers.incrementAndGet()}"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markersSeen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(2)
      jobStarts.get()
    }

    def run(name: String): Double = {
      val jobs0 = settledJobs()
      val t0 = System.nanoTime()
      val compiled0 = compiled()
      try SparkEntry.queries(name)(spark, dirFor(name))
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        // record the failure in the partial map too: stderr writes are
        // SILENTLY dropped by PrintStream when the disk is full (the
        // sf10 sweep lost two failure lines exactly that way), but the
        // shutdown-hook partial dump happens after the box recovers
        done.put(name, -1.0)
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val classes = compiled() - compiled0
      // the marker that settles the count is one of the jobs counted
      val jobs = settledJobs() - jobs0 - 1
      System.err.println(f"[bench] done $name $dt%.3f $classes classes $jobs jobs")
      done.put(name, dt)
      // a query's localCheckpoint blocks (its streaming folds' and
      // iterative loops' lineage cuts, frames several of its actions
      // read, p53's and the render shares' frames one plan reads
      // twice) live until its DataFrame is GC'd; across 100+ queries in
      // one JVM they pile up in the block manager and the late-alphabet
      // queries pay the memory pressure.
      // Dropping them is outside the timer and safe between queries —
      // nothing persisted is shared across SparkEntry invocations.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      dt
    }

    // warm-up: a join+agg exercises scan, shuffle, codegen paths
    run("q3_join")

    // round-over-round baseline: the newest BENCH_r*.json in cwd —
    // queries regressing >1.3x vs it are re-run alongside the 5
    // slowest, so every reported delta is either reproduced (median of
    // 3) or flattened as single-run noise.
    // The snapshot embeds our JSON line INSIDE an escaped "tail" string
    // ("...\"h2_rollup\":0.829..."), so unescape \" before matching —
    // the raw regex alone never fires against the snapshot format.
    // full-precision local baseline from the previous bench run at the
    // SAME sf (written below) — preferred over the driver snapshot,
    // whose embedded line may be down to 1 sig-fig when the query
    // count pushes it against the 2000-char tail budget.
    val localBaseline = s"target/bench-baseline-${new java.io.File(sfDir).getName}.json"
    val baseline: Map[String, Double] = {
      val path = Option(localBaseline).filter(new java.io.File(_).isFile)
        .orElse(Option(new java.io.File(".").listFiles()).flatMap(
          _.map(_.getName).filter(_.matches("BENCH_r\\d+\\.json"))
            .sorted.lastOption))
      val parsed = path.flatMap { p =>
        scala.util.Try {
          val src = scala.io.Source.fromFile(p)
          val txt = try src.mkString finally src.close()
          val unescaped = txt.replace("\\\"", "\"")
          // keys may be full names (old snapshots, local baseline
          // file) or the short id before '_' (the tail-budget format
          // below) — accept both
          val byShort = SparkEntry.queries.keys
            .map(n => n.takeWhile(_ != '_') -> n).toMap
          "\"([A-Za-z0-9_]+)\":(-?[0-9]+\\.?[0-9]*)".r
            .findAllMatchIn(unescaped)
            .flatMap { m =>
              val (k, v) = (m.group(1), m.group(2).toDouble)
              if (SparkEntry.queries.contains(k)) Some(k -> v)
              else byShort.get(k).map(_ -> v)
            }
            .toMap
        }.toOption
      }.getOrElse(Map.empty)
      if (parsed.isEmpty)
        System.err.println(s"[bench] no baseline loaded (path=$path) — " +
          "regression re-run disabled this run")
      else
        System.err.println(s"[bench] baseline ${path.get}: ${parsed.size} queries")
      parsed
    }

    if (onlySet.nonEmpty)
      System.err.println("[bench] only: " + onlySet.toSeq.sorted.mkString(","))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => onlySet.isEmpty || onlySet(n))
    // store-gated queries construct their temp store through the full
    // write path ON FIRST RUN (per-JVM computeIfAbsent) — that's setup,
    // not the plan under measurement, and folding it in hides query
    // regressions inside build noise (r06 verdict). Run those twice and
    // report the WARM time; the cold−warm delta is the store build,
    // totalled into "setup_sec" and itemized on stderr.
    // s10 joins the split for a different reason: its FIRST run in a
    // JVM pays stateful-streaming infrastructure init (state store +
    // flatMapGroupsWithState codegen) — measured 7.6 s cold vs 2.2 s
    // warm in a fresh JVM (round-8 attribution of r7's 2→6 s flap);
    // the warm number is the plan, the delta is setup.
    val storeGated = names.filter(n =>
      n.startsWith("hs") || n == "s6_streamstore" ||
        n == "s11_streammanifest" || n == "s10_streamtopk" ||
        n == "s18_carbon")
      .toSet
    var setupSec = 0.0
    val first = names.map { n =>
      if (!storeGated(n)) n -> run(n)
      else {
        val cold = run(n)
        if (cold < 0) n -> cold
        else {
          val warm = run(n)
          val setup = math.max(0.0, cold - warm)
          setupSec += setup
          System.err.println(
            f"[bench] $n: cold=$cold%.3f warm=$warm%.3f setup=$setup%.3f")
          n -> warm
        }
      }
    }
    val slow = first.filter(_._2 >= 0).sortBy(-_._2).take(5).map(_._1).toSet
    // cap the regression re-runs at the 10 worst ratios: when ambient
    // load slows the WHOLE pass, every query trips 1.3x and an
    // uncapped rerun set triples the bench wall time without
    // attributing anything (a 38-query rerun pass observed once)
    val regressed = first
      .flatMap { case (n, t) =>
        baseline.get(n).collect {
          case b if t >= 0 && b > 0 && t > 1.3 * b => n -> t / b } }
      .sortBy(-_._2).take(10).map(_._1).toSet
    val rerun = slow ++ regressed
    val results = first.map { case (n, t0) =>
      if (!rerun(n) || t0 < 0) n -> t0
      else n -> Seq(t0, run(n), run(n)).sorted.apply(1)
    }
    // the median-of-3 re-run set rides stderr: per-query times need the
    // whole 2000-char stdout tail now that the surface is 93 queries
    System.err.println("[bench] p50of3: " + rerun.toSeq.sorted.mkString(","))
    // steady-state streaming throughput (rows/s over micro-batch
    // processing time, startup excluded) next to the wall numbers —
    // compact {name:rps} form; batch/row counts go to stderr
    val streamNames = Seq("s1_stream", "s2_sessions", "s3_streamdedup",
      "s4_streamincrement", "s5_streamjoin", "s6_streamstore",
      "s7_streamdim", "s8_streamfinal", "s9_streamlinefilter",
      "s10_streamtopk", "s11_streammanifest", "s12_streamkmv",
      "s13_streamfunnel", "s14_streamhw", "s15_louterjoin",
      "s16_streamjsd", "s17_streamhistogram", "s18_carbon")
    streamNames.foreach(n => graft.streaming.StreamStats.get(n).foreach(st =>
      System.err.println(s"[bench] $n: batches=${st.batches} " +
        s"rows=${st.inputRows} rows_per_sec=${"%.0f".format(st.rowsPerSec)}")))
    // short keys (s1..s5): the full names already appear in "queries",
    // and every char here competes with a per-query time for tail space
    val streaming = streamNames
      .flatMap(n => graft.streaming.StreamStats.get(n).map(st =>
        s""""${n.takeWhile(_ != '_')}":${"%.0f".format(st.rowsPerSec)}"""))
      .mkString("{", ",", "}")
    // the pair generators' decisions with their closed-form volumes
    // ("prefix|counting:volPrefix:volWindow"), recorded by the
    // operators while the pairs queries ran, so they cost no job here
    val gens = Seq("gen" -> graft.pipeline.Jaccard.lastGenerator.get(),
      "inc_gen" -> graft.pipeline.IncrementalDedup.lastGenerator.get())
      .filter(_._2.nonEmpty)
    if (gens.nonEmpty) System.err.println("[bench] pair generators: " +
      gens.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val line = jsonLine(results, streaming, setupSec)
    System.err.println(s"[bench] json line length: ${line.length} chars")
    // full-precision copy for the next run's regression baseline.
    // MERGE into the existing map rather than replacing it: a partial
    // run (a targeted re-measure) would otherwise clobber the SF's
    // full baseline with its handful of queries — which is exactly
    // what the sf10 tail re-measure did to the 222-entry map
    // (reconstructed from run logs, see BENCH_NOTES).
    scala.util.Try {
      val prior: Map[String, Double] = scala.util.Try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get(localBaseline))
        "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
      val merged = prior ++ results // this run's numbers win
      val full = merged.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + "%.3f".format(v) }.mkString("{", ",", "}")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("target"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(localBaseline), full)
    }
    // the JSON line must be the LAST thing in the merged output: stop
    // Spark FIRST (its shutdown logging otherwise lands after us), mark
    // the run complete so the partial-dump hook stays silent, then emit
    // the line on stderr AND stdout — whichever stream the driver's
    // tail capture reads, the line is at its end.
    completedNormally = true
    spark.stop()
    if (onlySet.isEmpty) launchStress()
    if (hwfp.nonEmpty) System.err.println(hwfp)
    System.err.println(line)
    println(line)
  }

  /** The one JSON line Bench prints last, built from each query's
    * seconds (negative = failed), the streaming rows/s object and the
    * store-setup seconds; it always fits the 1,900-char tail budget.
    */
  private[graft] def jsonLine(results: Seq[(String, Double)],
                              streaming: String, setupSec: Double): String = {
    // the driver captures only the LAST 2000 chars of stdout (plus
    // sbt's "[success] …" trailer), so the JSON line must stay well
    // under that or it arrives truncated and unparseable (BENCH_r03:
    // "parsed": null). 3-decimal times keep 64 queries ≈ 1.6 KB.
    val total = results.map(_._2).filter(_ >= 0).sum
    // significant figures, not fixed decimals: "12.3"/"1.23"/"0.283"
    // is ≤0.2% error at any magnitude (plenty against the 1.3x
    // regression threshold) and 1-2 chars shorter per entry than
    // %.3f — the 75+-query line must fit the captured tail.
    def fmt(v: Double, sig: Int): String =
      BigDecimal(v).round(new java.math.MathContext(sig))
        .bigDecimal.stripTrailingZeros.toPlainString
    // mixed precision: sub-second entries sit below the ~50 ms
    // scheduling-jitter noise floor, so they surrender a sig-fig
    // before the expensive entries do
    // per-query keys: the id before '_' ("p20_spandedup" → "p20") —
    // unique across the surface by construction, and the ~10 chars
    // saved per entry are what keeps 110+ queries inside the driver's
    // 2000-char tail at FULL precision (r05's line with long names
    // overflowed and arrived head-truncated). Full names stay in the
    // local baseline file and BENCH_NOTES; main's baseline parser
    // accepts both forms. A clash (none today) falls back to the full
    // name rather than merging two queries' numbers.
    val shortKey: Map[String, String] = {
      val ids = results.map { case (n, _) => n.takeWhile(_ != '_') -> n }
      val dup = ids.groupBy(_._1).filter(_._2.size > 1).keySet
      ids.map { case (id, n) => n -> (if (dup(id)) n else id) }.toMap
    }
    // failures must be LOUD at the top level of EVERY line format: r09
    // shipped three non-analyzing queries behind rc=0 with the -1.0
    // markers buried in "queries" — a judge/driver reading rc alone saw
    // green. "ok" flips false whenever any declared query failed, and
    // the failed names ride a dedicated field (short keys).
    val failedTop = results.filter(_._2 < 0).map(_._1).sorted
    val okField = s""","ok":${failedTop.isEmpty}""" + (
      if (failedTop.isEmpty) ""
      else failedTop.map("\"" + shortKey(_) + "\"")
        .mkString(""","failed":[""", ",", "]"))
    def build(bigSig: Int, smallSig: Int): String = {
      val qs = results.map { case (k, v) =>
        "\"" + shortKey(k) + "\":" + fmt(v, if (v >= 1.0) bigSig else smallSig) }
        .mkString("{", ",", "}")
      // no "sf" field: the driver's wrapper records it already, and at
      // 98 queries those 13 chars are the difference between 2 and 1
      // significant figures for every per-query time
      s"""{"metric":"total","value":${fmt(total, 4)},"unit":"sec"$okField,"queries":$qs,"streaming":$streaming,"setup_sec":${fmt(setupSec, 3)}}"""
    }
    // tail budget, measured from the driver's snapshots: it captures
    // the LAST 2000 chars of the merged output; after our line only
    // sbt's "[success] Total time: …" trailer (~74 chars) follows
    // (BENCH_r03's tail shows exactly that shape). 1900 + 74 leaves a
    // ~26-char cushion. sig-1 still resolves the 1.3x regression
    // threshold (±5% worst case) — the last-resort format, never the
    // preferred one.
    Seq((3, 3), (3, 2), (2, 2), (2, 1), (1, 1))
      .map { case (b, sm) => build(b, sm) }.find(_.length <= 1900)
      .getOrElse {
        // last levers before truncation. First: the streaming rows/s
        // already ride stderr verbatim above, so surrender the JSON
        // copy and keep every per-query time parseable.
        System.err.println("[bench] tail budget: dropping streaming " +
          "object from the JSON line (full copy on stderr above)")
        // failures must stay visible even here: okField carries both
        // the top-level ok flag and the failed-name list
        def noStreamLine(entries: Seq[(String, Double)],
                         restN: Int, restSec: Double): String = {
          val qs = entries.map { case (k, v) =>
            "\"" + shortKey(k) + "\":" + fmt(v, 1) }
            .mkString("{", ",", "}")
          val rest = if (restN == 0) ""
          else s""","rest_n":$restN,"rest_sec":${fmt(restSec, 3)}"""
          s"""{"metric":"total","value":${fmt(total, 4)},"unit":"sec"$okField""" +
            s""","queries":$qs$rest""" +
            s""","setup_sec":${fmt(setupSec, 3)}}"""
        }
        val all = results.filter(_._2 >= 0).sortBy(-_._2)
        val full = noStreamLine(all, 0, 0.0)
        if (full.length <= 1900) full
        else {
          // second: keep the K most expensive entries that fit and fold
          // the cheap tail into one honest rest_n/rest_sec summary —
          // the full map stays in the local baseline file and below
          System.err.println("[bench] tail budget: folding cheapest " +
            "entries into rest_n/rest_sec (full map on stderr)")
          System.err.println("[bench] full-queries: " + all.map {
            case (k, v) => s"$k=${"%.3f".format(v)}" }.mkString(","))
          // bounded: i stops once the keep-set floors at 10 entries, so
          // the minimal line is actually tried and getOrElse is the
          // real last resort (Iterator.from(1) could spin forever once
          // splitAt's max(k, 10) goes constant)
          (1 to (all.length / 10 + 1)).iterator
            .map { i =>
              val k = all.length - i * 10
              val (keep, rest) = all.splitAt(math.max(k, 10))
              noStreamLine(keep, rest.length, rest.map(_._2).sum)
            }
            .find(_.length <= 1900)
            .getOrElse(noStreamLine(all.take(10),
              all.length - 10, all.drop(10).map(_._2).sum))
        }
      }
  }

  /** r12 verdict #6: the per-round stress artifact runs itself. After
    * the sweep (and Spark shutdown — the box is quiet again), a
    * DETACHED child JVM runs StressAll with
    * SPARK_GRAFT_STRESS_JSON=STRESS_r{N}.json, N = 1 + the highest
    * committed BENCH_r{k}.json (the driver writes BENCH_r{N} only
    * after this process exits). The child's output goes to its own
    * log — NOTHING may land after the bench JSON line — and the spawn
    * is best-effort: a missing java binary or a non-repo CWD (no
    * BENCH_r files) silently skips. setsid detaches the child from
    * this process group so a driver-side cleanup can't reap it
    * mid-suite. A targeted re-measure (SPARK_GRAFT_BENCH_ONLY) launches
    * none. StressAll itself appends the round-over-round suite-wall
    * comparison to BENCH_NOTES.md.
    */
  private def launchStress(): Unit =
    scala.util.Try {
      val rounds = Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty[java.io.File]).toSeq
        .flatMap(f => "^BENCH_r(\\d+)\\.json$".r
          .findFirstMatchIn(f.getName).map(_.group(1).toInt))
      if (rounds.nonEmpty) {
        val n = rounds.max + 1
        val out = s"STRESS_r$n.json"
        if (!new java.io.File(out).exists) {
          val setsid =
            if (new java.io.File("/usr/bin/setsid").exists)
              Seq("/usr/bin/setsid") else Seq.empty
          // r13 verdict item 3: java.class.path under sbt points into
          // target/bg-jobs/sbt_* — a directory sbt DELETES on exit, so
          // the detached child died in SparkContext.<init> on a
          // vanished hadoop jar both r13 runs (target/stressall-r13/
          // r14.log) and STRESS_r13.json was never written. Build a
          // STABLE classpath instead: the compiled classes dir + the
          // image's pinned spark-jars dir (build.sbt unmanagedBase);
          // fall back to the live classpath only when those are
          // missing (non-repo CWD), where the old behavior applies.
          val classes = new java.io.File("target/scala-2.13/classes")
          val sparkJars = new java.io.File("/opt/spark/jars")
          val cp =
            if (classes.isDirectory && sparkJars.isDirectory)
              classes.getPath + ":" + sparkJars.getPath + "/*"
            else System.getProperty("java.class.path")
          val cmd = setsid ++ Seq("java", "-Xmx8g") ++ tools.ChildJvm.AddOpens ++ Seq(
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            // inherit the bench's scratch placement (build.sbt picks
            // tmpfs over the throttled sandbox disk when available)
            s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
            "-cp", cp,
            "graft.tools.StressAll")
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get("target"))
          val pb = new ProcessBuilder(cmd: _*)
          pb.environment().put("SPARK_GRAFT_STRESS_JSON", out)
          pb.redirectErrorStream(true)
          val log = new java.io.File(s"target/stressall-r$n.log")
          pb.redirectOutput(log)
          val child = pb.start()
          // fail LOUDLY when the child dies on arrival (the r13 mode):
          // an instant crash surfaces here instead of darkening the
          // stress gate for a whole round. 5s is spawn+classload; a
          // healthy child runs minutes and is NOT waited for.
          if (child.waitFor(5, java.util.concurrent.TimeUnit.SECONDS) &&
              child.exitValue() != 0) {
            val tail = scala.util.Try(
              java.nio.file.Files.readString(log.toPath).takeRight(400))
              .getOrElse("<no log>")
            System.err.println(s"[bench] STRESS CHILD DIED within 5s " +
              s"(exit ${child.exitValue()}) — $out will NOT be " +
              s"written. Log tail: $tail")
          } else
            System.err.println(s"[bench] stress artifact child " +
              s"launched -> $out (log: target/stressall-r$n.log)")
        }
      }
    }.failed.foreach(e =>
      System.err.println(s"[bench] stress child launch failed: $e"))
}
