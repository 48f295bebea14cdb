package graft.tools

/** The one-command stress gate (round-11 verdict item 6): runs every
  * scale-stress envelope — hot-duplicate dedup (DupStress), hot-key /
  * flash-crowd skew (SkewStress), wide-universe render facade
  * (GraphiteStress), optimistic-commit contention (ManifestStress),
  * and the capped-heap gates (PpjoinHeapStress: thresholdPairs, and
  * IncrementalHeapStress: the streaming dedup index+probe, each over
  * a Heaps-mode ~100k-doc corpus in a CHILD JVM at -Xmx8g /
  * local[4] — the 8 GB-executor shape the sf10h OOM made a standing
  * question) — and ASSERTS each tool's recorded envelope instead of
  * printing numbers for a human to eyeball. A regression in any
  * envelope (a keep-first fold going window-shaped, a top-k rank going
  * single-task, a lost manifest batch, a generator that OOMs instead
  * of spilling) turns the command red.
  *
  * Default sizes are CI-scale (minutes, not the 1M/4M campaign sizes
  * whose absolute numbers BENCH_NOTES records); the envelopes asserted
  * are RATIOS and SHAPE BOUNDS, which hold at any size.
  *
  * The run is also recorded as a MACHINE-WRITTEN artifact (round-11
  * verdict: nothing ran the gate automatically): pass a JSON path via
  * SPARK_GRAFT_STRESS_JSON (or default target/stressall.json) and the
  * per-suite booleans + wall seconds land there for the round's
  * STRESS_r*.json.
  *
  * Usage: runMain graft.tools.StressAll [rows]   (default 200,000)
  * Exits nonzero on any failed envelope.
  */
object StressAll {

  /** ~100k-doc Heaps-mode corpus for the capped-heap step, generated
    * deterministically from the driver's sf0.1 documents on first use
    * (ScaleGen heaps x20; same generator as the sf1h/sf10h campaign
    * fixtures).
    */
  private def ppjoinFixture(spark: org.apache.spark.sql.SparkSession): String = {
    val dir = "testdata/sf2h"
    if (!new java.io.File(s"$dir/documents.parquet").isDirectory)
      ScaleGen.generate(spark, "/root/testdata/sf0.1", dir, 20,
        docMode = "heaps", only = Set("documents"))
    dir
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = graft.Graft.session(cores = 32, appName = "graft-stressall")
    spark.sparkContext.setLogLevel("WARN")

    // the asserted envelope per suite, as DATA (the g41 inventory
    // pattern for the stress surface): what each boolean MEANS rides
    // the artifact, so a reader of STRESS_r*.json sees the contract,
    // not just the verdict
    val envelopes = Map(
      "DupStress" -> ("hot-duplicate corpus dedups in <= 2x its " +
        "all-distinct wall; keep-first survivors exact (1 exact, " +
        "2 line)"),
      "SkewStress" -> ("hot-key flash crowd: salted (user, bucket) " +
        "equi-join beats the unsalted plan; per-key results exact"),
      "GraphiteStress" -> ("wide-universe facade: selection stays a " +
        "scan predicate, per-series aggs one row per series, " +
        "grouped fan-in one hash agg, seriesLists pairing " +
        "distributed, catalog browse aggregates — output row counts " +
        "exactly at their designed bounds"),
      "ManifestStress" -> ("4 concurrent optimistic writers x 3 " +
        "batches: every batch lands, and every level's values " +
        "equal a sequential replay in commit order"),
      "PpjoinCappedHeap" -> ("thresholdPairs over a 100k-doc heaps " +
        "corpus completes in a -Xmx8g local[4] CHILD JVM (the 8 GB " +
        "executor shape): the generator must spill, never OOM"),
      "IncrementalCappedHeap" -> ("incremental dedup over the same " +
        "100k-doc heaps corpus (index the 90% existing split, probe " +
        "the 10% incoming batch) completes in a -Xmx8g local[4] " +
        "CHILD JVM: index build and cross-side probe must spill, " +
        "never OOM"))

    val suites: Seq[(String, () => Boolean)] = Seq(
      ("DupStress", () => DupStress.run(spark, n)),
      ("SkewStress", () => SkewStress.run(spark, n)),
      ("GraphiteStress", () => GraphiteStress.run(spark, n)),
      ("ManifestStress", () => ManifestStress.run(spark, writers = 4,
        batches = 3)),
      ("PpjoinCappedHeap", () =>
        PpjoinHeapStress.runCapped(ppjoinFixture(spark))),
      ("IncrementalCappedHeap", () =>
        IncrementalHeapStress.runCapped(ppjoinFixture(spark))))

    val results = suites.map { case (name, body) =>
      val t0 = System.nanoTime()
      val ok = try body() catch {
        case e: Throwable =>
          println(s"[stressall] $name threw: ${e.getMessage}")
          false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[stressall] $name: ${if (ok) "PASS" else "FAIL"} " +
        f"($wall%.1f s)")
      (name, ok, wall)
    }
    val failed = results.filterNot(_._2).map(_._1)
    println(if (failed.isEmpty) "[stressall] ALL ENVELOPES GREEN"
      else s"[stressall] FAILED: ${failed.mkString(", ")}")
    // machine-written record for the round artifacts
    scala.util.Try {
      val path = sys.env.getOrElse("SPARK_GRAFT_STRESS_JSON",
        "target/stressall.json")
      def q(s: String) = "\"" + s.replace("\\", "\\\\")
        .replace("\"", "\\\"") + "\""
      val suitesJson = results.map { case (name, ok, wall) =>
        f""""$name":{"ok":$ok,"wall_sec":${"%.1f".format(wall)},""" +
          s""""envelope":${q(envelopes.getOrElse(name, ""))}}"""
      }.mkString("{", ",", "}")
      val json = s"""{"rows":$n,"ok":${failed.isEmpty},""" +
        s""""suites":$suitesJson}"""
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(path).toAbsolutePath.getParent)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
      println(s"[stressall] record: $path")
      // round-over-round suite-wall comparison (r12 verdict #6: the
      // automation must make envelope DRIFT visible, not just the
      // boolean): when this run writes STRESS_r{N}.json, find the
      // latest prior STRESS_r{k}.json and append per-suite
      // prev→now walls to BENCH_NOTES.md
      for (m <- "STRESS_r(\\d+)\\.json$".r.findFirstMatchIn(path)) {
        val n = m.group(1).toInt
        val dir = Option(java.nio.file.Paths.get(path).toAbsolutePath
          .getParent).getOrElse(java.nio.file.Paths.get("."))
        val prior = Option(dir.toFile.listFiles())
          .getOrElse(Array.empty[java.io.File]).toSeq
          .flatMap(f => "^STRESS_r(\\d+)\\.json$".r
            .findFirstMatchIn(f.getName)
            .map(mm => (mm.group(1).toInt, f)))
          .filter(_._1 < n).sortBy(-_._1).headOption
        for ((k, pf) <- prior) {
          val ptxt = java.nio.file.Files.readString(pf.toPath)
          val pw = "\"([A-Za-z]+)\":\\{\"ok\":(true|false),\"wall_sec\":([0-9.]+)".r
            .findAllMatchIn(ptxt)
            .map(mm => mm.group(1) -> (mm.group(2), mm.group(3).toDouble))
            .toMap
          val cmp = results.map { case (name, ok, wall) =>
            pw.get(name) match {
              case Some((_, w0)) => f"$name $w0%.1f->$wall%.1f s"
              case None          => f"$name NEW $wall%.1f s"
            }
          }.mkString(", ")
          val noteLine = s"- [auto stress r$n vs r$k] " +
            s"${if (failed.isEmpty) "all green" else
              s"FAILED ${failed.mkString("/")}"}: $cmp\n"
          println(s"[stressall] $noteLine")
          val notes = dir.resolve("BENCH_NOTES.md")
          if (java.nio.file.Files.isRegularFile(notes))
            java.nio.file.Files.writeString(notes, noteLine,
              java.nio.file.StandardOpenOption.APPEND)
        }
      }
    }.failed.foreach(e => println(s"[stressall] record failed: $e"))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
