package graft

import org.apache.spark.sql.functions._

/** The DataSource V2 whisper reader: `format("whisper")` must decode
  * exactly what a plain whole-file `WhisperFormat.slots` decode of each
  * ring yields, prune the file list on series_id filters at PLANNING
  * time, and honor column pruning — the engine's one ring-file reader
  * (the migration-free query path and HoardImport's decoder).
  */
class WhisperSourceSpec extends SparkTestBase {

  private val dir = "/root/reference/test" // large.whisper + testcreate.whisper

  /** Cancels (with its reason) a reference golden whose path is absent;
    * each has a "(built fixture)" twin on [[WhisperFixtures]]' files. */
  private def assumeReference(path: String): Unit =
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
      s"$path absent: reference golden not checked on this box")

  /** The built large-shaped and testcreate files in one directory. */
  private lazy val built: String = {
    val d = tmpDir("whisper-built")
    WhisperFixtures.write(d, "large.whisper", WhisperFixtures.large)
    WhisperFixtures.write(d, "testcreate.whisper", WhisperFixtures.testcreate)
    d
  }

  private def scansOf(q: org.apache.spark.sql.DataFrame) = {
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(s.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    flatten(q.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
  }

  test("format(whisper) == a direct WhisperFormat decode on the reference fixtures") {
    assumeReference(dir)
    import graft.sources.WhisperSource
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val v2 = spark.read.format("whisper").load(dir)
      .select(col("series_id"), col("step"),
        col("ts").cast("long").as("ts"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // independent decode: walk the tree, read each ring whole, name it
    // by the graphite layout rule
    val qualRoots = WhisperSource.qualify(Seq(dir))
    val rings = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        (f.toString.endsWith(".whisper") || f.toString.endsWith(".hoard")))
      .toSeq
    val ref = rings.flatMap { (f: Path) =>
      val series = WhisperSource.relativeSeries(qualRoots,
        WhisperSource.qualify(Seq(f.toString)).head)
      graft.store.WhisperFormat.slots(Files.readAllBytes(f))
        .map(sl => (series, sl.step.toLong, sl.ts, sl.value))
    }.toSet
    assert(v2 == ref, "V2 source and a direct ring decode differ")
    assert(v2.nonEmpty)
    // testcreate.whisper is a freshly-created ring: every slot zeroed,
    // so it contributes a FILE but no rows
    assert(v2.map(_._1) == Set("large"))
  }

  test("format(whisper) == a direct WhisperFormat decode on the reference fixtures (built fixture)") {
    import graft.sources.WhisperSource
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val v2 = spark.read.format("whisper").load(built)
      .select(col("series_id"), col("step"),
        col("ts").cast("long").as("ts"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val qualRoots = WhisperSource.qualify(Seq(built))
    val rings = Files.walk(java.nio.file.Paths.get(built)).iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        (f.toString.endsWith(".whisper") || f.toString.endsWith(".hoard")))
      .toSeq
    assert(rings.size == 2)
    val ref = rings.flatMap { (f: Path) =>
      val series = WhisperSource.relativeSeries(qualRoots,
        WhisperSource.qualify(Seq(f.toString)).head)
      graft.store.WhisperFormat.slots(Files.readAllBytes(f))
        .map(sl => (series, sl.step.toLong, sl.ts, sl.value))
    }.toSet
    assert(v2 == ref, "V2 source and a direct ring decode differ")
    // both decodes equal what the builder put in the rings
    assert(v2 == WhisperFixtures.largeValues.map { case ((step, ts), v) =>
      ("large", step, ts, v) }.toSet)
    // testcreate.whisper's zeroed rings contribute a FILE but no rows
    assert(v2.map(_._1) == Set("large"))
  }

  test("series_id equality prunes the file list at planning time") {
    assumeReference(dir)
    val q = spark.read.format("whisper").load(dir)
      .where(col("series_id") === "large")
    q.collect()
    // one file ⇒ one input partition: the non-matching file was never
    // listed into the scan (graphite names the file after the series)
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(s.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    val scans = flatten(q.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "no BatchScanExec in the whisper plan")
    assert(scans.head.inputPartitions.size == 1,
      s"expected 1 file partition after pushdown, " +
        s"got ${scans.head.inputPartitions.size}")
    // and the rows really are just that series
    assert(q.select("series_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("large"))
  }

  test("series_id equality prunes the file list at planning time (built fixture)") {
    // unfiltered, the two files pack into two partitions (each costs
    // more than half the 4 MB open-cost split) ...
    val all = spark.read.format("whisper").load(built)
    all.collect()
    assert(scansOf(all).head.inputPartitions.size == 2)
    // ... and series_id equality leaves one file, so one partition
    val q = spark.read.format("whisper").load(built)
      .where(col("series_id") === "large")
    q.collect()
    val scans = scansOf(q)
    assert(scans.nonEmpty, "no BatchScanExec in the whisper plan")
    assert(scans.head.inputPartitions.size == 1,
      s"expected 1 file partition after pushdown, " +
        s"got ${scans.head.inputPartitions.size}")
    assert(q.select("series_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("large"))
  }

  test("column pruning reaches the reader (2-column projection)") {
    assumeReference(dir)
    val q = spark.read.format("whisper").load(dir)
      .select("series_id", "value")
    val rows = q.collect()
    assert(rows.nonEmpty && rows.head.length == 2)
    // aggregate over the narrow projection matches the full read
    val narrow = q.groupBy("series_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = spark.read.format("whisper").load(dir)
      .groupBy("series_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(narrow == full)
  }

  test("column pruning reaches the reader (2-column projection) (built fixture)") {
    val q = spark.read.format("whisper").load(built)
      .select("series_id", "value")
    val rows = q.collect()
    assert(rows.nonEmpty && rows.head.length == 2)
    val narrow = q.groupBy("series_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = spark.read.format("whisper").load(built)
      .groupBy("series_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(narrow == full)
    assert(full == Map("large" -> WhisperFixtures.largeValues.size.toLong))
  }

  test("the imported-store fetch golden also holds through the V2 source") {
    assumeReference(s"$dir/large.whisper")
    // the reference's golden window (test/hoard.test.coffee:36-51):
    // hourly means from the finest ring must reproduce the five fetch
    // values [2048, 4546, 794, 805, 4718] — here read STRAIGHT off the
    // binary file, no store in between (slots are already hourly)
    val got = spark.read.format("whisper").load(s"$dir/large.whisper")
      .where(col("step") === 3600 &&
        col("ts") >= timestamp_seconds(lit(1311163200L)) &&
        col("ts") < timestamp_seconds(lit(1311181200L)))
      .orderBy("ts").select("value").collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(2048.0, 4546.0, 794.0, 805.0, 4718.0))
  }

  test("the imported-store fetch golden also holds through the V2 source (built fixture)") {
    // the golden window's hourly slots read straight off the built file
    val got = spark.read.format("whisper").load(s"$built/large.whisper")
      .where(col("step") === 3600 &&
        col("ts") >= timestamp_seconds(lit(1311163200L)) &&
        col("ts") < timestamp_seconds(lit(1311181200L)))
      .orderBy("ts").select("value").collect().map(_.getDouble(0)).toSeq
    assert(got == (1311163200L until 1311181200L by 3600L)
      .map(ts => WhisperFixtures.largeValues((3600L, ts))))
  }

  test("a missing load path is refused, naming it; an empty directory reads as no rows") {
    import org.apache.spark.sql.AnalysisException
    val missing = tmpDir("whisper-missing") + "/no-such-tree"
    val read = intercept[AnalysisException](
      spark.read.format("whisper").load(missing).collect())
    assert(read.getCondition == "PATH_NOT_FOUND")
    assert(read.getMessage.contains(missing), read.getMessage)
    val imp = intercept[AnalysisException](graft.store.HoardImport.intoStore(
      spark, missing, tmpDir("whisper-missing-st") + "/store"))
    assert(imp.getMessage.contains(missing), imp.getMessage)

    val empty = tmpDir("whisper-empty")
    assert(spark.read.format("whisper").load(empty).count() == 0L)
  }

  test("many-files gate: 10k tiny rings list fast and pack into few partitions") {
    // a graphite tree is one SMALL file per series; the source must
    // (a) list a deep wide tree without a serial driver walk blowing
    // the budget and (b) bin the files into multi-file partitions —
    // NOT one task per file (1M series would otherwise mean 1M tasks)
    val root = java.nio.file.Files.createTempDirectory("whisper-many").toFile
    try {
      val ar = graft.core.Archive(60, 3)
      val nFiles = 10000
      val bytes = (0 until 4).map(i => graft.store.WhisperFormat.write(
        6000L, 0.5f, Seq(ar -> Seq((5880L, 1.0 + i), (5940L, 2.0 + i)))))
      (0 until nFiles).foreach { i =>
        val d = new java.io.File(root, s"a${i % 7}/b${i % 13}")
        d.mkdirs()
        java.nio.file.Files.write(
          new java.io.File(d, s"s$i.whisper").toPath, bytes(i % 4))
      }
      def partsOf(q: org.apache.spark.sql.DataFrame): Int = {
        def flatten(p: org.apache.spark.sql.execution.SparkPlan):
            Seq[org.apache.spark.sql.execution.SparkPlan] = {
          val kids = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              Seq(a.executedPlan)
            case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              Seq(s.plan)
            case o => o.children
          }
          p +: kids.flatMap(flatten)
        }
        flatten(q.queryExecution.executedPlan).collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.size
        }.getOrElse(fail("no BatchScanExec in the whisper plan"))
      }
      val t0 = System.nanoTime()
      val q = spark.read.format("whisper").load(root.toString)
        .groupBy("series_id").count()
      val n = q.count()
      val secs = (System.nanoTime() - t0) / 1e9
      assert(n == nFiles.toLong)
      // partitions ≪ files under the session default formula (4 MB
      // openCost models blob-store opens: ~31 files/bin → ~323 bins)
      val defaultParts = partsOf(q)
      assert(defaultParts <= 512 && defaultParts >= 2,
        s"expected packed partitions (≪ $nFiles files), got $defaultParts")
      // tuned for tiny local rings: openCost=64K packs ~300 files/bin
      val tuned = spark.read.format("whisper")
        .option("openCostInBytes", (64 * 1024).toString)
        .load(root.toString).groupBy("series_id").count()
      assert(tuned.count() == nFiles.toLong)
      val tunedParts = partsOf(tuned)
      assert(tunedParts <= 64,
        s"openCost-tuned scan should pack ≤64 partitions, got $tunedParts")
      // budget: list+pack+scan+agg of 10k files well under a minute
      // (driver-serial listing of a wide tree is what this catches)
      assert(secs < 60.0, f"10k-file scan took $secs%.1f s")
      // every partition holds only whole files; rows survive packing
      val total = spark.read.format("whisper").load(root.toString).count()
      assert(total == nFiles.toLong * 2, s"slot rows lost in packing: $total")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(root)
    }
  }
}
