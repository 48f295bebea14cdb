package perfbench

import graft.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What a workload gets: the session, the tracer, its report, its seed,
  * how long to measure and a private work directory inside the checkout.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, rep: Report,
                     seed: Long, seconds: Double, work: Path, sfDir: String) {
  def gen: Gen = new Gen(seed)

  def points(ps: Seq[Gen.Point]): DataFrame = {
    import spark.implicits._
    ps.map(p => (p.series, p.ts, p.value)).toDF("series_id", "ts", "value")
  }
}

/** JVM side of the benchmark; `perfbench/run.py` builds and launches it.
  *
  * Usage: perfbench.Main --workload ingest|dashboard|batch --seed N
  *          --seconds S --trace 0|1 --work DIR --out FILE [--sf DIR]
  */
object Main {

  def ms(ns: Long): Double = ns / 1e6

  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** A fixed single-thread integer loop, the CPU-speed part of the
    * hardware fingerprint.
    */
  def spinMs(): Double = {
    var x = 88172645463325252L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = ms(System.nanoTime() - t0)
    if (x == 42L) println() // keeps the loop live
    dt
  }

  /** A field of /proc/self/io (e.g. wchar, write_bytes), or 0 if absent. */
  def procIo(field: String): Long = scala.util.Try {
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith(field + ":") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)
  }.getOrElse(0L)

  def peakRssMb: Double = scala.util.Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong / 1024.0 }.getOrElse(0.0)
  }.getOrElse(0.0)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def parquetFilesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(_.toString.endsWith(".parquet")).toLong
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Process-level counters over the measured window: GC share, heap
    * peak and bytes this process wrote to storage.
    */
  final class Window {
    private val t0 = System.nanoTime()
    private val gc0 = gcMs
    private val wb0 = procIo("write_bytes")
    heapPools.foreach(_.resetPeakUsage())

    def close(rep: Report): Unit = {
      val wallMs = ms(System.nanoTime() - t0)
      rep.layers("jvm.gc_ms_share") = (gcMs - gc0) / wallMs
      rep.layers("jvm.heap_used_peak_mb") =
        heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      rep.layers("io.scratch_write_bytes") = (procIo("write_bytes") - wb0).toDouble
      rep.info("measured_s") = f"${wallMs / 1000}%.3f"
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = a("workload")
    val trace = a.getOrElse("trace", "0") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val spin = spinMs()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Graft.session(cores = cores, appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val rep = new Report
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, rep, a("seed").toLong, a("seconds").toDouble,
      work, a.getOrElse("sf", ""))
    rep.info("spin_ms") = f"$spin%.1f"
    rep.info("session_ready_s") = f"${(System.currentTimeMillis - jvmStart) / 1e3}%.1f"
    rep.info("cores") = cores.toString
    rep.info("heap_mb") = (Runtime.getRuntime.maxMemory >> 20).toString
    try {
      workload match {
        case "ingest" => Ingest.run(ctx)
        case "dashboard" => Dashboard.run(ctx)
        case "batch" => Batch.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rep.e2e("peak_rss_mb") = peakRssMb
      rep.info("workload_done_s") = f"${(System.currentTimeMillis - jvmStart) / 1e3}%.1f"
      if (trace) {
        tracer.drain()
        Layers.fill(ctx)
        tracer.write(work.resolve("trace.jsonl"))
      }
      Files.writeString(Paths.get(a("out")), rep.toJson)
    } finally spark.stop()
  }
}
