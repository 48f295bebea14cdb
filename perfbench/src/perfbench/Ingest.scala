package perfbench

import graft.store.HoardStore
import graft.streaming.CarbonIngest
import org.apache.spark.sql.functions.col
import perfbench.Gen.Now
import perfbench.Main.{ms, timed}
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, StandardCopyOption}

/** `ingest`: one closed-loop writer. Each loop writes one carbon plaintext
  * file and runs `CarbonIngest.start` over the file directory with
  * `maxFilesPerTrigger=1` until it has consumed it, so one file is one
  * micro-batch into a store pre-seeded with history.
  */
object Ingest {

  val SetupRepeats = 2
  val CheckedSeries = 4

  /** Move one staged carbon file into the stream's directory and run
    * `CarbonIngest.start` until it has consumed it: one micro-batch.
    */
  def microBatch(c: Ctx, staged: Path, src: Path, lines: DataFrame,
                 store: HoardStore, ckpt: String): Unit =
    c.tracer.span("streaming.batch") {
      Files.move(staged, src.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
      val q = CarbonIngest.start(lines, store, () => Now, ckpt)
      c.tracer.alias(q.runId.toString, c.tracer.current)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }

  /** A carbon plaintext stream over `dir`, one file per micro-batch. */
  def carbonStream(c: Ctx, dir: Path): DataFrame =
    c.spark.readStream.option("maxFilesPerTrigger", "1").text(dir.toString)

  def run(c: Ctx): Unit = {
    import c._
    val gen = c.gen
    val history = gen.ingestHistory
    val setups = (0 until SetupRepeats).map { r =>
      val root = work.resolve(s"ingest-store-$r").toString
      timed {
        HoardStore.create(spark, root, Gen.Policy)
          .updateManyDf(points(history), Now)
      }._2
    }
    (0 until SetupRepeats - 1).foreach(r => Main.deleteTree(work.resolve(s"ingest-store-$r")))
    rep.e2e("setup_s") = Stats.median(setups.map(_ / 1e9))
    rep.info("setup_s_each") = setups.map(t => f"${t / 1e9}%.2f").mkString(",")
    val storeDir = work.resolve(s"ingest-store-${SetupRepeats - 1}")
    val store = HoardStore.open(spark, storeDir.toString)

    val src = Files.createDirectories(work.resolve("ingest-src"))
    val staging = Files.createDirectories(work.resolve("ingest-staging"))
    val ckpt = work.resolve("ingest-ckpt").toString
    val lines = carbonStream(c, src)

    val mirror = new Mirror(Gen.Policy, Now)
    mirror.write(0, history)
    val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val untracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var ingested = 0L
    var j = 0
    val w = new Main.Window
    val wchar0 = Main.procIo("wchar")
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9 && j < Gen.IngestMaxFiles) {
      val good = gen.ingestFresh(j) ++ gen.ingestLate(j)
      val tmp = staging.resolve(f"$j%06d.txt")
      Files.writeString(tmp, gen.ingestFile(j))
      val traced = j % 2 == 0
      def batch(): Unit = microBatch(c, tmp, src, lines, store, ckpt)
      val (ok, ns) = timed(rep.guard("ingest.batch") {
        if (traced || !tracer.enabled) batch() else tracer.untraced(batch())
      })
      if (ok.isDefined) {
        rep.op("ingest.batch", None)
        mirror.write(j + 1, good)
        ingested += good.size
        batchMs += ms(ns)
        (if (traced) tracedMs else untracedMs) += ms(ns)
      }
      j += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val wchar = Main.procIo("wchar") - wchar0
    w.close(rep)
    require(batchMs.nonEmpty, "no ingest batch succeeded")

    val pts = history.size + ingested
    val storeBytes = Main.bytesUnder(storeDir)
    Workloads.latency(rep, "ingest_batch_ms", batchMs.toSeq)
    rep.named("ingest_points_per_s") = (ingested / wallS, "1/s")
    rep.named("store_bytes_per_point") = (storeBytes.toDouble / pts, "B")
    rep.layers("store.files") = Main.parquetFilesUnder(storeDir).toDouble
    rep.layers("store.write_bytes_per_point") = wchar.toDouble / math.max(1L, ingested)
    rep.info("history_points") = history.size.toString
    rep.info("files") = j.toString
    rep.info("points") = ingested.toString
    if (tracer.enabled)
      rep.layers("trace.overhead_pct") = Workloads.overheadPct(tracedMs.toSeq, untracedMs.toSeq)

    // end state of a seeded sample of series, every level, against the mirror
    val r = new java.util.SplittableRandom(seed)
    val lastBatch = j
    (0 until CheckedSeries).map(_ => Gen.Series(r.nextInt(Gen.Series.size))).distinct
      .foreach { s =>
        Seq(Now - Gen.Ret0, Now - Gen.Ret1, Gen.HistoryBase).foreach { from =>
          rep.guard("ingest.check") {
            val (_, df) = store.fetch(s, from, Now, Now)
            val got = df.select(col("interval").cast("long"), col("value")).collect()
              .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1))))
              .toMap
            rep.op("ingest.check",
              Workloads.diffSlots(got, mirror.fetch(s, from, Now, lastBatch).toMap))
          }
        }
      }
  }
}
