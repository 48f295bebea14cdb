package graft.tools

import graft.{Graft, Tables}
import graft.core.{Archive, ArchivePolicy}
import graft.store.HoardStore
import org.apache.spark.sql.functions._

/** Dev tool: store write-path stress at ~1M points (10 shifted copies of
  * the sf0.1 events), reporting per-batch ingest time and final level
  * sizes — checks the merge/propagation cost stays linear in batch
  * size, not in store size.
  * Usage: runMain graft.tools.StoreStress [copies]
  */
object StoreStress {
  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val spark = Graft.session(cores = 32, appName = "graft-stress")
    spark.sparkContext.setLogLevel("ERROR")
    val now = 1706745600L + 86400L * 400 // room for shifted copies
    val policy = ArchivePolicy(Seq(Archive(3600, 24 * 366 * 2), Archive(86400, 1095)))
    val root = java.nio.file.Files.createTempDirectory("stress").toString + "/store"
    val st = HoardStore.create(spark, root, policy)
    val base = Tables.load(spark, "/root/testdata/sf0.1", "events").select(
      col("event_type").as("series_id"), col("ts").cast("long").as("ts"),
      col("value"), col("event_id").as("seq"))
    (0 until copies).foreach { i =>
      // each batch lands in a different 30-day window -> distinct months
      val batch = base.withColumn("ts", col("ts") + lit(i * 35L * 86400))
      val t0 = System.nanoTime()
      st.updateManyDf(batch, now)
      println(f"batch $i: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    policy.sorted.foreach { ar =>
      println(s"level ${ar.step}: ${st.readLevel(ar).count()} rows")
    }
    // catalog small-file growth must stay bounded by the inline fold
    val catFiles = st.latestEntries.filter(_.isCatalog).groupBy(_.step)
      .values.map(_.size).maxOption.getOrElse(0)
    println(s"catalog manifest entries (max per level): $catFiles")
    require(catFiles <= 17, s"catalog file count unbounded: $catFiles")
    spark.stop()
  }
}
