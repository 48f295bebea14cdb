package graft

import org.apache.spark.sql.SparkSession

/** Session factory + idempotent config for driver-provided sessions.
  *
  * Scale stance: these configs are local-mode defaults; on a real cluster the
  * same code runs unchanged — AQE handles skew/coalescing, shuffle partitions
  * are sized by the deploy, and all operators below are expressed as
  * declarative plans so Catalyst can re-plan at any scale.
  */
object Graft {

  /** Row gate for broadcasting a `localCheckpoint`'d frame (r13 verdict
    * item 4); one site uses it, `LanguageModel.perplexityScore`'s bigram
    * count table (p24). A checkpoint truncates Catalyst stats, so the
    * planner can't size-check a join against it — but an UNCONDITIONAL
    * broadcast() hint on a per-user/per-entity frame removes the
    * planner's escape hatch and OOMs at corpus scale where the
    * estimator would have degraded to a shuffle join. The honest gate
    * is the frame's materialized row count (one cheap job over the
    * checkpointed blocks): at or below this many rows the executed
    * plan keeps the broadcast the pre-checkpoint estimator chose; above
    * it the hint is withheld and the planner shuffles. 2M rows of a
    * narrow (key, value) frame build a ~100-200 MB hash relation —
    * comfortably inside executor memory and far under the 8 GB /
    * 512M-row broadcast hard cap, while any growing-with-the-corpus
    * frame at 100 TB blows straight past it and degrades safely.
    */
  val BroadcastRowGate: Long = 2L * 1024 * 1024

  /** Entries of the JVM-wide cache of classes compiled from generated
    * code (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
    * Spark compiles one class per distinct generated source, and a class
    * evicted before its plan shape runs again is compiled again: at 100
    * a warm 8-query perfbench `batch` pass recompiles 167 to 171 classes
    * on every pass. Measured with an unbounded cache (4 cores, sf0.01): one
    * perfbench `batch` run's first pass compiles 225 distinct classes
    * (warm passes compile only s8's 18 streaming classes), one
    * `dashboard` run 261 over the whole run, and a 3-level store commit
    * about 100 (55 on the first commit, then 2 to 8). 1,000 leaves about
    * four times the largest of these. An entry keeps its generated source
    * as the key (about 7 KB on average) and its compiled classes (about
    * 5.5 KB of bytecode), so a full cache costs about 12 MB of heap plus
    * the JVM's metadata for the loaded classes.
    *
    * The conf is static and the cache is built once per JVM, by the first
    * session that compiles code: sessions the engine does not build keep
    * Spark's 100, and [[configure]] cannot change it.
    */
  val CodegenCacheEntries = 1000

  def session(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        Scratch.memo("graft-warehouse")(Scratch.dir("graft-warehouse")))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    configure(spark)
  }

  /** Idempotent dynamic settings, safe to apply to a session we did not
    * build (the test driver constructs its own). Only dynamic confs here.
    */
  def configure(spark: SparkSession): SparkSession = {
    // The `events` table is written with parquet TIMESTAMP(NANOS), which
    // Spark only reads as LongType behind this flag; Tables.load converts
    // back to a microsecond TimestampType column.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }
}
