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

  /** Entries of the JVM-wide cache of classes compiled from generated
    * code (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
    * Spark compiles one class per distinct generated source, and a class
    * evicted before its plan shape runs again is compiled again: at 100
    * a warm 8-query perfbench `batch` pass recompiles 167 to 171 classes
    * on every pass. Measured with an unbounded cache (4 cores, sf0.01): one
    * perfbench `batch` run's first pass compiles 225 distinct classes
    * (warm passes compile only s8's streaming classes: 18 per pass then,
    * 15 since [[configure]] drops stage ids from class names), one
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
    // Spark names each whole-stage class after its codegen stage id and
    // keys the codegen cache on the generated source, so a stage that AQE
    // numbers differently on the next run was compiled again. Without the
    // id it reuses its class. Classes compiled over three passes in one
    // JVM (4 cores, id -> no id): the perfbench `batch` queries at sf0.01
    // 195/22/18 -> 178/15/15 (warm: s8 alone); p14, p53, g16, g38, s8,
    // p24, p27 and p54 at sf0.1 370/48/24 -> 319/15/19 (warm: s8, and p14
    // once). Store commits and reads still compile 2-4 classes each:
    // per-call literals, not stage ids.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    spark
  }
}
