package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (dev-loop subset;
    // the driver always calls with exactly two args = full dump)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(SparkEntry.queryNames(f)))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [name,...]")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(cores = cpus, appName = "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // a stale sentinel from a previous run must not mask this success
        Files.deleteIfExists(Paths.get(s"$outDir/$name.FAILED"))
        // Zero-rows guard: unless explicitly tagged allowEmpty, an empty
        // result means a source silently read nothing — delete the output
        // so the gate reports NO SPARK OUTPUT (loud) instead of comparing
        // an empty frame that might "pass" a buggy oracle.
        if (!SparkEntry.allowEmpty(name) &&
            spark.read.parquet(s"$outDir/$name").isEmpty) {
          System.err.println(s"[verify] $name ZERO ROWS (not allowEmpty) — " +
            "a source read nothing; output removed to fail the gate loudly")
          val p = new org.apache.hadoop.fs.Path(s"$outDir/$name")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // sentinel so a DataFrame-side crash can never silently vanish
        // from the gate (r09: three analysis-broken queries were simply
        // absent from CORRECTNESS_r09.json) — check_oracle.py reports
        // any <name>.FAILED as a hard failure
        scala.util.Try(Files.writeString(Paths.get(s"$outDir/$name.FAILED"),
          s"${e.getClass.getName}: ${e.getMessage}\n"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
