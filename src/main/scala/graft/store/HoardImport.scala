package graft.store

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Migration path from on-disk whisper/hoard binary files into the
  * engine (`src/hoard.coffee:392-424` header, `:426-513` rings): a
  * one-shot import that recreates the file's policy as a [[HoardStore]]
  * and loads each archive into the matching level AS-IS.
  *
  * Levels are loaded verbatim rather than re-aggregated because a
  * whisper file's coarse archives carry independently-propagated
  * history far older than the fine archives' retention (e.g. the
  * reference's `test/large.whisper` daily ring reaches 3 years back,
  * its hourly ring 1 year) — recomputing rollups from the fine ring
  * would silently truncate that history.
  *
  * Scale shape: the rings are decoded by the DSv2 whisper source
  * ([[graft.sources.WhisperSource]]: distributed listing, size-binned
  * multi-file partitions, executor-side decode), so a directory of
  * millions of graphite files imports as an embarrassingly-parallel
  * scan. Only ONE header is read driver-side (to derive the store
  * policy).
  */
object HoardImport {

  /** Driver-side header peek of one local file. */
  def headerOf(path: String): WhisperFormat.Header =
    WhisperFormat.header(Files.readAllBytes(Paths.get(path)))

  /** One-shot migration: create a store at `root` with the policy of
    * the first file (by sorted path, anywhere in the tree) under `path`
    * and bulk-load every archive ring into its level. All files must
    * share the policy (steps are validated against it; distinct-step
    * check is O(#archives)). A missing `path` is refused by the
    * source's listing (`PATH_NOT_FOUND`, naming it); an existing
    * directory without ring files by the `require` below.
    */
  def intoStore(spark: SparkSession, path: String, root: String,
                cf: String = "avg"): HoardStore = {
    // the source's own listing, so the header file is one the read sees
    val files = graft.sources.WhisperSource.listFilesWithSize(Seq(path)).map(_._1)
    require(files.nonEmpty, s"no .whisper/.hoard files under $path")
    val policy = headerOf(new HPath(files.min).toUri.getPath).policy(cf)
    val st = HoardStore.create(spark, root, policy)

    // one parse of every file, shared by all level loads
    val rows = spark.read.format("whisper").load(path)
      .withColumn("ts", col("ts").cast("long"))
      .localCheckpoint(eager = true)
    val fileSteps = rows.select("step").distinct().collect()
      .map(_.getLong(0)).toSet // bounded by archive count
    val policySteps = policy.sorted.map(_.step).toSet
    require(fileSteps.subsetOf(policySteps),
      s"file archives $fileSteps do not all match policy steps $policySteps" +
        " — mixed-policy trees must be imported per policy group")

    policy.sorted.foreach { ar =>
      st.importArchive(ar,
        rows.where(col("step") === ar.step).select("series_id", "ts", "value"))
    }
    rows.unpersist()
    st
  }
}
