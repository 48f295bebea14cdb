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
    * and bulk-load every archive ring into its level in one
    * [[HoardStore.importArchive]], which publishes one version. All
    * files must share the policy: a ring at a step the policy lacks is
    * refused by the import, naming both step sets, and nothing is
    * published. A missing `path` is refused by the source's listing
    * (`PATH_NOT_FOUND`, naming it); an existing directory without ring
    * files by the `require` below.
    */
  def intoStore(spark: SparkSession, path: String, root: String,
                cf: String = "avg"): HoardStore = {
    // the source's own listing, so the header file is one the read sees
    val files = graft.sources.WhisperSource.listFilesWithSize(Seq(path)).map(_._1)
    require(files.nonEmpty, s"no .whisper/.hoard files under $path")
    val policy = headerOf(new HPath(files.min).toUri.getPath).policy(cf)
    val st = HoardStore.create(spark, root, policy)
    st.importArchive(spark.read.format("whisper").load(path)
      .select(col("step"), col("series_id"), col("ts").cast("long").as("ts"), col("value")))
    st
  }
}
