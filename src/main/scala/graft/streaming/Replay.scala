package graft.streaming

import graft.Scratch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Replays a fixture through Structured Streaming to completion — the
  * one shape every s-query shares. Each checks the claim *Structured
  * Streaming* (SIGMOD 2018) builds on: a stream replayed to its end
  * equals the batch answer. Inputs and checkpoints live under
  * [[graft.Scratch]].
  */
object Replay {

  /** Frames staged as files by [[stage]]. */
  final class Staged private[Replay] (dir: String, format: String, head: DataFrame) {
    /** A new stream over the staged files: one file per micro-batch,
      * in staging order.
      */
    def stream(): DataFrame = head.sparkSession.readStream.schema(head.schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "part-*")
      .format(format).load(dir)
  }

  /** Write each frame as one `format` file under a scratch directory.
    * AvailableNow orders files by modification time, so the files get
    * strictly increasing pinned mtimes: the replay keeps frame order
    * even when the writes land inside one filesystem tick.
    */
  def stage(name: String, frames: Seq[DataFrame], format: String = "parquet"): Staged = {
    val dir = Scratch.dir(s"$name-in")
    frames.zipWithIndex.foreach { case (f, i) =>
      f.coalesce(1).write.format(format).save(s"$dir/b$i")
      new java.io.File(s"$dir/b$i").listFiles()
        .foreach(_.setLastModified(1000000000000L + i * 60000L))
    }
    new Staged(dir, format, frames.head)
  }

  /** Start a query on a fresh scratch checkpoint, drain it, record its
    * progress under `name` ([[StreamStats]]) and stop it. `start` gets
    * the checkpoint path and must use an AvailableNow trigger.
    */
  def runQuery(name: String)(start: String => StreamingQuery): Unit = {
    val q = start(Scratch.dir(s"$name-ckpt"))
    try {
      q.processAllAvailable()
      StreamStats.record(name, q)
    } finally q.stop()
  }

  /** [[runQuery]] for a configured writer, under an AvailableNow trigger. */
  def run(name: String, out: DataStreamWriter[_]): Unit =
    runQuery(name)(ckpt => out.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start())

  private val views = new java.util.concurrent.atomic.AtomicLong()

  /** Replay `df` into a memory sink in `mode` and return the sink's
    * rows. The sink's temp view is dropped before this returns: the
    * returned frame's plan holds the rows, so they are freed with the
    * frame instead of staying in the catalog for the rest of the JVM.
    */
  def toMemory(name: String, df: DataFrame, mode: String): DataFrame = {
    val view = s"${name}_${views.incrementAndGet()}"
    val s = df.sparkSession
    try {
      run(name, df.writeStream.outputMode(mode).format("memory").queryName(view))
      s.table(view)
    } finally s.catalog.dropTempView(view)
  }
}
