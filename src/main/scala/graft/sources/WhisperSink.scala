package graft.sources

import graft.core.Archive
import graft.store.WhisperFormat
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** DSv2 WRITE path for the reference's binary format — the sink twin
  * of [[WhisperSource]]: `df.write.format("whisper").options(...)
  * .save(dir)` turns a series frame (the source's own schema:
  * series_id, step, ts, value) into a graphite tree of ring files any
  * whisper/graphite/hoard reader consumes. Round-trip contract:
  * `read(write(df)) == df` for in-retention, in-capacity rows.
  *
  * Spark-native scale shape: the Write REQUIRES a clustered
  * distribution on series_id plus a (series_id, step, ts) sort
  * (`RequiresDistributionAndOrdering`) — Spark itself plans the ONE
  * shuffle that co-locates each series, and every task then streams
  * its run of sorted rows into ring encodes with O(ring) memory, one
  * file per series, N-way parallel. No driver materialization, no
  * second pass. It exports ANY frame in the source schema; a store's
  * bulk export (`HoardExport.toWhisperTree`) is this sink fed the
  * store's live rings.
  *
  * Required options:
  *  - `archives`: the layout, "step:points[,step:points…]" (e.g.
  *    "3600:8760,86400:1095"); every row's step must name a level.
  *  - `now`: the export clock in epoch seconds — ALWAYS explicit,
  *    never wall time (the engine-wide §5.3 stance; the reference's
  *    unixTime() calls are exactly what rotted its tests).
  * Optional: `xff` (default 0.5, stored in the header).
  *
  * Task-retry safety: each task writes series files under an
  * attempt-unique temp name and renames into place on task COMMIT;
  * clustering guarantees a series belongs to exactly one partition, so
  * a speculative duplicate attempt produces byte-identical content and
  * the rename race is benign.
  */
object WhisperSink {

  private[graft] def parseArchives(spec: String): Seq[Archive] = {
    val ars = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
      val Array(step, points) = p.split(":", 2)
      Archive(step.trim.toLong, points.trim.toLong)
    }
    require(ars.nonEmpty, "whisper write: empty 'archives' option")
    require(ars.map(_.step).distinct.size == ars.size,
      s"whisper write: duplicate step in '$spec'")
    ars.sortBy(_.step)
  }
}

final class WhisperWriteBuilder(path: String, schema: StructType,
                                options: java.util.Map[String, String])
  extends WriteBuilder {

  override def build(): Write = {
    require(schema.fieldNames.toSeq == Seq("series_id", "step", "ts", "value"),
      "whisper write expects the source schema (series_id, step, ts, value); " +
        s"got (${schema.fieldNames.mkString(", ")})")
    val archives = WhisperSink.parseArchives(
      Option(options.get("archives")).getOrElse(
        throw new IllegalArgumentException(
          "whisper write: 'archives' option is required (step:points,…)")))
    val now = Option(options.get("now")).map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        "whisper write: 'now' (epoch seconds) is required — the export " +
          "clock is always explicit, never wall time"))
    val xff = Option(options.get("xff")).map(_.toFloat).getOrElse(0.5f)
    new WhisperWrite(path, archives, now, xff)
  }
}

final class WhisperWrite(path: String, archives: Seq[Archive],
                         now: Long, xff: Float)
  extends Write with RequiresDistributionAndOrdering with BatchWrite {

  // ONE shuffle, planned by Spark: all rows of a series in one task,
  // sorted so the writer is a single streaming pass
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity("series_id")))

  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.identity("series_id"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.identity("step"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.identity("ts"), SortDirection.ASCENDING))

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    new WhisperWriterFactory(path, archives.toArray, now, xff, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class WhisperWriteDone(files: Long) extends WriterCommitMessage

final class WhisperWriterFactory(dir: String, archives: Array[Archive],
                                 now: Long, xff: Float,
                                 conf: SerializableConfiguration)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WhisperDataWriter(dir, archives, now, xff, conf, taskId)
}

/** Streams (series_id, step, ts)-sorted rows; on each series boundary
  * encodes the buffered levels into one ring file. Memory = one
  * series' live points (bounded by ring capacity, enforced).
  */
final class WhisperDataWriter(dir: String, archives: Array[Archive],
                              now: Long, xff: Float,
                              conf: SerializableConfiguration, taskId: Long)
  extends DataWriter[InternalRow] {

  private val fs = new HPath(dir).getFileSystem(conf.value)
  private val steps = archives.map(_.step).toSet
  private var series: String = _
  private val byStep =
    scala.collection.mutable.Map.empty[Long, Vector[(Long, Double)]]
  private var written = 0L
  private val pending =
    scala.collection.mutable.Buffer.empty[(HPath, HPath)] // (tmp, final)

  private def flush(): Unit = {
    if (series == null) return
    val levels = archives.toSeq.map { ar =>
      val pts = byStep.getOrElse(ar.step, Vector.empty)
      require(pts.size <= ar.points,
        s"series $series level ${ar.step} holds ${pts.size} points > ring " +
          s"capacity ${ar.points}")
      (ar, pts: Seq[(Long, Double)])
    }
    val bytes = WhisperFormat.write(now, xff, levels)
    val rel = series.split('.').mkString("/") + ".whisper"
    val finalPath = new HPath(dir, rel)
    val tmp = new HPath(dir, rel + s".tmp-$taskId")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    pending += ((tmp, finalPath))
    written += 1
    byStep.clear()
  }

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(3)) return // an absent slot, not a value
    val s = row.getUTF8String(0).toString
    if (s != series) { flush(); series = s }
    val step = row.getLong(1)
    require(steps.contains(step),
      s"row step $step is not a configured archive level " +
        s"(${archives.map(_.step).mkString(",")})")
    val ts = row.getLong(2) / 1000000L // TimestampType micros → seconds
    byStep(step) = byStep.getOrElse(step, Vector.empty) :+ ((ts, row.getDouble(3)))
  }

  override def commit(): WriterCommitMessage = {
    flush()
    // task commit: rename every temp into place (clustering makes this
    // task the sole owner of its series; duplicate speculative commits
    // re-rename byte-identical files — benign)
    pending.foreach { case (tmp, fin) =>
      fs.delete(fin, false)
      if (!fs.rename(tmp, fin)) {
        fs.delete(tmp, false)
        require(fs.exists(fin), s"whisper write lost $fin")
      }
    }
    WhisperWriteDone(written)
  }

  override def abort(): Unit =
    pending.foreach { case (tmp, _) => fs.delete(tmp, false) }

  override def close(): Unit = ()
}
