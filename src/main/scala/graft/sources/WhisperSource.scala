package graft.sources

import graft.store.WhisperFormat
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** DataSource V2 for the reference's binary format: a graphite tree of
  * `.whisper`/`.hoard` ring files read as a DataFrame —
  * `spark.read.format("whisper").load(dir)` → one row per POPULATED
  * ring slot, schema (series_id, step, ts, value). This is the
  * engine's one ring-file reader: the migration-free query path (point
  * Spark at the live graphite data dir and join/aggregate it like any
  * table) and the decoder behind [[graft.store.HoardImport]]'s
  * one-shot store load.
  *
  * Scale shape (a graphite tree is millions of SMALL files, one per
  * series — reference model `src/hoard.coffee:30`):
  *  - DISTRIBUTED LISTING: the tree is expanded breadth-first on the
  *    driver only until the frontier is wide enough to fan out, then
  *    the recursive leaf listing runs as a Spark job across executors
  *    (the driver never walks millions of directory entries serially).
  *  - PARTITION PACKING: listed files are size-binned into
  *    multi-file [[WhisperFilePartition]]s using Spark's own
  *    maxPartitionBytes/openCostInBytes formula, so a million 4 KB
  *    rings become ~cores balanced tasks, not a million tasks.
  *  - SERIES-NAME FILTER PUSHDOWN: `where series_id = 'x'` (or IN)
  *    prunes the FILE LIST at planning time — the graphite convention
  *    names the file after the series, so equality filters never open
  *    (or even pack) a non-matching file.
  *  - executor-side ring decode, linear in file bytes.
  */
class WhisperSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "whisper"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WhisperSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new WhisperTable(Option(properties.get("path")).toSeq ++
      Option(properties.get("paths")).toSeq.flatMap(p =>
        p.stripPrefix("[").stripSuffix("]").split(",").map(
          _.trim.stripPrefix("\"").stripSuffix("\""))))
}

object WhisperSource {
  val Schema: StructType = StructType(Seq(
    StructField("series_id", StringType),
    StructField("step", LongType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  /** Frontier width at which listing fans out from the driver to a
    * Spark job (mirrors spark.sql.sources.parallelPartitionDiscovery
    * .threshold's default). */
  private val FanOutThreshold = 32

  /** Graphite layout inverted: the series name is the file path
    * RELATIVE to the load root with '/' → '.' (web/srv1/cpu.whisper
    * under root → web.srv1.cpu). Basename-only naming silently
    * DROPPED the tree prefix for nested series — caught by the sink
    * round-trip test; flat trees (and single-file roots) are
    * unaffected. `qualRoots` must be fs-qualified like listing output.
    */
  private[graft] def relativeSeries(qualRoots: Seq[String],
                                      path: String): String = {
    val root = qualRoots.filter(r => path.startsWith(r + "/") || path == r)
      .maxByOption(_.length)
    val rel = root.map(r => path.stripPrefix(r).stripPrefix("/"))
      .filter(_.nonEmpty)
      .getOrElse(path.substring(path.lastIndexOf('/') + 1))
    val noExt = {
      val d = rel.lastIndexOf('.')
      if (d > 0) rel.substring(0, d) else rel
    }
    noExt.replace('/', '.')
  }

  /** fs-qualified form of each root, matching listing output. */
  private[graft] def qualify(roots: Seq[String]): Seq[String] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    roots.map { r =>
      val p = new HPath(r)
      p.getFileSystem(conf).makeQualified(p).toString
    }
  }

  private def isRing(name: String): Boolean =
    name.endsWith(".whisper") || name.endsWith(".hoard")

  /** One directory level: (ring files with sizes, child dirs). */
  private def listLevel(conf: org.apache.hadoop.conf.Configuration,
                        dir: String): (Seq[(String, Long)], Seq[String]) = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(conf)
    val entries = fs.listStatus(p)
    val files = entries.iterator.filter(e =>
      e.isFile && isRing(e.getPath.getName))
      .map(e => (e.getPath.toString, e.getLen)).toSeq
    val dirs = entries.iterator.filter(_.isDirectory)
      .map(_.getPath.toString).toSeq
    (files, dirs)
  }

  /** Recursive leaf listing below one directory (runs on executors
    * after fan-out; the subtree under one frontier dir is bounded). */
  private def listTree(conf: org.apache.hadoop.conf.Configuration,
                       dir: String): Seq[(String, Long)] = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.Buffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (isRing(f.getPath.getName)) out += ((f.getPath.toString, f.getLen))
    }
    out.toSeq
  }

  /** Distributed listing: expand dirs breadth-first on the driver only
    * until the frontier reaches [[FanOutThreshold]], then finish as a
    * Spark job (one task per frontier dir, capped). Returns
    * (path, bytes) so packing can size-bin without a second FS call.
    * A root that does not exist is refused with `PATH_NOT_FOUND`
    * naming it, as Spark's file sources refuse a missing load path; an
    * existing empty directory lists no files.
    */
  private[graft] def listFilesWithSize(roots: Seq[String]): Seq[(String, Long)] = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val files = scala.collection.mutable.Buffer.empty[(String, Long)]
    var frontier = roots.flatMap { r =>
      val p = new HPath(r)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p))
        throw new AnalysisException("PATH_NOT_FOUND",
          Map("path" -> fs.makeQualified(p).toString))
      else if (fs.getFileStatus(p).isFile) {
        if (isRing(p.getName)) files += ((p.toString, fs.getFileStatus(p).getLen))
        Seq.empty
      } else Seq(p.toString)
    }
    while (frontier.nonEmpty && frontier.size < FanOutThreshold) {
      val levels = frontier.map(listLevel(conf, _))
      files ++= levels.flatMap(_._1)
      frontier = levels.flatMap(_._2)
    }
    if (frontier.nonEmpty) {
      val ser = new SerializableConfiguration(conf)
      files ++= spark.sparkContext
        .parallelize(frontier, math.min(frontier.size, 512))
        .flatMap(d => listTree(ser.value, d))
        .collect()
    }
    files.toSeq
  }

  /** Size-binned packing, Spark's FilePartition formula: target split
    * = min(maxPartitionBytes, max(openCost, total/parallelism)), files
    * first-fit-decreasing with openCost added per file so tiny rings
    * still amortize task overhead without unbounded partitions.
    * `maxBytesOpt`/`openCostOpt` are the source-level option overrides
    * (a 76-byte ring on local disk is much cheaper to open than the
    * 4 MB session default models for blob stores).
    */
  private[sources] def pack(spark: SparkSession,
                            files: Seq[(String, Long)],
                            maxBytesOpt: Option[Long] = None,
                            openCostOpt: Option[Long] = None): Array[Array[String]] = {
    if (files.isEmpty) return Array.empty
    val maxBytes = maxBytesOpt.getOrElse(
      spark.sessionState.conf.filesMaxPartitionBytes)
    val openCost = openCostOpt.getOrElse(
      spark.sessionState.conf.filesOpenCostInBytes)
    val parallelism = spark.sparkContext.defaultParallelism
    val total = files.map(_._2 + openCost).sum
    val split = math.min(maxBytes, math.max(openCost, total / parallelism))
    val bins = scala.collection.mutable.Buffer.empty[Array[String]]
    val cur = scala.collection.mutable.Buffer.empty[String]
    var curBytes = 0L
    files.sortBy(-_._2).foreach { case (path, len) =>
      val cost = len + openCost
      if (curBytes > 0 && curBytes + cost > split) {
        bins += cur.toArray; cur.clear(); curBytes = 0L
      }
      cur += path; curBytes += cost
    }
    if (cur.nonEmpty) bins += cur.toArray
    bins.toArray
  }
}

final class WhisperTable(paths: Seq[String]) extends Table
  with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"whisper(${paths.mkString(",")})"
  override def schema(): StructType = WhisperSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    // write is append-shaped: each series encodes to its own ring file
    // (per-file create-overwrite); use .mode("append")
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WhisperScanBuilder(paths,
      Option(options.get("maxPartitionBytes")).map(_.toLong),
      Option(options.get("openCostInBytes")).map(_.toLong))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(paths.size == 1,
      s"whisper write needs exactly one target path, got $paths")
    new WhisperWriteBuilder(paths.head, info.schema(), info.options())
  }
}

final class WhisperScanBuilder(paths: Seq[String],
                               maxBytesOpt: Option[Long] = None,
                               openCostOpt: Option[Long] = None)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = WhisperSource.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept series_id equality/IN — they prune the FILE LIST below;
    // everything else stays post-scan (returned = not fully handled;
    // we also return the accepted ones since a file can hold only one
    // series and Spark re-applying them is free)
    pushed = filters.filter {
      case EqualTo("series_id", _: String) => true
      case In("series_id", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val qualRoots = WhisperSource.qualify(paths)
    val files = WhisperSource.listFilesWithSize(paths)
      .map { case (p, len) =>
        (p, len, WhisperSource.relativeSeries(qualRoots, p)) }
      .filter { case (_, _, s) =>
        pushed.forall {
          case EqualTo("series_id", v: String) => s == v
          case In("series_id", vs) => vs.contains(s)
          case _ => true
        }
      }
    new WhisperScan(files, required, maxBytesOpt, openCostOpt)
  }
}

/** A size-binned group of whole ring files (rings are small by
  * construction — 16 + 24N header + 12/point — so files never split).
  */
final case class WhisperFilePartition(files: Array[String],
                                      series: Array[String]) extends InputPartition

final class WhisperScan(files: Seq[(String, Long, String)], required: StructType,
                        maxBytesOpt: Option[Long] = None,
                        openCostOpt: Option[Long] = None)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"WhisperScan[${files.size} files, cols=${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val seriesOf = files.map(f => f._1 -> f._3).toMap
    WhisperSource.pack(SparkSession.active,
        files.map(f => (f._1, f._2)), maxBytesOpt, openCostOpt)
      .map(fs => WhisperFilePartition(fs, fs.map(seriesOf)): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WhisperReaderFactory(required)
}

final class WhisperReaderFactory(required: StructType)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[WhisperFilePartition]
    val paths = part.files
    val names = part.series
    new PartitionReader[InternalRow] {
      private val conf = new org.apache.hadoop.conf.Configuration()
      private var fileIdx = 0
      private var series: UTF8String = _
      private var it: Iterator[WhisperFormat.Slot] = Iterator.empty
      private var cur: WhisperFormat.Slot = _

      // executor-side whole-file read through the Hadoop FS API: ring
      // files are small by construction (16 + 24N + 12·points bytes)
      private def openNext(): Boolean = {
        if (fileIdx >= paths.length) return false
        val p = new HPath(paths(fileIdx))
        fileIdx += 1
        val fs = p.getFileSystem(conf)
        val in = fs.open(p)
        val bytes = try {
          val len = fs.getFileStatus(p).getLen.toInt
          val buf = new Array[Byte](len)
          in.readFully(0, buf)
          buf
        } finally in.close()
        series = UTF8String.fromString(names(fileIdx - 1))
        it = WhisperFormat.slots(bytes)
        true
      }

      override def next(): Boolean = {
        while (!it.hasNext) if (!openNext()) return false
        cur = it.next(); true
      }

      override def get(): InternalRow =
        InternalRow.fromSeq(required.fieldNames.toSeq.map {
          case "series_id" => series
          case "step" => cur.step.toLong
          case "ts" => cur.ts * 1000000L // epoch micros
          case "value" => cur.value
        })

      override def close(): Unit = ()
    }
  }
}
