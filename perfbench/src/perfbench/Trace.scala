package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for an op's root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Counters Spark reports for the jobs run under one span's job group. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var runMs = 0L
  var scanRows = 0L
  var scanFiles = 0L
  /** task run times per stage, for skew */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** Largest max/median task time over stages that ran several tasks. */
  def skew: Double = {
    val r = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(1.0, med)
    }
    if (r.isEmpty) 1.0 else r.max
  }

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; runMs += o.runMs
    scanRows += o.scanRows; scanFiles += o.scanFiles
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }
}

/** Streaming `durationMs` phases and input rows of one micro-batch. */
final case class Progress(runId: String, phases: Map[String, Long], inputRows: Long)

/** The span recorder and the listener-based counters.
  *
  * Spans are kept in memory and written out when the run ends. A span
  * sets the Spark job group of its thread to its own id, so a listener
  * can attribute every job, stage and task to the innermost span that
  * caused it; a streaming query's jobs run under its run id, which
  * [[alias]] maps to a span. With `enabled = false` nothing is recorded
  * and no listener is registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val aliases = new ConcurrentHashMap[String, Long]()
  private val qeSpan =
    java.util.Collections.synchronizedMap(new java.util.IdentityHashMap[QueryExecution, Long]())
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"
  private val Prefix = "pb-"

  private def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .getOrElse("")
      e.stageIds.foreach(stageGroup.put(_, g))
      val c = counters(g)
      c.synchronized(c.jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageGroup.getOrDefault(e.stageId, ""))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.runMs += m.executorRunTime
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(qeSpan.remove(qe)).foreach { s =>
        val (rows, files) = Tracer.scanMetrics(qe.executedPlan)
        val c = counters(Prefix + s)
        c.synchronized { c.scanRows += rows; c.scanFiles += files }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      qeSpan.remove(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.add(Progress(p.runId.toString, p.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap, p.numInputRows))
    }
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  private val suspended = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Run `body` with span recording off on this thread, so a traced run
    * can interleave untraced ops and measure its own overhead.
    */
  def untraced[T](body: => T): T = {
    val was = suspended.get
    suspended.set(true)
    try body finally suspended.set(was)
  }

  /** Time `body` as a span named `name`; a root span starts a new op. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || suspended.get) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer.headOption.getOrElse((0L, id))
      stack.set((id, op) :: outer)
      val group = sc.getLocalProperty(GroupKey)
      sc.setJobGroup(Prefix + id, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, if (outer.isEmpty) 0L else parent, op, name, t0,
          System.nanoTime()))
        stack.set(outer)
        if (group == null) sc.clearJobGroup()
        else sc.setLocalProperty(GroupKey, group)
      }
    }

  /** Id of the innermost open span on this thread, or 0. */
  def current: Long = stack.get.headOption.map(_._1).getOrElse(0L)

  /** Attribute the jobs of job group `group` (a streaming run id) to `span`. */
  def alias(group: String, span: Long): Unit =
    if (enabled && !suspended.get) aliases.put(group, span)

  /** Micro-batches of the streams the harness started, not of streams
    * that run inside a declared query.
    */
  def ownProgress: Seq[Progress] =
    progress.asScala.toSeq.filter(p => aliases.containsKey(p.runId))

  /** Attribute the scan metrics of `qe` to the current span once it runs. */
  def bindScans(qe: QueryExecution): Unit =
    if (enabled) qeSpan.put(qe, current)

  /** Wait until the listeners have seen every event posted before now: a
    * fenced job's end arrives after all earlier events on the same queue.
    */
  def drain(): Unit = if (enabled) {
    val fence = span("trace.fence") { sc.parallelize(Seq(1), 1).count(); current }
    val deadline = System.nanoTime() + 30000000000L
    while (countersOf(fence).tasks < 1 && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.filterNot(_.name == "trace.fence")

  /** Counters of one span's own job group and of the groups aliased to it. */
  def countersOf(span: Long): Counters = {
    val c = new Counters
    val groups = (Prefix + span) +:
      aliases.asScala.collect { case (g, s) if s == span => g }.toSeq
    groups.flatMap(g => Option(byGroup.get(g))).foreach(o => o.synchronized(c.add(o)))
    c
  }

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val self = Tracer.selfTimes(allSpans)
    val lines = allSpans.sortBy(_.startNs).map { s =>
      val c = countersOf(s.id)
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},""" +
        f""""jobs":${c.jobs},"tasks":${c.tasks},"shuffle_bytes":${c.shuffleBytes},""" +
        f""""spill_bytes":${c.spillBytes},"scan_rows":${c.scanRows},"scan_files":${c.scanFiles}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Self time of each span: its duration minus the part of its interval
    * covered by its children (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.ns - covered)
    }.toMap
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: here.flatMap(nodes)
  }

  /** Rows and files read by the file scans of an executed plan. */
  def scanMetrics(plan: SparkPlan): (Long, Long) = {
    val scans = nodes(plan).filter(_.nodeName.startsWith("Scan"))
    def m(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numOutputRows")).sum, scans.map(m(_, "numFiles")).sum)
  }
}
