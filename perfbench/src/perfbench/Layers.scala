package perfbench

/** Per-layer metrics of a traced run, from the spans the workloads record
  * around their calls into each module and the counters attributed to
  * them. Every name in [[Names]] is reported on every workload; a layer a
  * workload does not exercise reads 0.
  */
object Layers {

  /** User-facing metrics of single workloads, kept beside the layers. */
  val UserFacing: Seq[String] = Seq("error_rate", "store_bytes_per_point",
    "fetch_ms_p50", "fetchmulti_ms_p50", "render_ms_p50",
    "writer_commit_ms_p50", "writer_lag_s", "batch_total_s")

  val Phases: Seq[String] = Seq("latestOffset", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution")

  val Names: Seq[String] =
    Seq("store.commit_ms", "store.commit.jobs", "store.commit.tasks",
      "store.commit.shuffle_bytes", "store.commit.spill_bytes",
      "store.write_bytes_per_point", "store.files",
      "store.fetch.build_ms", "store.fetch.exec_ms", "store.fetch.jobs",
      "store.fetchmulti.build_ms", "store.fetchmulti.exec_ms", "store.fetchmulti.jobs",
      "store.fetchmulti.rows_read_per_row_returned") ++
      Phases.map(p => s"streaming.${p}_ms") ++ Seq("streaming.input_rows_per_batch") ++
      Seq("parse_ms", "build_ms", "exec_ms", "jobs", "shuffle_bytes")
        .map(m => s"operators.render.$m") ++
      Batch.Families.flatMap(f => Seq("build_s", "exec_s", "jobs", "shuffle_bytes",
        "spill_bytes", "task_skew").map(m => s"queries.$f.$m")) ++
      Batch.Queries.map(q => s"queries.${Batch.id(q)}.s") ++
      Seq("jvm.gc_ms_share", "jvm.heap_used_peak_mb", "spark.jobs_per_op",
        "spark.executor_busy_share", "io.scratch_write_bytes", "trace.overhead_pct") ++
      UserFacing

  def fill(c: Ctx): Unit = {
    val tr = c.tracer
    val rep = c.rep
    val spans = tr.allSpans
    def named(n: String) = spans.filter(_.name == n)
    def p50ms(ss: Seq[Span]): Double =
      if (ss.isEmpty) 0.0 else Stats.median(ss.map(s => Main.ms(s.ns)))
    def counters(ss: Seq[Span]): Counters = {
      val c = new Counters
      ss.foreach(s => c.add(tr.countersOf(s.id)))
      c
    }
    def perSpan(ss: Seq[Span], f: Counters => Long): Double =
      if (ss.isEmpty) 0.0 else f(counters(ss)).toDouble / ss.size
    def set(k: String, v: Double): Unit = rep.layers(k) = v

    // store commits ride streaming micro-batches; addBatch is the commit
    // seen from the streaming side, and the batch's jobs are the commit's
    val progress = tr.ownProgress
    def phase(p: String): Double = {
      val xs = progress.flatMap(_.phases.get(p)).map(_.toDouble)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val commitSpans = named("streaming.batch")
    set("store.commit_ms", phase("addBatch"))
    set("store.commit.jobs", perSpan(commitSpans, _.jobs))
    set("store.commit.tasks", perSpan(commitSpans, _.tasks))
    set("store.commit.shuffle_bytes", perSpan(commitSpans, _.shuffleBytes))
    set("store.commit.spill_bytes", perSpan(commitSpans, _.spillBytes))
    Phases.foreach(p => set(s"streaming.${p}_ms", phase(p)))
    set("streaming.input_rows_per_batch",
      if (progress.isEmpty) 0.0 else progress.map(_.inputRows).sum.toDouble / progress.size)

    Seq("fetch", "fetchmulti").foreach { k =>
      set(s"store.$k.build_ms", p50ms(named(s"store.$k.build")))
      set(s"store.$k.exec_ms", p50ms(named(s"store.$k.exec")))
      set(s"store.$k.jobs", perSpan(named(s"store.$k.exec"), _.jobs) +
        perSpan(named(s"store.$k.build"), _.jobs))
    }
    val fmExec = named("store.fetchmulti.exec")
    set("store.fetchmulti.rows_read_per_row_returned", {
      val read = counters(fmExec).scanRows
      val returned = rep.info.get("fetchmulti_rows_returned").map(_.toLong).getOrElse(0L)
      if (returned == 0) 0.0 else read.toDouble / returned
    })

    Seq("parse", "build", "exec").foreach(p =>
      set(s"operators.render.${p}_ms", p50ms(named(s"operators.render.$p"))))
    val render = named("operators.render.build") ++ named("operators.render.exec")
    val renders = named("dashboard.render").size
    set("operators.render.jobs",
      if (renders == 0) 0.0 else counters(render).jobs.toDouble / renders)
    set("operators.render.shuffle_bytes",
      if (renders == 0) 0.0 else counters(render).shuffleBytes.toDouble / renders)

    // queries: per family, summed over its queries' spans in the traced run
    val kids = spans.groupBy(_.parent)
    Batch.Families.foreach { f =>
      val roots = spans.filter(s => s.parent == 0 && s.name.startsWith("queries.") &&
        Batch.family(s.name.stripPrefix("queries.")) == f)
      val builds = roots.flatMap(r => kids.getOrElse(r.id, Nil).filter(_.name == "queries.build"))
      val execs = roots.flatMap(r => kids.getOrElse(r.id, Nil).filter(_.name == "queries.exec"))
      val all = counters(builds ++ execs)
      set(s"queries.$f.build_s", builds.map(_.ns).sum / 1e9)
      set(s"queries.$f.exec_s", execs.map(_.ns).sum / 1e9)
      set(s"queries.$f.jobs", all.jobs.toDouble)
      set(s"queries.$f.shuffle_bytes", all.shuffleBytes.toDouble)
      set(s"queries.$f.spill_bytes", all.spillBytes.toDouble)
      set(s"queries.$f.task_skew", if (roots.isEmpty) 0.0 else all.skew)
    }

    // process level: jobs per op and how busy the task slots were
    val roots = spans.filter(_.parent == 0)
    val all = counters(spans)
    set("spark.jobs_per_op", if (roots.isEmpty) 0.0 else all.jobs.toDouble / roots.size)
    val opMs = roots.map(s => Main.ms(s.ns)).sum
    set("spark.executor_busy_share",
      if (opMs <= 0) 0.0 else all.runMs / (opMs * c.spark.sparkContext.defaultParallelism))

    rep.layers("error_rate") = Stats.errorRate(math.max(1L, rep.attempted), rep.failed)
    rep.named.foreach { case (k, (v, _)) => if (UserFacing.contains(k)) rep.layers(k) = v }
    Names.foreach(n => if (!rep.layers.contains(n)) rep.layers(n) = 0.0)
  }
}
