package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec

/** Plan-shape gates for the round-5 operators: the properties that make
  * them 100 TB-viable are PLAN facts, not result facts, so the oracle
  * can't see them — assert them on the executed tree directly.
  */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: kids.flatMap(flatten)
  }

  private def executed(name: String): Seq[SparkPlan] = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.collect()
    flatten(df.queryExecution.executedPlan)
  }

  test("q30 interval join runs as an equi join, not a nested loop") {
    val nodes = executed("q30_intervalbucket")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "bucketized interval join degenerated to BroadcastNestedLoopJoin")
  }

  test("h18 ranks series via TakeOrdered, never a partitionless window") {
    val nodes = executed("h18_topseries")
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "expected TakeOrderedAndProject for the top-N series selection")
    val badWindow = nodes.collect { case w: WindowExec => w }
      .filter(_.partitionSpec.isEmpty)
    assert(badWindow.isEmpty, "partitionless window in h18")
  }

  test("q8 range join runs as an equi join on the hour-bucket key") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val nodes = executed("q8_range")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "range join degenerated to BroadcastNestedLoopJoin")
    // the equi key must carry BOTH user and hour-bucket: that is what
    // splits a hot user across time buckets (SkewStress's 16×). At
    // sf0.001 AQE may pick any hash-equi strategy — all three count.
    val equiKeys = nodes.collect {
      case j: SortMergeJoinExec    => j.leftKeys.length
      case j: ShuffledHashJoinExec => j.leftKeys.length
      case j: BroadcastHashJoinExec => j.leftKeys.length
    }
    assert(equiKeys.nonEmpty && equiKeys.max >= 2,
      s"expected a 2-key (user, bucket) equi join, got key counts $equiKeys")
  }

  test("p37 domain cap: both rank windows are partitioned") {
    // phase 1 partitions by (source, salt), phase 2 by source — a
    // partitionless window here would re-create exactly the hot-domain
    // single-task sort the two-phase design exists to avoid
    val nodes = executed("p37_domaincap")
    val bad = nodes.collect { case w: WindowExec => w }
      .filter(_.partitionSpec.isEmpty)
    assert(bad.isEmpty, "partitionless window in p37")
  }

  test("p38 count-min: sketch probe is a broadcast join, no windows") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val nodes = executed("p38_cmsketch")
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "expected the 4096-cell sketch to broadcast onto the top-15 probe")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "count-min path should be pure aggregation, no window")
  }

  test("q33 distribution windows are partitioned by month") {
    val nodes = executed("q33_distwindow")
    val bad = nodes.collect { case w: WindowExec => w }
      .filter(_.partitionSpec.isEmpty)
    assert(bad.isEmpty, "partitionless window in q33")
  }

  test("p32 subword encoding plans no window at all") {
    val nodes = executed("p32_subword")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "p32 should be joins + aggregates + a typed per-word fold")
  }

  test("p33 line dedup: keep-first is an aggregate, four shuffles max") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nodes = executed("p33_linededup")
    // keep-first must be the map-side-combinable min(struct) agg + a
    // streaming join probe — a lid window would sort a corpus-wide
    // boilerplate line's whole group in one task
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "p33 planned a window; keep-first must be the skew-robust aggregate")
    // line extraction stays narrow over the scan: shuffles are lid
    // (firsts agg + join probe), doc_id (rebuild), the output sort
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 4,
      s"p33 planned ${shuffles.length} shuffles; expected <= 4 " +
        "(lid agg, lid join probe, per-doc rebuild, output order)")
  }

  test("p40 boilerplate strip: doc-frequency is an aggregate, no window") {
    val nodes = executed("p40_boilerplate")
    // the (source, lid) doc-frequency must be a map-side-combinable
    // aggregate chain — a window would sort a domain-wide boilerplate
    // line's whole group in one task (DupStress covers the wall-time)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "p40 planned a window; doc-frequency must be the combinable aggregate")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "p40 planned a nested-loop join")
  }

  test("q35 KMV quantile: the sample is TakeOrdered, never a global sort of the data") {
    import org.apache.spark.sql.execution.SortExec
    val nodes = executed("q35_kmvquantile")
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "expected TakeOrderedAndProject for the bottom-K hash sample")
    // any full Sort must sit above the 256-row sample boundary: a
    // global sort that reaches the scan WITHOUT passing through the
    // TakeOrdered node would be sorting the raw table
    val bigSorts = nodes.collect { case s: SortExec if s.global => s }
    bigSorts.foreach { s =>
      val sub = flatten(s)
      val touchesScan = sub.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.FileSourceScanExec])
      val throughSample = sub.exists(_.isInstanceOf[TakeOrderedAndProjectExec])
      assert(!touchesScan || throughSample,
        "q35 globally sorts the raw scan — the sample must come from TakeOrdered")
    }
  }

  test("q34 full outer: both sides pre-aggregated below the join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val nodes = executed("q34_fullouter")
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, "expected a sort-merge full outer join")
    // aggregates must sit BELOW the join (the shuffle carries one row
    // per (user, day) per side, never raw events)
    smj.foreach { j =>
      def hasAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        flatten(p).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec])
      assert(hasAgg(j.left) && hasAgg(j.right),
        "q34's join consumes raw events; aggregates must be below the join")
    }
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 3,
      s"q34 planned ${shuffles.length} shuffles; expected <= 3 " +
        "(one per aggregate side + the output order)")
  }

  test("q31 lateral decorrelates to broadcast joins + rank-limit pushdown") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val nodes = executed("q31_lateral")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "correlated LATERAL fell back to a nested-loop join")
    // the per-region LIMIT 2 must plan as WindowGroupLimit (rank
    // pushdown before the full window sort), not a per-row re-scan
    assert(nodes.exists(_.isInstanceOf[WindowGroupLimitExec]),
      "expected WindowGroupLimit from the decorrelated LATERAL LIMIT")
    val badWindow = nodes.collect { case w: WindowExec => w }
      .filter(_.partitionSpec.isEmpty)
    assert(badWindow.isEmpty, "partitionless window in q31")
  }

  test("p35 substr dedup: keep-first is an aggregate, never a hot-key window") {
    val nodes = executed("p35_substrdedup")
    // first-occurrence selection must be the map-side-combinable
    // min(struct) aggregate + streaming join probe — a span-hash
    // window would sort the whole group of a million-fold duplicated
    // span in one task
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "p35 planned a window; keep-first must be the skew-robust aggregate")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "p35 planned a nested-loop join")
  }

  test("p34 PQ: codebook and LUT stay broadcast; windows partitioned") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val nodes = executed("p34_pq")
    // the corpus side must meet codebook and LUT as broadcast hash
    // joins — a shuffled or nested-loop join there would move O(N)
    // rows for an O(M*K) table
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "PQ degenerated to a nested-loop join")
    assert(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
      "expected codebook + LUT to join as broadcasts")
    val badWindow = nodes.collect { case w: WindowExec => w }
      .filter(_.partitionSpec.isEmpty)
    assert(badWindow.isEmpty, "partitionless window in p34")
  }

  test("p48/p50: bigram stats plan zero windows; totals broadcast") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    for (name <- Seq("p48_kneserney", "p50_pmi")) {
      val nodes = executed(name)
      // the bigram stream is a zip_with explode over the scan — any
      // WindowExec here would mean a token-stream sort crept in
      assert(!nodes.exists(_.isInstanceOf[WindowExec]),
        s"window in $name's plan")
      // the one-row type/bigram total meets the counts as a broadcast
      // (crossJoin of a 1-row aggregate plans as BroadcastNestedLoop —
      // the correct shape for an O(1) stats table; what must NOT
      // appear is a SHUFFLED cartesian)
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"shuffled cartesian in $name")
      assert(nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) ||
        nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"no broadcast in $name — the totals table shuffled?")
    }
  }

  test("p51: apportionment never plans a partitionless window") {
    val nodes = executed("p51_stratified")
    val bad = nodes.collect { case w: WindowExec => w }
      .filter(_.partitionSpec.isEmpty)
    assert(bad.isEmpty,
      "partitionless window in p51 — the seat ranking must ride the " +
        "sorted-array posexplode, the doc rank the per-source window")
  }

  test("q39: the RANGE frame window is partitioned by series") {
    val nodes = executed("q39_rangeframe")
    val ws = nodes.collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "expected a WindowExec in q39")
    assert(ws.forall(_.partitionSpec.nonEmpty),
      "partitionless RANGE window in q39")
  }

  test("q37: funnel is aggregates + equi joins, no window, no NLJ") {
    val nodes = executed("q37_funnel")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "q37 must not sort the raw event stream in a window")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "nested-loop join in q37")
  }

  /** File scans of `table` in the final adaptive plan of `name`. A
    * reused exchange is a leaf of the flattened tree, so the subtree it
    * reuses (and the scans in it) counts once.
    */
  private def scans(name: String, table: String): Int =
    executed(name).count {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.getName == s"$table.parquet")
      case _ => false
    }

  // each funnel stage left-joins the previous stage's per-user frame
  // with its own filtered events scan (RelationalQueries.firstAfter)
  test("q42: one events scan per funnel stage (reused exchanges count once)") {
    val n = scans("q42_funnel3", "events")
    assert(n <= 3, s"q42 plans $n events scans, want <= 3")
  }

  test("q37: one events scan per funnel stage (reused exchanges count once)") {
    val n = scans("q37_funnel", "events")
    assert(n <= 2, s"q37 plans $n events scans, want <= 2")
  }

  test("h36: each series side scans events once, filtered below the lww agg") {
    val n = scans("h36_seriesdiv", "events")
    assert(n <= 2, s"h36 plans $n events scans, want <= 2")
  }

  /** every nested-loop join in `nodes` must be a bounded fan-out: its
    * broadcast side produced at most `cap` rows (the O(K)/O(|S|)
    * centroid/totals pattern) — a corpus-sized nested loop would blow
    * far past it. Reads the executed exchange's numOutputRows metric.
    */
  private def assertBoundedNlj(nodes: Seq[SparkPlan], cap: Long): Unit = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
    val nljs = nodes.filter(_.isInstanceOf[BroadcastNestedLoopJoinExec])
    nljs.foreach { j =>
      val bx = flatten(j).collect {
        case b: BroadcastExchangeLike => b: SparkPlan
        case r: ReusedExchangeExec    => r.child
      }
      assert(bx.nonEmpty, "nested-loop join without a broadcast side")
      val rowMetrics = bx.flatMap(b => b.metrics.collectFirst {
        case (k, m) if k.toLowerCase.contains("numrows") ||
          k.toLowerCase.contains("numoutputrows") => m.value
      })
      assert(rowMetrics.nonEmpty,
        s"no row metric on broadcast side (have ${bx.map(_.metrics.keys)})")
      val rows = rowMetrics.min
      assert(rows <= cap,
        s"nested-loop broadcast side produced $rows rows (cap $cap) — " +
          "this is a corpus-sized cross join, not a bounded fan-out")
    }
  }

  test("p54 JSD: corpus scans aggregate before the pair join; no window") {
    val nodes = executed("p54_jsd")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "p54 must not window the token stream")
    // the pair frame is totals × totals — a |sources|²-bounded cross
    // join is the INTENDED plan; what must never happen is a nested
    // loop whose broadcast side is corpus-sized
    assertBoundedNlj(nodes, cap = 64)
  }

  test("p55 Zipf: top-200 cut is TakeOrdered; rank window is post-cut") {
    val nodes = executed("p55_zipf")
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "vocab cut must be TakeOrderedAndProject, not a global sort")
    // the one (bounded) rank window must sit ABOVE the TakeOrdered in
    // the tree — i.e. no WindowExec may have corpus-scale input; with
    // the cut in place the window's child subtree contains the
    // TakeOrdered node
    val ws = nodes.collect { case w: WindowExec => w }
    assert(ws.nonEmpty && ws.forall(w =>
      flatten(w).exists(_.isInstanceOf[TakeOrderedAndProjectExec])),
      "rank window must run over the 200-row cut, never the vocabulary")
  }

  test("p56 IVFPQ: centroid fan-out bounded; probes/codebook broadcast") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val nodes = executed("p56_ivfpq")
    // the corpus × centroids distance scan is a nested loop BY DESIGN
    // — an O(K) fan-out, K=8 — but its broadcast side must stay K-
    // bounded; everything keyed (codebook, probes, LUT) hash-joins
    assertBoundedNlj(nodes, cap = 64)
    assert(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
      "cells/probes/LUT should ride broadcast hash joins")
    val ws = nodes.collect { case w: WindowExec => w }
    assert(ws.forall(_.partitionSpec.nonEmpty),
      "partitionless window in p56")
  }

  test("p57 hash-embed: two aggregates, zero windows, zero joins") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val nodes = executed("p57_hashembed")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "p57 must not window the token stream")
    assert(!nodes.exists(n => n.isInstanceOf[BroadcastHashJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "the hashing trick needs no join at all — that is its point")
  }

  test("p6 path choice at bench SF is pinned (measured fallback, not silent)") {
    // The sf fixtures' embeddings are ISOTROPIC (flat eigenspectrum):
    // measured cell radii ~77° exceed arccos(τ)≈62°, so NO exact method
    // can centroid-prune and the uniform block-sharded fallback is the
    // correct executed path (qualFrac hits 1.0). This pin makes any
    // silent flip LOUD in both directions: if a data/testdata change
    // makes the pruned path fire here, or a code change degrades the
    // clustered-data case (PipelineScaleSpec asserts pruned=true there),
    // one of the two gates trips and BENCH_NOTES must be updated.
    val df = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val (_, st) = graft.pipeline.Embeddings.thresholdCosineTopKWithStats(
      df, k = 50, kCent = 32, iters = 2, maxQualFrac = 0.6)
    info(s"sf0.1: pruned=${st.pruned} qualFrac=${st.qualFrac}")
    assert(!st.pruned && st.qualFrac == 1.0,
      s"p6's path at sf0.1 flipped (pruned=${st.pruned}, " +
        s"qualFrac=${st.qualFrac}) — re-measure and update BENCH_NOTES")
  }

  test("thresholdPairs generator choice is pinned on both corpus shapes") {
    // Saturated-vocabulary side (the sf fixtures): window-vs-prefix
    // volume ratio stays ~1.35 at every SF, under the 8× per-row cost
    // gap GenCompare measured (sf0.1 counting 1.7 s vs prefix 2.3 s;
    // sf1 7.0 vs 47.3; sf10 ~620 vs 2332) — the pick must be the
    // counting probe.
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val ids = graft.pipeline.TextOps.shinglesOfText(docs, "doc_id", "text", 3)
      .select(col("doc_id"), xxhash64(col("shingle")).as("vid"))
      .distinct()
    graft.pipeline.Jaccard.thresholdPairs(ids, "doc_id", tau = 0.7)
      .write.format("noop").mode("overwrite").save()
    val dec = graft.pipeline.Jaccard.lastGenerator.get
    info(s"sf0.1 decision: $dec")
    assert(dec.startsWith("counting:"),
      s"thresholdPairs generator at sf0.1 flipped ($dec) — re-measure " +
        "with GenCompare and update BENCH_NOTES")

    // Zipfian mixed-size side: globally-common tokens inside SHORT
    // docs' windows each drag their WHOLE posting list into the
    // counting probe (wdf·df) while prefix candidates stay C(pdf,2) —
    // 300 long docs carry 5 hot tokens everywhere; 100 short docs of
    // 5 tokens put those hot tokens in their ℓ=2/m=4 windows. The
    // ratio explodes past the cost gap and the pick must be prefix.
    import spark.implicits._
    val zipf = (
      (0 until 600).flatMap { d =>
        ((0L to 4L) ++ (0 until 40).map(i => 100L + d * 40L + i))
          .map(v => (d + 1000L, v))
      } ++
      (0 until 100).flatMap { d =>
        Seq(0L, 1L, 2L, 3L, 4L).map(v => (d.toLong, v)) }
    ).toDF("doc_id", "vid").distinct()
    graft.pipeline.Jaccard.thresholdPairs(zipf, "doc_id", tau = 0.7)
      .write.format("noop").mode("overwrite").save()
    val dec2 = graft.pipeline.Jaccard.lastGenerator.get
    info(s"zipfian decision: $dec2")
    assert(dec2.startsWith("prefix:"),
      s"thresholdPairs generator on the Zipfian fixture flipped ($dec2)")
  }

  test("h38/h41: series stats are aggregates; top-N via TakeOrdered") {
    val f = executed("h38_seriesfilter")
    assert(!f.exists(_.isInstanceOf[WindowExec]), "h38 plans no window")
    val a = executed("h41_aliassub")
    assert(a.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "h41's top-3 must be TakeOrderedAndProject")
    val ws = a.collect { case w: WindowExec => w }
    assert(ws.isEmpty, "h41 plans no window")
  }

  test("g9/g12/g13: percentile/selection join back by broadcast; global windows only over aggregated per-series frames") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    for (q <- Seq("g9_target", "g12_target", "g13_target")) {
      val nodes = executed(q)
      // the per-series stat (one row per series) must broadcast back
      // onto the data, never co-shuffle it. g13's percentile side is a
      // SINGLE constant-named series, so Catalyst folds the equi key
      // away and plans a one-row BroadcastNestedLoopJoin — O(N) over a
      // broadcast single row, equally sound; its build side must still
      // be the aggregate-bounded frame
      val bnljOverAgg = nodes.collect {
        case j: BroadcastNestedLoopJoinExec => j }.exists(j =>
          flatten(j.right).exists(_.isInstanceOf[BaseAggregateExec]) ||
          flatten(j.left).exists(_.isInstanceOf[BaseAggregateExec]))
      assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]) || bnljOverAgg,
        s"$q: expected the bounded per-series frame to broadcast")
      assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"$q: sort-merge join where one side is one row per series")
      // a partitionless window is legal ONLY over a frame an aggregate
      // has already bounded to one row per series — over raw buckets it
      // would be the single-task global sort the façade must never plan
      nodes.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          assert(flatten(w.child).exists(_.isInstanceOf[BaseAggregateExec]),
            s"$q: partitionless window directly over unaggregated rows")
        }
    }
  }

  test("g18/g22: tag predicates filter directly above the scan, below the lww agg") {
    // the taggedUniverse builds the tagged name BEFORE the lww agg so a
    // seriesByTag selection references a grouping column and Catalyst
    // pushes it below the aggregate — the property that prunes a 100 TB
    // raw-event scan before the agg shuffle. A silent reorder of the
    // universe construction would undo it without changing results, so
    // pin the plan fact: some Filter carrying the tag regex sits with
    // the parquet scan in its subtree and NO shuffle in between.
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    for (q <- Seq("g18_seriesbytag", "g22_groupbytags")) {
      val nodes = executed(q)
      val pushed = nodes.collect { case f: FilterExec => f }.exists { f =>
        val sub = flatten(f)
        sub.exists(_.isInstanceOf[FileSourceScanExec]) &&
          !sub.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
          { val c = f.condition.toString
            c.contains("RLIKE") || c.contains("regexp_extract") }
      }
      assert(pushed, s"$q: tag predicate not pushed below the agg shuffle")
    }
  }

  test("g29/g30: render-tail trailing windows are partitioned per series") {
    for (q <- Seq("g29_groupbyint", "g30_movingwindow")) {
      val bad = executed(q).collect { case w: WindowExec => w }
        .filter(_.partitionSpec.isEmpty)
      assert(bad.isEmpty, s"$q plans a partitionless window")
    }
  }

  test("facade top-k (highest/limit) is TakeOrdered, never a single-task sort") {
    // the highest/lowest/limit rank used to ride an unpartitioned
    // row_number window — safe only because the per-series frame is
    // bounded, but still a one-task sort of the whole series catalog
    // at 4M series. The h18 TakeOrdered shape merges per-partition
    // top-k at the driver instead; pin it for the facade forms.
    import graft.operators.GraphiteTarget
    import spark.implicits._
    val uni = (0 until 64).map { i =>
      (s"cpu;dc=dc${i % 2};host=h$i",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(3600L * (i % 4))),
        i.toDouble)
    }.toDF("series", "bucket", "value")
    for (t <- Seq("highest(seriesByTag('dc=dc0'), 3, 'max')",
                  "highestAverage(cpu*, 3)",
                  "limit(seriesByTag('dc=dc1'), 2)")) {
      val df = GraphiteTarget.eval(t, uni, 3600)
      df.collect()
      val nodes = this.flatten(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        s"$t: expected TakeOrderedAndProject for the top-k series cut")
      val bad = nodes.collect { case w: WindowExec => w }
        .filter(_.partitionSpec.isEmpty)
      assert(bad.isEmpty, s"$t plans a partitionless window")
    }
  }

  test("facade inventory sweep: no probe plans a partitionless window") {
    // r11 verdict item 3: the no-partitionless-window pin extended from
    // the three top-k forms to the WHOLE function inventory — every
    // declared function's known-valid probe (functionProbes) runs
    // through the executed-plan walker, so the next facade function
    // cannot silently reintroduce a single-task sort of the series
    // universe (the shape g36's seriesLists rank carried until this
    // round: its pairing now rides a distributed sorted zipWithIndex).
    import graft.operators.GraphiteTarget
    import spark.implicits._
    def ts(h: Int) =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(h * 3600L))
    val uni = Seq(
      ("m.a", ts(0), 1.0), ("m.a", ts(1), 2.0),
      ("m.a", ts(2), 4.0), ("m.a", ts(3), 3.0),
      ("m.b", ts(0), 10.0), ("m.b", ts(1), 10.0),
      ("m.b", ts(2), 20.0), ("m.b", ts(3), 40.0)
    ).toDF("series", "bucket", "value")
    val bad = GraphiteTarget.functionInventory.flatMap { case (_, fn) =>
      val p = GraphiteTarget.functionProbes(fn)
      val df = GraphiteTarget.render(Seq(p), uni, 3600,
        fromSec = 0L, untilSec = 4 * 3600L)
      df.collect()
      val nodes = this.flatten(df.queryExecution.executedPlan)
      val badW = nodes.collect { case w: WindowExec => w }
        .filter(_.partitionSpec.isEmpty)
      if (badW.nonEmpty) Some(fn) else None
    }
    assert(bad.isEmpty,
      s"inventory probes planning partitionless windows: $bad")
  }

  test("store fetch and fetchMulti merge with a hash aggregate, never a sort aggregate") {
    import graft.core.{Archive, ArchivePolicy}
    import graft.store.HoardStore
    import graft.store.HoardStore.RawPoint
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    val now = 1700000000L
    val s = HoardStore.create(spark, tmpDir("plan-fetch") + "/store",
      ArchivePolicy(Seq(Archive(60, 1440), Archive(3600, 720))))
    s.updateMany((0 until 20).map(i => RawPoint(s"h${i % 4}.cpu", now - 3000 + i * 60, i)), now)
    s.updateMany(Seq(RawPoint("h0.cpu", now - 3000, 99.0)), now)
    Seq("fetch" -> s.fetch("h0.cpu", now - 3600, now, now)._2,
      "fetchMulti" -> s.fetchMulti(s.seriesGlob("h*.cpu"), now - 3600, now, now)._2)
      .foreach { case (name, df) =>
        df.collect()
        val nodes = flatten(df.queryExecution.executedPlan)
        assert(nodes.exists(_.isInstanceOf[HashAggregateExec]),
          s"$name planned no hash aggregate")
        assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]),
          s"$name planned a sort aggregate")
      }
  }

  test("a whole-stage stage under a new stage number reuses its compiled classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.{count, lit, sum}
    // shapes no other test plans, so their classes are compiled here first
    val sums = spark.range(0, 4000, 1, 4)
      .groupBy((col("id") % 13).as("k")).agg(sum(col("id") * 7919).as("v"))
    val counts = spark.range(0, 3000, 1, 3)
      .groupBy((col("id") % 11).as("k")).agg(count(lit(1)).as("v"))
    sums.collect()
    counts.collect()
    // as a union branch after `counts`, each `sums` stage gets a new id
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rows = counts.union(sums).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(rows.length == 24)
    info(s"the union compiled $compiled classes")
    assert(compiled == 0, s"the renumbered stages compiled $compiled classes")
  }
}
