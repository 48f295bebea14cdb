package graft.queries

import graft.{Scratch, Tables}
import graft.streaming.Replay
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Q1–Q18: the general operator surface (SURVEY §2.4) — scan, aggregate,
  * every join shape, windows, set ops, scalar/array functions, subqueries.
  *
  * Cross-engine determinism rules used throughout:
  *  - SUMs of double columns go through DECIMAL(18,6) so partial-
  *    aggregation order cannot perturb low bits (both engines then hold
  *    bit-identical exact values; final CAST to DOUBLE is deterministic);
  *  - integer-valued doubles (l_quantity) sum exactly in any order and
  *    need no decimal detour;
  *  - Spark defaults that differ from DuckDB's types are cast explicitly
  *    (row_number int→long, year int→long, floor→long, length→long);
  *  - every query ends in a total ORDER BY.
  */
object RelationalQueries {

  /** The funnel step of q37/q42: `prev` (one row per user, its stage
    * time in `prevTs`) left-joined with the `eventType` events strictly
    * after that time, keeping the first as `out`. A user without one
    * keeps a null `out`, and so does a null user_id, as in the oracles'
    * inner-join-then-left-join form. Each stage frame has one consumer,
    * so the chain scans events once per stage with no subtree to reuse.
    */
  private def firstAfter(prev: DataFrame, prevTs: String, events: DataFrame,
                         eventType: String, out: String): DataFrame = {
    val next = events.where(col("event_type") === eventType)
      .select(col("user_id").as("__u"), col("ts").as("__ts"))
    prev.join(next, col("__u") === col("user_id") && col("__ts") > col(prevTs), "left")
      .groupBy(prev.columns.map(col): _*).agg(min(col("__ts")).as(out))
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact-sum helper: decimal partial sums, double result. */
  private def sumDec(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** Magnitude-unbounded money/value sums as exact integer cents
    * (the q2 pattern): every such column in the synthetic data is an
    * exact 2-decimal value, so the cents sum is integer-exact in both
    * engines at ANY scale factor, where ROUND(double, 6) runs out of
    * double precision — the sf10 correctness step caught q3/q29's
    * DECIMAL-sum-cast-to-double diverging in the last ulp at ~7.6e11
    * (double spacing there is 1.2e-4, coarser than the 6-decimal
    * round being asserted).
    */
  private def sumCents(c: Column): Column =
    sum(round(c * lit(100)).cast("long"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_scan" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate").between(
          expr("TIMESTAMP '1995-01-01 00:00:00'"),
          expr("TIMESTAMP '1995-03-31 00:00:00'")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
        // the tiebreakers make the ORDER BY total — without them cross-engine
        // tie order diverges once the table spans >1 file (seen at sf1).
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),

    "q2_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // Magnitude-unbounded sums are emitted as exact integers (cents /
      // 1e-4 units as BIGINT): prices and discounts are exact 2-decimal
      // values, so these sums are integer-exact in both engines at any SF,
      // where ROUND(double, 6) runs past double precision above ~1e10.
      val epCents  = round(col("l_extendedprice") * lit(100)).cast("long")
      val discPct  = round(col("l_discount") * lit(100)).cast("long")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // round BEFORE the long cast: Spark's double->long cast
          // truncates toward zero while DuckDB's CAST AS BIGINT rounds
          // half-even, so a non-integral quantity would diverge
          // cross-engine; ROUND first pins both engines to the same
          // integerization (same pattern as epCents/discPct)
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(epCents).as("sum_base_cents"),
          sum(epCents * (lit(100) - discPct)).as("sum_disc_e4"),
          (round(avg(col("l_quantity")) * lit(1e6)) / lit(1e6)).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q3_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // customer is the dimension side: broadcast to avoid shuffling orders
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sumCents(col("o_totalprice")).as("revenue_cents"))
        .orderBy("c_mktsegment")
    }),

    "q4_multijoin" -> ((s, dir) => {
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sumCents(col("o_totalprice")).as("revenue_cents"))
        .orderBy("r_name", "n_name")
    }),

    "q5_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    "q34_fullouter" -> ((s, dir) => {
      // FULL OUTER join: per-(user, day) click totals vs purchase
      // totals — a user-day with only one activity survives with nulls
      // on the other side, which no left/right pair expresses in one
      // pass. Both sides partial-aggregate BEFORE the join, so the
      // shuffle carries one row per (user, day) per side, never raw
      // events, and the join key equals the aggregation key (AQE
      // reuses the exchange — no second shuffle).
      val e = t(s, dir, "events")
      def side(kind: String, nAs: String, vAs: String) =
        e.where(col("event_type") === kind)
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as(nAs), sumCents(col("value")).as(vAs))
      side("click", "n_clicks", "click_cents")
        .join(side("purchase", "n_buys", "buy_cents"),
          Seq("user_id", "day"), "full_outer")
        .select(col("user_id"), col("day").cast("date").cast("string").as("day"),
          col("n_clicks"), col("click_cents"), col("n_buys"), col("buy_cents"))
        .orderBy("user_id", "day")
    }),

    "q36_listagg" -> ((s, dir) => {
      // Ordered string aggregation (LISTAGG / string_agg): per region,
      // the sorted CSV of its nations and of the distinct market
      // segments of those nations' customers. Deterministic by
      // construction — collect_list order is partitioning-dependent,
      // so the contract sorts INSIDE the aggregate (array_sort before
      // array_join), which also keeps it map-side combinable. Group
      // cardinality is bounded by the dimension (nations per region),
      // the precondition any listagg needs at scale.
      val n = t(s, dir, "nation").select(col("n_nationkey"),
        col("n_name"), col("n_regionkey"))
      val r = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      val c = t(s, dir, "customer").select(col("c_nationkey"),
        col("c_mktsegment"))
      val segs = c.join(n, col("c_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey"), col("c_mktsegment")).distinct()
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("c_mktsegment"))), ",")
          .as("segments"))
      n.groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations"))
        .join(segs, "n_regionkey")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("region"), col("n_nations"),
          col("nations"), col("segments"))
        .orderBy("region")
    }),

    "q41_mode" -> ((s, dir) => {
      // Deterministic MODE (ordered-set aggregate): the most frequent
      // l_quantity per return flag with an EXPLICIT tie rule — highest
      // count, then smallest value — because engine mode() builtins
      // leave ties unspecified and would hash-mismatch the moment two
      // values share the top count. Two partial-agg groupBys; the
      // final pick is one max(struct) over the (flag, value)-count
      // table (bounded by |flags|×|distinct quantities| — metadata
      // sized), no window anywhere.
      val cnt = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      cnt.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_distinct"),
          max(struct(col("c"), (-col("l_quantity")).as("nv"))).as("b"))
        .select(col("l_returnflag"), col("n_distinct"),
          (-col("b.nv")).as("mode_qty"), col("b.c").as("mode_count"))
        .orderBy("l_returnflag")
    }),

    "q40_corr" -> ((s, dir) => {
      // Correlation + population covariance from EXACT integer sums
      // (q38's moment discipline applied to two variables): quantity
      // is integer-valued, price rides cents; Σx, Σy, Σxy, Σx², Σy²
      // accumulate as DECIMAL(38,0) so partial-agg order can't show,
      // and only the final Pearson conversion floats — identical IEEE
      // op order both engines, sqrt (correctly rounded) not pow.
      // corr is scale-invariant so the cents cancel; covar divides
      // the one 100 back out.
      val e = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("y"))
      val agg = e.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      def r6(c: Column) = round(c * lit(1e6)) / lit(1e6)
      val nd = col("n").cast("double")
      val (sx, sy, sxy, sxx, syy) = (col("sx").cast("double"),
        col("sy").cast("double"), col("sxy").cast("double"),
        col("sxx").cast("double"), col("syy").cast("double"))
      val cov = sxy / nd - (sx / nd) * (sy / nd)
      val vx = sxx / nd - (sx / nd) * (sx / nd)
      val vy = syy / nd - (sy / nd) * (sy / nd)
      agg.select(col("l_returnflag"), col("n"),
        r6(cov / (sqrt(vx) * sqrt(vy))).as("corr"),
        r6(cov / lit(100.0)).as("covar_pop"))
        .orderBy("l_returnflag")
    }),

    "q39_rangeframe" -> ((s, dir) => {
      // Event-time RANGE frames: trailing 1-hour count + exact sum per
      // event over its series — the sliding aggregation whose frame is
      // a TIME interval, not a row count (q12's frames are ROWS). The
      // range key is epoch MICROS on both engines so the boundary
      // can't quantize differently; the sum rides decimal so peer
      // order can't show; RANGE includes ts-peers by definition on
      // both. Partitioned by series — no global sort.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"), col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
        .select(col("event_id"), col("event_type"), col("n_1h"),
          round(col("sum_1h"), 6).as("sum_1h"))
        .orderBy("event_id")
    }),

    "s17_streamhistogram" -> ((s, dir) => {
      // STREAMING numeric profile maintenance: q43's histogram kept
      // live over an order stream. Per-bin (count, min, max, sum) are
      // all associative/commutative merges, so the maintained profile
      // after any batching equals the one-pass batch histogram
      // EXACTLY — the oracle is q43's VERBATIM. State is O(bins);
      // each micro-batch contributes one map-side-combinable
      // aggregate + one merge join on the bin key.
      graft.Graft.configure(s)
      import s.implicits._
      val in = Replay.stage("s17_streamhistogram", (0 until 3).map(i =>
        Tables.load(s, dir, "orders")
          .where(pmod(col("o_orderkey"), lit(3)) === i)
          .select(col("o_orderkey"), col("o_totalprice"))))
      var state = Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("bin", "n_orders", "min_cents", "max_cents", "sum_cents")
      Replay.run("s17_streamhistogram", in.stream().writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bc = batch
            .select(((col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long")).as("cents"))
            .withColumn("bin", expr("cents div 2000000"))
            .groupBy(col("bin"))
            .agg(count(lit(1)).as("bn"), min(col("cents")).as("bmin"),
              max(col("cents")).as("bmax"), sum(col("cents")).as("bsum"))
          state = state.join(bc, Seq("bin"), "full_outer")
            .select(col("bin"),
              (coalesce(col("n_orders"), lit(0L)) +
                coalesce(col("bn"), lit(0L))).as("n_orders"),
              least(coalesce(col("min_cents"), col("bmin")),
                coalesce(col("bmin"), col("min_cents"))).as("min_cents"),
              greatest(coalesce(col("max_cents"), col("bmax")),
                coalesce(col("bmax"), col("max_cents"))).as("max_cents"),
              (coalesce(col("sum_cents"), lit(0L)) +
                coalesce(col("bsum"), lit(0L))).as("sum_cents"))
            .localCheckpoint(true) // (a) lineage cut: per-batch state fold
          ()
        })
      state
        .select(col("bin"), (col("bin") * 20000).as("bin_lo_usd"),
          col("n_orders"), col("min_cents"), col("max_cents"),
          col("sum_cents"))
        .orderBy("bin")
    }),

    "q45_nullsafejoin" -> ((s, dir) => {
      // null-safe equality join (Spark's <=>, SQL's IS NOT DISTINCT
      // FROM): two per-key aggregates joined on a NULLABLE key where
      // null must match null — the semantics a plain equi-join
      // silently drops (null = null is never true). The nullable key
      // is nullif(event_type, 'view'): the 'view' group becomes the
      // null key on both sides, and the null-matched row must appear
      // in the output exactly once. Null-safe joins still hash on the
      // key (null is one bucket) — no nested loop.
      val e = t(s, dir, "events")
        .withColumn("k", nullif(col("event_type"), lit("view")))
      val a = e.where(col("value") >= 50)
        .groupBy(col("k").as("ka")).agg(count(lit(1)).as("n_hi"))
      val b = e.where(col("value") < 50)
        .groupBy(col("k").as("kb")).agg(count(lit(1)).as("n_lo"))
      a.join(b, col("ka") <=> col("kb"), "full_outer")
        .select(coalesce(col("ka"), col("kb")).as("key_or_null"),
          when(col("ka").isNull && col("kb").isNull, 1L).otherwise(0L)
            .as("is_null_key"),
          col("n_hi"), col("n_lo"))
        .orderBy(col("is_null_key"), col("key_or_null"))
    }),

    "q44_schemaevolution" -> ((s, dir) => {
      // schema-evolution read: generation-1 files were written BEFORE
      // the `props` column existed, generation-2 files carry it — the
      // 100 TB reality that a long-lived table's files span schema
      // versions. mergeSchema unions the file schemas at planning
      // time and v1 rows surface the missing column as null; the
      // declared aggregate pins those null semantics (and the
      // partition-discovered `gen` column) against the oracle's
      // replay. Writing the two generations is part of the gate.
      val e = Tables.load(s, dir, "events")
      val tmp = Scratch.dir("graft-q44")
      e.where(pmod(col("event_id"), lit(2)) === 0)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      e.where(pmod(col("event_id"), lit(2)) === 1)
        .select("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(col("gen").cast("long").as("gen"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("props").isNull, 1L).otherwise(0L))
            .as("n_null_props"),
          sum(col("event_id")).as("id_sum"))
        .orderBy("gen")
    }),

    "q43_histogram" -> ((s, dir) => {
      // numeric profiling histogram: o_totalprice binned at a fixed
      // $20,000 width — the column-profile readout every data catalog
      // computes. Bin assignment is pure integer arithmetic (2-decimal
      // prices ride cents as exact BIGINTs, bin = cents div 2e6), so
      // no edge value can fall on different sides cross-engine; per-bin
      // sums are exact decimals. One map-side-combinable groupBy over
      // O(bins) output.
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      t(s, dir, "orders")
        .select(cents.as("cents"))
        .withColumn("bin", expr("cents div 2000000"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          sum(col("cents")).as("sum_cents"))
        .select(col("bin"), (col("bin") * 20000).as("bin_lo_usd"),
          col("n_orders"), col("min_cents"), col("max_cents"),
          col("sum_cents"))
        .orderBy("bin")
    }),

    "q42_funnel3" -> ((s, dir) => {
      // Three-stage funnel (view → click → purchase, each STRICTLY
      // later than the previous resolved stage): q37's two-aggregate
      // shape chained once more. Every stage is one filtered partial
      // min-aggregate + one equi-join on user_id (firstAfter); a user's
      // stage is how deep the chain resolves (0-indexed by furthest
      // reached); no window ever touches the raw stream. Timestamps
      // emit as epoch micros — integers on both engines.
      val e = t(s, dir, "events")
      val fv = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fv"))
      firstAfter(firstAfter(fv, "fv", e, "click", "fc"), "fc", e, "purchase", "fp")
        .select(col("user_id"),
          unix_micros(col("fv")).as("first_view_us"),
          unix_micros(col("fc")).as("first_click_us"),
          unix_micros(col("fp")).as("first_purchase_us"),
          (when(col("fp").isNotNull, 3L)
            .otherwise(when(col("fc").isNotNull, 2L).otherwise(1L)))
            .as("stage"))
        .orderBy("user_id")
    }),

    "q37_funnel" -> ((s, dir) => {
      // Funnel conversion: each user's first click, the first purchase
      // STRICTLY after it, and the conversion gap — the ordered-event
      // analysis sessionization (q24) doesn't answer. Two partial
      // min-aggregates and one equi-join on user_id (the natural
      // shuffle key); no window touches the raw event stream, so the
      // plan is two map-side-combinable aggs at any event volume.
      val e = t(s, dir, "events")
      val fc = e.where(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
      firstAfter(fc, "first_click", e, "purchase", "first_purchase")
        .select(col("user_id"),
          unix_micros(col("first_click")).as("first_click_us"),
          unix_micros(col("first_purchase")).as("first_purchase_us"),
          when(col("first_purchase").isNotNull, 1L).otherwise(0L)
            .as("converted"),
          (unix_micros(col("first_purchase"))
            - unix_micros(col("first_click"))).as("gap_us"))
        .orderBy("user_id")
    }),

    "q38_moments" -> ((s, dir) => {
      // Distributed higher-order statistics from EXACT integer power
      // sums: per event_type mean/variance/skewness/kurtosis where the
      // four power sums Σx..Σx⁴ accumulate in cents as DECIMAL(38,0)
      // (x⁴ of a 560.21 max value overflows BIGINT per-row — it rides
      // decimal too), so partial-aggregation order can NEVER show.
      // Only the final moment conversion floats, with the identical
      // IEEE operator order on both engines and m2·sqrt(m2) instead of
      // pow(m2,1.5) (sqrt is correctly rounded per IEEE-754; libm pow
      // is not) — skew/kurt are scale-invariant so cents cancel.
      val e = t(s, dir, "events")
        .withColumn("c",
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("x2", col("c") * col("c"))
      val agg = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("c").cast("decimal(38,0)")).as("s1"),
        sum(col("x2").cast("decimal(38,0)")).as("s2"),
        sum((col("x2") * col("c")).cast("decimal(38,0)")).as("s3"),
        sum(col("x2").cast("decimal(38,0)") * col("x2")).as("s4"))
      def r6(c: Column) = round(c * lit(1e6)) / lit(1e6)
      val nd = col("n").cast("double")
      val (s1, s2, s3, s4) = (col("s1").cast("double"),
        col("s2").cast("double"), col("s3").cast("double"),
        col("s4").cast("double"))
      val mean = s1 / nd
      val m2 = s2 / nd - mean * mean
      val m3 = s3 / nd - lit(3.0) * mean * (s2 / nd) +
        lit(2.0) * mean * mean * mean
      val m4 = s4 / nd - lit(4.0) * mean * (s3 / nd) +
        lit(6.0) * mean * mean * (s2 / nd) -
        lit(3.0) * mean * mean * mean * mean
      agg.select(col("event_type"), col("n"),
        r6(mean / lit(100.0)).as("mean"),
        r6(m2 / lit(10000.0)).as("variance"),
        r6(m3 / (m2 * sqrt(m2))).as("skewness"),
        r6(m4 / (m2 * m2) - lit(3.0)).as("kurtosis"))
        .orderBy("event_type")
    }),

    "q35_kmvquantile" -> ((s, dir) => {
      // deterministic sample-quantile sketch — q20's KMV idea applied
      // to quantiles: the sample is the K=256 rows whose unique row
      // key has the smallest 60-bit md5 prefix, a FIXED uniform row
      // sample reproducible on any engine or partitioning. Corpus-side
      // cost is ONE TakeOrderedAndProject (per-partition top-K by
      // hash, no global sort, no data shuffle); estimates read integer
      // ranks ceil(q*K) over the 256-row sample (the rank window sorts
      // 256 rows — a single tiny task by design). Estimator accuracy
      // vs the exact percentile is a separate ScalaTest gate; what IS
      // cross-engine exact is the sketch itself, so unlike
      // percentile_approx it CAN be oracle-checked.
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
      val sample = li.select(col("l_extendedprice").as("v"),
          graft.pipeline.TextOps.hashId(concat_ws("|",
            col("l_orderkey"), col("l_linenumber"))).as("hk"))
        .orderBy("hk").limit(256)
      val ranked = sample.withColumn("rn",
        row_number().over(Window.orderBy(col("v"))).cast("long"))
      val probe = s.createDataFrame(
        Seq((0.5d, 128L), (0.9d, 231L), (0.99d, 254L))) // k = ceil(q*256)
        .toDF("q", "k")
      ranked.join(broadcast(probe), col("rn") === col("k"))
        .select(col("q"), col("k"), round(col("v"), 6).as("est"))
        .orderBy("q")
    }),

    "q6_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").where(col("o_totalprice") > 400000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    }),

    "q7_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").where(col("o_totalprice") > 400000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    }),

    "q8_range" -> ((s, dir) => {
      // equi+range join, hour-bucket decomposed (q30's shape): the join
      // key is (user_id, hour-bucket of ts2), so a HOT user's group is
      // split across time buckets instead of concentrating the SMJ's
      // per-key O(n·m) residual scan in one task (SkewStress measured
      // the undecomposed join quadratic on a hot-key fixture). A click's
      // window (ts1, ts1+1h] spans exactly the buckets {b(ts1),
      // b(ts1)+1}, so clicks probe both and every matching pair lands in
      // exactly ONE bucket (the bucket of ts2) — same semantics, no
      // dedup. Unmatched exploded rows count 0 under the left join.
      val e = t(s, dir, "events")
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id").as("u1"), col("event_id"), col("ts").as("ts1"))
        .withColumn("cb", explode(array(
          floor(col("ts1").cast("long") / 3600),
          floor(col("ts1").cast("long") / 3600) + 1)))
      val others = e.select(col("user_id").as("u2"), col("ts").as("ts2"),
        floor(col("ts").cast("long") / 3600).as("ob"))
      clicks.join(others,
          col("u1") === col("u2") && col("cb") === col("ob") &&
            col("ts2") > col("ts1") &&
            col("ts2") <= col("ts1") + expr("INTERVAL 1 HOUR"), "left")
        .groupBy(col("event_id"))
        .agg(count(col("ts2")).as("n"))
        .orderBy("event_id")
    }),

    "q30_intervalbucket" -> ((s, dir) => {
      // interval join with NO equi key — every event joined to the
      // (non-aligned) busy-hour maintenance windows it falls in — via
      // the bucketized decomposition: windows explode to the hour
      // buckets they cover, events carry their single hour bucket,
      // and the join is an EQUI join on bucket + exact overlap
      // filter. A naive plan here is a BroadcastNestedLoopJoin that
      // compares every event to every window (O(N·W)); bucketization
      // keeps it a hash join whose probe cost is O(N) at any window
      // count, because a window only meets the events of the ~2
      // buckets it covers.
      val e = t(s, dir, "events")
      val hours = e.groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("nh"))
        .orderBy(col("nh").desc, col("h")).limit(50)
      val win = hours.select(
        (col("h") + expr("INTERVAL 17 MINUTES")).as("ws"),
        (col("h") + expr("INTERVAL 107 MINUTES")).as("we"))
      val winB = win.withColumn("bkt",
        explode(sequence(date_trunc("hour", col("ws")),
          date_trunc("hour", col("we")), expr("INTERVAL 1 HOUR"))))
      e.select(col("ts"), col("value"), date_trunc("hour", col("ts")).as("bkt"))
        .join(winB, "bkt")
        .where(col("ts") >= col("ws") && col("ts") < col("we"))
        .groupBy(col("ws"), col("we"))
        .agg(count(lit(1)).as("n"),
          sumCents(col("value")).as("sum_value_cents"))
        .select(col("ws").cast("string").as("ws"),
          col("we").cast("string").as("we"), col("n"), col("sum_value_cents"))
        .orderBy("ws")
    }),

    "q9_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    "q10_rollup" -> ((s, dir) => {
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_cust"),
          sumCents(col("c_acctbal")).as("acctbal_cents"))
        .select(coalesce(col("r_name"), lit("(all)")).as("r_name"),
          coalesce(col("n_name"), lit("(all)")).as("n_name"),
          col("gid"), col("n_cust"), col("acctbal_cents"))
        .orderBy("gid", "r_name", "n_name")
    }),

    "q29_groupingsets" -> ((s, dir) => {
      // explicit GROUPING SETS — the non-hierarchical slice list
      // neither rollup (q10) nor cube (q21) expresses: both 1-D
      // marginals plus the 2-D cell, and nothing else. One
      // partial-aggregated expand; gid disambiguates the all-rows
      // null from a genuine null exactly as in q10/q21.
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupingSets(
          Seq(Seq(col("c_mktsegment"), col("o_orderstatus")),
            Seq(col("c_mktsegment")), Seq(col("o_orderstatus"))),
          col("c_mktsegment"), col("o_orderstatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sumCents(col("o_totalprice")).as("revenue_cents"))
        .select(coalesce(col("c_mktsegment"), lit("(all)")).as("c_mktsegment"),
          coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
          col("gid"), col("n"), col("revenue_cents"))
        .orderBy("gid", "c_mktsegment", "o_orderstatus")
    }),

    "q11_rank" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val byPrice = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc)
      val stable = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(stable).cast("long").as("rn"),
          rank().over(byPrice).cast("long").as("rk"),
          dense_rank().over(byPrice).cast("long").as("drk"))
        .where(col("rn") <= 5)
        .orderBy("o_orderstatus", "rn")
    }),

    "q33_distwindow" -> ((s, dir) => {
      // distribution window functions — ntile / percent_rank /
      // cume_dist, the ANSI window family q11 (ranks) and q12 (frames)
      // leave undeclared. The order key ends in the unique o_orderkey
      // so no row has peers: ntile's split, percent_rank's
      // (rn-1)/(n-1) and cume_dist's rn/n are integer-derived single
      // divisions, deterministic cross-engine; the two ratios still
      // get the tie-safe rounding (rn/n CAN land on .xxxxxx5 exactly).
      // Partitioned by order month — the parallelism unit; never an
      // unpartitioned window.
      def r6(c: Column) = round(c * lit(1e6)) / lit(1e6)
      val o = t(s, dir, "orders")
      val m = date_format(col("o_orderdate"), "yyyy-MM")
      val w = Window.partitionBy(m)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.select(m.as("month"), col("o_orderkey"),
          round(col("o_totalprice"), 6).as("o_totalprice"),
          ntile(4).over(w).cast("long").as("quartile"),
          r6(percent_rank().over(w)).as("pct_rank"),
          r6(cume_dist().over(w)).as("cume"))
        .orderBy("month", "o_orderkey")
    }),

    "q12_frames" -> ((s, dir) => {
      val e = t(s, dir, "events").where(col("user_id") < 10)
        .withColumn("ts_sec", col("ts").cast("long"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val mw = w.rowsBetween(-3, Window.currentRow)
      // RANGE frame over epoch seconds: trailing-hour event count
      // (peer-inclusive, so second-ties are order-independent)
      val rw = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
        .rangeBetween(-3600, 0)
      e.select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("value"),
          round(lag(col("value"), 1).over(w), 6).as("lag_v"),
          round(lead(col("value"), 1).over(w), 6).as("lead_v"),
          (round((sum(col("value").cast("decimal(18,6)")).over(mw).cast("double") /
            count(col("value")).over(mw)) * lit(1e6)) / lit(1e6)).as("mavg4"),
          count(lit(1)).over(rw).as("trail_1h_n"))
        .orderBy("user_id", "event_id")
    }),

    "q21_cube" -> ((s, dir) => {
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .cube(col("r_name"), col("c_mktsegment"))
        .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n_cust"))
        .select(coalesce(col("r_name"), lit("(all)")).as("r_name"),
          coalesce(col("c_mktsegment"), lit("(all)")).as("c_mktsegment"),
          col("gid"), col("n_cust"))
        .orderBy("gid", "r_name", "c_mktsegment")
    }),

    "q22_percentile" -> ((s, dir) => {
      // exact percentiles (continuous interpolation — same formula as
      // DuckDB quantile_cont); approx_percentile stays out of the
      // oracle like other sketches
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, array(0.25))")(0), 6).as("p25"))
        .orderBy("event_type")
    }),

    "q23_regex" -> ((s, dir) => {
      // regex surface: predicate + extraction (pattern kept in the
      // Java-regex/RE2 common subset)
      t(s, dir, "documents")
        .where(col("text").rlike("the [a-z]+ (key|table)"))
        .select(col("doc_id"),
          regexp_extract(col("text"), "the ([a-z]+) (key|table)", 1)
            .as("adjective"))
        .orderBy("doc_id")
    }),

    "q24_session" -> ((s, dir) => {
      // native batch session windows (session_window): 2h-gap sessions
      // per user over event time — the declarative analogue of the
      // streaming sessionizer (s2). Exactly-gap-apart events MERGE
      // (adjacent windows coalesce — verified empirically), mirrored by
      // the oracle's strict > break; boundaries compare in exact
      // microseconds on both engines.
      t(s, dir, "events")
        .groupBy(col("user_id").cast("long").as("user_id"),
          session_window(col("ts"), "2 hours").as("sw"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_v"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("sess_start_us"),
          unix_micros(col("sw.end")).as("sess_end_us"),
          col("n"), col("sum_v"))
        .orderBy("user_id", "sess_start_us")
    }),

    "q25_pivot" -> ((s, dir) => {
      // pivot: one column per event type (pinned value list so the
      // output schema is static — at scale an unpinned pivot needs a
      // driver-side distinct pass first), decimal-exact sums per cell
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").cast("string")
          .as("bucket"))
        .pivot("event_type", types)
        .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6))
        .orderBy("bucket")
    }),

    "q26_unpivot" -> ((s, dir) => {
      // unpivot (melt): wide per-day metric columns back to long rows —
      // stack() is codegen'd and never shuffles on its own
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").cast("string")
          .as("bucket"))
        .agg(
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_v"),
          round(max(col("value")), 6).as("max_v"),
          count(lit(1)).cast("double").as("n"))
        .unpivot(Array(col("bucket")), Array(col("sum_v"), col("max_v"), col("n")),
          "metric", "metric_value")
        .select(col("bucket"), col("metric"),
          round(col("metric_value"), 6).as("metric_value"))
        .orderBy("bucket", "metric")
    }),

    "q13_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q14_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def keys(status: String) =
        o.where(col("o_orderstatus") === status).select("o_custkey")
      val f = keys("F"); val op = keys("O")
      val both = f.intersect(op).withColumn("tag", lit("both"))
      val fOnly = f.except(op).withColumn("tag", lit("f_only"))
      val oOnly = op.except(f).withColumn("tag", lit("o_only"))
      both.unionAll(fOnly).unionAll(oOnly)
        .select("tag", "o_custkey")
        .orderBy("tag", "o_custkey")
    }),

    "q15_scalar" -> ((s, dir) => {
      t(s, dir, "orders").where(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          upper(col("o_orderpriority")).as("pri_up"),
          substring(col("o_orderpriority"), 1, 3).as("pri3"),
          concat(col("o_orderstatus"), lit("-"),
            substring(col("o_orderpriority"), 1, 1)).as("cat"),
          length(col("o_orderpriority")).cast("long").as("plen"),
          year(col("o_orderdate")).cast("long").as("yr"),
          date_trunc("month", col("o_orderdate")).cast("date").cast("string").as("mon"),
          round(col("o_totalprice"), 2).as("price_r"),
          floor(col("o_totalprice")).cast("long").as("price_f"),
          abs(col("o_totalprice") * lit(-1.0)).as("price_abs"),
          pmod(col("o_orderkey"), lit(7)).as("m7"))
        .orderBy("o_orderkey")
    }),

    "q16_array" -> ((s, dir) => {
      t(s, dir, "embeddings").where(col("label").isin(1, 2, 3))
        .select(col("vec_id"), col("label"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("first_v"),
          round(element_at(col("embedding"), 64).cast("double"), 6).as("last_v"),
          (element_at(col("embedding"), 1) > 0).as("first_pos"))
        .orderBy("vec_id")
    }),

    "q17_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
          |WHERE o_totalprice > (
          |        SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6)))
          |                    AS DOUBLE) / COUNT(*)
          |        FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    "q31_lateral" -> ((s, dir) => {
      // correlated LATERAL derived table (the modern SQL-standard
      // surface for per-row top-N): for each region, the two nations
      // with the largest summed customer balance. Catalyst
      // decorrelates the lateral subquery into a join + partitioned
      // rank — same physical shape as q11, declared through LATERAL.
      t(s, dir, "region").createOrReplaceTempView("region")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(
        """SELECT r_name, nation, bal
          |FROM region,
          |LATERAL (
          |  SELECT n_name AS nation,
          |         ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
          |               AS DOUBLE), 6) AS bal
          |  FROM nation JOIN customer ON c_nationkey = n_nationkey
          |  WHERE n_regionkey = r_regionkey
          |  GROUP BY n_name
          |  ORDER BY bal DESC, nation LIMIT 2)
          |ORDER BY r_name, bal DESC, nation""".stripMargin)
    }),

    "q32_recursive" -> ((s, dir) => {
      // WITH RECURSIVE (new SQL surface in Spark 4) driving a TRUE
      // recurrence — a per-customer exponentially-decayed running
      // spend (acc = 0.5*acc_prev + price): no window frame can read
      // its own prior output, and the dyadic decay keeps every step's
      // IEEE ops identical across engines (the h20 recursive-CTE
      // argument, here on the RELATIONAL surface). Recursion depth is
      // each customer's order count — bounded per key, parallel
      // across keys.
      t(s, dir, "orders").createOrReplaceTempView("orders")
      // the recursion's TOTAL output is ~orders rows (≤12 per
      // customer) — at sf1 that exceeds the 1M-row default safety
      // limit, which guards against runaway recursion, not against
      // large-but-bounded ones like this (depth ≤ 12 by construction).
      // The cap is data-proportional (2·|orders|, from parquet
      // metadata), not a blanket 1e9: the conf is necessarily session-
      // wide (the returned DataFrame executes lazily AFTER this def, so
      // a try/finally restore would undo it before execution), and a
      // proportional cap keeps runaway-recursion protection meaningful
      // for every later recursive query in the same session.
      val cap = math.max(1000000L, 2L * t(s, dir, "orders").count() + 1000L)
      if (s.conf.get("spark.sql.cteRecursionRowLimit", "1000000").toLong < cap)
        s.conf.set("spark.sql.cteRecursionRowLimit", cap.toString)
      // Spark INLINES non-recursive CTEs, so the ranked+capped order
      // table would be re-windowed on every recursion level (one join
      // job per level); materialize it once and recurse over the
      // cached view — DuckDB materializes multiply-referenced CTEs on
      // its own, so the oracle keeps the single-statement form
      s.sql(
        """SELECT o_custkey, o_orderkey, o_totalprice,
          |       CAST(row_number() OVER (PARTITION BY o_custkey
          |         ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
          |FROM orders""".stripMargin)
        .where(col("rn") <= 12)
        .localCheckpoint(true) // (a) lineage cut: each recursion level reads it
        .createOrReplaceTempView("oc")
      s.sql(
        """WITH RECURSIVE r AS (
          |  SELECT o_custkey, o_orderkey, rn,
          |         CAST(o_totalprice AS DOUBLE) AS acc
          |  FROM oc WHERE rn = 1
          |  UNION ALL
          |  SELECT o.o_custkey, o.o_orderkey, o.rn,
          |         0.5 * r.acc + o.o_totalprice
          |  FROM r JOIN oc o ON o.o_custkey = r.o_custkey
          |   AND o.rn = r.rn + 1)
          |SELECT o_custkey, rn, o_orderkey,
          |       ROUND(acc * 1e6) / 1e6 AS decayed_spend
          |FROM r ORDER BY o_custkey, rn""".stripMargin)
    }),

    "q19_json" -> ((s, dir) => {
      // props is a JSON object column; extract a typed field and
      // aggregate it (engine surface: get_json_object / from_json)
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    "q20_approx" -> ((s, dir) => {
      // Deterministic KMV (k-minimum-values) distinct sketch, k=256
      // (Bar-Yossef 2002): h = first 60 bits of md5(custkey), integer
      // arithmetic both engines compute bit-identically — so unlike
      // HLL++ the sketch IS oracle-checkable (HLL++ itself stays gated
      // at 3*rsd in PipelineScaleSpec). Estimator: n<=k → exact, else
      // (k-1)*2^60/h_(k); FLOOR (tie-free), never ROUND. exact_cust
      // counts distinct 60-bit hashes (≡ distinct custkeys up to a
      // ~2^-40 collision, identically on both engines).
      //
      // Scale shape: the per-group rank sorts only survivors of the
      // n-adaptive hash cut h < 8k/n·2^60 (~2k rows per group at ANY
      // n), not all n distinct hashes; the cut keeps ≥k rows w.p.
      // 1-e^-200 and both engines apply it identically either way.
      val k = 256
      val two60 = 1.152921504606846976e18
      val hashes = t(s, dir, "orders").select(col("o_orderstatus"),
          conv(substring(md5(col("o_custkey").cast("string")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .distinct()
      val n = hashes.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      val survivors = hashes.join(broadcast(n), "o_orderstatus")
        .where(col("n") <= k * 8 ||
          col("h") < (lit(8.0 * k) * lit(two60) / col("n").cast("double"))
            .cast("long"))
      val w = Window.partitionBy("o_orderstatus").orderBy("h")
      survivors.withColumn("rn", row_number().over(w))
        .groupBy(col("o_orderstatus"), col("n"))
        .agg(max(when(col("rn") === k, col("h"))).as("hk"))
        .select(col("o_orderstatus"), col("n").as("exact_cust"),
          when(col("hk").isNull, col("n"))
            .otherwise(floor(lit((k - 1).toDouble) * lit(two60) /
              col("hk").cast("double")))
            .as("approx_cust"))
        .orderBy("o_orderstatus")
    }),

    "q18_condagg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("bucket"))
        .agg(
          round(sum(when(col("event_type") === "click", col("value"))
            .cast("decimal(18,6)")).cast("double"), 6).as("click_v"),
          round(sum(when(col("event_type") === "purchase", col("value"))
            .cast("decimal(18,6)")).cast("double"), 6).as("purchase_v"),
          count(when(col("event_type") === "click", lit(1))).as("n_click"),
          count(lit(1)).as("n"))
        .select(col("bucket").cast("date").cast("string").as("bucket"), col("click_v"),
          col("purchase_v"), col("n_click"), col("n"))
        .orderBy("bucket")
    }),

    "q28_formats" -> ((s, dir) => {
      // non-parquet sources: customer staged as CSV (header, quoted
      // strings) and nation as JSON-lines, both read back with EXPLICIT
      // schemas (no inference pass — at 100 TB schema inference is a
      // full extra scan) through Spark's vectorized text readers, then
      // a broadcast dim join + decimal-exact aggregate. The oracle runs
      // the same query on the original parquet: the round-trip must be
      // value-exact (doubles survive via shortest-round-trip repr).
      val base = formatsDir(s, dir)
      val cust = s.read.schema(t(s, dir, "customer").schema)
        .option("header", "true").csv(s"$base/customer_csv")
      val nat = s.read.schema(t(s, dir, "nation").schema)
        .json(s"$base/nation_json")
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
          sumCents(col("c_acctbal")).as("acctbal_cents"))
        .orderBy("n_name")
    }),

    "q27_bucketjoin" -> ((s, dir) => {
      // bucket-co-located join: both fact tables are written bucketed +
      // sorted by the join key, so the SortMergeJoin reads bucket i
      // against bucket i with NO Exchange on either side — at 100 TB
      // this is THE layout for repeatedly-joined fact tables (bucket
      // once at ingest, every subsequent join is shuffle-free). The
      // merge hint pins SMJ so the gate proves the bucketing (a
      // broadcast would trivially skip the shuffle at fixture size);
      // LayoutSpec asserts zero shuffles below the join.
      val li = bucketed(s, dir, "lineitem", "l_orderkey")
      val o = bucketed(s, dir, "orders", "o_orderkey")
      li.hint("merge")
        .join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1.0) - col("l_discount")).cast("decimal(18,6)"))
            .cast("double"), 2).as("revenue"))
        .orderBy("o_orderpriority")
    })
  )

  /** CSV/JSON staging for q28, once per (JVM, sfDir): the engine's own
    * parquet rows re-exported through the text writers so the read path
    * under test consumes files with real quoting/escaping, not
    * hand-built fixtures.
    */
  private def formatsDir(s: SparkSession, dir: String): String =
    Scratch.memo(("formats", dir)) {
      val tmp = Scratch.dir("graft-formats")
      t(s, dir, "customer").write.option("header", "true")
        .mode("overwrite").csv(s"$tmp/customer_csv")
      t(s, dir, "nation").write.mode("overwrite").json(s"$tmp/nation_json")
      tmp
    }

  /** The table written as a bucketed+sorted copy (8 buckets on `key`),
    * created once per (session, sfDir) and reused — the ingest-time cost
    * that buys every later join its shuffle-freedom. External-path
    * tables so the warehouse never lands inside the repo.
    */
  private[queries] def bucketed(s: SparkSession, dir: String, table: String,
                                key: String): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val name = s"graft_bkt_${table}_$tag"
    val path = Scratch.memo("graft-buckets")(Scratch.dir("graft-buckets")) + s"/$name"
    // a surviving catalog entry whose external data dir was cleaned (or
    // predates a regenerated fixture) would otherwise serve stale rows:
    // reuse only when the data path still exists AND is at least as new
    // as the source fixture; drop and rewrite on any mismatch
    val fresh = s.catalog.tableExists(name) && {
      val d = new java.io.File(path)
      d.isDirectory && d.lastModified >=
        new java.io.File(s"$dir/$table.parquet").lastModified
    }
    if (!fresh) {
      if (s.catalog.tableExists(name)) s.sql(s"DROP TABLE $name")
      graft.store.Layout.writeBucketedAt(
        t(s, dir, table), name, path, Seq(key), buckets = 8)
    }
    s.table(name)
  }

  private val oraclesBase: Map[String, String] = Map(
    // the KMV sketch replayed in DuckDB with the identical integer/IEEE
    // sequence: 60-bit md5 prefix, n-adaptive cut, rank, (k-1)*2^60/h_k
    "q20_approx" ->
      """WITH h AS (
        |  SELECT DISTINCT o_orderstatus,
        |         CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
        |              AS BIGINT) AS h
        |  FROM orders),
        |n AS (SELECT o_orderstatus, COUNT(*) AS n FROM h GROUP BY o_orderstatus),
        |f AS (
        |  SELECT h.o_orderstatus, h.h, n.n
        |  FROM h JOIN n USING (o_orderstatus)
        |  WHERE n.n <= 2048
        |     OR h.h < CAST(2048.0 * 1.152921504606846976e18
        |                   / CAST(n.n AS DOUBLE) AS BIGINT)),
        |r AS (
        |  SELECT o_orderstatus, n, h,
        |         row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rn
        |  FROM f)
        |SELECT o_orderstatus, n AS exact_cust,
        |       COALESCE(CAST(FLOOR(255.0 * 1.152921504606846976e18 /
        |                CAST(MAX(CASE WHEN rn = 256 THEN h END) AS DOUBLE))
        |                AS BIGINT), n) AS approx_cust
        |FROM r GROUP BY o_orderstatus, n
        |ORDER BY o_orderstatus""".stripMargin,
    "q1_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
        |                     AND TIMESTAMP '1995-03-31 00:00:00'
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q2_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        | CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        |          (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
        | ROUND(AVG(l_quantity) * 1e6) / 1e6 AS avg_qty,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        | CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q4_multijoin" ->
      """SELECT r_name, n_name, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q5_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    // FULL OUTER with explicit key coalesce (USING-coalesce semantics
    // match Spark's Seq-key full outer); NULL ordering: day is cast to
    // VARCHAR so the total ORDER BY key set is never null
    "q34_fullouter" ->
      """WITH c AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |         COUNT(*) AS n_clicks,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |           AS click_cents
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |         COUNT(*) AS n_buys,
        |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |           AS buy_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT COALESCE(c.user_id, b.user_id) AS user_id,
        |       CAST(CAST(COALESCE(c.day, b.day) AS DATE) AS VARCHAR) AS day,
        |       c.n_clicks, c.click_cents, b.n_buys, b.buy_cents
        |FROM c FULL JOIN b ON c.user_id = b.user_id AND c.day = b.day
        |ORDER BY user_id, day""".stripMargin,

    // sort-inside-the-aggregate makes listagg order engine-neutral
    "q36_listagg" ->
      """WITH segs AS (
        |  SELECT n_regionkey,
        |         string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
        |           AS segments
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_regionkey),
        |nats AS (
        |  SELECT n_regionkey, COUNT(*) AS n_nations,
        |         string_agg(n_name, ',' ORDER BY n_name) AS nations
        |  FROM nation GROUP BY n_regionkey)
        |SELECT r_name AS region, n_nations, nations, segments
        |FROM nats JOIN segs USING (n_regionkey)
        |          JOIN region ON n_regionkey = r_regionkey
        |ORDER BY region""".stripMargin,

    // same tie rule spelled as a window: count desc, value asc
    "q41_mode" ->
      """WITH cnt AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS c
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |pick AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_count
        |  FROM cnt
        |  QUALIFY row_number() OVER (PARTITION BY l_returnflag
        |                             ORDER BY c DESC, l_quantity) = 1),
        |nd AS (SELECT l_returnflag, COUNT(*) AS n_distinct FROM cnt
        |       GROUP BY l_returnflag)
        |SELECT p.l_returnflag, nd.n_distinct, p.mode_qty, p.mode_count
        |FROM pick p JOIN nd USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    // exact HUGEINT cross sums; Pearson conversion mirrors the Spark
    // operator order, sqrt·sqrt not pow
    "q40_corr" ->
      """WITH b AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
        |         SUM(x*x) AS sxx, SUM(CAST(y AS HUGEINT)*y) AS syy
        |  FROM b GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
        |         CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
        |         CAST(syy AS DOUBLE) AS syy
        |  FROM a)
        |SELECT l_returnflag, n,
        |  ROUND((sxy/nd - (sx/nd)*(sy/nd))
        |        / (sqrt(sxx/nd - (sx/nd)*(sx/nd))
        |           * sqrt(syy/nd - (sy/nd)*(sy/nd))) * 1e6) / 1e6 AS corr,
        |  ROUND((sxy/nd - (sx/nd)*(sy/nd)) / 100.0 * 1e6) / 1e6
        |    AS covar_pop
        |FROM d ORDER BY l_returnflag""".stripMargin,

    // numeric epoch-micros RANGE key so the 1h boundary is exact on
    // both engines; decimal sum so peer order can't show
    "q39_rangeframe" ->
      """SELECT event_id, event_type,
        |       COUNT(*) OVER w AS n_1h,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w
        |             AS DOUBLE), 6) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // epoch-micros ints, not ts strings — fractional-second VARCHAR
    // trimming is the one formatting seam the engines could disagree on
    // IS NOT DISTINCT FROM mirrors Spark's <=>; the 'view' group is
    // the null key and must match itself exactly once
    "q45_nullsafejoin" ->
      """WITH e AS (
        |  SELECT nullif(event_type, 'view') AS k, value FROM events),
        |a AS (SELECT k, COUNT(*) AS n_hi FROM e WHERE value >= 50
        |      GROUP BY k),
        |b AS (SELECT k, COUNT(*) AS n_lo FROM e WHERE value < 50
        |      GROUP BY k)
        |SELECT COALESCE(a.k, b.k) AS key_or_null,
        |       CAST(CASE WHEN a.k IS NULL AND b.k IS NULL
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_null_key,
        |       a.n_hi, b.n_lo
        |FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY is_null_key, key_or_null""".stripMargin,

    // v1 rows (even ids) have no props column => all null; v2 keeps
    // the raw column's own null profile
    "q44_schemaevolution" ->
      """SELECT CAST(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END
        |            AS BIGINT) AS gen,
        |       COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1
        |                     WHEN props IS NULL THEN 1
        |                     ELSE 0 END) AS BIGINT) AS n_null_props,
        |       CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events
        |GROUP BY CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END
        |ORDER BY gen""".stripMargin,

    // integer cents binning; exact per-bin sums
    "q43_histogram" ->
      """WITH c AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders)
        |SELECT cents // 2000000 AS bin,
        |       (cents // 2000000) * 20000 AS bin_lo_usd,
        |       COUNT(*) AS n_orders,
        |       CAST(MIN(cents) AS BIGINT) AS min_cents,
        |       CAST(MAX(cents) AS BIGINT) AS max_cents,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM c GROUP BY cents // 2000000 ORDER BY bin""".stripMargin,

    // q37's chained-stage shape, one more hop; stage = furthest reached
    "q42_funnel3" ->
      """WITH fv AS (
        |  SELECT user_id, MIN(ts) AS fv
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |fc AS (
        |  SELECT e.user_id, MIN(e.ts) AS fc
        |  FROM events e JOIN fv ON fv.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > fv.fv
        |  GROUP BY e.user_id),
        |fp AS (
        |  SELECT e.user_id, MIN(e.ts) AS fp
        |  FROM events e JOIN fc ON fc.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > fc.fc
        |  GROUP BY e.user_id)
        |SELECT fv.user_id,
        |       epoch_us(fv.fv) AS first_view_us,
        |       epoch_us(fc.fc) AS first_click_us,
        |       epoch_us(fp.fp) AS first_purchase_us,
        |       CAST(CASE WHEN fp.fp IS NOT NULL THEN 3
        |                 WHEN fc.fc IS NOT NULL THEN 2
        |                 ELSE 1 END AS BIGINT) AS stage
        |FROM fv
        | LEFT JOIN fc ON fc.user_id = fv.user_id
        | LEFT JOIN fp ON fp.user_id = fv.user_id
        |ORDER BY fv.user_id""".stripMargin,

    "q37_funnel" ->
      """WITH fc AS (
        |  SELECT user_id, MIN(ts) AS first_click
        |  FROM events WHERE event_type = 'click' GROUP BY user_id),
        |fp AS (
        |  SELECT e.user_id, MIN(e.ts) AS first_purchase
        |  FROM events e JOIN fc ON fc.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > fc.first_click
        |  GROUP BY e.user_id)
        |SELECT fc.user_id,
        |       epoch_us(fc.first_click) AS first_click_us,
        |       epoch_us(fp.first_purchase) AS first_purchase_us,
        |       CAST(CASE WHEN fp.first_purchase IS NULL THEN 0 ELSE 1 END
        |            AS BIGINT) AS converted,
        |       epoch_us(fp.first_purchase) - epoch_us(fc.first_click)
        |         AS gap_us
        |FROM fc LEFT JOIN fp ON fp.user_id = fc.user_id
        |ORDER BY fc.user_id""".stripMargin,

    // exact HUGEINT power sums in cents; the float moment conversion
    // mirrors the Spark operator order, sqrt not pow
    "q38_moments" ->
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         SUM(c) AS s1, SUM(c*c) AS s2, SUM(c*c*c) AS s3,
        |         SUM(CAST(c*c AS HUGEINT) * (c*c)) AS s4
        |  FROM b GROUP BY event_type),
        |d AS (
        |  SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
        |         CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
        |         CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4
        |  FROM a)
        |SELECT event_type, n,
        |  ROUND((s1/nd) / 100.0 * 1e6) / 1e6 AS mean,
        |  ROUND((s2/nd - (s1/nd)*(s1/nd)) / 10000.0 * 1e6) / 1e6
        |    AS variance,
        |  ROUND((s3/nd - 3.0*(s1/nd)*(s2/nd)
        |         + 2.0*(s1/nd)*(s1/nd)*(s1/nd))
        |        / ((s2/nd - (s1/nd)*(s1/nd))
        |           * sqrt(s2/nd - (s1/nd)*(s1/nd))) * 1e6) / 1e6
        |    AS skewness,
        |  ROUND(((s4/nd - 4.0*(s1/nd)*(s3/nd)
        |          + 6.0*(s1/nd)*(s1/nd)*(s2/nd)
        |          - 3.0*(s1/nd)*(s1/nd)*(s1/nd)*(s1/nd))
        |         / ((s2/nd - (s1/nd)*(s1/nd)) * (s2/nd - (s1/nd)*(s1/nd)))
        |         - 3.0) * 1e6) / 1e6 AS kurtosis
        |FROM d ORDER BY event_type""".stripMargin,

    // the identical fixed hash-sample and integer ranks — the sketch,
    // not the estimate, is what the two engines must agree on
    "q35_kmvquantile" ->
      """WITH h AS (
        |  SELECT l_extendedprice AS v,
        |         CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) ||
        |           '|' || CAST(l_linenumber AS VARCHAR)), 1, 15))
        |           AS BIGINT) AS hk
        |  FROM lineitem),
        |s AS (SELECT v FROM h ORDER BY hk LIMIT 256),
        |r AS (SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT)
        |        AS rn FROM s)
        |SELECT p.q, p.k, ROUND(r.v, 6) AS est
        |FROM r JOIN (VALUES (CAST(0.5 AS DOUBLE), CAST(128 AS BIGINT)),
        |                    (CAST(0.9 AS DOUBLE), CAST(231 AS BIGINT)),
        |                    (CAST(0.99 AS DOUBLE), CAST(254 AS BIGINT)))
        |       p(q, k) ON r.rn = p.k
        |ORDER BY p.q""".stripMargin,

    "q6_semi" ->
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q7_anti" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q8_range" ->
      """SELECT e1.event_id, COUNT(e2.ts) AS n
        |FROM events e1 LEFT JOIN events e2
        |  ON e1.user_id = e2.user_id AND e2.ts > e1.ts
        | AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        |WHERE e1.event_type = 'click'
        |GROUP BY e1.event_id ORDER BY e1.event_id""".stripMargin,

    "q9_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q10_rollup" ->
      """SELECT COALESCE(r_name, '(all)') AS r_name,
        |       COALESCE(n_name, '(all)') AS n_name,
        |       CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
        |       COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY gid, r_name, n_name""".stripMargin,

    // truth is the direct overlap join; the engine's bucketized plan
    // must reproduce it exactly
    "q30_intervalbucket" ->
      """WITH hours AS (
        |  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS nh
        |  FROM events GROUP BY date_trunc('hour', ts)
        |  QUALIFY row_number() OVER (ORDER BY nh DESC, h) <= 50),
        |win AS (
        |  SELECT h + INTERVAL 17 MINUTE AS ws,
        |         h + INTERVAL 107 MINUTE AS we
        |  FROM hours)
        |SELECT CAST(w.ws AS VARCHAR) AS ws, CAST(w.we AS VARCHAR) AS we,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_value_cents
        |FROM win w JOIN events e
        |  ON date_trunc('microseconds', e.ts) >= w.ws
        | AND date_trunc('microseconds', e.ts) < w.we
        |GROUP BY w.ws, w.we ORDER BY ws""".stripMargin,

    // identical recursion on the DuckDB side — same IEEE step ops
    "q32_recursive" ->
      """WITH RECURSIVE o AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        |  FROM orders),
        |oc AS (SELECT * FROM o WHERE rn <= 12),
        |r AS (
        |  SELECT o_custkey, o_orderkey, rn,
        |         CAST(o_totalprice AS DOUBLE) AS acc
        |  FROM oc WHERE rn = 1
        |  UNION ALL
        |  SELECT o.o_custkey, o.o_orderkey, o.rn,
        |         0.5 * r.acc + o.o_totalprice
        |  FROM r JOIN oc o ON o.o_custkey = r.o_custkey
        |   AND o.rn = r.rn + 1)
        |SELECT o_custkey, rn, o_orderkey,
        |       ROUND(acc * 1e6) / 1e6 AS decayed_spend
        |FROM r ORDER BY o_custkey, rn""".stripMargin,

    // same LATERAL text modulo dialect: decimal-exact sums, rounded
    // before the correlated LIMIT ranks on them
    "q31_lateral" ->
      """SELECT r_name, nation, bal
        |FROM region,
        |LATERAL (
        |  SELECT n_name AS nation,
        |         ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
        |               AS DOUBLE), 6) AS bal
        |  FROM nation JOIN customer ON c_nationkey = n_nationkey
        |  WHERE n_regionkey = r_regionkey
        |  GROUP BY n_name
        |  ORDER BY bal DESC, nation LIMIT 2)
        |ORDER BY r_name, bal DESC, nation""".stripMargin,

    "q29_groupingsets" ->
      """SELECT COALESCE(c_mktsegment, '(all)') AS c_mktsegment,
        |       COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
        |       CAST(GROUPING(c_mktsegment, o_orderstatus) AS BIGINT) AS gid,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus),
        |                        (c_mktsegment), (o_orderstatus))
        |ORDER BY gid, c_mktsegment, o_orderstatus""".stripMargin,

    "q11_rank" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        | row_number() OVER (PARTITION BY o_orderstatus
        |                    ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        | rank() OVER (PARTITION BY o_orderstatus
        |              ORDER BY o_totalprice DESC) AS rk,
        | dense_rank() OVER (PARTITION BY o_orderstatus
        |                    ORDER BY o_totalprice DESC) AS drk
        |FROM orders QUALIFY rn <= 5
        |ORDER BY o_orderstatus, rn""".stripMargin,

    // no peers (order key ends in the unique o_orderkey), so all three
    // distribution functions are integer-derived on both engines
    "q33_distwindow" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderkey,
        | ROUND(o_totalprice, 6) AS o_totalprice,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | ROUND(percent_rank() OVER w * 1e6) / 1e6 AS pct_rank,
        | ROUND(cume_dist() OVER w * 1e6) / 1e6 AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY strftime(o_orderdate, '%Y-%m')
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY month, o_orderkey""".stripMargin,

    "q12_frames" ->
      """SELECT user_id, event_id, ROUND(value, 6) AS value,
        | ROUND(lag(value, 1) OVER w, 6) AS lag_v,
        | ROUND(lead(value, 1) OVER w, 6) AS lead_v,
        | ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)))
        |         OVER w4 AS DOUBLE) / COUNT(value) OVER w4 * 1e6) / 1e6 AS mavg4,
        | COUNT(*) OVER (PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
        |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS trail_1h_n
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |       w4 AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q21_cube" ->
      """SELECT COALESCE(r_name, '(all)') AS r_name,
        |       COALESCE(c_mktsegment, '(all)') AS c_mktsegment,
        |       CAST(GROUPING(r_name, c_mktsegment) AS BIGINT) AS gid,
        |       COUNT(*) AS n_cust
        |FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, c_mktsegment)
        |ORDER BY gid, r_name, c_mktsegment""".stripMargin,

    "q22_percentile" ->
      """SELECT event_type,
        | ROUND(quantile_cont(value, 0.5), 6) AS p50,
        | ROUND(quantile_cont(value, 0.9), 6) AS p90,
        | ROUND(quantile_cont(value, 0.25), 6) AS p25
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q23_regex" ->
      """SELECT doc_id,
        | regexp_extract(text, 'the ([a-z]+) (key|table)', 1) AS adjective
        |FROM documents WHERE regexp_matches(text, 'the [a-z]+ (key|table)')
        |ORDER BY doc_id""".stripMargin,

    "q24_session" ->
      """WITH pts AS (
        |  SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS t,
        |         event_id, value
        |  FROM events),
        |-- total (t, event_id) order in BOTH windows: with bare ORDER BY
        |-- t, timestamp ties would let the two windows order tied rows
        |-- independently and mis-assign island membership (the s2 bug
        |-- the sf1 scale step caught; no µs-level ties exist today, but
        |-- the order must not rely on that)
        |flagged AS (
        |  SELECT user_id, t, event_id, value,
        |         CASE WHEN t - lag(t) OVER w <= 7200000000 THEN 0 ELSE 1 END AS brk
        |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |isl AS (
        |  SELECT user_id, t, value,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS g
        |  FROM flagged)
        |SELECT user_id, MIN(t) AS sess_start_us,
        |       MAX(t) + 7200000000 AS sess_end_us,
        |       COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_v
        |FROM isl GROUP BY user_id, g ORDER BY user_id, sess_start_us""".stripMargin,

    "q25_pivot" ->
      """SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS bucket,
        | ROUND(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS click,
        | ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS error,
        | ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS purchase,
        | ROUND(CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS signup,
        | ROUND(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS view
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q26_unpivot" ->
      """WITH wide AS (
        |  SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS bucket,
        |         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_v,
        |         ROUND(MAX(value), 6) AS max_v,
        |         CAST(COUNT(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1)
        |SELECT bucket, metric, ROUND(metric_value, 6) AS metric_value
        |FROM (
        |  SELECT bucket, 'sum_v' AS metric, sum_v AS metric_value FROM wide
        |  UNION ALL
        |  SELECT bucket, 'max_v', max_v FROM wide
        |  UNION ALL
        |  SELECT bucket, 'n', n FROM wide)
        |ORDER BY bucket, metric""".stripMargin,

    "q13_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q14_setops" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |     o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
        |UNION ALL
        |SELECT 'f_only' AS tag, o_custkey FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)
        |UNION ALL
        |SELECT 'o_only' AS tag, o_custkey FROM (SELECT o_custkey FROM o EXCEPT SELECT o_custkey FROM f)
        |ORDER BY tag, o_custkey""".stripMargin,

    "q15_scalar" ->
      """SELECT o_orderkey,
        | UPPER(o_orderpriority) AS pri_up,
        | SUBSTRING(o_orderpriority, 1, 3) AS pri3,
        | o_orderstatus || '-' || SUBSTRING(o_orderpriority, 1, 1) AS cat,
        | CAST(LENGTH(o_orderpriority) AS BIGINT) AS plen,
        | CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
        | CAST(date_trunc('month', o_orderdate) AS VARCHAR) AS mon,
        | ROUND(o_totalprice, 2) AS price_r,
        | CAST(FLOOR(o_totalprice) AS BIGINT) AS price_f,
        | ABS(o_totalprice * -1.0) AS price_abs,
        | o_orderkey % 7 AS m7
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,

    "q16_array" ->
      """SELECT vec_id, label,
        | CAST(LEN(embedding) AS BIGINT) AS dim,
        | ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_v,
        | ROUND(CAST(embedding[64] AS DOUBLE), 6) AS last_v,
        | embedding[1] > 0 AS first_pos
        |FROM embeddings WHERE label IN (1, 2, 3) ORDER BY vec_id""".stripMargin,

    "q17_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > (
        |        SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6)))
        |                    AS DOUBLE) / COUNT(*)
        |        FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q19_json" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q18_condagg" ->
      """SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS bucket,
        | ROUND(CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value END
        |   AS DECIMAL(18,6))) AS DOUBLE), 6) AS click_v,
        | ROUND(CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END
        |   AS DECIMAL(18,6))) AS DOUBLE), 6) AS purchase_v,
        | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        | COUNT(*) AS n
        |FROM events GROUP BY date_trunc('day', ts)
        |ORDER BY bucket""".stripMargin,

    // the bucketed copies hold identical data to the source tables, so
    // the oracle reads the ORIGINAL parquet — the CSV/JSON round-trip
    // must be value-exact for the hashes to meet
    "q28_formats" ->
      """SELECT n_name, COUNT(*) AS n,
        | CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |   AS acctbal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // the oracle joins the sources directly — the bucketing is a plan
    // property (gated in LayoutSpec), never a result property
    "q27_bucketjoin" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |                CAST(1.0 - l_discount AS DECIMAL(18,6))) AS DOUBLE), 2)
        |   AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )

  /** s17 maintains q43's per-bin profile incrementally; count/min/max/
    * sum merges are associative so the stream must reproduce the batch
    * histogram VERBATIM.
    */
  val oracles: Map[String, String] =
    oraclesBase + ("s17_streamhistogram" -> oraclesBase("q43_histogram"))
}
