package graft.queries

import graft.Tables
import graft.core.Time
import graft.operators.{AsOf, Dedup, GapFill, Rollup}
import graft.streaming.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** H1–H6: the reference's storage semantics (SURVEY §2.2) as declared
  * queries on the `events` table (series ≅ user_id/event_type,
  * seq ≅ event_id, `now` pinned to 2026-01-01 — never wall clock,
  * the reference's tests rotted exactly because of `unixTime()` at
  * `src/hoard.coffee:28`).
  *
  * Oracle conventions (SURVEY §2.4): total ORDER BY, ROUND(x, 6) on
  * doubles, interval outputs as UTC strings named `bucket`, identical
  * column names on both sides.
  */
object HoardQueries {

  private val Now = "TIMESTAMP '2026-01-01 00:00:00'"

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Hourly last-write-wins dedup per user (contract §2.2.2). */
  private def hourlyByUser(s: SparkSession, dir: String): DataFrame =
    Dedup.lastWriteWins(ev(s, dir),
      Seq(col("user_id"), Time.align(col("ts"), 3600).as("bucket")),
      col("event_id"), Seq("value" -> col("value")))

  /** Hourly last-write-wins dedup per event_type (denser series, used by
    * the rollup cascade so the xff gate passes and rejects mixed).
    */
  private def hourlyByType(s: SparkSession, dir: String): DataFrame =
    Dedup.lastWriteWins(ev(s, dir),
      Seq(col("event_type"), Time.align(col("ts"), 3600).as("bucket")),
      col("event_id"), Seq("value" -> col("value")))

  /** Daily xff-gated rollup with the decimal-exact mean (cf=avg_exact):
    * the hourly lww values are raw 2-decimal event values, so decimal
    * sums remove partial-aggregation order from the result, and the
    * quantized output keeps the weekly hop order-independent too.
    */
  private def dailyByType(s: SparkSession, dir: String): DataFrame =
    Rollup.downsample(hourlyByType(s, dir), "event_type", "bucket", "value",
      finerStep = 3600, coarserStep = 86400, xff = 0.5, cf = "avg_exact")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "h1_lww" -> ((s, dir) => {
      hourlyByUser(s, dir)
        .select(col("user_id"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("user_id", "bucket")
    }),

    "h2_rollup" -> ((s, dir) => {
      dailyByType(s, dir)
        .select(col("event_type"), col("bucket").cast("date").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("event_type", "bucket")
    }),

    "h3_gapfill" -> ((s, dir) => {
      val hourly = hourlyByUser(s, dir)
      val users = ev(s, dir).select("user_id").distinct()
      GapFill.densify(hourly, users, "user_id", "bucket", Seq("value"),
          fromInterval = 1704412800L, // 2024-01-05 00:00:00 UTC
          toInterval = 1704585600L,   // 2024-01-07 00:00:00 UTC (exclusive)
          step = 3600)
        .select(col("user_id"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("user_id", "bucket")
    }),

    "h4_cascade" -> ((s, dir) => {
      // weekly = mean of daily means (cascade §2.2.8), ISO week start,
      // xff-gated at expected 7 days per week; daily means are 6-decimal
      // quantized (avg_exact) so the decimal re-sum here is exact
      dailyByType(s, dir)
        .groupBy(col("event_type"), date_trunc("week", col("bucket")).as("bucket"))
        .agg((sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(col("value"))).as("value"), count(col("value")).as("known"))
        .where(col("known").cast("double") / lit(7.0) >= lit(0.5))
        .select(col("event_type"), col("bucket").cast("date").cast("string").as("bucket"),
          (round(col("value") * lit(1e6)) / lit(1e6)).as("value"), col("known"))
        .orderBy("event_type", "bucket")
    }),

    "h5_retention" -> ((s, dir) => {
      // retention clamp: keep (now - 730 days, now]; too-old rows dropped
      // silently like updateMany (§2.2.5/6)
      ev(s, dir)
        .where(col("ts") > expr(s"$Now - INTERVAL 730 DAY") &&
          col("ts") <= expr(Now))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_value"))
        .orderBy("user_id")
    }),

    "h9_derivative" -> ((s, dir) => {
      // Graphite's nonNegativeDerivative over the hourly lww series:
      // per-series lag window (partitioned — never global); counter
      // resets (negative deltas) and series heads yield null, exactly
      // Graphite's semantics for counter metrics
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      hourlyByType(s, dir)
        .withColumn("prev", lag(col("value"), 1).over(w))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(when(col("value") >= col("prev"), col("value") - col("prev")), 6)
            .as("deriv"))
        .orderBy("event_type", "bucket")
    }),

    "h10_movavg" -> ((s, dir) => {
      // Graphite's movingAverage(6h) over the hourly lww series: a
      // trailing ROWS frame per series with the decimal-exact mean so
      // the window's internal accumulation order cannot matter
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(-5, 0)
      hourlyByType(s, dir)
        .withColumn("ma",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double") /
            count(col("value")).over(w))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          (round(col("ma") * lit(1e6)) / lit(1e6)).as("moving_avg"))
        .orderBy("event_type", "bucket")
    }),

    "h11_integral" -> ((s, dir) => {
      // Graphite's integral(): per-series running cumulative sum over
      // the hourly lww series — an expanding decimal window sum, so the
      // running values are exact at every prefix
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
      hourlyByType(s, dir)
        .withColumn("cum",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("cum"), 6).as("running_sum"))
        .orderBy("event_type", "bucket")
    }),

    "h12_timeshift" -> ((s, dir) => {
      // Graphite's timeShift comparison: each hourly slot joined with
      // the same series one week earlier (equi-join on the shifted
      // bucket — no window, shuffle key is (series, bucket))
      val cur = hourlyByType(s, dir)
      val prev = hourlyByType(s, dir)
        .select(col("event_type"),
          (col("bucket") + expr("INTERVAL 7 DAY")).as("bucket"),
          col("value").as("wk_ago"))
      cur.join(prev, Seq("event_type", "bucket"), "left")
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          round(col("wk_ago"), 6).as("wk_ago"),
          round(col("value") - col("wk_ago"), 6).as("wow_delta"))
        .orderBy("event_type", "bucket")
    }),

    "h13_ema" -> ((s, dir) => {
      // Graphite's exponentialMovingAverage over the hourly lww series:
      // a true recurrence (ema_t depends on ema_{t-1}'s OUTPUT), so it
      // runs as the typed per-series fold in operators.SeriesFold —
      // bounded by retention per key, bit-deterministic at any
      // partitioning, and matched by a DuckDB recursive CTE stepping
      // the identical IEEE ops. α=0.25 is exact in binary so the
      // constant itself cannot differ across engines.
      graft.operators.SeriesFold
        .exponentialMovingAverage(hourlyByType(s, dir),
          "event_type", "bucket", "value", alpha = 0.25)
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("ema"), 6).as("ema"))
        .orderBy("event_type", "bucket")
    }),

    "h14_keeplast" -> ((s, dir) => {
      // Graphite's keepLastValue over the dense gap-filled fetch frame:
      // nulls forward-fill from the series' last known value (a running
      // ignore-nulls `last` over a ROWS frame — partitioned per series,
      // never a global window). The raw value rides alongside so the
      // fill provenance stays visible.
      import org.apache.spark.sql.expressions.Window
      val hourly = hourlyByUser(s, dir)
      val users = ev(s, dir).select("user_id").distinct()
      val dense = GapFill.densify(hourly, users, "user_id", "bucket",
        Seq("value"),
        fromInterval = 1704412800L, // 2024-01-05 00:00:00 UTC
        toInterval = 1704585600L,   // 2024-01-07 00:00:00 UTC (exclusive)
        step = 3600)
      val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
      dense
        .withColumn("filled", last(col("value"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          round(col("filled"), 6).as("filled"))
        .orderBy("user_id", "bucket")
    }),

    "h15_summarize" -> ((s, dir) => {
      // Graphite's summarize("4h", "sum"): plain tumbling re-bucket of
      // the hourly lww series with NO xff gate (xff=0) — the cf family
      // the reference left as a TODO (hoard.coffee:156), here the
      // decimal-exact sum. Buckets output as epoch seconds: exact
      // integers on both engines, no timezone surface at all.
      Rollup.downsample(hourlyByType(s, dir), "event_type", "bucket",
          "value", finerStep = 3600, coarserStep = 14400, xff = 0.0,
          cf = "sum_exact")
        .select(col("event_type"),
          unix_seconds(col("bucket")).as("bucket"),
          round(col("value"), 6).as("value"))
        .orderBy("event_type", "bucket")
    }),

    "h28_hitcount" -> ((s, dir) => {
      // Graphite's hitcount("1d"): rate-to-total conversion — each
      // hourly point contributes value x 3600 seconds, summed per day
      // (unlike h15's summarize, the output is integral-of-rate, the
      // form billing/SLO counters need). The sum runs in DECIMAL so
      // partial-aggregation order cannot perturb it; x3600 stays
      // decimal-exact; the one double cast is half-even on both
      // engines. Plain groupBy — map-side partials, no window.
      def r6(c: org.apache.spark.sql.Column) = round(c * lit(1e6)) / lit(1e6)
      hourlyByType(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("bucket")).as("day"))
        .agg(count(lit(1)).as("n_points"),
          (sum(col("value").cast("decimal(18,6)")) * lit(3600)).as("hitsum"))
        .select(col("event_type"), col("day").cast("date").cast("string").as("day"),
          col("n_points"), r6(col("hitsum").cast("double")).as("hits"))
        .orderBy("event_type", "day")
    }),

    "h16_persecond" -> ((s, dir) => {
      // Graphite's perSecond(): counter rate per series — the positive
      // delta divided by the actual elapsed seconds between the two
      // points (the sparse-series generalization of delta/step; on a
      // gapless series they coincide). Same per-series lag window as
      // h9; counter resets and series heads yield null.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      // tie-safe rounding (the h20 pattern): 2-decimal deltas over
      // integer seconds are rationals that can land on exact .xxxxxx5
      hourlyByType(s, dir)
        .withColumn("prev", lag(col("value"), 1).over(w))
        .withColumn("prev_b", lag(col("bucket"), 1).over(w))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          (round(when(col("value") >= col("prev"),
            (col("value") - col("prev")) /
              (unix_seconds(col("bucket")) - unix_seconds(col("prev_b")))
                .cast("double")) * lit(1e6)) / lit(1e6)).as("rate"))
        .orderBy("event_type", "bucket")
    }),

    "h17_seriesagg" -> ((s, dir) => {
      // Graphite's sumSeries/averageSeries/countSeries: combine the
      // whole series group into ONE output series per bucket. A single
      // partial-aggregated groupBy on bucket — the across-series
      // combine Whisper cannot express at all (one metric = one file).
      hourlyByType(s, dir)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_series"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_all"),
          (sum(col("value").cast("decimal(18,6)")).cast("double") /
            count(col("value"))).as("avg_all"),
          max(col("value")).as("max_all"))
        .select(col("bucket").cast("string").as("bucket"), col("n_series"),
          round(col("sum_all"), 6).as("sum_all"),
          // integer-ratio average can land on exact .xxxxxx5 ties where
          // ROUND(x, 6) tie-breaking is engine-specific; round via the
          // identical IEEE sequence x*1e6 -> round -> /1e6 (h16 pattern)
          (round(col("avg_all") * lit(1e6)) / lit(1e6)).as("avg_all"),
          round(col("max_all"), 6).as("max_all"))
        .orderBy("bucket")
    }),

    "h18_topseries" -> ((s, dir) => {
      // Graphite's highestAverage(3): rank series by lifetime mean and
      // keep the full series of the top 3. The ranking aggregate is
      // O(n_series) rows — orderBy+limit is a TakeOrdered (total order
      // via the event_type tie-break, never a partitionless window) and
      // the survivors broadcast back onto the hourly stream.
      val stats = hourlyByType(s, dir)
        .groupBy(col("event_type"))
        .agg((sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(col("value"))).as("series_avg"))
        .orderBy(col("series_avg").desc, col("event_type"))
        .limit(3)
      hourlyByType(s, dir)
        .join(broadcast(stats), "event_type")
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          // sum/count ratio: same .xxxxxx5 tie class as h16/h17
          (round(col("series_avg") * lit(1e6)) / lit(1e6)).as("series_avg"))
        .orderBy("event_type", "bucket")
    }),

    "h19_aspercent" -> ((s, dir) => {
      // Graphite's asPercent(): each series' slot value as a share of
      // that bucket's total across all series. The totals frame is one
      // partial-aggregated groupBy on bucket (rows ∝ time range, not
      // corpus) joined back on the same key the aggregate produced —
      // AQE broadcasts it at any realistic series count.
      val h = hourlyByType(s, dir)
      val tot = h.groupBy(col("bucket"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("tot"))
      h.join(tot, "bucket")
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          // share-of-total pct is a ratio of decimal-exact values — same
          // engine-specific ROUND(x,6) tie hazard; use the x*1e6 pattern
          (round(col("value") / col("tot").cast("double") * lit(100.0)
            * lit(1e6)) / lit(1e6)).as("pct"))
        .orderBy("event_type", "bucket")
    }),

    "h22_integralbyday" -> ((s, dir) => {
      // Graphite's integralByInterval("1d"): the running sum RESETS at
      // every day boundary — the partition key is (series, day), so
      // the window frame never exceeds one day's slots per series and
      // partition width is retention-independent (h11's unbounded
      // expanding frame bounded by calendar interval instead).
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("event_type"), date_trunc("day", col("bucket")))
        .orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
      hourlyByType(s, dir)
        .withColumn("cum",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("cum"), 6).as("day_running_sum"))
        .orderBy("event_type", "bucket")
    }),

    "h26_movstdev" -> ((s, dir) => {
      // Graphite's stdev(series, 24) — trailing moving population
      // stddev per series. Deterministic across engines WITHOUT an
      // integer predicate trick this time: the inner value
      // n*S2 - S^2 is an exact integer (micro-unit sums, h23's
      // machinery), its cast to double rounds half-even identically,
      // sqrt is IEEE CORRECTLY-rounded (unlike pow/ln), and the
      // remaining ops are plain divisions — so the double result is
      // bit-identical and the *1e6 rounding is belt-and-braces.
      // stdev = sqrt(n*S2 - S^2) / (n * 1e6), micro units scaled out.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(-23, 0)
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      hourlyByType(s, dir)
        .withColumn("vi",
          (col("value").cast("decimal(18,6)") * lit(1000000)).cast("long"))
        .withColumn("n", count(col("vi")).over(w))
        .withColumn("sv", sum(col("vi")).over(w))
        .withColumn("s2", sum(dec(col("vi")) * dec(col("vi"))).over(w))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          col("n"),
          (round(sqrt((dec(col("n")) * col("s2") -
              dec(col("sv")) * dec(col("sv"))).cast("double"))
            / (col("n") * lit(1e6)) * lit(1e6)) / lit(1e6)).as("stdev"))
        .orderBy("event_type", "bucket")
    }),

    "h27_linreg" -> ((s, dir) => {
      // Graphite's linearRegression(): per-(series, day) least-squares
      // fit over the hourly points. ALL sums are exact integers —
      // x = hour-of-day (0..23), y in micro-units (h23's machinery) —
      // so slope/intercept numerators and the shared denominator
      // n*Sxx - Sx^2 are exact DECIMAL(38,0) values; each output is
      // CAST(num)/CAST(den)/1e6: two correctly-rounded IEEE divisions
      // on identical operands, bit-identical cross-engine before the
      // belt-and-braces tie-safe rounding. predict_eod extends the fit
      // to x=23 with an integer numerator (iNum + 23*sNum), not by
      // combining the two rounded outputs. A plain groupBy — partial
      // aggregation map-side, no window, no skew surface.
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def r6(c: org.apache.spark.sql.Column) = round(c * lit(1e6)) / lit(1e6)
      val day = date_trunc("day", col("bucket"))
      val grouped = hourlyByType(s, dir)
        .withColumn("vi",
          (col("value").cast("decimal(18,6)") * lit(1000000)).cast("long"))
        .withColumn("x", hour(col("bucket")).cast("long"))
        .groupBy(col("event_type"), day.as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("vi")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(dec(col("x")) * dec(col("vi"))).as("sxy"))
        .where(col("n") >= 2)
        .withColumn("den", dec(col("n")) * dec(col("sxx")) -
          dec(col("sx")) * dec(col("sx")))
        .withColumn("snum", dec(col("n")) * col("sxy") -
          dec(col("sx")) * dec(col("sy")))
        .withColumn("inum", dec(col("sy")) * dec(col("sxx")) -
          dec(col("sx")) * col("sxy"))
      grouped.select(col("event_type"),
          col("day").cast("date").cast("string").as("day"),
          col("n"),
          r6(col("snum").cast("double") / col("den").cast("double")
            / lit(1e6)).as("slope"),
          r6(col("inum").cast("double") / col("den").cast("double")
            / lit(1e6)).as("intercept"),
          r6((col("inum") + dec(lit(23)) * col("snum")).cast("double")
            / col("den").cast("double") / lit(1e6)).as("predict_eod"))
        .orderBy("event_type", "day")
    }),

    "h25_holtwinters" -> ((s, dir) => {
      // FULL seasonal Holt-Winters (Graphite holtWintersForecast,
      // daily season m=24 over the hourly series) — completes the
      // forecast family h13 (EMA) and h20 (Holt) started. All three
      // smoothing constants dyadic (α=0.5, β=γ=0.25) so the DuckDB
      // recursive CTE carrying the 24-slot season vector as a LIST
      // replays the identical IEEE ops; outputs tie-safe rounded.
      def r6(c: org.apache.spark.sql.Column) = round(c * lit(1e6)) / lit(1e6)
      graft.operators.SeriesFold
        .holtWinters(hourlyByType(s, dir), "event_type", "bucket", "value",
          alpha = 0.5, beta = 0.25, gamma = 0.25, period = 24)
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          r6(col("level")).as("level"),
          r6(col("trend")).as("trend"),
          r6(col("season")).as("season"),
          r6(col("forecast")).as("forecast"))
        .orderBy("event_type", "bucket")
    }),

    "h37_hwbands" -> ((s, dir) => {
      // Graphite holtWintersConfidenceBands + holtWintersAberration
      // (Brutlag 2000): h25's seasonal recurrence extended with the
      // per-slot deviation d_i = γ|y−ŷ| + (1−γ)d_i; band = one-step
      // prediction ± 3·d_i using the PREVIOUS season's deviation
      // (Brutlag's d_{t−m}), aberrant = outside the band. Same typed
      // per-series fold contract as h25 (group bounded by retention,
      // dyadic constants, IEEE order fixed); the flag is a pure
      // comparison of bit-identical doubles so it can't drift either.
      def r6(c: org.apache.spark.sql.Column) = round(c * lit(1e6)) / lit(1e6)
      graft.operators.SeriesFold
        .holtWintersBands(hourlyByType(s, dir), "event_type", "bucket",
          "value", alpha = 0.5, beta = 0.25, gamma = 0.25, period = 24,
          delta = 3.0)
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          r6(col("pred")).as("pred"),
          r6(col("dev")).as("dev"),
          r6(col("upper")).as("upper"),
          r6(col("lower")).as("lower"),
          col("aberrant"))
        .orderBy("event_type", "bucket")
    }),

    "h33_pointwise" -> ((s, dir) => {
      // Graphite's pointwise-transform family in one pass: scale(10),
      // offset(-50), absolute of the offset, invert (safeDiv 1/v —
      // zero → null, graphite's None). Pure codegen'd column
      // arithmetic over the hourly lww series, one scan, zero
      // shuffles before the output sort. The decimal detour keeps
      // scale/offset exact on 2-decimal inputs; invert is one IEEE
      // division rounded tie-safe.
      def r6(c: org.apache.spark.sql.Column) = round(c * lit(1e6)) / lit(1e6)
      val v = col("value").cast("decimal(18,6)")
      hourlyByType(s, dir)
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          round((v * lit(10)).cast("double"), 6).as("scaled"),
          round((v - lit(50)).cast("double"), 6).as("offset"),
          round(abs((v - lit(50)).cast("double")), 6).as("abs_offset"),
          when(col("value") === 0, lit(null).cast("double"))
            .otherwise(r6(lit(1.0) / col("value"))).as("inverted"))
        .orderBy("event_type", "bucket")
    }),

    "h34_timestack" -> ((s, dir) => {
      // Graphite's timeStack("1w", 0, 3): the same series overlaid at
      // 0/1/2-week shifts onto the current bucket frame — the
      // seasonality-overlay view. One exploded spine (3 rows per
      // slot) equi-joined on (series, shifted bucket): shuffle key is
      // the join key, no window, and the fan-out factor is the shift
      // count (a constant), so the plan is h12's single join at 3x
      // row multiplicity regardless of retention.
      val h = hourlyByType(s, dir)
      val spine = h.select(col("event_type"), col("bucket"))
        .withColumn("k", explode(array(lit(0), lit(1), lit(2))))
        .withColumn("src",
          expr("bucket - make_interval(0, 0, k, 0, 0, 0, 0)"))
      val shifted = h.select(col("event_type"), col("bucket").as("src"),
        col("value"))
      spine.join(shifted, Seq("event_type", "src"))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          concat(col("k").cast("string"), lit("w")).as("shift"),
          round(col("value"), 6).as("value"))
        .orderBy("event_type", "bucket", "shift")
    }),

    "h35_weightedavg" -> ((s, dir) => {
      // Graphite's weightedAverage(values, weights, node): the
      // across-series mean per bucket where each series' lww value is
      // weighted by its event count in that slot — sum(v·w)/sum(w).
      // One partial-aggregated groupBy per level: (series, bucket)
      // stats first (max_by lww + count, both map-side combinable),
      // then the bucket combine; the v·w inner product stays decimal
      // (2-decimal value × integer weight is exact) so partial-agg
      // order can't show, and the single final division rounds
      // tie-safe.
      val perSeries = ev(s, dir)
        .groupBy(col("event_type"), Time.align(col("ts"), 3600).as("bucket"))
        .agg(max_by(col("value"), col("event_id")).as("v"),
          count(lit(1)).as("w"))
      perSeries.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_series"), sum(col("w")).as("w_total"),
          sum(col("v").cast("decimal(18,6)") * col("w")).as("vw"))
        .select(col("bucket").cast("string").as("bucket"),
          col("n_series"), col("w_total"),
          (round(col("vw").cast("double") / col("w_total") * lit(1e6)) /
            lit(1e6)).as("wavg"))
        .orderBy("bucket")
    }),

    "h46_smartsummarize" -> ((s, dir) => {
      // Graphite's smartSummarize("4h", "sum", alignToFrom=True): the
      // re-bucket anchored at the REQUEST's from — 06:30 — rather than
      // the epoch grid (h15's summarize). The anchor makes every
      // bucket boundary an exact integer expression of `from`
      // (bucket = from + 14400·((t − from) div 14400)), so the two
      // engines cannot disagree on edge slots; pre-from points drop by
      // contract; sums ride decimal. One map-side-combinable groupBy.
      val fromSec = 1704090600L // 2024-01-01 06:30:00 UTC — off-grid
      hourlyByType(s, dir)
        .where(unix_seconds(col("bucket")) >= fromSec)
        .withColumn("b", expr(
          s"$fromSec + ((unix_seconds(bucket) - $fromSec) div 14400) " +
            "* 14400"))
        .groupBy(col("event_type"), col("b"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("value").cast("decimal(18,6)")).as("sv"))
        .select(col("event_type"), col("b").as("bucket_s"),
          col("n_points"),
          round(col("sv").cast("double"), 6).as("sum_value"))
        .orderBy("event_type", "bucket_s")
    }),

    "h45_asoftol" -> ((s, dir) => {
      // TOLERANCE-bounded as-of join (pandas merge_asof's `tolerance`,
      // kdb's wj window variant): each purchase takes the user's
      // latest click at-or-before it ONLY if that click is within 1
      // hour — a stale quote must not attribute. Same union+window
      // machinery as h7 (one sort per key, no N×M explosion); the
      // matched click's timestamp rides along in a struct payload and
      // the tolerance gate compares exact epoch micros. Equivalence
      // note: "latest at-or-before, dropped if stale" equals "latest
      // within the window" — the latest at-or-before IS the latest in
      // any trailing window that contains a match.
      val e = ev(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          struct(col("value").as("v"), col("ts").as("cts")).as("rv"),
          col("event_id"))
      val tolUs = 3600L * 1000000L
      AsOf.asOfJoin(purchases, clicks, "user_id", "ts", "ts", "rv",
          "m", rightSeq = Some("event_id"))
        .select(col("event_id"), col("user_id"),
          when(unix_micros(col("ts")) - unix_micros(col("m.cts")) <= tolUs,
            round(col("m.v"), 6)).as("last_click_v"),
          when(unix_micros(col("ts")) - unix_micros(col("m.cts")) <= tolUs,
            unix_micros(col("ts")) - unix_micros(col("m.cts")))
            .as("gap_us"))
        .orderBy("event_id")
    }),

    "h44_mostdeviant" -> ((s, dir) => {
      // Graphite's mostDeviant(3): series ranked by population
      // variance, the top 3 returned with their streams. The variance
      // NUMERATOR n·Σv²−(Σv)² rides h23's exact integer micro-unit
      // machinery in DECIMAL(38,0) — partial-agg order cannot show —
      // and the displayed variance is one identical IEEE division
      // chain of exact operands, tie-safe rounded; ranking uses that
      // identical double with the event_type tie-break. O(series)
      // stats frame through a TakeOrdered, broadcast back.
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val top = hourlyByType(s, dir)
        .withColumn("vi",
          (col("value").cast("decimal(18,6)") * lit(1000000)).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("vi")).as("sv"),
          sum(dec(col("vi")) * dec(col("vi"))).as("svv"))
        .withColumn("var_num",
          dec(col("n")) * col("svv") - dec(col("sv")) * dec(col("sv")))
        .withColumn("variance",
          col("var_num").cast("double") /
            (col("n") * col("n")).cast("double") / lit(1e12))
        .orderBy(col("variance").desc, col("event_type")).limit(3)
        .select(col("event_type"), col("n").as("n_points"),
          (round(col("variance") * lit(1e6)) / lit(1e6)).as("variance"))
      hourlyByType(s, dir)
        .join(broadcast(top), "event_type")
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          col("n_points"), col("variance"))
        .orderBy("event_type", "bucket")
    }),

    "h43_pctseries" -> ((s, dir) => {
      // Graphite's percentileOfSeries: the ACROSS-series p50/p95 per
      // bucket — the aggregate view h17's sum/avg family can't give
      // (tail behavior across a fleet). Pure order statistics: the
      // k-th smallest value with k from h24's integer rank forms
      // (k50 = ceil(n/2), k95 = (19n+19) div 20) — no interpolation,
      // no float rank math; ties in value leave the k-th VALUE
      // deterministic. The rank window partitions per bucket and is
      // bounded by the series count, never the retention.
      import org.apache.spark.sql.expressions.Window
      val wv = Window.partitionBy(col("bucket"))
        .orderBy(col("value"), col("event_type"))
      val wn = Window.partitionBy(col("bucket"))
      hourlyByType(s, dir)
        .withColumn("rn", row_number().over(wv).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("k50", expr("(n + 1) div 2"))
        .withColumn("k95", expr("(n * 19 + 19) div 20"))
        .groupBy(col("bucket"), col("n"))
        .agg(max(when(col("rn") === col("k50"), col("value"))).as("p50"),
          max(when(col("rn") === col("k95"), col("value"))).as("p95"))
        .select(col("bucket").cast("string").as("bucket"),
          col("n").as("n_series"),
          round(col("p50"), 6).as("p50"), round(col("p95"), 6).as("p95"))
        .orderBy("bucket")
    }),

    "h42_normalize" -> ((s, dir) => {
      // Graphite's offsetToZero + a minMax normalization per series:
      // the two rescalings dashboards apply before overlaying series
      // of different magnitudes. Per-series min/max are pure order
      // statistics broadcast back; offset_to_zero subtracts in
      // DECIMAL(18,6) (2-decimal inputs difference exactly, no
      // rounding at all); minmax is ONE IEEE division of two exact
      // decimal differences, tie-safe rounded; a flat series (max ==
      // min) nulls out, Graphite's None.
      val stats = hourlyByType(s, dir)
        .groupBy(col("event_type"))
        .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      def d6(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
      hourlyByType(s, dir)
        .join(broadcast(stats), "event_type")
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          (d6(col("value")) - d6(col("vmin"))).cast("double")
            .as("offset_to_zero"),
          when(col("vmax") === col("vmin"), lit(null).cast("double"))
            .otherwise(round(
              (d6(col("value")) - d6(col("vmin"))).cast("double") /
                (d6(col("vmax")) - d6(col("vmin"))).cast("double") *
                lit(1e6)) / lit(1e6))
            .as("minmax"))
        .orderBy("event_type", "bucket")
    }),

    "h41_aliassub" -> ((s, dir) => {
      // Graphite's aliasSub + sortByMaxima(3): series renamed by regex
      // substitution (the dashboard-label workhorse) and ranked by
      // lifetime maximum, keeping the top 3. Max is a pure order
      // statistic on raw 2-decimal values — zero arithmetic, zero tie
      // surface beyond the event_type tie-break; the ranking
      // aggregate is O(series) rows through a TakeOrdered (never a
      // partitionless window) and broadcasts back onto the stream.
      val stats = hourlyByType(s, dir)
        .groupBy(col("event_type"))
        .agg(max(col("value")).as("series_max"))
        .orderBy(col("series_max").desc, col("event_type"))
        .limit(3)
      hourlyByType(s, dir)
        .join(broadcast(stats), "event_type")
        .select(
          regexp_replace(col("event_type"), "^(.{2}).*$", "alias_$1")
            .as("alias"),
          col("event_type"),
          col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          round(col("series_max"), 6).as("series_max"))
        .orderBy("event_type", "bucket")
    }),

    "h38_seriesfilter" -> ((s, dir) => {
      // Graphite's threshold filter family — averageAbove(49) /
      // maximumAbove(250) / currentAbove(15) — as one per-series stats
      // pass. Every DECISION compares exact values: the mean gate is
      // evaluated as the decimal inequality sum > 49·count (no float
      // ratio ever reaches a comparison); max and current are raw
      // 2-decimal inputs. The stats frame is one partial-aggregated
      // groupBy — O(series) rows at any retention — and a series
      // survives if any gate passes; the displayed avg is tie-safe
      // rounded for the oracle but carries no decision weight.
      val stats = hourlyByType(s, dir)
        .groupBy(col("event_type"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("sv"),
          count(lit(1)).as("n"),
          max(col("value")).as("vmax"),
          max_by(col("value"), col("bucket")).as("vcur"))
      stats
        .select(col("event_type"), col("n"),
          (round(col("sv").cast("double") / col("n") * lit(1e6)) /
            lit(1e6)).as("series_avg"),
          round(col("vmax"), 6).as("series_max"),
          round(col("vcur"), 6).as("current"),
          when(col("sv") > col("n") * 49, 1L).otherwise(0L).as("avg_above"),
          when(col("vmax") > 250, 1L).otherwise(0L).as("max_above"),
          when(col("vcur") > 15, 1L).otherwise(0L).as("cur_above"))
        .where(col("avg_above") + col("max_above") + col("cur_above") > 0)
        .orderBy("event_type")
    }),

    "h39_changed" -> ((s, dir) => {
      // Graphite's derivative / delay / changed in one per-series lag
      // pass — h9's window but keeping NEGATIVE deltas (the plain
      // derivative, vs nonNegativeDerivative's counter semantics),
      // plus the 1-slot delay and the changed flag. The delta
      // subtracts in DECIMAL(18,6) so 2-decimal inputs difference
      // exactly (no rounding needed at all); `changed` compares raw
      // values with zero arithmetic; series heads are null on all
      // three — Graphite's None.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      hourlyByType(s, dir)
        .withColumn("prev", lag(col("value"), 1).over(w))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          round(col("prev"), 6).as("delay"),
          (col("value").cast("decimal(18,6)") -
            col("prev").cast("decimal(18,6)")).cast("double").as("deriv"),
          when(col("prev").isNull, lit(null).cast("long"))
            .otherwise(when(col("value") =!= col("prev"), 1L).otherwise(0L))
            .as("changed"))
        .orderBy("event_type", "bucket")
    }),

    "h40_interpolate" -> ((s, dir) => {
      // Graphite's interpolate(): LINEAR fill of interior gaps in the
      // dense per-user fetch frame (h3's spine) — edges stay null,
      // unlike h14's forward-fill. The fill is exact integer
      // arithmetic end to end: known 2-decimal values become
      // micro-unit BIGINTs, the interpolation numerator
      // v0µ·(t1−t) + v1µ·(t−t0) and the gap width t1−t0 are exact
      // BIGINTs (|num| < 6e13), and both engines then perform the
      // IDENTICAL single IEEE division + tie-safe micro round — the
      // interpolated value cannot diverge by an ulp. Two ignore-null
      // window passes (prev / next known point as one struct each),
      // both per-user ROWS frames, never global.
      import org.apache.spark.sql.expressions.Window
      val hourly = hourlyByUser(s, dir)
      val users = ev(s, dir).select("user_id").distinct()
      val dense = GapFill.densify(hourly, users, "user_id", "bucket",
        Seq("value"),
        fromInterval = 1704412800L, // 2024-01-05 00:00:00 UTC
        toInterval = 1704585600L,   // 2024-01-07 00:00:00 UTC (exclusive)
        step = 3600)
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
        .rowsBetween(1, Window.unboundedFollowing)
      val t = unix_seconds(col("bucket"))
      val known = when(col("value").isNotNull,
        struct(t.as("t"),
          (col("value").cast("decimal(18,6)") * 1000000)
            .cast("long").as("vmu")))
      dense
        .withColumn("p", last(known, ignoreNulls = true).over(wPrev))
        .withColumn("nx", first(known, ignoreNulls = true).over(wNext))
        .select(col("user_id"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          when(col("value").isNotNull, round(col("value"), 6))
            .otherwise(
              round((col("p.vmu") * (col("nx.t") - t) +
                  col("nx.vmu") * (t - col("p.t"))).cast("double") /
                (col("nx.t") - col("p.t")).cast("double")) / lit(1e6))
            .as("interp"))
        .orderBy("user_id", "bucket")
    }),

    "h31_groupbynode" -> ((s, dir) => {
      // Graphite groupByNode(0, 'sumSeries') over a dotted namespace:
      // fine series '<type>.u<user>' roll up per first path segment
      // and bucket — the tree rollup every Graphite dashboard runs
      // against an imported whisper hierarchy (hs7/hs8's domain). Fine
      // lww first (the store's read semantics), then ONE partial-agg
      // groupBy on (node, bucket); the path split is a narrow codegen
      // projection, never a shuffle key explosion.
      val fine = Dedup.lastWriteWins(ev(s, dir),
        Seq(concat(col("event_type"), lit(".u"), col("user_id"))
            .as("series_id"),
          Time.align(col("ts"), 3600).as("bucket")),
        col("event_id"), Seq("value" -> col("value")))
      fine
        .withColumn("node", split(col("series_id"), "\\.").getItem(0))
        .groupBy(col("node"), col("bucket"))
        .agg(count(lit(1)).as("n_series_points"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
            .as("total"))
        .select(col("node"), col("bucket").cast("string").as("bucket"),
          col("n_series_points"), col("total"))
        .orderBy("node", "bucket")
    }),

    "h32_maxdatapoints" -> ((s, dir) => {
      // Graphite's maxDataPoints consolidation: the render API promise
      // "never more than N points per series" — the hourly range
      // consolidates by factor ceil(slots/N) (N=50), each consolidated
      // bucket the decimal-exact mean of its hourly values. The range
      // probe is one tiny agg broadcast back; consolidation is one
      // partial-agg groupBy; all bucket math in integers.
      def r6(c: org.apache.spark.sql.Column) = round(c * lit(1e6)) / lit(1e6)
      val hourly = hourlyByType(s, dir)
        .withColumn("hsec", col("bucket").cast("long"))
      val range = hourly.agg(
        min(col("hsec")).as("lo"), max(col("hsec")).as("hi"),
        (((max(col("hsec")) - min(col("hsec"))) / 3600 + 50) / 50)
          .cast("long").as("factor")) // ceil((slots)/50) via (x+49+1)/50 on slot count
      hourly.join(broadcast(range))
        .withColumn("cb",
          col("lo") + ((col("hsec") - col("lo")) / (col("factor") * 3600))
            .cast("long") * col("factor") * lit(3600))
        .groupBy(col("event_type"), col("cb"))
        .agg(count(lit(1)).as("n"),
          r6(sum(col("value").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_value"))
        .select(col("event_type"), col("cb").as("bucket_s"), col("n"),
          col("mean_value"))
        .orderBy("event_type", "bucket_s")
    }),

    "h29_movminmax" -> ((s, dir) => {
      // Graphite movingMin/movingMax (trailing 6h) per series: pure
      // order statistics over a (series)-partitioned ROWS frame — no
      // float accumulation at all, so no tie or ordering hazard on
      // either engine. Frames never cross series; the sort is
      // per-series (bounded by retention), never global.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(-5, 0)
      hourlyByType(s, dir)
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"),
          round(min(col("value")).over(w), 6).as("mov_min"),
          round(max(col("value")).over(w), 6).as("mov_max"))
        .orderBy("event_type", "bucket")
    }),

    "h30_removeabove" -> ((s, dir) => {
      // Graphite removeAbovePercentile(95): drop every hourly point
      // strictly above its series' p95, where the threshold is the
      // k-th smallest value with k = (19n+19) div 20 — h24's
      // integer-rank selection lifted from per-day to whole-series.
      // The per-series threshold frame is tiny (one row per series,
      // broadcast onto the stream); the rank window is per-series and
      // bounded by retention (a Graphite series is <= points slots).
      import org.apache.spark.sql.expressions.Window
      val hourly = hourlyByType(s, dir)
      val wv = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wn = Window.partitionBy(col("event_type"))
      val thr = hourly
        .withColumn("rn", row_number().over(wv).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .where(col("rn") === expr("(n * 19 + 19) div 20"))
        .select(col("event_type"), col("value").as("p95"))
      hourly.join(broadcast(thr), "event_type")
        .where(col("value") <= col("p95"))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"), round(col("p95"), 6).as("p95"))
        .orderBy("event_type", "bucket")
    }),

    "h24_npercentile" -> ((s, dir) => {
      // Graphite's nPercentile(95) per series-day: the k-th smallest
      // hourly value with k = ceil(0.95*n) computed in INTEGERS
      // (k = (19n+19) div 20) — float 0.95*n differs from the nominal
      // rank at exact multiples (IEEE 19.000000000000004), so neither
      // engine touches float rank math. Selection is a row_number over
      // a (series, day)-partitioned window (<= 24 rows per group;
      // ties in value make the k-th VALUE deterministic regardless of
      // tie order). No percentile_approx, no interpolation ambiguity.
      import org.apache.spark.sql.expressions.Window
      val day = date_trunc("day", col("bucket"))
      val wv = Window.partitionBy(col("event_type"), day)
        .orderBy(col("value"))
      val wn = Window.partitionBy(col("event_type"), day)
      hourlyByType(s, dir)
        .withColumn("rn", row_number().over(wv).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .where(col("rn") === expr("(n * 19 + 19) div 20"))
        .select(col("event_type"),
          day.cast("date").cast("string").as("day"),
          col("n"), round(col("value"), 6).as("p95"))
        .orderBy("event_type", "day")
    }),

    "h23_zband" -> ((s, dir) => {
      // Graphite-style aberration detection (the three-sigma band of
      // holtWintersAberration, over a trailing window instead of a
      // forecast): flag hourly points sitting more than 2 sigma from
      // the trailing 24h mean of their own series. The z-test runs
      // ENTIRELY in integers — values scale to micro-units (exact:
      // they carry <= 6 decimals) and |v-mu| > 2*sigma is compared as
      // (n*v - S)^2 > 4*(n*S2 - S^2) in DECIMAL(38,0) (p19's
      // integer-exact-predicate pattern), so the flag is
      // bit-deterministic on both engines — no float stddev anywhere.
      // Per-series partitioned ROWS frame; never a global window.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(-23, 0)
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      hourlyByType(s, dir)
        .withColumn("vi",
          (col("value").cast("decimal(18,6)") * lit(1000000)).cast("long"))
        .withColumn("n", count(col("vi")).over(w))
        .withColumn("sv", sum(col("vi")).over(w))
        .withColumn("s2", sum(dec(col("vi")) * dec(col("vi"))).over(w))
        .withColumn("lhs", {
          val a = dec(col("n") * col("vi")) - dec(col("sv"))
          a * a
        })
        .withColumn("rhs",
          dec(lit(4)) *
            (dec(col("n")) * col("s2") - dec(col("sv")) * dec(col("sv"))))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("value"), 6).as("value"), col("n"),
          (col("n") >= 12 && col("lhs") > col("rhs")).as("anomaly"))
        .orderBy("event_type", "bucket")
    }),

    "h21_movmedian" -> ((s, dir) => {
      // Graphite's movingMedian(6h): EXACT median over a trailing ROWS
      // frame per series — the robust-to-spikes sibling of h10's
      // moving mean (exact percentile, Spark's median() alias rejects
      // window frames). Order statistics need no accumulation, so the
      // only cross-engine arithmetic is the even-count midpoint
      // interpolation (identical doubles both sides).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(-5, 0)
      hourlyByType(s, dir)
        .withColumn("med", expr("percentile(value, 0.5)").over(w))
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          round(col("med"), 6).as("moving_median"))
        .orderBy("event_type", "bucket")
    }),

    "h20_holt" -> ((s, dir) => {
      // Holt double-exponential smoothing (the level+trend recurrence
      // behind Graphite's holtWinters* family, seasonal term omitted):
      // a second true recurrence on the SeriesFold contract, α=0.5 /
      // β=0.25 exact in binary so the recursive-CTE mirror is
      // bit-identical, forecast = one-step-ahead level+trend.
      // dyadic α/β over 2-decimal inputs make exact .xxxxxx5 values
      // routine, where ROUND(x, 6) ties break differently across
      // engines (BigDecimal-exact vs float-scaled). Rounding as
      // round(x·1e6)/1e6 runs the IDENTICAL IEEE ops on both sides:
      // same product double, same away-from-zero tie, same division.
      def r6(c: org.apache.spark.sql.Column) = round(c * lit(1e6)) / lit(1e6)
      graft.operators.SeriesFold
        .holtLinear(hourlyByType(s, dir), "event_type", "bucket", "value",
          alpha = 0.5, beta = 0.25)
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          r6(col("level")).as("level"),
          r6(col("trend")).as("trend"),
          r6(col("forecast")).as("forecast"))
        .orderBy("event_type", "bucket")
    }),

    "h6_asof" -> ((s, dir) => {
      AsOf.latestAtOrBefore(ev(s, dir), "user_id", "ts", "event_id", "value",
          expr("TIMESTAMP '2024-01-15 12:00:00'"))
        .select(col("user_id"), round(col("value"), 6).as("value"),
          date_trunc("second", col("ts")).cast("string").as("asof_ts"))
        .orderBy("user_id")
    }),

    "h7_asofjoin" -> ((s, dir) => {
      // row-wise as-of join: every purchase gets the user's latest click
      // value at or before it (union+window pattern: one sort per key,
      // no N x M range explosion)
      val e = ev(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicksSeq = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      AsOf.asOfJoin(purchases, clicksSeq, "user_id", "ts", "ts", "value",
          "last_click_v", rightSeq = Some("event_id"))
        .select(col("event_id"), col("user_id"),
          round(col("last_click_v"), 6).as("last_click_v"))
        .orderBy("event_id")
    }),

    "h8_salted" -> ((s, dir) => {
      // skew-resistant two-stage aggregation (hot-key salting); results
      // must equal the direct groupBy, which is what the oracle computes
      graft.operators.Skew.saltedStats(
          ev(s, dir).withColumn("value", col("value").cast("decimal(18,6)")),
          Seq("user_id"), "value", buckets = 8)
        .select(col("user_id"),
          round(col("sum_value").cast("double"), 6).as("sum_value"),
          col("n"),
          round(col("min_value").cast("double"), 6).as("min_value"),
          round(col("max_value").cast("double"), 6).as("max_value"),
          (round(col("sum_value").cast("double") / col("n") * lit(1e6)) /
            lit(1e6)).as("mean_value"))
        .orderBy("user_id")
    }),

    "s2_sessions" -> ((s, dir) => {
      // stateful streaming sessionization (flatMapGroupsWithState):
      // 2h-gap sessions per user; only CLOSED sessions are emitted (the
      // open tail stays in state), so the oracle drops each user's last
      // island
      graft.Graft.configure(s)
      import s.implicits._
      val raw = graft.Tables.loadStream(s, dir, "events")
      val pts = raw
        .transform(Tables.normalizeEventTs)
        .select(concat(lit("u"), col("user_id")).as("series_id"),
          col("ts").cast("long").as("ts"), col("value"))
        .as[(String, Long, Double)]
      Replay.toMemory("s2_sessions",
          graft.streaming.StreamIngest.sessionize(pts, gapSec = 7200).toDF(), "append")
        .select(col("series_id"), col("start"), col("end"), col("n"),
          round(col("sum"), 6).as("sum"))
        .orderBy("series_id", "start")
    }),

    "s7_streamdim" -> ((s, dir) => {
      // stream-static dimension join: the events stream enriched
      // against the static customer table (BROADCAST — stateless, no
      // state store at all, the join re-evaluates per micro-batch) and
      // aggregated per (segment, type). The production shape for
      // "enrich the firehose with a dim table": at any event rate the
      // only streaming state is the aggregate itself.
      graft.Graft.configure(s)
      val raw = graft.Tables.loadStream(s, dir, "events")
      val dim = broadcast(Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val agged = raw.join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
      Replay.toMemory("s7_streamdim", agged, "complete")
        .select(col("c_mktsegment"), col("event_type"), col("n"),
          round(col("sum_value"), 6).as("sum_value"))
        .orderBy("c_mktsegment", "event_type")
    }),

    "s10_streamtopk" -> ((s, dir) => {
      // streaming heavy hitters: per 6h tumbling window, the top-5
      // users by event count, published EXACTLY ONCE when the 2h
      // watermark closes the window (event-time timeout on custom
      // keyed state — neither windowed aggregation nor rank is
      // otherwise expressible exactly-once in Append mode). Open
      // windows stay in state, never emitted; the oracle replays the
      // strict watermark-passed-end rule statically.
      graft.Graft.configure(s)
      val raw = graft.Tables.loadStream(s, dir, "events")
      val ev = raw
        .transform(Tables.normalizeEventTs)
        .select(col("ts"), concat(lit("u"), col("user_id")).as("key"))
      Replay.toMemory("s10_streamtopk", graft.streaming.StreamIngest
          .windowedTopK(ev, windowSec = 21600, k = 5, delay = "2 hours")
          .toDF(), "append")
        .select(col("wstart"), col("rnk"), col("key"), col("n"))
        .orderBy("wstart", "rnk")
    }),

    "s12_streamkmv" -> ((s, dir) => {
      // incremental sketch maintenance: the q20 deterministic KMV
      // distinct sketch kept up to date by a stream. The fixture is
      // split into three files so AvailableNow delivers real
      // successive micro-batches; each batch folds its distinct
      // 60-bit hashes into the survivor set and re-cuts to the k
      // smallest per group (min-k is associative, commutative and
      // idempotent, so the maintained sketch equals the batch sketch
      // EXACTLY — order, batching and duplication cannot show). State
      // is k·|groups| rows per round (here localCheckpoint'd; a
      // production pipeline persists the survivor table). The oracle
      // recomputes the same sketch from the raw table in one pass.
      graft.Graft.configure(s)
      import s.implicits._
      val k = 256
      val two60 = 1.152921504606846976e18
      val in = Replay.stage("s12_streamkmv", (0 until 3).map(i =>
        s.read.parquet(s"$dir/events.parquet")
          .where(pmod(col("event_id"), lit(3)) === i)
          .select(col("event_id"), col("event_type"), col("user_id"))))
      var surv = Seq.empty[(String, Long)].toDF("event_type", "h")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("h"))
      Replay.run("s12_streamkmv", in.stream().writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bh = batch.select(col("event_type"),
            conv(substring(md5(col("user_id").cast("string")), 1, 15),
              16, 10).cast("long").as("h")).distinct()
          // min-k as ONE aggregate (r13 verdict item 9): the old
          // distinct + row_number re-cut shuffled every survivor to its
          // group's single window task and sorted there each batch; a
          // collect_set -> array_sort -> slice aggregate computes the
          // same k smallest DISTINCT hashes per group (collect_set
          // dedups, so the separate distinct() is subsumed) with
          // map-side partial aggregation and no window sort. The
          // buffer is bounded: <= k survivors + the batch's distinct
          // hashes per group.
          surv = surv.unionByName(bh)
            .groupBy(col("event_type"))
            .agg(slice(array_sort(collect_set(col("h"))), 1, k).as("hs"))
            .select(col("event_type"), explode(col("hs")).as("h"))
            .localCheckpoint(true) // (a) lineage cut: per-batch survivor fold
          ()
        })
      surv.withColumn("rn", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_survivors"),
          max(when(col("rn") === k, col("h"))).as("hk"))
        .select(col("event_type"), col("n_survivors"),
          when(col("hk").isNull, col("n_survivors"))
            .otherwise(floor(lit((k - 1).toDouble) * lit(two60) /
              col("hk").cast("double")))
            .as("approx_users"))
        .orderBy("event_type")
    }),

    "s8_streamfinal" -> ((s, dir) => {
      // append-mode watermark-FINALIZED aggregate: unlike s1's
      // complete-mode (which re-emits everything per batch), append
      // mode emits a window exactly once — when the 2h watermark
      // passes its end — and open windows stay in state, never
      // emitted. The production shape for "publish closed buckets to
      // downstream": state is bounded by the watermark horizon and
      // the sink sees each bucket exactly once. The oracle recomputes
      // the same finalization rule statically: windows whose end ≤
      // max event time (µs) − 2h.
      graft.Graft.configure(s)
      val raw = graft.Tables.loadStream(s, dir, "events")
      val agged = raw
        .transform(Tables.normalizeEventTs)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
      Replay.toMemory("s8_streamfinal", agged
          .select(col("window.start").as("bucket"), col("event_type"),
            col("n"), col("sum_value")), "append")
        .select(col("event_type"), col("bucket").cast("string").as("bucket"),
          col("n"), round(col("sum_value"), 6).as("sum_value"))
        .orderBy("event_type", "bucket")
    }),

    "s1_stream" -> ((s, dir) => {
      // the same events parquet driven through Structured Streaming:
      // micro-batched file source -> tumbling hourly aggregate -> memory
      // sink; the oracle recomputes it statically
      graft.Graft.configure(s)
      // the file source wants a directory: stream the sf dir filtered
      // down to the events file
      val raw = graft.Tables.loadStream(s, dir, "events")
      val stream = raw
        .transform(Tables.normalizeEventTs)
        .select(col("event_type").as("series_id"), col("ts"), col("value"))
      Replay.toMemory("s1_stream",
          graft.streaming.StreamIngest.hourlyAggregates(stream), "complete")
        .select(col("series_id"), col("bucket").cast("string").as("bucket"),
          col("n"),
          (round(col("mean_value") * lit(1e6)) / lit(1e6)).as("mean_value"),
          round(col("max_value"), 6).as("max_value"))
        .orderBy("series_id", "bucket")
    }),

    "s3_streamdedup" -> ((s, dir) => {
      // streaming exact dedup (dropDuplicatesWithinWatermark): the
      // events file is streamed TWICE and unioned — every event arrives
      // duplicated — and the state-store dedup must collapse it back to
      // exactly the distinct set (the oracle aggregates the raw table
      // once). The watermark bounds dedup state, matching SURVEY §3.4's
      // stance: watermarks bound state, never rollup finality.
      graft.Graft.configure(s)
      def src() = graft.Tables.loadStream(s, dir, "events")
        .transform(Tables.normalizeEventTs)
        .select(col("event_id"), col("event_type"), col("ts"))
      val deduped = src().unionByName(src())
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      Replay.toMemory("s3_streamdedup", deduped, "append")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"))
        .orderBy("event_type")
    }),

    "s5_streamjoin" -> ((s, dir) => {
      // stream-stream interval join: each click joined to the same
      // user's purchases within the following 30 minutes. Watermarks on
      // BOTH sides + the time-range predicate bound the join state to a
      // sliding window (Spark drops a side's state once the other
      // side's watermark passes the range) — the pattern that keeps a
      // stream-stream join finite at any event rate. Inner join ⇒ the
      // result is complete, so the oracle is the static self-join.
      graft.Graft.configure(s)
      // a stream-stream join materializes 4 state stores per shuffle
      // partition per side; at 32 partitions the per-batch store
      // commits dominate a bounded replay. 8 state partitions bound
      // that constant; on a live cluster this is sized to event rate,
      // not to the batch-side core count. (Pinned at query START —
      // state partitioning is immutable for the life of a stream.)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val pairs = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        def src(et: String) = graft.Tables.loadStream(s, dir, "events")
          .transform(Tables.normalizeEventTs)
          .where(col("event_type") === et)
        val clicks = src("click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val buys = src("purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(buys,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
        Replay.toMemory("s5_streamjoin", joined, "append")
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      pairs
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
            .as("gap_us"))
        .orderBy("click_id", "purchase_id")
    }),

    "s15_louterjoin" -> ((s, dir) => {
      // stream-stream LEFT OUTER interval join: s5's click→purchase
      // window join, but clicks with NO qualifying purchase must ALSO
      // emit (with nulls) — the part that exercises the outer-join
      // state machinery: Spark holds an unmatched left row until the
      // joint watermark proves no future right row can land in its
      // window, then emits the null row exactly once. Emission timing
      // rides engine-internal eviction boundaries, so the gate forces
      // FULL closure instead of modeling them in SQL: a far-future
      // sentinel pair (filtered from the output) arrives in a second,
      // mtime-later file and drives both sides' watermarks past every
      // real click's window end. The emitted set is then the COMPLETE
      // left join and the oracle is the plain static LEFT JOIN.
      graft.Graft.configure(s)
      import s.implicits._
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val pairs = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"))
        val farTs = java.sql.Timestamp.valueOf("2035-01-01 00:00:00")
        val in = Replay.stage("s15_louterjoin", Seq(ev,
          Seq((-1L, farTs, -1L, "click"), (-2L, farTs, -2L, "purchase"))
            .toDF("event_id", "ts", "user_id", "event_type")))
        def src(et: String) = in.stream().where(col("event_type") === et)
        val clicks = src("click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val buys = src("purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(buys,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") +
              expr("INTERVAL 30 MINUTES"),
          "left_outer")
        Replay.toMemory("s15_louterjoin", joined, "append")
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      pairs
        .where(col("click_id") >= 0)
        .select(col("click_id"), col("user_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
            .as("gap_us"),
          when(col("purchase_id").isNotNull, 1L).otherwise(0L)
            .as("matched"))
        .orderBy(col("click_id"), coalesce(col("purchase_id"), lit(-1L)))
    }),

    "s13_streamfunnel" -> ((s, dir) => {
      // Streaming funnel attribution: q37's first-click → first-later-
      // purchase computed INCREMENTALLY over an event-time-ordered
      // replay (three day-ranged files, mtime-pinned so AvailableNow
      // delivers them oldest-first). Per-user state is O(1) — two
      // nullable timestamps — and the per-batch fold is two partial
      // aggregates + one equi-join on user_id: first_click =
      // coalesce(state, batch min click) (a later batch can never
      // supply an earlier click), first_purchase = coalesce(state,
      // batch min purchase STRICTLY after the resolved click) (an
      // earlier batch's purchases all precede this batch's clicks, so
      // nothing is ever missed). The maintained table must equal the
      // one-pass batch query EXACTLY — the oracle is q37's, verbatim.
      graft.Graft.configure(s)
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      val in = Replay.stage("s13_streamfunnel", DayRanges.map { case (lo, hi) =>
        ev.where(dayofmonth(col("ts")).between(lo, hi))
      })
      var state = Seq.empty[(Long, java.sql.Timestamp, java.sql.Timestamp)]
        .toDF("user_id", "fc", "fp")
      Replay.run("s13_streamfunnel", in.stream().writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val clicks = batch.where(col("event_type") === "click")
            .groupBy(col("user_id")).agg(min(col("ts")).as("bc"))
          val merged = state.join(clicks, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              coalesce(col("fc"), col("bc")).as("fc"), col("fp"))
          val buys = batch.where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"))
            .join(merged.select(col("user_id"), col("fc")), "user_id")
            .where(col("ts") > col("fc"))
            .groupBy(col("user_id")).agg(min(col("ts")).as("bp"))
          state = merged.join(buys, Seq("user_id"), "left")
            .select(col("user_id"), col("fc"),
              coalesce(col("fp"), col("bp")).as("fp"))
            .localCheckpoint(true) // (a) lineage cut: per-batch state fold
          ()
        })
      state.where(col("fc").isNotNull)
        .select(col("user_id"),
          unix_micros(col("fc")).as("first_click_us"),
          unix_micros(col("fp")).as("first_purchase_us"),
          when(col("fp").isNotNull, 1L).otherwise(0L).as("converted"),
          (unix_micros(col("fp")) - unix_micros(col("fc"))).as("gap_us"))
        .orderBy("user_id")
    }),

    "s14_streamhw" -> ((s, dir) => {
      // STREAMING anomaly detection with exact batch parity: h37's
      // Brutlag band fold kept live across an event-time-ordered
      // replay (s13's day-ranged, mtime-pinned AvailableNow batches).
      // Per-series state is the full recurrence carry — (l, b, t,
      // s[24], d[24]), ~50 doubles — held in a keyed table and
      // COGROUPED with each batch's hourly lww aggregate, so the fold
      // resumes mid-series with the identical IEEE op order the
      // one-pass batch fold uses: the maintained output must equal
      // h37 BIT-EXACTLY (the oracle is h37's, verbatim). Hour buckets
      // never straddle the day-ranged batch bounds, so per-batch lww
      // is the global lww. State and outputs are localCheckpoint'd
      // per batch — O(|series|) and O(emitted rows), never O(corpus).
      graft.Graft.configure(s)
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val in = Replay.stage("s14_streamhw", DayRanges.map { case (lo, hi) =>
        ev.where(dayofmonth(col("ts")).between(lo, hi))
      })
      // (series, l, b, t, s[24], d[24])
      var state = Seq.empty[(String, Double, Double, Int,
        Seq[Double], Seq[Double])]
        .toDF("series", "l", "b", "t", "s", "d")
      var out = Seq.empty[(String, Long, Double, Double, Double,
        Double, Long)]
        .toDF("event_type", "bkt", "pred", "dev", "upper", "lower",
          "aberrant")
      val (alpha, beta, gamma, delta) = (0.5, 0.25, 0.25, 3.0)
      val (a1, b1, g1) = (1.0 - alpha, 1.0 - beta, 1.0 - gamma)
      val period = 24
      Replay.run("s14_streamhw", in.stream().writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val hourly = Dedup.lastWriteWins(batch,
            Seq(col("event_type"), Time.align(col("ts"), 3600).as("bucket")),
            col("event_id"), Seq("value" -> col("value")))
            .select(col("event_type"), col("bucket").cast("long"),
              col("value").cast("double"))
            .as[(String, Long, Double)]
          val st = state.as[(String, Double, Double, Int,
            Seq[Double], Seq[Double])]
          // one output row per slot PLUS one trailing state row per
          // series, discriminated by bkt = Long.MinValue
          val folded = hourly.groupByKey(_._1)
            .cogroup(st.groupByKey(_._1)) { (key, rowsIt, stIt) =>
              val rows = rowsIt.map(r => (r._2, r._3)).toArray
              java.util.Arrays.sort(rows,
                Ordering.by((p: (Long, Double)) => (p._1, p._2)))
              val init = stIt.toSeq.headOption
              var l = init.map(_._2).getOrElse(0.0)
              var b = init.map(_._3).getOrElse(0.0)
              var t = init.map(_._4).getOrElse(0)
              val sArr = init.map(_._5.toArray)
                .getOrElse(Array.fill(period)(0.0))
              val dArr = init.map(_._6.toArray)
                .getOrElse(Array.fill(period)(0.0))
              val emitted = rows.iterator.map { case (bkt, v) =>
                val idx = t % period
                var pred = v; var dpre = 0.0
                if (t == 0) { l = v; b = 0.0 }
                else {
                  pred = l + b + sArr(idx)
                  dpre = dArr(idx)
                  val lNew = alpha * (v - sArr(idx)) + a1 * (l + b)
                  b = beta * (lNew - l) + b1 * b
                  sArr(idx) = gamma * (v - lNew) + g1 * sArr(idx)
                  dArr(idx) = gamma * math.abs(v - pred) + g1 * dArr(idx)
                  l = lNew
                }
                t += 1
                val upper = pred + delta * dpre
                val lower = pred - delta * dpre
                (key, bkt, pred, dpre, upper, lower,
                  if (v > upper || v < lower) 1L else 0L,
                  0.0, 0.0, 0, Seq.empty[Double], Seq.empty[Double])
              }.toArray
              (emitted.iterator ++ Iterator(
                (key, Long.MinValue, 0.0, 0.0, 0.0, 0.0, 0L,
                  l, b, t, sArr.toSeq, dArr.toSeq)))
            }
            .toDF("series", "bkt", "pred", "dev", "upper", "lower",
              "aberrant", "l", "b", "t", "s", "d")
            .localCheckpoint(true) // (a) lineage cut: state and output read the fold
          state = folded.where(col("bkt") === Long.MinValue)
            .select(col("series"), col("l"), col("b"), col("t"),
              col("s"), col("d"))
          out = out.unionByName(
            folded.where(col("bkt") =!= Long.MinValue)
              .select(col("series").as("event_type"), col("bkt"),
                col("pred"), col("dev"), col("upper"), col("lower"),
                col("aberrant")))
            .localCheckpoint(true) // (a) lineage cut: per-batch output union
          ()
        })
      def r6(c: org.apache.spark.sql.Column) = round(c * lit(1e6)) / lit(1e6)
      out.select(col("event_type"),
        timestamp_seconds(col("bkt")).cast("string").as("bucket"),
        r6(col("pred")).as("pred"), r6(col("dev")).as("dev"),
        r6(col("upper")).as("upper"), r6(col("lower")).as("lower"),
        col("aberrant"))
        .orderBy("event_type", "bucket")
    }),

    "h36_seriesdiv" -> ((s, dir) => {
      // Graphite's divideSeries + diffSeries in one aligned pass: the
      // error/click ratio and spread per hourly slot. A FULL OUTER
      // join on the bucket keeps slots either series missed (graphite
      // emits None there — ratio/diff stay null, and a 0 divisor also
      // nulls the ratio rather than inf). The two series are filters
      // over the same hourly lww aggregate (each side's filter reaches
      // its scan); diff rides a decimal subtract (2-decimal inputs,
      // exact), ratio is one IEEE division tie-safe rounded.
      val h = hourlyByType(s, dir)
      val e = h.where(col("event_type") === "error")
        .select(col("bucket"), col("value").as("err_v"))
      val c = h.where(col("event_type") === "click")
        .select(col("bucket"), col("value").as("clk_v"))
      e.join(c, Seq("bucket"), "full_outer")
        .select(col("bucket").cast("string").as("bucket"),
          round(col("err_v"), 6).as("err_v"),
          round(col("clk_v"), 6).as("clk_v"),
          when(col("clk_v").isNull || col("clk_v") === 0
            || col("err_v").isNull, lit(null).cast("double"))
            .otherwise(round(col("err_v") / col("clk_v") * lit(1e6))
              / lit(1e6)).as("ratio"),
          (col("err_v").cast("decimal(18,6)")
            - col("clk_v").cast("decimal(18,6)")).cast("double").as("diff"))
        .orderBy("bucket")
    })
  )

  /** s13/s14's replay: the month as three day-ranged files, oldest first. */
  private val DayRanges = Seq((1, 10), (11, 20), (21, 32))

  private val oraclesBase: Map[String, String] = Map(
    "h1_lww" ->
      """SELECT user_id, CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket,
        | ROUND(arg_max(value, event_id), 6) AS value
        |FROM events GROUP BY user_id, date_trunc('hour', ts)
        |ORDER BY user_id, bucket""".stripMargin,

    "h2_rollup" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(date_trunc('day', h) AS VARCHAR) AS bucket,
        |       CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(v) AS DECIMAL(18,6)) AS DOUBLE) AS value
        |FROM hourly GROUP BY event_type, date_trunc('day', h)
        |HAVING CAST(COUNT(v) AS DOUBLE) / 24 >= 0.5
        |ORDER BY event_type, bucket""".stripMargin,

    "h3_gapfill" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY user_id, date_trunc('hour', ts)),
        |users AS (SELECT DISTINCT user_id FROM events),
        |spine AS (
        |  SELECT user_id, g AS h
        |  FROM users CROSS JOIN generate_series(
        |    TIMESTAMP '2024-01-05 00:00:00',
        |    TIMESTAMP '2024-01-06 23:00:00',
        |    INTERVAL 1 HOUR) AS t(g))
        |SELECT s.user_id, CAST(s.h AS VARCHAR) AS bucket,
        |       ROUND(h.v, 6) AS value
        |FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.h = h.h
        |ORDER BY s.user_id, bucket""".stripMargin,

    "h4_cascade" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |daily AS (
        |  SELECT event_type, date_trunc('day', h) AS d,
        |         CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(v)
        |              AS DECIMAL(18,6)) AS v
        |  FROM hourly GROUP BY event_type, date_trunc('day', h)
        |  HAVING CAST(COUNT(v) AS DOUBLE) / 24 >= 0.5)
        |SELECT event_type, CAST(date_trunc('week', d) AS VARCHAR) AS bucket,
        |       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(v) * 1e6) / 1e6 AS value,
        |       COUNT(v) AS known
        |FROM daily GROUP BY event_type, date_trunc('week', d)
        |HAVING CAST(COUNT(v) AS DOUBLE) / 7 >= 0.5
        |ORDER BY event_type, bucket""".stripMargin,

    "h5_retention" ->
      """SELECT user_id, COUNT(*) AS n,
        | ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
        |FROM events
        |WHERE ts > TIMESTAMP '2026-01-01 00:00:00' - INTERVAL 730 DAY
        |  AND ts <= TIMESTAMP '2026-01-01 00:00:00'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "h9_derivative" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(CASE WHEN v >= lag(v) OVER w
        |                  THEN v - lag(v) OVER w END, 6) AS deriv
        |FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
        |ORDER BY event_type, bucket""".stripMargin,

    "h10_movavg" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |             / COUNT(v) OVER w * 1e6) / 1e6 AS moving_avg
        |FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h
        |  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, bucket""".stripMargin,

    "h11_integral" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE), 6)
        |         AS running_sum
        |FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h
        |  ROWS UNBOUNDED PRECEDING)
        |ORDER BY event_type, bucket""".stripMargin,

    "h12_timeshift" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT c.event_type, CAST(c.h AS VARCHAR) AS bucket,
        |       ROUND(c.v, 6) AS value,
        |       ROUND(p.v, 6) AS wk_ago,
        |       ROUND(c.v - p.v, 6) AS wow_delta
        |FROM hourly c
        | LEFT JOIN hourly p ON p.event_type = c.event_type
        |  AND p.h + INTERVAL 7 DAY = c.h
        |ORDER BY c.event_type, bucket""".stripMargin,

    // the recursive CTE steps the SAME recurrence in the SAME IEEE op
    // order as SeriesFold's fold (0.25*x + 0.75*e), so the match is
    // bit-exact, not approximate — no pow(), no closed form
    "h13_ema" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |o AS (
        |  SELECT event_type, h, v, row_number() OVER (
        |    PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hourly),
        |rec AS (
        |  SELECT event_type, h, rn, v AS ema FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.h, o.rn, 0.25 * o.v + 0.75 * r.ema
        |  FROM rec r JOIN o ON o.event_type = r.event_type
        |   AND o.rn = r.rn + 1)
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(ema, 6) AS ema
        |FROM rec ORDER BY event_type, bucket""".stripMargin,

    "h14_keeplast" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY user_id, date_trunc('hour', ts)),
        |users AS (SELECT DISTINCT user_id FROM events),
        |spine AS (
        |  SELECT user_id, g AS h
        |  FROM users CROSS JOIN generate_series(
        |    TIMESTAMP '2024-01-05 00:00:00',
        |    TIMESTAMP '2024-01-06 23:00:00',
        |    INTERVAL 1 HOUR) AS t(g))
        |SELECT s.user_id, CAST(s.h AS VARCHAR) AS bucket,
        |       ROUND(h.v, 6) AS value,
        |       ROUND(last_value(h.v IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |         AS filled
        |FROM spine s LEFT JOIN hourly h
        |  ON s.user_id = h.user_id AND s.h = h.h
        |ORDER BY s.user_id, bucket""".stripMargin,

    "h15_summarize" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type,
        |       (epoch_us(h) // 1000000 // 14400) * 14400 AS bucket,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS value
        |FROM hourly GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,

    "h16_persecond" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND((CASE WHEN v >= lag(v) OVER w
        |                  THEN (v - lag(v) OVER w) /
        |                       CAST(epoch_us(h) // 1000000
        |                            - epoch_us(lag(h) OVER w) // 1000000
        |                            AS DOUBLE) END) * 1e6) / 1e6 AS rate
        |FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
        |ORDER BY event_type, bucket""".stripMargin,

    "h17_seriesagg" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT CAST(h AS VARCHAR) AS bucket, COUNT(*) AS n_series,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS sum_all,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(v) * 1e6) / 1e6 AS avg_all,
        |       ROUND(MAX(v), 6) AS max_all
        |FROM hourly GROUP BY h ORDER BY bucket""".stripMargin,

    "h18_topseries" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |stats AS (
        |  SELECT event_type,
        |         CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(v)
        |           AS series_avg
        |  FROM hourly GROUP BY event_type
        |  QUALIFY row_number() OVER (ORDER BY series_avg DESC, event_type) <= 3)
        |SELECT h.event_type, CAST(h.h AS VARCHAR) AS bucket,
        |       ROUND(h.v, 6) AS value,
        |       ROUND(s.series_avg * 1e6) / 1e6 AS series_avg
        |FROM hourly h JOIN stats s USING (event_type)
        |ORDER BY event_type, bucket""".stripMargin,

    "h19_aspercent" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |tot AS (
        |  SELECT h, SUM(CAST(v AS DECIMAL(18,6))) AS tot
        |  FROM hourly GROUP BY h)
        |SELECT hy.event_type, CAST(hy.h AS VARCHAR) AS bucket,
        |       ROUND(hy.v, 6) AS value,
        |       ROUND(hy.v / CAST(t.tot AS DOUBLE) * 100.0 * 1e6) / 1e6 AS pct
        |FROM hourly hy JOIN tot t USING (h)
        |ORDER BY event_type, bucket""".stripMargin,

    "h22_integralbyday" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE), 6)
        |         AS day_running_sum
        |FROM hourly WINDOW w AS (
        |  PARTITION BY event_type, date_trunc('day', h) ORDER BY h
        |  ROWS UNBOUNDED PRECEDING)
        |ORDER BY event_type, bucket""".stripMargin,

    // moving-stdev replay: exact HUGEINT inner value, correctly-
    // rounded sqrt, identical divisions
    "h26_movstdev" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |z AS (
        |  SELECT event_type, h,
        |         CAST(CAST(v AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vi
        |  FROM hourly),
        |ws AS (
        |  SELECT event_type, h,
        |         COUNT(vi) OVER w AS n,
        |         SUM(vi) OVER w AS sv,
        |         SUM(CAST(vi AS HUGEINT) * vi) OVER w AS s2
        |  FROM z WINDOW w AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket, n,
        |       ROUND(sqrt(CAST(CAST(n AS HUGEINT) * s2 -
        |               CAST(sv AS HUGEINT) * sv AS DOUBLE))
        |             / (n * 1e6) * 1e6) / 1e6 AS stdev
        |FROM ws ORDER BY event_type, bucket""".stripMargin,

    // hitcount replay: decimal-exact sum x 3600, one double cast
    "h28_hitcount" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(date_trunc('day', h) AS VARCHAR) AS day,
        |       COUNT(*) AS n_points,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) * 3600 AS DOUBLE)
        |             * 1e6) / 1e6 AS hits
        |FROM hourly GROUP BY event_type, date_trunc('day', h)
        |ORDER BY event_type, day""".stripMargin,

    // least-squares replay: exact HUGEINT sums, the same two-division
    // shape (num/den/1e6) so every double op is identical
    "h27_linreg" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |z AS (
        |  SELECT event_type, date_trunc('day', h) AS d,
        |         CAST(EXTRACT(hour FROM h) AS BIGINT) AS x,
        |         CAST(CAST(v AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vi
        |  FROM hourly),
        |g AS (
        |  SELECT event_type, d, COUNT(*) AS n,
        |         SUM(x) AS sx, SUM(vi) AS sy, SUM(x * x) AS sxx,
        |         SUM(CAST(x AS HUGEINT) * vi) AS sxy
        |  FROM z GROUP BY event_type, d
        |  HAVING COUNT(*) >= 2),
        |f AS (
        |  SELECT event_type, d, n,
        |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
        |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS snum,
        |         CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS inum
        |  FROM g)
        |SELECT event_type, CAST(d AS VARCHAR) AS day, n,
        |       ROUND(CAST(snum AS DOUBLE) / CAST(den AS DOUBLE) / 1e6 * 1e6)
        |         / 1e6 AS slope,
        |       ROUND(CAST(inum AS DOUBLE) / CAST(den AS DOUBLE) / 1e6 * 1e6)
        |         / 1e6 AS intercept,
        |       ROUND(CAST(inum + 23 * snum AS DOUBLE) / CAST(den AS DOUBLE)
        |         / 1e6 * 1e6) / 1e6 AS predict_eod
        |FROM f ORDER BY event_type, day""".stripMargin,

    // seasonal Holt-Winters replay: the recursive CTE carries the
    // 24-slot season vector as a LIST; dyadic constants keep every
    // step's IEEE ops identical to the Spark fold (l/b inline as in
    // h20; the updated season slot inlines l_new twice)
    "h25_holtwinters" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |o AS (
        |  SELECT event_type, h, v, row_number() OVER (
        |    PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hourly),
        |rec AS (
        |  SELECT event_type, h, rn, v AS l, CAST(0.0 AS DOUBLE) AS b,
        |         list_transform(range(1, 25), i -> CAST(0.0 AS DOUBLE)) AS s
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.h, o.rn,
        |         0.5 * (o.v - r.s[((o.rn - 1) % 24) + 1])
        |           + 0.5 * (r.l + r.b),
        |         0.25 * ((0.5 * (o.v - r.s[((o.rn - 1) % 24) + 1])
        |                  + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b,
        |         list_transform(range(1, 25), i ->
        |           CASE WHEN i = ((o.rn - 1) % 24) + 1
        |             THEN 0.25 * (o.v -
        |               (0.5 * (o.v - r.s[((o.rn - 1) % 24) + 1])
        |                + 0.5 * (r.l + r.b)))
        |               + 0.75 * r.s[((o.rn - 1) % 24) + 1]
        |             ELSE r.s[i] END)
        |  FROM rec r JOIN o ON o.event_type = r.event_type
        |   AND o.rn = r.rn + 1)
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(l * 1e6) / 1e6 AS level,
        |       ROUND(b * 1e6) / 1e6 AS trend,
        |       ROUND(s[((rn - 1) % 24) + 1] * 1e6) / 1e6 AS season,
        |       ROUND((l + b + s[(rn % 24) + 1]) * 1e6) / 1e6 AS forecast
        |FROM rec ORDER BY event_type, bucket""".stripMargin,

    // Brutlag bands: h25's recursion + a second 24-slot deviation LIST;
    // pred/devpre are emitted per row so the band math and the flag
    // compare the identical doubles the Spark fold produced
    "h37_hwbands" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |o AS (
        |  SELECT event_type, h, v, row_number() OVER (
        |    PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hourly),
        |rec AS (
        |  SELECT event_type, h, rn, v, v AS l, CAST(0.0 AS DOUBLE) AS b,
        |         list_transform(range(1, 25), i -> CAST(0.0 AS DOUBLE)) AS s,
        |         list_transform(range(1, 25), i -> CAST(0.0 AS DOUBLE)) AS d,
        |         v AS pred, CAST(0.0 AS DOUBLE) AS devpre
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.h, o.rn, o.v,
        |         0.5 * (o.v - r.s[((o.rn - 1) % 24) + 1])
        |           + 0.5 * (r.l + r.b),
        |         0.25 * ((0.5 * (o.v - r.s[((o.rn - 1) % 24) + 1])
        |                  + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b,
        |         list_transform(range(1, 25), i ->
        |           CASE WHEN i = ((o.rn - 1) % 24) + 1
        |             THEN 0.25 * (o.v -
        |               (0.5 * (o.v - r.s[((o.rn - 1) % 24) + 1])
        |                + 0.5 * (r.l + r.b)))
        |               + 0.75 * r.s[((o.rn - 1) % 24) + 1]
        |             ELSE r.s[i] END),
        |         list_transform(range(1, 25), i ->
        |           CASE WHEN i = ((o.rn - 1) % 24) + 1
        |             THEN 0.25 * abs(o.v -
        |               (r.l + r.b + r.s[((o.rn - 1) % 24) + 1]))
        |               + 0.75 * r.d[((o.rn - 1) % 24) + 1]
        |             ELSE r.d[i] END),
        |         r.l + r.b + r.s[((o.rn - 1) % 24) + 1],
        |         r.d[((o.rn - 1) % 24) + 1]
        |  FROM rec r JOIN o ON o.event_type = r.event_type
        |   AND o.rn = r.rn + 1)
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(pred * 1e6) / 1e6 AS pred,
        |       ROUND(devpre * 1e6) / 1e6 AS dev,
        |       ROUND((pred + 3.0 * devpre) * 1e6) / 1e6 AS upper,
        |       ROUND((pred - 3.0 * devpre) * 1e6) / 1e6 AS lower,
        |       CAST(CASE WHEN v > pred + 3.0 * devpre
        |                   OR v < pred - 3.0 * devpre
        |                 THEN 1 ELSE 0 END AS BIGINT) AS aberrant
        |FROM rec ORDER BY event_type, bucket""".stripMargin,

    // pointwise transforms: decimal-exact scale/offset, tie-safe invert
    "h33_pointwise" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(v, 6) AS value,
        |       ROUND(CAST(CAST(v AS DECIMAL(18,6)) * 10 AS DOUBLE), 6)
        |         AS scaled,
        |       ROUND(CAST(CAST(v AS DECIMAL(18,6)) - 50 AS DOUBLE), 6)
        |         AS offset,
        |       ROUND(ABS(CAST(CAST(v AS DECIMAL(18,6)) - 50 AS DOUBLE)), 6)
        |         AS abs_offset,
        |       CASE WHEN v = 0 THEN NULL
        |            ELSE ROUND(1.0 / v * 1e6) / 1e6 END AS inverted
        |FROM hourly ORDER BY event_type, bucket""".stripMargin,

    // week-shift overlay: exploded spine joined on the shifted bucket
    "h34_timestack" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |spine AS (
        |  SELECT event_type, h, k
        |  FROM hourly, generate_series(0, 2) t(k))
        |SELECT s.event_type, CAST(s.h AS VARCHAR) AS bucket,
        |       CAST(k AS VARCHAR) || 'w' AS shift,
        |       ROUND(hy.v, 6) AS value
        |FROM spine s JOIN hourly hy
        |  ON hy.event_type = s.event_type
        | AND hy.h = s.h - to_days(CAST(7 * k AS INTEGER))
        |ORDER BY s.event_type, bucket, shift""".stripMargin,

    // event-count-weighted across-series mean; v*w exact in decimal
    "h35_weightedavg" ->
      """WITH per_series AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v, COUNT(*) AS w
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT CAST(h AS VARCHAR) AS bucket, COUNT(*) AS n_series,
        |       CAST(SUM(w) AS BIGINT) AS w_total,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6)) * w) AS DOUBLE)
        |             / SUM(w) * 1e6) / 1e6 AS wavg
        |FROM per_series GROUP BY h ORDER BY bucket""".stripMargin,

    // from-anchored integer bucket math; pre-from points drop
    "h46_smartsummarize" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |z AS (
        |  SELECT event_type, v,
        |         CAST(epoch_us(h) // 1000000 AS BIGINT) AS t
        |  FROM hourly
        |  WHERE CAST(epoch_us(h) // 1000000 AS BIGINT) >= 1704090600)
        |SELECT event_type,
        |       1704090600 + ((t - 1704090600) // 14400) * 14400
        |         AS bucket_s,
        |       COUNT(*) AS n_points,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS sum_value
        |FROM z
        |GROUP BY event_type, 1704090600 + ((t - 1704090600) // 14400) * 14400
        |ORDER BY event_type, bucket_s""".stripMargin,

    // the window predicate lives in the LATERAL; µs-exact tolerance
    "h45_asoftol" ->
      """SELECT a.event_id, a.user_id,
        |       ROUND(b.value, 6) AS last_click_v,
        |       epoch_us(a.ts) - epoch_us(b.cts) AS gap_us
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') a
        |LEFT JOIN LATERAL (
        |  SELECT c.value, c.ts AS cts FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = a.user_id
        |    AND epoch_us(c.ts) <= epoch_us(a.ts)
        |    AND epoch_us(a.ts) - epoch_us(c.ts) <= 3600000000
        |  ORDER BY date_trunc('microseconds', c.ts) DESC, c.event_id DESC
        |  LIMIT 1) b ON TRUE
        |ORDER BY a.event_id""".stripMargin,

    // exact HUGEINT variance numerator; identical IEEE display chain
    "h44_mostdeviant" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         SUM(CAST(CAST(v AS DECIMAL(18,6)) * 1000000 AS BIGINT))
        |           AS sv,
        |         SUM(CAST(CAST(CAST(v AS DECIMAL(18,6)) * 1000000
        |                       AS BIGINT) AS HUGEINT) *
        |             CAST(CAST(v AS DECIMAL(18,6)) * 1000000 AS BIGINT))
        |           AS svv
        |  FROM hourly GROUP BY event_type),
        |f AS (
        |  SELECT event_type, n,
        |         CAST(CAST(n AS HUGEINT) * svv
        |              - CAST(sv AS HUGEINT) * sv AS DOUBLE)
        |           / CAST(n * n AS DOUBLE) / 1e12 AS variance
        |  FROM st),
        |top AS (
        |  SELECT event_type, CAST(n AS BIGINT) AS n_points,
        |         ROUND(variance * 1e6) / 1e6 AS variance
        |  FROM f ORDER BY variance DESC, event_type LIMIT 3)
        |SELECT h.event_type, CAST(h.h AS VARCHAR) AS bucket,
        |       ROUND(h.v, 6) AS value, t.n_points, t.variance
        |FROM hourly h JOIN top t USING (event_type)
        |ORDER BY h.event_type, bucket""".stripMargin,

    // integer-rank k-th smallest across series per bucket
    "h43_pctseries" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |ranked AS (
        |  SELECT h, v,
        |         row_number() OVER (PARTITION BY h
        |           ORDER BY v, event_type) AS rn,
        |         COUNT(*) OVER (PARTITION BY h) AS n
        |  FROM hourly)
        |SELECT CAST(h AS VARCHAR) AS bucket, CAST(n AS BIGINT) AS n_series,
        |       ROUND(MAX(CASE WHEN rn = (n + 1) // 2 THEN v END), 6)
        |         AS p50,
        |       ROUND(MAX(CASE WHEN rn = (n * 19 + 19) // 20 THEN v END), 6)
        |         AS p95
        |FROM ranked GROUP BY h, n ORDER BY bucket""".stripMargin,

    // order-stat min/max broadcast back; exact decimal differences,
    // one tie-safe division; flat series null out
    "h42_normalize" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |stats AS (
        |  SELECT event_type, MIN(v) AS vmin, MAX(v) AS vmax
        |  FROM hourly GROUP BY event_type)
        |SELECT h.event_type, CAST(h.h AS VARCHAR) AS bucket,
        |       ROUND(h.v, 6) AS value,
        |       CAST(CAST(h.v AS DECIMAL(18,6)) -
        |            CAST(s.vmin AS DECIMAL(18,6)) AS DOUBLE)
        |         AS offset_to_zero,
        |       CASE WHEN s.vmax = s.vmin THEN NULL
        |            ELSE ROUND(
        |              CAST(CAST(h.v AS DECIMAL(18,6)) -
        |                   CAST(s.vmin AS DECIMAL(18,6)) AS DOUBLE) /
        |              CAST(CAST(s.vmax AS DECIMAL(18,6)) -
        |                   CAST(s.vmin AS DECIMAL(18,6)) AS DOUBLE) * 1e6)
        |              / 1e6
        |       END AS minmax
        |FROM hourly h JOIN stats s USING (event_type)
        |ORDER BY h.event_type, bucket""".stripMargin,

    // regex alias + top-3 by max; \1 is DuckDB's backreference for
    // Spark's $1 — same substitution contract
    "h41_aliassub" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |stats AS (
        |  SELECT event_type, MAX(v) AS series_max
        |  FROM hourly GROUP BY event_type
        |  ORDER BY series_max DESC, event_type LIMIT 3)
        |SELECT regexp_replace(h.event_type, '^(.{2}).*$', 'alias_\1')
        |         AS alias,
        |       h.event_type, CAST(h.h AS VARCHAR) AS bucket,
        |       ROUND(h.v, 6) AS value,
        |       ROUND(s.series_max, 6) AS series_max
        |FROM hourly h JOIN stats s USING (event_type)
        |ORDER BY h.event_type, bucket""".stripMargin,

    // threshold filters: every gate an exact decimal/raw compare
    "h38_seriesfilter" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |stats AS (
        |  SELECT event_type,
        |         SUM(CAST(v AS DECIMAL(18,6))) AS sv,
        |         COUNT(*) AS n,
        |         MAX(v) AS vmax,
        |         arg_max(v, h) AS vcur
        |  FROM hourly GROUP BY event_type)
        |SELECT event_type, n,
        |       ROUND(CAST(sv AS DOUBLE) / n * 1e6) / 1e6 AS series_avg,
        |       ROUND(vmax, 6) AS series_max,
        |       ROUND(vcur, 6) AS current,
        |       CAST(CASE WHEN sv > n * 49 THEN 1 ELSE 0 END AS BIGINT)
        |         AS avg_above,
        |       CAST(CASE WHEN vmax > 250 THEN 1 ELSE 0 END AS BIGINT)
        |         AS max_above,
        |       CAST(CASE WHEN vcur > 15 THEN 1 ELSE 0 END AS BIGINT)
        |         AS cur_above
        |FROM stats
        |WHERE (CASE WHEN sv > n * 49 THEN 1 ELSE 0 END) +
        |      (CASE WHEN vmax > 250 THEN 1 ELSE 0 END) +
        |      (CASE WHEN vcur > 15 THEN 1 ELSE 0 END) > 0
        |ORDER BY event_type""".stripMargin,

    // plain derivative + delay + changed: exact decimal difference
    "h39_changed" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(v, 6) AS value,
        |       ROUND(lag(v) OVER w, 6) AS delay,
        |       CAST(CAST(v AS DECIMAL(18,6)) -
        |            CAST(lag(v) OVER w AS DECIMAL(18,6)) AS DOUBLE) AS deriv,
        |       CAST(CASE WHEN lag(v) OVER w IS NULL THEN NULL
        |                 WHEN v <> lag(v) OVER w THEN 1 ELSE 0 END AS BIGINT)
        |         AS changed
        |FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
        |ORDER BY event_type, bucket""".stripMargin,

    // linear gap interpolation: exact BIGINT micro-unit numerator,
    // one identical IEEE division + tie-safe micro round on both sides
    "h40_interpolate" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY user_id, date_trunc('hour', ts)),
        |users AS (SELECT DISTINCT user_id FROM events),
        |spine AS (
        |  SELECT user_id, g AS h
        |  FROM users CROSS JOIN generate_series(
        |    TIMESTAMP '2024-01-05 00:00:00',
        |    TIMESTAMP '2024-01-06 23:00:00',
        |    INTERVAL 1 HOUR) AS t(g)),
        |dense AS (
        |  SELECT s.user_id, s.h, hr.v,
        |         CAST(epoch_us(s.h) // 1000000 AS BIGINT) AS t,
        |         CASE WHEN hr.v IS NOT NULL THEN
        |           CAST(CAST(hr.v AS DECIMAL(18,6)) * 1000000 AS BIGINT)
        |         END AS vmu
        |  FROM spine s
        |  LEFT JOIN hourly hr ON s.user_id = hr.user_id AND s.h = hr.h),
        |ctx AS (
        |  SELECT user_id, h, v, t,
        |         last_value(vmu IGNORE NULLS) OVER wp AS pv,
        |         last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
        |           OVER wp AS pt,
        |         first_value(vmu IGNORE NULLS) OVER wn AS nv,
        |         first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
        |           OVER wn AS nt
        |  FROM dense
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY h
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         wn AS (PARTITION BY user_id ORDER BY h
        |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(v, 6) AS value,
        |       CASE WHEN v IS NOT NULL THEN ROUND(v, 6)
        |            ELSE ROUND(CAST(pv * (nt - t) + nv * (t - pt) AS DOUBLE)
        |                       / CAST(nt - pt AS DOUBLE)) / 1e6
        |       END AS interp
        |FROM ctx ORDER BY user_id, bucket""".stripMargin,

    // dotted-namespace tree rollup: same fine lww, path-segment group
    "h31_groupbynode" ->
      """WITH fine AS (
        |  SELECT event_type || '.u' || CAST(user_id AS VARCHAR) AS sid,
        |         date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT string_split(sid, '.')[1] AS node, CAST(h AS VARCHAR) AS bucket,
        |       COUNT(*) AS n_series_points,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS total
        |FROM fine GROUP BY 1, 2 ORDER BY node, bucket""".stripMargin,

    // integer consolidation math: factor = ceil(slots/50), buckets
    // re-anchored at the range floor — all BIGINT until the mean
    "h32_maxdatapoints" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY 1, 2),
        |hs AS (SELECT event_type,
        |              CAST(epoch_us(h) // 1000000 AS BIGINT) AS hsec, v
        |       FROM hourly),
        |r AS (SELECT MIN(hsec) AS lo,
        |             ((MAX(hsec) - MIN(hsec)) // 3600 + 50) // 50 AS factor
        |      FROM hs)
        |SELECT event_type,
        |       lo + ((hsec - lo) // (factor * 3600)) * factor * 3600
        |         AS bucket_s,
        |       COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*) * 1e6) / 1e6 AS mean_value
        |FROM hs CROSS JOIN r
        |GROUP BY event_type, 2
        |ORDER BY event_type, bucket_s""".stripMargin,

    // trailing min/max: order statistics only — no float accumulation
    "h29_movminmax" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket, ROUND(v, 6) AS value,
        |       ROUND(MIN(v) OVER (PARTITION BY event_type ORDER BY h
        |         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS mov_min,
        |       ROUND(MAX(v) OVER (PARTITION BY event_type ORDER BY h
        |         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS mov_max
        |FROM hourly ORDER BY event_type, bucket""".stripMargin,

    // whole-series integer-rank p95 threshold, then a keep filter —
    // the k-th VALUE is deterministic regardless of tie order
    "h30_removeabove" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |ranked AS (
        |  SELECT event_type, v,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY v) AS BIGINT) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM hourly),
        |thr AS (
        |  SELECT event_type, v AS p95 FROM ranked
        |  WHERE rn = (n * 19 + 19) // 20)
        |SELECT h.event_type, CAST(h.h AS VARCHAR) AS bucket,
        |       ROUND(h.v, 6) AS value, ROUND(t.p95, 6) AS p95
        |FROM hourly h JOIN thr t ON h.event_type = t.event_type
        |WHERE h.v <= t.p95
        |ORDER BY h.event_type, bucket""".stripMargin,

    // integer-rank nPercentile replay: k = (19n+19)//20, k-th smallest
    "h24_npercentile" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |ranked AS (
        |  SELECT event_type, date_trunc('day', h) AS d, v,
        |         CAST(row_number() OVER (PARTITION BY event_type,
        |           date_trunc('day', h) ORDER BY v) AS BIGINT) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type,
        |           date_trunc('day', h)) AS n
        |  FROM hourly)
        |SELECT event_type, CAST(d AS VARCHAR) AS day, n,
        |       ROUND(v, 6) AS p95
        |FROM ranked WHERE rn = (n * 19 + 19) // 20
        |ORDER BY event_type, day""".stripMargin,

    // integer-exact trailing z-band: micro-unit values, HUGEINT
    // replay of the (n*v - S)^2 > 4*(n*S2 - S^2) predicate
    "h23_zband" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |z AS (
        |  SELECT event_type, h, v,
        |         CAST(CAST(v AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vi
        |  FROM hourly),
        |ws AS (
        |  SELECT event_type, h, v, vi,
        |         COUNT(vi) OVER w AS n,
        |         SUM(vi) OVER w AS sv,
        |         SUM(CAST(vi AS HUGEINT) * vi) OVER w AS s2
        |  FROM z WINDOW w AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(v, 6) AS value, n,
        |       (n >= 12 AND
        |        CAST(n*vi - sv AS HUGEINT) * CAST(n*vi - sv AS HUGEINT)
        |        > 4 * (CAST(n AS HUGEINT)*s2 - CAST(sv AS HUGEINT)*sv))
        |         AS anomaly
        |FROM ws ORDER BY event_type, bucket""".stripMargin,

    "h21_movmedian" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(median(v) OVER w, 6) AS moving_median
        |FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h
        |  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, bucket""".stripMargin,

    // steps the SAME recurrence in the SAME IEEE op order as
    // SeriesFold.holtLinear (0.5·x + 0.5·(l+b); 0.25·(l'−l) + 0.75·b)
    "h20_holt" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |o AS (
        |  SELECT event_type, h, v, row_number() OVER (
        |    PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hourly),
        |rec AS (
        |  SELECT event_type, h, rn, v AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.h, o.rn,
        |         0.5 * o.v + 0.5 * (r.l + r.b),
        |         0.25 * ((0.5 * o.v + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
        |  FROM rec r JOIN o ON o.event_type = r.event_type
        |   AND o.rn = r.rn + 1)
        |SELECT event_type, CAST(h AS VARCHAR) AS bucket,
        |       ROUND(l * 1e6) / 1e6 AS level,
        |       ROUND(b * 1e6) / 1e6 AS trend,
        |       ROUND((l + b) * 1e6) / 1e6 AS forecast
        |FROM rec ORDER BY event_type, bucket""".stripMargin,

    "h6_asof" ->
      """SELECT user_id, ROUND(value, 6) AS value,
        |       CAST(date_trunc('second', ts) AS VARCHAR) AS asof_ts
        |FROM (SELECT user_id, value, ts,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY date_trunc('microseconds', ts) DESC,
        |                   event_id DESC) AS rn
        |      FROM events
        |      WHERE ts <= TIMESTAMP '2024-01-15 12:00:00') t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "h7_asofjoin" ->
      """SELECT a.event_id, a.user_id, ROUND(b.value, 6) AS last_click_v
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') a
        |LEFT JOIN LATERAL (
        |  SELECT value FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = a.user_id
        |    AND c.ts <= a.ts
        |  ORDER BY date_trunc('microseconds', c.ts) DESC, c.event_id DESC
        |  LIMIT 1) b ON TRUE
        |ORDER BY a.event_id""".stripMargin,

    "h8_salted" ->
      """SELECT user_id,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS sum_value,
        |       COUNT(value) AS n,
        |       ROUND(MIN(value), 6) AS min_value,
        |       ROUND(MAX(value), 6) AS max_value,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(value) * 1e6) / 1e6 AS mean_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the doubled stream must dedup back to exactly the raw table
    "s3_streamdedup" ->
      """SELECT event_type, COUNT(*) AS n,
        |       COUNT(DISTINCT event_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // inner stream-stream join is complete, so truth is the static
    // self-join; gap in exact integer microseconds on both engines
    "s5_streamjoin" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |       c.user_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(c.ts)  -- µs, matching Spark's truncation
        | AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
        |ORDER BY click_id, purchase_id""".stripMargin,

    // full closure forced by the sentinel pair => the static LEFT JOIN
    // is the complete emitted set; µs predicates match Spark's
    // truncated timestamps; null sort keys avoided via COALESCE
    "s15_louterjoin" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user,
        |         ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id, p.purchase_id,
        |       epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS gap_us,
        |       CAST(CASE WHEN p.purchase_id IS NULL THEN 0 ELSE 1 END
        |            AS BIGINT) AS matched
        |FROM c LEFT JOIN p
        |  ON p.p_user = c.user_id
        | AND epoch_us(p.purchase_ts) >= epoch_us(c.click_ts)
        | AND epoch_us(p.purchase_ts) - epoch_us(c.click_ts) <= 1800000000
        |ORDER BY click_id, COALESCE(purchase_id, -1)""".stripMargin,

    "s2_sessions" ->
      """WITH pts AS (
        |  SELECT 'u' || CAST(user_id AS VARCHAR) AS series_id,
        |         epoch_us(ts) // 1000000 AS t, event_id, value
        |  FROM events),
        |-- both windows MUST share a TOTAL order (t, event_id): with a
        |-- bare ORDER BY t, duplicate timestamps let the two windows
        |-- order the tied rows independently, shifting which row
        |-- carries the boundary flag vs which accumulates it (caught by
        |-- the sf1 scale step: first fixture with intra-user ts ties;
        |-- island membership is order-independent in the engine)
        |flagged AS (
        |  SELECT series_id, t, event_id, value,
        |         CASE WHEN t - lag(t) OVER w > 7200 OR lag(t) OVER w IS NULL
        |              THEN 1 ELSE 0 END AS boundary
        |  FROM pts WINDOW w AS (PARTITION BY series_id ORDER BY t, event_id)),
        |islands AS (
        |  SELECT series_id, t, value,
        |         SUM(boundary) OVER (PARTITION BY series_id ORDER BY t, event_id
        |           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |sessions AS (
        |  SELECT series_id, sid, MIN(t) AS start, MAX(t) AS "end",
        |         COUNT(*) AS n, SUM(value) AS sum
        |  FROM islands GROUP BY series_id, sid)
        |SELECT series_id, start, "end", n, ROUND(sum, 6) AS sum
        |FROM sessions
        |WHERE sid < (SELECT MAX(s2.sid) FROM sessions s2
        |             WHERE s2.series_id = sessions.series_id)
        |ORDER BY series_id, start""".stripMargin,

    // the static replay of append-mode finalization: only windows the
    // final watermark (max event time − 2h) has passed are emitted
    // streaming top-k replay: exact per-window counts + deterministic
    // rank, windows published iff the final ms-floored watermark moved
    // STRICTLY past the window end (the EventTimeTimeout contract —
    // note `<` here vs s8's `<=`, aggregate eviction fires AT the
    // watermark, state timeouts fire only BEYOND it)
    "s10_streamtopk" ->
      """WITH wm AS (
        |  -- the watermark rides on the FLOORED window-start column, so
        |  -- it is whole-second exact: floor(max ts) - 2h
        |  SELECT (epoch_us(MAX(ts)) // 1000000 // 21600) * 21600 - 7200
        |    AS wsec
        |  FROM events),
        |b AS (
        |  SELECT (epoch_us(ts) // 1000000 // 21600) * 21600 AS wstart,
        |         'u' || CAST(user_id AS VARCHAR) AS key
        |  FROM events),
        |c AS (SELECT wstart, key, COUNT(*) AS n FROM b GROUP BY 1, 2),
        |r AS (
        |  SELECT wstart, key, n,
        |         CAST(row_number() OVER (PARTITION BY wstart
        |           ORDER BY n DESC, key) AS BIGINT) AS rnk
        |  FROM c)
        |SELECT wstart, rnk, key, n
        |FROM r CROSS JOIN wm
        |WHERE rnk <= 5 AND wstart + 21600 < wsec
        |ORDER BY wstart, rnk""".stripMargin,

    // the maintained min-k survivor set equals the one-pass sketch
    "s12_streamkmv" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |              AS BIGINT) AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM h),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n_survivors,
        |         MAX(CASE WHEN rn = 256 THEN h END) AS hk
        |  FROM r WHERE rn <= 256 GROUP BY event_type)
        |SELECT event_type, n_survivors,
        |       CASE WHEN hk IS NULL THEN n_survivors
        |            ELSE CAST(FLOOR(255 * 1.152921504606846976e18 / hk)
        |                 AS BIGINT) END AS approx_users
        |FROM agg ORDER BY event_type""".stripMargin,

    "s8_streamfinal" ->
      """WITH wm AS (
        |  -- millisecond floor mirrors Spark's watermark precision: the
        |  -- event-time watermark advances at ms granularity, so a max
        |  -- event time with sub-ms micros must not finalize a window
        |  -- here that Spark keeps open
        |  SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w
        |  FROM events),
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS b, COUNT(*) AS n,
        |         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
        |           AS sum_value
        |  FROM events GROUP BY event_type, date_trunc('hour', ts))
        |SELECT event_type, CAST(b AS VARCHAR) AS bucket, n, sum_value
        |FROM hourly CROSS JOIN wm
        |WHERE b + INTERVAL 1 HOUR <= w
        |ORDER BY event_type, bucket""".stripMargin,

    "s1_stream" ->
      """SELECT event_type AS series_id,
        |       CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket,
        |       COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(value) * 1e6) / 1e6 AS mean_value,
        |       ROUND(MAX(value), 6) AS max_value
        |FROM events GROUP BY event_type, date_trunc('hour', ts)
        |ORDER BY series_id, bucket""".stripMargin,

    // stream-static join: stateless enrich, so the streamed aggregate
    // must equal the static join+aggregate exactly
    "s7_streamdim" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,

    // divideSeries/diffSeries alignment: full outer on the hourly
    // bucket; 0-or-missing divisor nulls the ratio, diff exact decimal
    "h36_seriesdiv" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |e AS (SELECT h, v FROM hourly WHERE event_type = 'error'),
        |c AS (SELECT h, v FROM hourly WHERE event_type = 'click')
        |SELECT CAST(COALESCE(e.h, c.h) AS VARCHAR) AS bucket,
        |       ROUND(e.v, 6) AS err_v,
        |       ROUND(c.v, 6) AS clk_v,
        |       CASE WHEN c.v IS NULL OR c.v = 0 OR e.v IS NULL THEN NULL
        |            ELSE ROUND(e.v / c.v * 1e6) / 1e6 END AS ratio,
        |       CAST(CAST(e.v AS DECIMAL(18,6)) - CAST(c.v AS DECIMAL(18,6))
        |            AS DOUBLE) AS diff
        |FROM e FULL JOIN c ON e.h = c.h
        |ORDER BY bucket""".stripMargin,

    // the maintained streaming funnel table must equal the one-pass
    // batch computation exactly — q37's oracle, verbatim
    "s13_streamfunnel" -> RelationalQueries.oracles("q37_funnel")
  )

  /** The carried-state streaming fold must be BIT-equal to the
    * one-pass batch recurrence — h37's oracle, verbatim.
    */
  val oracles: Map[String, String] =
    oraclesBase + ("s14_streamhw" -> oraclesBase("h37_hwbands"))
}
