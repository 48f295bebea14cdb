package graft

import graft.operators.GraphiteTarget
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round-10 render-function tail: grouped aggregation
  * (groupByNode/s, groupByTags, WithWildcards), the generic
  * aggregate/filterSeries/highest forms, weightedAverage,
  * percentileOfSeries, the scalar/window tail (sigmoid, minMax,
  * changed, delay, interpolate, integralByInterval, hitcount, EMA,
  * linearRegression) and the renaming tail (aliasSub, substr).
  * Exact expected values over a 4-point hand-computable universe.
  */
class GraphiteTailSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(h: Int) =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(h * 3600L))

  /** two series, 4 hourly points each (GraphiteTargetSpec's universe) */
  private def uni = Seq(
    ("m.a", ts(0), 1.0), ("m.a", ts(1), 2.0), ("m.a", ts(2), 4.0), ("m.a", ts(3), 3.0),
    ("m.b", ts(0), 10.0), ("m.b", ts(1), 10.0), ("m.b", ts(2), 20.0), ("m.b", ts(3), 40.0)
  ).toDF("series", "bucket", "value")

  /** three node-structured series for the grouping family */
  private def web = Seq(
    ("web.s1.req", ts(0), 1.0), ("web.s1.req", ts(1), 2.0),
    ("web.s2.req", ts(0), 3.0), ("web.s2.req", ts(1), 5.0),
    ("web.s1.err", ts(0), 1.0), ("web.s1.err", ts(1), 1.0)
  ).toDF("series", "bucket", "value")

  /** carbon tagged-metric names for groupByTags */
  private def tagged = Seq(
    ("cpu;dc=east;host=h1", ts(0), 1.0),
    ("cpu;dc=east;host=h2", ts(0), 3.0),
    ("cpu;dc=west;host=h1", ts(0), 5.0)
  ).toDF("series", "bucket", "value")

  private def run(t: String, u: DataFrame = uni): Seq[(String, Long, Option[Double])] =
    GraphiteTarget.eval(t, u, 3600)
      .select(col("series"), col("bucket").cast("long"), col("value"))
      .as[(String, Long, Option[Double])].collect().toSeq
      .sortBy(r => (r._1, r._2))

  test("aggregate: the generic form reaches median") {
    val got = run("aggregate(m.*, 'median')")
    assert(got.map(_._1).distinct == Seq("aggregate(m.*,\"median\")"))
    assert(got.map(_._3.get) == Seq(5.5, 6.0, 12.0, 21.5))
  }

  test("groupByNode groups by one node; groupByNodes by several") {
    val g1 = run("groupByNode(web.*.*, 2, 'sum')", web)
    assert(g1 == Seq(
      ("err", 0L, Some(1.0)), ("err", 3600L, Some(1.0)),
      ("req", 0L, Some(4.0)), ("req", 3600L, Some(7.0))))
    val g2 = run("groupByNodes(web.*.*, 'sum', 0, 2)", web)
    assert(g2.map(_._1).distinct.sorted == Seq("web.err", "web.req"))
    assert(g2.filter(_._1 == "web.req").map(_._3.get) == Seq(4.0, 7.0))
  }

  test("groupByTags groups by tag values of the carbon tagged form") {
    val got = run("groupByTags(seriesByTag('name=cpu'), 'sum', 'dc')", tagged)
    assert(got == Seq(("east", 0L, Some(4.0)), ("west", 0L, Some(5.0))))
  }

  test("xxxSeriesWithWildcards drops the wildcard node and aggregates") {
    val s = run("sumSeriesWithWildcards(web.*.*, 1)", web)
    assert(s == Seq(
      ("web.err", 0L, Some(1.0)), ("web.err", 3600L, Some(1.0)),
      ("web.req", 0L, Some(4.0)), ("web.req", 3600L, Some(7.0))))
    val a = run("averageSeriesWithWildcards(web.*.*, 1)", web)
    assert(a.filter(_._1 == "web.req").map(_._3.get) == Seq(2.0, 3.5))
    // the generic form reaches every aggFor fold
    val m = run("aggregateWithWildcards(web.*.*, 'max', 1)", web)
    assert(m.filter(_._1 == "web.req").map(_._3.get) == Seq(3.0, 5.0))
  }

  test("weightedAverage pairs by node key: Σ(v·w)/Σ(w)") {
    val got = run("weightedAverage(web.*.req, web.*.req, 1)", web)
    // self-weighted: h0 (1+9)/(1+3) = 2.5; h1 (4+25)/7 = 4.142857
    assert(got.map(_._3.get) == Seq(2.5, 4.142857))
  }

  test("percentileOfSeries flattens the per-bucket distribution") {
    val got = run("percentileOfSeries(m.*, 50)")
    assert(got.map(_._3.get) == Seq(5.5, 6.0, 12.0, 21.5))
  }

  test("filterSeries: generic func/operator/threshold keep") {
    assert(run("filterSeries(m.*, 'max', '>', 5)").map(_._1).distinct == Seq("m.b"))
    assert(run("filterSeries(m.*, 'average', '<=', 2.5)").map(_._1).distinct == Seq("m.a"))
    intercept[IllegalArgumentException](
      run("filterSeries(m.*, 'max', '~', 5)"))
  }

  test("highest/lowest generic forms and mostDeviant") {
    assert(run("highest(m.*, 1, 'max')").map(_._1).distinct == Seq("m.b"))
    assert(run("lowest(m.*, 1)").map(_._1).distinct == Seq("m.a"))
    // sd(m.a) ≈ 1.118, sd(m.b) ≈ 12.247 → b deviates most
    assert(run("mostDeviant(m.*, 1)").map(_._1).distinct == Seq("m.b"))
  }

  test("averageOutsidePercentile keeps the outliers of the per-series averages") {
    // averages: s1.req 1.5, s2.req 4, s1.err 1 → 10/90th band [1.1, 3.5]
    val got = run("averageOutsidePercentile(web.*.*, 90)", web)
    assert(got.map(_._1).distinct.sorted == Seq("web.s1.err", "web.s2.req"))
  }

  test("removeEmptySeries drops all-null series; limit keeps first n by name") {
    val got = run("removeEmptySeries(removeAboveValue(m.*, 5))")
    assert(got.map(_._1).distinct == Seq("m.a"))
    assert(run("limit(m.*, 1)").map(_._1).distinct == Seq("m.a"))
  }

  test("unique: first occurrence of a series name wins across args") {
    val got = run("unique(m.a, m.*)")
    assert(got.size == 8) // no duplicated (series, bucket) rows
    assert(got.map(_._1).distinct.sorted == Seq("m.a", "m.b"))
  }

  test("scalar tail: add, sigmoid, exp, round, isNonNull, scaleToSeconds") {
    assert(run("add(m.a, 10)").map(_._3.get) == Seq(11.0, 12.0, 14.0, 13.0))
    assert(run("sigmoid(m.a)").map(_._3.get).head == 0.731059)
    assert(run("exp(m.a)").map(_._3.get).head == 2.718282)
    assert(run("round(scale(m.a, 0.123), 1)").map(_._3.get) ==
      Seq(0.1, 0.2, 0.5, 0.4))
    assert(run("isNonNull(removeAboveValue(m.b, 15))").map(_._3.get) ==
      Seq(1.0, 1.0, 0.0, 0.0))
    // per-hour values re-based to per-minute: v·60/3600
    assert(run("scaleToSeconds(m.a, 60)").map(_._3.get) ==
      Seq(0.016667, 0.033333, 0.066667, 0.05))
  }

  test("minMax normalizes per series; offsetToZero rebases; aggregateLine flattens") {
    assert(run("minMax(m.a)").map(_._3.get) == Seq(0.0, 0.333333, 1.0, 0.666667))
    assert(run("offsetToZero(m.a)").map(_._3.get) == Seq(0.0, 1.0, 3.0, 2.0))
    assert(run("aggregateLine(m.a, 'max')").map(_._3.get) ==
      Seq(4.0, 4.0, 4.0, 4.0))
  }

  test("changed flags transitions; delay shifts values in place") {
    assert(run("changed(m.b)").map(_._3.get) == Seq(0.0, 0.0, 1.0, 1.0))
    assert(run("delay(m.a, 1)").map(_._3) ==
      Seq(None, Some(1.0), Some(2.0), Some(4.0)))
    assert(run("delay(m.a, -1)").map(_._3) ==
      Seq(Some(2.0), Some(4.0), Some(3.0), None))
  }

  test("interpolate fills interior gaps linearly, leaves edges null") {
    // removeAboveValue(m.a, 3): 1, 2, null, 3 — anchors at h1 (v=2)
    // and h3 (v=3), so the h2 gap is the time midpoint → 2.5
    val got = run("interpolate(removeAboveValue(m.a, 3))")
    assert(got.map(_._3) ==
      Seq(Some(1.0), Some(2.0), Some(2.5), Some(3.0)))
    // trailing nulls have no right anchor and stay null
    val tail = run("interpolate(removeAboveValue(m.b, 15))")
    assert(tail.map(_._3) == Seq(Some(10.0), Some(10.0), None, None))
  }

  test("integralByInterval resets per interval; hitcount is Σ(v·step)") {
    assert(run("integralByInterval(m.a, '2h')").map(_._3.get) ==
      Seq(1.0, 3.0, 4.0, 7.0))
    val h = run("hitcount(m.a, '2h')")
    assert(h == Seq(("m.a", 0L, Some(10800.0)), ("m.a", 7200L, Some(25200.0))))
  }

  test("exponentialMovingAverage: α = 2/(points+1), first-value seed") {
    val got = run("exponentialMovingAverage(m.a, 3)") // α = 0.5
    assert(got.map(_._3.get) == Seq(1.0, 1.5, 2.75, 2.875))
  }

  test("linearRegression fits per series and evaluates at each bucket") {
    // y = 1,2,4,3 at x = 0..3 → slope 0.8, intercept 1.3
    val got = run("linearRegression(m.a)")
    assert(got.map(_._3.get) == Seq(1.3, 2.1, 2.9, 3.7))
  }

  test("minimumBelow completes the threshold-filter family") {
    assert(run("minimumBelow(m.*, 5)").map(_._1).distinct == Seq("m.a"))
  }

  test("movingWindow: the generic trailing fold (median, range, last)") {
    assert(run("movingWindow(m.a, 2, 'median')").map(_._3.get) ==
      Seq(1.0, 1.5, 3.0, 3.5))
    assert(run("movingWindow(m.a, 2, 'range')").map(_._3.get) ==
      Seq(0.0, 1.0, 2.0, 1.0))
    assert(run("movingWindow(m.a, 2, 'last')").map(_._3.get) ==
      Seq(1.0, 2.0, 4.0, 3.0))
    intercept[IllegalArgumentException](run("movingWindow(m.a, 2, 'mode')"))
  }

  test("cumulative tags the set's cf as sum") {
    val set = GraphiteTarget.evalNode(
      GraphiteTarget.parse("cumulative(m.a)"), uni, 3600)
    assert(set.cf == "sum")
  }

  test("fallbackSeries: primary wins when non-empty, fallback when empty") {
    assert(run("fallbackSeries(m.nosuch, m.a)").map(_._1).distinct == Seq("m.a"))
    assert(run("fallbackSeries(m.a, m.b)").map(_._1).distinct == Seq("m.a"))
  }

  test("timeSlice nulls values outside the epoch-second range") {
    assert(run("timeSlice(m.a, 3600, 7200)").map(_._3) ==
      Seq(None, Some(2.0), Some(4.0), None))
  }

  test("identity / constantLine / threshold generate over the bucket spine") {
    val id = run("identity('ts')")
    assert(id == Seq(("ts", 0L, Some(0.0)), ("ts", 3600L, Some(3600.0)),
      ("ts", 7200L, Some(7200.0)), ("ts", 10800L, Some(10800.0))))
    val cl = run("constantLine(5)")
    assert(cl.map(_._1).distinct == Seq("constantLine(5)"))
    assert(cl.map(_._3.get) == Seq(5.0, 5.0, 5.0, 5.0))
    assert(run("threshold(5, 'lim')").map(_._1).distinct == Seq("lim"))
  }

  test("timeStack unions the self-shifts, labeled by multiplier index") {
    // unsigned '1h' means the PAST (graphite's normalization): copy 1
    // draws each value one hour later than it occurred, labeled with
    // the multiplier (graphite-web's timeShift(name, i) form)
    val got = run("timeStack(m.a, '1h', 0, 2)")
    val s0 = got.filter(_._1 == "timeShift(m.a,0)")
    val s1 = got.filter(_._1 == "timeShift(m.a,1)")
    assert(s0.map(_._2) == Seq(0L, 3600L, 7200L, 10800L))
    assert(s1.map(_._2) == Seq(3600L, 7200L, 10800L, 14400L))
    assert(s1.map(_._3.get) == Seq(1.0, 2.0, 4.0, 3.0))
    // an explicit '+' asks for FUTURE data, drawn earlier
    val fut = run("timeStack(m.a, '+1h', 0, 2)")
    assert(fut.filter(_._1 == "timeShift(m.a,1)").map(_._2) ==
      Seq(-3600L, 0L, 3600L, 7200L))
  }

  test("display-only attributes pass the data through unchanged") {
    assert(run("color(m.a, 'blue')") == run("m.a"))
    assert(run("stacked(lineWidth(m.*, 2))") == run("m.*"))
  }

  test("moving* windows accept duration strings; asPercent takes a total") {
    // '2h' at the 3600s step = 2 points — same values as movingSum(.., 2)
    assert(run("movingSum(m.a, '2h')") == run("movingSum(m.a, 2)"))
    assert(run("movingWindow(m.a, '2h', 'range')") ==
      run("movingWindow(m.a, 2, 'range')"))
    intercept[IllegalArgumentException](run("movingSum(m.a, '90s')"))
    // numeric total: v·100/50
    assert(run("asPercent(m.a, 50)").map(_._3.get) == Seq(2.0, 4.0, 8.0, 6.0))
    // series total: m.a as a percent of m.b
    assert(run("asPercent(m.a, m.b)").map(_._3.get) ==
      Seq(10.0, 20.0, 20.0, 7.5))
    intercept[IllegalArgumentException](run("asPercent(m.a, 0)"))
  }

  test("render widens the fetch window for timeStack's shifted-in data") {
    // window [h2, h4): the stack's 1h-shift needs h1's value (outside
    // the window) to land on h2 — only the widened per-target fetch
    // sees it; the unshifted copy stays clamped
    val got = GraphiteTarget.render(Seq("timeStack(m.a, '1h', 0, 2)"),
        uni, 3600, fromSec = 7200L, untilSec = 14400L)
      .select(col("series"), col("bucket").cast("long"), col("value"))
      .as[(String, Long, Option[Double])].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(got == Seq(
      ("timeShift(m.a,0)", 7200L, Some(4.0)),
      ("timeShift(m.a,0)", 10800L, Some(3.0)),
      ("timeShift(m.a,1)", 7200L, Some(2.0)),  // h1's value, shifted in
      ("timeShift(m.a,1)", 10800L, Some(4.0))))
  }

  test("renderJson folds the graphite-web response shape, capped by maxDataPoints") {
    val got = GraphiteTarget.renderJson(Seq("m.a", "sumSeries(m.*)"),
        uni, 3600, 0L, 14400L)
      .as[(String, Seq[(Option[Double], Long)])].collect().toSeq
    // target order preserved; t integral, as graphite's [v, t] emits it
    assert(got == Seq(
      ("m.a", Seq((Some(1.0), 0L), (Some(2.0), 3600L), (Some(4.0), 7200L),
        (Some(3.0), 10800L))),
      ("sumSeries(m.*)", Seq((Some(11.0), 0L), (Some(12.0), 3600L),
        (Some(24.0), 7200L), (Some(43.0), 10800L)))))
    // the maxDataPoints valve caps the fold BEFORE collect_list
    val capped = GraphiteTarget.renderJson(Seq("consolidateBy(m.b, 'max')"),
        uni, 3600, 0L, 14400L, maxDataPoints = Some(2))
      .as[(String, Seq[(Option[Double], Long)])].collect().toSeq
    assert(capped == Seq(
      ("m.b", Seq((Some(10.0), 0L), (Some(40.0), 7200L)))))
  }

  test("renderJson keeps same-named series from different targets apart") {
    // two targets aliased to the SAME name: graphite's response lists
    // two entries — they must not merge into one interleaved array
    val got = GraphiteTarget.renderJson(
        Seq("alias(m.a, 'x')", "alias(m.b, 'x')"), uni, 3600, 0L, 7200L)
      .as[(String, Seq[(Option[Double], Long)])].collect().toSeq
    assert(got == Seq(
      ("x", Seq((Some(1.0), 0L), (Some(2.0), 3600L))),
      ("x", Seq((Some(10.0), 0L), (Some(10.0), 3600L)))))
  }

  test("renderJson bounds an uncapped wide call by DefaultMaxDataPoints") {
    // a 10-year 1-second window asks for ~3e8 points per series; with
    // no explicit maxDataPoints the default cap must coarsen the step
    // (the fold stays bounded) instead of building an unbounded array
    val wide = GraphiteTarget.renderJson(Seq("m.*"), uni, 1,
        0L, 300L * 1000L * 1000L)
      .as[(String, Seq[(Option[Double], Long)])].collect().toSeq
    assert(wide.forall(_._2.size <= GraphiteTarget.DefaultMaxDataPoints))
    assert(wide.nonEmpty)
  }

  test("malformed arguments fail loudly at plan-build time, never inside Spark") {
    // every rejection is an IllegalArgumentException from the façade's
    // own validation — a user typo surfaces as the graphite message,
    // not an AnalysisException from deep in a plan
    val bad = Seq(
      "aggregate(m.*, 'mode')",            // unknown fold
      "groupByNodes(m.*, 'sum')",          // no node positions
      "groupByTags(m.*, 'sum')",           // no tags
      "sumSeriesWithWildcards(m.*)",       // no positions
      "weightedAverage(m.*, m.*)",         // no node key
      "percentileOfSeries(m.*, 0)",        // percentile out of range
      "percentileOfSeries(m.*, 101)",
      "movingWindow(m.a, 0)",              // empty window
      "movingWindow(m.a, '90s')",          // non-multiple duration
      "exponentialMovingAverage(m.a, 0)",  // no points
      "integralByInterval(m.a, '0s')",     // bad duration literal
      "hitcount(m.a, 'tomorrow')",
      "timeStack(m.a, '1h', 3, 3)",        // empty stack
      "substr(m.a, -1)",                   // negative slice
      "unique()",                          // no targets
      "asPercent(m.a, 0)")                 // zero total
    bad.foreach { t =>
      intercept[IllegalArgumentException] {
        GraphiteTarget.eval(t, uni, 3600)
      }
    }
  }

  test("parser property: canonical text round-trips for 500 random ASTs") {
    import GraphiteTarget._
    val rnd = new scala.util.Random(1031)
    // shapes: (target), (target, num), (target, 'str'), (t, t, num)
    val fn1 = Seq("absolute", "derivative", "keepLastValue", "sumSeries",
      "removeEmptySeries", "interpolate", "linearRegression")
    val fn2n = Seq("scale", "offset", "movingAverage", "highest", "limit",
      "nPercentile", "delay", "round", "percentileOfSeries")
    val fn2s = Seq("alias", "summarize", "exclude", "aggregate",
      "timeShift", "hitcount", "aggregateLine")
    def glob(): Node = Glob(Seq.fill(rnd.between(1, 4))(
      Seq("web", "srv1", "cpu*", "a?b", "{x,y}", "m_1")(rnd.nextInt(6)))
      .mkString("."))
    def gen(depth: Int): Node =
      if (depth == 0 || rnd.nextInt(4) == 0) glob()
      else rnd.nextInt(4) match {
        case 0 => Call(fn1(rnd.nextInt(fn1.size)), Seq(TargetArg(gen(depth - 1))))
        case 1 => Call(fn2n(rnd.nextInt(fn2n.size)),
          Seq(TargetArg(gen(depth - 1)), NumArg(rnd.between(-99, 100))))
        case 2 => Call(fn2s(rnd.nextInt(fn2s.size)),
          Seq(TargetArg(gen(depth - 1)), StrArg(Seq("1h", "1d", "sum",
            "max", "avg")(rnd.nextInt(5)))))
        case _ => Call("group",
          Seq(TargetArg(gen(depth - 1)), TargetArg(gen(depth - 1))))
      }
    (1 to 500).foreach { _ =>
      val ast = gen(rnd.between(1, 5))
      val t = text(ast)
      assert(parse(t) == ast, s"round-trip failed for '$t'")
      assert(text(parse(t)) == t)
    }
  }

  test("glob property: * never crosses a dot; braces alternate exactly") {
    import GraphiteTarget._
    val rnd = new scala.util.Random(733)
    (1 to 300).foreach { _ =>
      val nodes = Seq.fill(rnd.between(2, 5))(
        Seq.fill(rnd.between(1, 6))(('a' + rnd.nextInt(26)).toChar).mkString)
      val name = nodes.mkString(".")
      // star at a random node position matches; an extra node never does
      val i = rnd.nextInt(nodes.size)
      val g = nodes.updated(i, "*").mkString(".")
      assert(name.matches(globToRegex(g)), s"'$name' !~ '$g'")
      assert(!(name + ".extra").matches(globToRegex(g)))
      // brace of the true node plus a decoy matches; decoy-only doesn't
      val gb = nodes.updated(i, s"{${nodes(i)},zzz9}").mkString(".")
      assert(name.matches(globToRegex(gb)))
      val gd = nodes.updated(i, "{zzz9,qqq8}").mkString(".")
      assert(!name.matches(globToRegex(gd)) ||
        nodes(i) == "zzz9" || nodes(i) == "qqq8")
      // braces nest: the true node after an inner group still alternates
      val gn = nodes.updated(i, s"{{zzz9,qqq8},${nodes(i)}}").mkString(".")
      assert(name.matches(globToRegex(gn)), s"'$name' !~ '$gn'")
      // a class passes through verbatim: [*] is a literal star
      val gc = nodes.updated(i, "[*]").mkString(".")
      assert(!name.matches(globToRegex(gc)), s"'$name' =~ '$gc'")
      assert(nodes.updated(i, "*").mkString(".").matches(globToRegex(gc)))
    }
    // the dashboard's globs keep their exact regex strings
    assert(globToRegex("app.*.cpu") == "^app\\.[^.]*\\.cpu$")
    assert(globToRegex("app.h0{1,2}.*") == "^app\\.h0(?:1|2)\\.[^.]*$")
  }

  test("aliasSub rewrites with backrefs; substr slices nodes") {
    val a = run("aliasSub(web.s1.req, 'web\\.(\\w+)\\..*', 'srv_\\1')", web)
    assert(a.map(_._1).distinct == Seq("srv_s1"))
    assert(run("substr(web.s1.req, 1)", web).map(_._1).distinct == Seq("s1.req"))
    assert(run("substr(web.s1.req, 1, 2)", web).map(_._1).distinct == Seq("s1"))
  }

  // ------------------------------------------ round-11 additions

  /** m.a's 4 points plus a 2-point m.c — the xff family's gap case */
  private def uniGap = uni.where(col("series") === "m.a").unionByName(Seq(
    ("m.c", ts(0), 5.0), ("m.c", ts(1), 7.0)).toDF("series", "bucket", "value"))

  test("powSeries folds in ARGUMENT order per bucket") {
    val got = run("powSeries(m.a, m.b)")
    assert(got.map(_._1).distinct == Seq("powSeries(m.a,m.b)"))
    val vs = got.map(_._3.get)
    assert(vs(0) == 1.0 && vs(1) == 1024.0)
    assert(math.abs(vs(2) - math.pow(4, 20)) / math.pow(4, 20) < 1e-12)
    assert(math.abs(vs(3) - math.pow(3, 40)) / math.pow(3, 40) < 1e-12)
    // pow is non-commutative: reversed args compute b^a, not a^b
    // (the r11 advice finding — name order must not override the
    // user-written argument order)
    val rev = run("powSeries(m.b, m.a)")
    val rs = rev.map(_._3.get)
    assert(rs(0) == 10.0 && rs(1) == 100.0)
    assert(math.abs(rs(2) - math.pow(20, 4)) / math.pow(20, 4) < 1e-12)
    assert(math.abs(rs(3) - math.pow(40, 3)) / math.pow(40, 3) < 1e-12)
    // a lone member is the fold's init
    val lone = run("powSeries(m.a)")
    assert(lone.map(_._3.get) == Seq(1.0, 2.0, 4.0, 3.0))
  }

  test("powSeries nulls a bucket any input series misses (None-grid parity)") {
    // m.c exists only at hours 0-1: graphite None-fills it across the
    // shared grid, so safePow poisons hours 2-3 — the bucket rows stay,
    // their values null (r11 advice: the sparse-frame fold silently
    // proceeded over the present rows)
    val got = run("powSeries(m.a, m.c)", uniGap)
    assert(got.map(_._2) == Seq(0L, 3600L, 7200L, 10800L))
    assert(got.map(_._3) == Seq(Some(1.0), Some(128.0), None, None))
  }

  test("SeriesLists: name-order pairing, engine bucket contracts") {
    val dv = run("divideSeriesLists(m.a, m.b)")
    assert(dv.map(_._1).distinct == Seq("divideSeries(m.a,m.b)"))
    assert(dv.map(_._3.get) == Seq(0.1, 0.2, 0.2, 0.075))
    val sub = run("subtractSeriesLists(m.a, m.b)")
    assert(sub.map(_._1).distinct == Seq("diffSeries(m.a,m.b)"))
    assert(sub.map(_._3.get) == Seq(-9.0, -8.0, -16.0, -37.0))
    val ag = run("aggregateSeriesLists(m.a, m.b, 'sum')")
    assert(ag.map(_._1).distinct == Seq("sumSeries(m.a,m.b)"))
    assert(ag.map(_._3.get) == Seq(11.0, 12.0, 24.0, 43.0))
    val mu = run("multiplySeriesLists(m.a, m.b)")
    assert(mu.map(_._3.get) == Seq(10.0, 20.0, 80.0, 120.0))
  }

  test("SeriesLists: unequal lengths raise at execution") {
    assertThrows[Exception] { run("divideSeriesLists(m.*, m.a)") }
    assertThrows[Exception] { run("divideSeriesLists(m.a, m.*)") }
  }

  test("reduceSeries pivots matchers per prefix; mapSeries passes through") {
    val got = run(
      "reduceSeries(mapSeries(web.*.*, 1), 'divideSeries', 2, 'err', 'req')",
      web)
    assert(got.map(_._1).distinct.sorted ==
      Seq("web.s1.reduce.divideSeries", "web.s2.reduce.divideSeries"))
    val s1 = got.filter(_._1.contains(".s1.")).map(_._3.get)
    assert(s1 == Seq(1.0, 0.5))
    // s2 has no err member: the dividend is absent -> null, rows stay
    assert(got.filter(_._1.contains(".s2.")).forall(_._3.isEmpty))
    // the symmetric route goes through aggFor
    val sm = run("reduceSeries(mapSeries(web.*.*, 1), 'sumSeries', 2, 'err', 'req')", web)
    assert(sm.filter(_._1.contains(".s1.")).map(_._3.get) == Seq(2.0, 3.0))
  }

  test("sortBy* pass through; sortByMinima drops non-positive-max series") {
    assert(run("sortByTotal(m.*)") == run("m.*"))
    assert(run("sortBy(m.*, 'average')") == run("m.*"))
    val withNeg = uni.unionByName(
      Seq(("m.neg", ts(0), -5.0)).toDF("series", "bucket", "value"))
    val got = run("sortByMinima(m.*)", withNeg)
    assert(got.map(_._1).distinct.sorted == Seq("m.a", "m.b"))
  }

  test("time generates the bucket epoch on its own grid") {
    val got = run("time('tick', 7200)")
    assert(got == Seq(("tick", 0L, Some(0.0)), ("tick", 7200L, Some(7200.0))))
    assertThrows[IllegalArgumentException] { run("time('t', 5000)") }
  }

  test("logit nulls outside (0,1)") {
    val got = run("logit(scale(m.a, 0.1))").map(_._3.get)
    assert(math.abs(got(0) - -2.197225) < 1e-6)
    assert(math.abs(got(1) - -1.386294) < 1e-6)
    val outOfDomain = run("logit(m.b)") // values 10..40, all ≥ 1
    assert(outOfDomain.forall(_._3.isEmpty))
  }

  test("annotation quartet: sinFunction grid, verticalLine bounds, " +
      "events spikes, aliasQuery rename") {
    def rrun(t: String, u: DataFrame = uni) =
      GraphiteTarget.render(Seq(t), u, 3600, fromSec = 0L,
          untilSec = 4 * 3600L, maxDataPoints = None)
        .select(col("series"), col("bucket").cast("long"), col("value"))
        .as[(String, Long, Option[Double])].collect().toSeq
        .sortBy(r => (r._1, r._2))
    // sinFunction: amplitude·sin(bucket epoch) on the request grid —
    // a pure function of the window (graphite's chart-generator
    // family, but deterministic; only randomWalk stays unmapped)
    assert(rrun("sinFunction('s', 2, 7200)").map(r => (r._2, r._3.get)) ==
      Seq((0L, 0.0), (7200L, 2 * math.sin(7200.0))))
    // verticalLine: two 1.0 points at ts and ts+1; graphite's
    // out-of-window ValueError becomes a loud require
    assert(rrun("verticalLine('3600', 'vl')") ==
      Seq(("vl", 3600L, Some(1.0)), ("vl", 3601L, Some(1.0))))
    assertThrows[IllegalArgumentException] {
      rrun("verticalLine('99999', 'vl')")
    }
    // events: ONE `events` series with a 1.0 spike per bucket where a
    // matching events.<tag> series carries a point; no tags = all
    val evUni = Seq(("events.a", ts(0), 1.0), ("events.a", ts(2), 5.0),
      ("events.b", ts(1), 2.0)).toDF("series", "bucket", "value")
    assert(rrun("events('a')", evUni) ==
      Seq(("events", 0L, Some(1.0)), ("events", 7200L, Some(1.0))))
    assert(rrun("events()", evUni).size == 3)
    // aliasQuery: renamed by the LAST value of the rewritten-name
    // series (%d truncates like python's); a rewrite that matches no
    // universe series DROPS the series (graphite raises mid-render —
    // a declarative plan can't throw on data, documented deviation)
    val aq = rrun("aliasQuery(m.a, 'a$', 'b', 'a (b last: %d)')")
    assert(aq.map(_._1).distinct == Seq("a (b last: 40)"))
    assert(aq.map(_._3.get) == Seq(1.0, 2.0, 4.0, 3.0))
    assert(rrun("aliasQuery(m.a, 'a$', 'zzz', 'x %d')").isEmpty)
  }

  test("every inventory function EVALUATES its declared probe — not just dispatches") {
    // r11 advice: "any error other than unknown-function" let a broken
    // handler pass. Now every inventory entry must carry a known-valid
    // probe (functionProbes) and that probe must BUILD ITS PLAN through
    // render() — which also supplies the request context the
    // context-dependent functions (smartSummarize, useSeriesAbove,
    // applyByNode, relative timeSlice) require.
    val failures = GraphiteTarget.functionInventory.flatMap { case (_, fn) =>
      GraphiteTarget.functionProbes.get(fn) match {
        case None => Some(s"$fn: no probe declared in functionProbes")
        case Some(p) =>
          try {
            GraphiteTarget.render(Seq(p), uni, 3600,
              fromSec = 0L, untilSec = 4 * 3600L)
            None
          } catch { case e: Throwable =>
            Some(s"$fn: probe '$p' failed to plan: ${e.getMessage}")
          }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(GraphiteTarget.functionInventory.size >= 110)
    // no orphan probes either: the two lists describe the same surface
    val inv = GraphiteTarget.functionInventory.map(_._2).toSet
    val orphans = GraphiteTarget.functionProbes.keySet -- inv
    assert(orphans.isEmpty, s"probes without inventory entries: $orphans")
  }

  test("setXFilesFactor gates summarize; aggregate's 3-arg form gates buckets") {
    val sm = run("summarize(setXFilesFactor(m.*, 0.75), '4h', 'sum')", uniGap)
    assert(sm.filter(_._1 == "m.a").map(_._3) == Seq(Some(10.0)))
    assert(sm.filter(_._1 == "m.c").map(_._3) == Seq(None)) // 2 of 4 slots
    // without the factor the partial day keeps its sum
    val plain = run("summarize(m.*, '4h', 'sum')", uniGap)
    assert(plain.filter(_._1 == "m.c").map(_._3) == Seq(Some(12.0)))
    val ag = run("aggregate(m.*, 'sum', 1.0)", uniGap)
    assert(ag.map(_._3) ==
      Seq(Some(6.0), Some(9.0), None, None)) // late buckets miss m.c
  }
}
