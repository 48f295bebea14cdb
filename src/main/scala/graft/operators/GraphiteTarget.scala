package graft.operators

import graft.core.Time
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graphite render-`target` façade: parse a render-style target string
  * (`scale(sumSeries(web.{srv1,srv2}.req), 100)`) and evaluate it as a
  * DataFrame plan over a series-shaped frame — the drop-in read-API of
  * the reference's ecosystem (`/root/reference/README.md:11-16`: hoard
  * stores what graphite-web renders).
  *
  * The engine side of every function is the SAME shape the h9–h46
  * operator family already uses: per-series window functions
  * (partitioned by series — never a global sort), per-bucket hash
  * aggregates, and a glob that compiles to one `rlike` predicate on the
  * series column so Catalyst pushes it into the source scan. Nothing
  * here collects to the driver; a 10M-series universe evaluates as the
  * equivalent hand-built plan would.
  *
  * Numeric contract (cross-engine determinism at any scale):
  * cross-series and windowed SUMS run in DECIMAL(18,6) (exact,
  * order-independent); every DIVISION result (averages, percentages,
  * rates) is quantized to 6 decimals via round(x·1e6)/1e6. Compositions
  * therefore never depend on float summation order, the property the
  * whole declared-query surface is built on (SURVEY §2.4).
  *
  * Universe frame contract: columns `series` (dotted string name),
  * `bucket` (timestamp, aligned to `step` seconds), `value` (double).
  *
  * Naming contract (deliberate simplification vs graphite-web's
  * per-function wrapping): per-series TRANSFORMS (scale, derivative,
  * movingAverage, summarize, timeShift, …) PRESERVE the input series
  * name; only cross-series AGGREGATIONS (sumSeries &c., named by the
  * call's canonical [[text]]) and the explicit alias/aliasByNode rename.
  * This keeps node-indexed functions (aliasByNode) meaningful on any
  * composition depth, where graphite's wrapped names break them.
  *
  * Supported render functions (~112 of graphite-web's ~120):
  *  - cross-series: sumSeries averageSeries maxSeries minSeries
  *    countSeries rangeOfSeries stddevSeries multiplySeries powSeries
  *    group aggregate (with the xFilesFactor arg) percentileOfSeries
  *    weightedAverage diffSeries divideSeries asPercent (self /
  *    numeric total / total series)
  *  - pairwise lists: divideSeriesLists multiplySeriesLists
  *    subtractSeriesLists diffSeriesLists aggregateSeriesLists
  *    (name-order pairing — documented proxy for fetch order)
  *  - grouped: groupByNode groupByNodes groupByTags
  *    sumSeriesWithWildcards averageSeriesWithWildcards
  *    aggregateWithWildcards mapSeries reduceSeries
  *  - scalar: scale offset add absolute invert squareRoot logarithm
  *    pow logit exp sigmoid round transformNull removeAboveValue
  *    removeBelowValue isNonNull scaleToSeconds
  *  - windows: derivative nonNegativeDerivative perSecond integral
  *    integralByInterval movingAverage movingSum movingMax movingMin
  *    movingMedian movingWindow stdev keepLastValue changed delay
  *    interpolate exponentialMovingAverage linearRegression
  *  - per-series stats: nPercentile removeAbovePercentile
  *    removeBelowPercentile minMax offsetToZero aggregateLine
  *  - selection: exclude grep maximumAbove maximumBelow minimumAbove
  *    minimumBelow averageAbove averageBelow currentAbove currentBelow
  *    filterSeries highestAverage highestMax highestCurrent
  *    lowestAverage lowestCurrent highest lowest mostDeviant
  *    averageOutsidePercentile removeEmptySeries limit unique
  *    useSeriesAbove
  *  - re-bucketing/time: summarize smartSummarize (from-aligned, with
  *    alignTo calendar units) hitcount timeShift timeStack timeSlice
  *    (epoch or relative specs) consolidateBy setXFilesFactor
  *    cumulative
  *  - per-prefix macro: applyByNode
  *  - tags: seriesByTag aliasByTags groupByTags
  *  - naming: alias aliasByNode aliasByMetric aliasSub substr
  *  - Holt-Winters: holtWintersForecast holtWintersConfidenceBands
  *    holtWintersConfidenceArea holtWintersAberration
  *  - generated/structural: identity time/timeFunction constantLine
  *    threshold fallbackSeries sinFunction
  *  - annotations: verticalLine events aliasQuery
  *  - display attributes (accepted, data-neutral): color dashed
  *    lineWidth drawAsInfinite secondYAxis stacked alpha legendValue
  *    cactiStyle areaBetween sortByName sortBy sortByTotal
  *    sortByMaxima (ordering is a chart concern; sortByMinima also
  *    filters, and is implemented)
  * Render-context functions (smartSummarize from-alignment, relative
  * timeSlice) resolve against the request state [[render]] threads
  * through evaluation as [[RenderContext]]; useSeriesAbove and
  * applyByNode re-probe the render universe ([[globLeaves]] widens a
  * store-backed fetch to cover them). Unmapped by intent: randomWalk —
  * the one genuinely nondeterministic generator (seeded from wall
  * clock in graphite-web; sinFunction, despite its chart-generator
  * family, is a pure function of the request grid and is mapped).
  */
object GraphiteTarget {

  // ---------------------------------------------------------------- AST

  sealed trait Node
  /** A series glob path: `web.*.cpu`, `events.{click,view}` */
  final case class Glob(pattern: String) extends Node
  /** A function application: `scale(<target>, 10)` */
  final case class Call(name: String, args: Seq[Arg]) extends Node

  sealed trait Arg
  final case class TargetArg(t: Node) extends Arg
  final case class NumArg(v: Double) extends Arg
  final case class StrArg(v: String) extends Arg

  /** Canonical text of a node — used to NAME aggregate outputs the way
    * graphite-web does (`sumSeries(web.*.req)`).
    */
  def text(n: Node): String = n match {
    case Glob(p) => p
    case Call(f, args) => f + "(" + args.map {
      case TargetArg(t) => text(t)
      case NumArg(v) => if (v == v.floor && v.abs < 1e15) v.toLong.toString
                        else v.toString
      case StrArg(s) => "\"" + s + "\""
    }.mkString(",") + ")"
  }

  /** The supported-function inventory as DATA: (family, function), the
    * scaladoc list above made machine-checkable. GraphiteQueries
    * declares it as an artifact query (g41_inventory) so facade
    * coverage is itself a gated, diffable artifact, and
    * GraphiteTailSpec asserts every listed name actually DISPATCHES —
    * the evaluator's unknown-function default never fires for an
    * inventory entry, so the list can't drift ahead of the code.
    * Canonical names only; pure aliases (add, log, grepSeries, map,
    * reduce, timeFunction, xFilesFactor, avg) ride their canonical
    * entry.
    */
  val functionInventory: Seq[(String, String)] = Seq(
    "cross-series" -> Seq("sumSeries", "averageSeries", "maxSeries",
      "minSeries", "countSeries", "rangeOfSeries", "stddevSeries",
      "multiplySeries", "powSeries", "group", "aggregate",
      "percentileOfSeries", "weightedAverage", "diffSeries",
      "divideSeries", "asPercent"),
    "pairwise-lists" -> Seq("divideSeriesLists", "multiplySeriesLists",
      "subtractSeriesLists", "diffSeriesLists", "aggregateSeriesLists"),
    "grouped" -> Seq("groupByNode", "groupByNodes", "groupByTags",
      "sumSeriesWithWildcards", "averageSeriesWithWildcards",
      "aggregateWithWildcards", "mapSeries", "reduceSeries"),
    "scalar" -> Seq("scale", "offset", "absolute", "invert",
      "squareRoot", "logarithm", "pow", "logit", "exp", "sigmoid",
      "round", "transformNull", "removeAboveValue", "removeBelowValue",
      "isNonNull", "scaleToSeconds"),
    "window" -> Seq("derivative", "nonNegativeDerivative", "perSecond",
      "integral", "integralByInterval", "movingAverage", "movingSum",
      "movingMax", "movingMin", "movingMedian", "movingWindow", "stdev",
      "keepLastValue", "changed", "delay", "interpolate",
      "exponentialMovingAverage", "linearRegression"),
    "per-series-stats" -> Seq("nPercentile", "removeAbovePercentile",
      "removeBelowPercentile", "minMax", "offsetToZero", "aggregateLine"),
    "selection" -> Seq("exclude", "grep", "maximumAbove", "maximumBelow",
      "minimumAbove", "minimumBelow", "averageAbove", "averageBelow",
      "currentAbove", "currentBelow", "filterSeries", "highestAverage",
      "highestMax", "highestCurrent", "lowestAverage", "lowestCurrent",
      "highest", "lowest", "mostDeviant", "averageOutsidePercentile",
      "removeEmptySeries", "limit", "unique", "useSeriesAbove",
      "sortByMinima"),
    "re-bucketing" -> Seq("summarize", "smartSummarize", "hitcount",
      "timeShift", "timeStack", "timeSlice", "consolidateBy",
      "setXFilesFactor", "cumulative"),
    "macro" -> Seq("applyByNode"),
    "tags" -> Seq("seriesByTag", "aliasByTags"),
    "naming" -> Seq("alias", "aliasByNode", "aliasByMetric", "aliasSub",
      "substr"),
    "holt-winters" -> Seq("holtWintersForecast",
      "holtWintersConfidenceBands", "holtWintersConfidenceArea",
      "holtWintersAberration"),
    "generated" -> Seq("identity", "time", "constantLine", "threshold",
      "fallbackSeries", "sinFunction"),
    "annotations" -> Seq("verticalLine", "events", "aliasQuery"),
    "display" -> Seq("color", "dashed", "lineWidth", "drawAsInfinite",
      "secondYAxis", "stacked", "alpha", "legendValue", "cactiStyle",
      "areaBetween", "sortByName", "sortBy", "sortByTotal",
      "sortByMaxima")
  ).flatMap { case (fam, fns) => fns.map(fam -> _) }

  /** One KNOWN-VALID target per inventory function, over a 2-series
    * universe named `m.a`/`m.b` (hourly buckets from epoch 0). The
    * dispatch gate evaluates each through [[render]] (which supplies
    * the request context the context-dependent functions require) and
    * demands the plan BUILDS — a listed function whose handler fails
    * for every generic arg shape can no longer hide behind a
    * non-"unknown function" error (the r11 advice finding), and
    * PlanShapeSpec walks the same probes' executed plans for the
    * no-partitionless-window pin. Keeping the probes next to the
    * inventory means a new entry without a working probe fails the
    * suite immediately.
    */
  val functionProbes: Map[String, String] = Map(
    "sumSeries" -> "sumSeries(m.*)",
    "averageSeries" -> "averageSeries(m.*)",
    "maxSeries" -> "maxSeries(m.*)",
    "minSeries" -> "minSeries(m.*)",
    "countSeries" -> "countSeries(m.*)",
    "rangeOfSeries" -> "rangeOfSeries(m.*)",
    "stddevSeries" -> "stddevSeries(m.*)",
    "multiplySeries" -> "multiplySeries(m.a, m.b)",
    "powSeries" -> "powSeries(m.a, m.b)",
    "group" -> "group(m.a, m.b)",
    "aggregate" -> "aggregate(m.*, 'sum')",
    "percentileOfSeries" -> "percentileOfSeries(m.*, 50)",
    "weightedAverage" -> "weightedAverage(m.*, m.*, 1)",
    "diffSeries" -> "diffSeries(m.a, m.b)",
    "divideSeries" -> "divideSeries(m.a, m.b)",
    "asPercent" -> "asPercent(m.*)",
    "divideSeriesLists" -> "divideSeriesLists(m.a, m.b)",
    "multiplySeriesLists" -> "multiplySeriesLists(m.a, m.b)",
    "subtractSeriesLists" -> "subtractSeriesLists(m.a, m.b)",
    "diffSeriesLists" -> "diffSeriesLists(m.a, m.b)",
    "aggregateSeriesLists" -> "aggregateSeriesLists(m.a, m.b, 'sum')",
    "groupByNode" -> "groupByNode(m.*, 0, 'sum')",
    "groupByNodes" -> "groupByNodes(m.*, 'sum', 0)",
    "groupByTags" -> "groupByTags(m.*, 'sum', 'dc')",
    "sumSeriesWithWildcards" -> "sumSeriesWithWildcards(m.*, 1)",
    "averageSeriesWithWildcards" -> "averageSeriesWithWildcards(m.*, 1)",
    "aggregateWithWildcards" -> "aggregateWithWildcards(m.*, 'sum', 1)",
    "mapSeries" -> "mapSeries(m.*, 0)",
    "reduceSeries" -> "reduceSeries(mapSeries(m.*, 0), 'sumSeries', 1, 'a', 'b')",
    "scale" -> "scale(m.a, 2)",
    "offset" -> "offset(m.a, 1)",
    "absolute" -> "absolute(m.a)",
    "invert" -> "invert(m.a)",
    "squareRoot" -> "squareRoot(m.a)",
    "logarithm" -> "logarithm(m.a)",
    "pow" -> "pow(m.a, 2)",
    "logit" -> "logit(m.a)",
    "exp" -> "exp(m.a)",
    "sigmoid" -> "sigmoid(m.a)",
    "round" -> "round(m.a)",
    "transformNull" -> "transformNull(m.a)",
    "removeAboveValue" -> "removeAboveValue(m.a, 5)",
    "removeBelowValue" -> "removeBelowValue(m.a, 5)",
    "isNonNull" -> "isNonNull(m.a)",
    "scaleToSeconds" -> "scaleToSeconds(m.a, 60)",
    "derivative" -> "derivative(m.a)",
    "nonNegativeDerivative" -> "nonNegativeDerivative(m.a)",
    "perSecond" -> "perSecond(m.a)",
    "integral" -> "integral(m.a)",
    "integralByInterval" -> "integralByInterval(m.a, '1d')",
    "movingAverage" -> "movingAverage(m.a, 2)",
    "movingSum" -> "movingSum(m.a, 2)",
    "movingMax" -> "movingMax(m.a, 2)",
    "movingMin" -> "movingMin(m.a, 2)",
    "movingMedian" -> "movingMedian(m.a, 2)",
    "movingWindow" -> "movingWindow(m.a, 2)",
    "stdev" -> "stdev(m.a, 2)",
    "keepLastValue" -> "keepLastValue(m.a)",
    "changed" -> "changed(m.a)",
    "delay" -> "delay(m.a, 1)",
    "interpolate" -> "interpolate(m.a)",
    "exponentialMovingAverage" -> "exponentialMovingAverage(m.a, 2)",
    "linearRegression" -> "linearRegression(m.a)",
    "nPercentile" -> "nPercentile(m.a, 50)",
    "removeAbovePercentile" -> "removeAbovePercentile(m.a, 50)",
    "removeBelowPercentile" -> "removeBelowPercentile(m.a, 50)",
    "minMax" -> "minMax(m.a)",
    "offsetToZero" -> "offsetToZero(m.a)",
    "aggregateLine" -> "aggregateLine(m.a, 'avg')",
    "exclude" -> "exclude(m.*, 'b')",
    "grep" -> "grep(m.*, 'a')",
    "maximumAbove" -> "maximumAbove(m.*, 0)",
    "maximumBelow" -> "maximumBelow(m.*, 100)",
    "minimumAbove" -> "minimumAbove(m.*, 0)",
    "minimumBelow" -> "minimumBelow(m.*, 100)",
    "averageAbove" -> "averageAbove(m.*, 0)",
    "averageBelow" -> "averageBelow(m.*, 100)",
    "currentAbove" -> "currentAbove(m.*, 0)",
    "currentBelow" -> "currentBelow(m.*, 100)",
    "filterSeries" -> "filterSeries(m.*, 'average', '>', 0)",
    "highestAverage" -> "highestAverage(m.*, 1)",
    "highestMax" -> "highestMax(m.*, 1)",
    "highestCurrent" -> "highestCurrent(m.*, 1)",
    "lowestAverage" -> "lowestAverage(m.*, 1)",
    "lowestCurrent" -> "lowestCurrent(m.*, 1)",
    "highest" -> "highest(m.*, 1)",
    "lowest" -> "lowest(m.*, 1)",
    "mostDeviant" -> "mostDeviant(m.*, 1)",
    "averageOutsidePercentile" -> "averageOutsidePercentile(m.*, 90)",
    "removeEmptySeries" -> "removeEmptySeries(m.*)",
    "limit" -> "limit(m.*, 1)",
    "unique" -> "unique(m.*)",
    "useSeriesAbove" -> "useSeriesAbove(m.*, 0, 'a', 'b')",
    "sortByMinima" -> "sortByMinima(m.*)",
    "summarize" -> "summarize(m.*, '4h')",
    "smartSummarize" -> "smartSummarize(m.*, '4h')",
    "hitcount" -> "hitcount(m.*, '4h')",
    "timeShift" -> "timeShift(m.*, '1h')",
    "timeStack" -> "timeStack(m.*, '1h')",
    "timeSlice" -> "timeSlice(m.*, 0)",
    "consolidateBy" -> "consolidateBy(m.*, 'sum')",
    "setXFilesFactor" -> "setXFilesFactor(m.*, 0.5)",
    "cumulative" -> "cumulative(m.*)",
    "applyByNode" -> "applyByNode(m.*, 0, 'sumSeries(%.*)')",
    "seriesByTag" -> "seriesByTag('name=~m')",
    "aliasByTags" -> "aliasByTags(m.*, 'name')",
    "alias" -> "alias(m.a, 'x')",
    "aliasByNode" -> "aliasByNode(m.*, 0)",
    "aliasByMetric" -> "aliasByMetric(m.*)",
    "aliasSub" -> "aliasSub(m.*, 'a', 'b')",
    "substr" -> "substr(m.*, 0, 1)",
    "holtWintersForecast" -> "holtWintersForecast(m.a)",
    "holtWintersConfidenceBands" -> "holtWintersConfidenceBands(m.a)",
    "holtWintersConfidenceArea" -> "holtWintersConfidenceArea(m.a)",
    "holtWintersAberration" -> "holtWintersAberration(m.a)",
    "identity" -> "identity('x')",
    "time" -> "time('x')",
    "constantLine" -> "constantLine(5)",
    "threshold" -> "threshold(5)",
    "fallbackSeries" -> "fallbackSeries(m.*, constantLine(1))",
    "sinFunction" -> "sinFunction('s', 2, 3600)",
    "verticalLine" -> "verticalLine('3600', 'vl')",
    "events" -> "events('a')",
    "aliasQuery" -> "aliasQuery(m.a, 'a', 'b', 'x %d')",
    "color" -> "color(m.*, 'red')",
    "dashed" -> "dashed(m.*)",
    "lineWidth" -> "lineWidth(m.*, 2)",
    "drawAsInfinite" -> "drawAsInfinite(m.*)",
    "secondYAxis" -> "secondYAxis(m.*)",
    "stacked" -> "stacked(m.*)",
    "alpha" -> "alpha(m.*, 0.5)",
    "legendValue" -> "legendValue(m.*, 'avg')",
    "cactiStyle" -> "cactiStyle(m.*)",
    "areaBetween" -> "areaBetween(m.*)",
    "sortByName" -> "sortByName(m.*)",
    "sortBy" -> "sortBy(m.*, 'average')",
    "sortByTotal" -> "sortByTotal(m.*)",
    "sortByMaxima" -> "sortByMaxima(m.*)"
  )

  // ------------------------------------------------------------- parser

  /** Recursive-descent parse of a render target. Grammar:
    * {{{
    * target := ident '(' args? ')'   -- when ident is directly followed by '('
    *         | path                  -- series glob otherwise
    * args   := arg (',' arg)*
    * arg    := number | 'str' | "str" | target
    * path   := [A-Za-z0-9_.*?{},\[\]-]+  (',' only inside '{…}')
    * }}}
    */
  def parse(s: String): Node = {
    val p = new Parser(s)
    val r = p.target()
    p.ws()
    require(p.eof, s"trailing input at ${p.i}: '${s.drop(p.i)}'")
    r
  }

  private final class Parser(s: String) {
    var i = 0
    def eof: Boolean = i >= s.length
    def ws(): Unit = while (!eof && s(i).isWhitespace) i += 1

    private def isPathChar(c: Char, braceDepth: Int): Boolean =
      c.isLetterOrDigit || "._-*?{}[]".indexOf(c) >= 0 ||
        (c == ',' && braceDepth > 0)

    /** Scan one path/ident token, tracking `{}` depth so `{a,b}` commas
      * stay inside the token while argument-separator commas stop it.
      */
    private def pathToken(): String = {
      val start = i
      var depth = 0
      while (!eof && isPathChar(s(i), depth)) {
        if (s(i) == '{') depth += 1
        if (s(i) == '}') { require(depth > 0, s"unbalanced '}' at $i"); depth -= 1 }
        i += 1
      }
      require(depth == 0, s"unclosed '{' in glob at $start")
      require(i > start, s"expected a target at $i in '$s'")
      s.substring(start, i)
    }

    def target(): Node = {
      ws()
      val tok = pathToken()
      if (!eof && s(i) == '(') {
        require(tok.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"'$tok' is not a function name")
        i += 1 // '('
        val args = scala.collection.mutable.ArrayBuffer.empty[Arg]
        ws()
        if (!eof && s(i) != ')') {
          args += arg()
          ws()
          while (!eof && s(i) == ',') { i += 1; args += arg(); ws() }
        }
        require(!eof && s(i) == ')', s"expected ')' at $i in '$s'")
        i += 1
        Call(tok, args.toSeq)
      } else Glob(tok)
    }

    private def arg(): Arg = {
      ws()
      require(!eof, s"expected an argument at $i")
      s(i) match {
        case '\'' | '"' =>
          val q = s(i); i += 1
          val start = i
          while (!eof && s(i) != q) i += 1
          require(!eof, s"unterminated string at $start")
          val v = s.substring(start, i); i += 1
          StrArg(v)
        case c if c.isDigit || c == '-' || c == '+' =>
          val start = i
          if (s(i) == '-' || s(i) == '+') i += 1
          while (!eof && (s(i).isDigit || s(i) == '.')) i += 1
          NumArg(s.substring(start, i).toDouble)
        case _ => TargetArg(target())
      }
    }
  }

  /** Graphite glob → anchored Java regex, the one translation behind
    * both the render evaluator and the store's `seriesGlob`: `*`
    * matches within one dotted node (`[^.]*`), `?` one non-dot char,
    * `{a,b}` alternation (nestable, non-capturing), `[…]` a char class
    * passed through verbatim; everything else is literal.
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var inClass = false
    var braces = 0
    glob.foreach {
      case ']' => inClass = false; sb.append(']')
      case c if inClass => sb.append(c)
      case '[' => inClass = true; sb.append('[')
      case '*' => sb.append("[^.]*")
      case '?' => sb.append("[^.]")
      case '{' => braces += 1; sb.append("(?:")
      case '}' => braces -= 1; sb.append(")")
      case ',' if braces > 0 => sb.append("|")
      case '.' => sb.append("\\.")
      case c if c.isLetterOrDigit || c == '_' || c == '-' => sb.append(c)
      case c => sb.append("\\").append(c)
    }
    sb.append("$").toString
  }

  /** Graphite duration literal (`"1d"`, `"6h"`, `"90s"`, `"2w"`) in
    * seconds; a leading sign is honored (timeShift accepts both).
    */
  def parseDuration(d: String): Long = {
    val m = "^([+-]?)(\\d+)(s|min|m|h|d|w)$".r
      .findFirstMatchIn(d.trim)
      .getOrElse(throw new IllegalArgumentException(s"bad duration '$d'"))
    val unit = m.group(3) match {
      case "s" => 1L; case "m" | "min" => 60L; case "h" => 3600L
      case "d" => 86400L; case "w" => 604800L
    }
    val v = m.group(2).toLong * unit
    if (m.group(1) == "-") -v else v
  }

  /** timeStack's shift unit with graphite-web's sign normalization: an
    * UNSIGNED duration means the past (`'1d'` behaves as `'-1d'` —
    * graphite prepends '-' when the spec starts with a digit); an
    * explicit sign is honored. Returned as the per-multiplier shift
    * magnitude `sec` used as output bucket = input − i·sec.
    */
  private def timeStackSec(spec: String): Long = {
    val raw = parseDuration(spec)
    if (spec.trim.headOption.exists(_.isDigit)) -raw else raw
  }

  /** Truncate an epoch second to a UTC calendar-unit boundary —
    * smartSummarize's alignTo origins, computed once on the driver.
    * Accepts graphite's unit names and duration-style suffixes
    * (`days` / `1d`, `hours` / `1h`, …); weeks start Monday
    * (graphite's `startTime − weekday()` rule).
    */
  private[graft] def truncateEpoch(sec: Long, unit: String): Long = {
    import java.time.{Instant, ZoneOffset}
    import java.time.temporal.ChronoUnit
    val z = Instant.ofEpochSecond(sec).atZone(ZoneOffset.UTC)
    val u = unit.trim.dropWhile(_.isDigit)
    val t = u match {
      case "s" | "seconds" => z
      case "m" | "min" | "minutes" => z.truncatedTo(ChronoUnit.MINUTES)
      case "h" | "hours"   => z.truncatedTo(ChronoUnit.HOURS)
      case "d" | "days"    => z.truncatedTo(ChronoUnit.DAYS)
      case "w" | "weeks"   => z.truncatedTo(ChronoUnit.DAYS)
        .minusDays(z.getDayOfWeek.getValue - 1L)
      case "mon" | "months" => z.truncatedTo(ChronoUnit.DAYS).withDayOfMonth(1)
      case "y" | "years"    => z.truncatedTo(ChronoUnit.DAYS).withDayOfYear(1)
      case other => throw new IllegalArgumentException(
        s"bad alignTo unit '$other'")
    }
    t.toEpochSecond
  }

  /** Cap on the distinct node prefixes applyByNode fans out over — the
    * one bounded driver-side collect in the facade (fetchValues'
    * require-capped discipline): graphite-web itself re-evaluates the
    * template once per series, so the prefix count is a dashboard-scale
    * quantity, never a data-scale one.
    */
  val MaxApplyByNodePrefixes: Int = 1000

  // ---------------------------------------------------------- evaluator

  /** A series set mid-evaluation: the frame plus its current step
    * (summarize coarsens it; perSecond divides by it) and its
    * consolidation function (consolidateBy sets it; [[consolidate]]
    * applies it when a maxDataPoints render cap coarsens the step).
    * Per-series transforms propagate `cf` via copy(); cross-series
    * aggregations reset it to the default "average". `xff` is the
    * setXFilesFactor attribute: the minimum non-null fraction a
    * re-bucketing fold (summarize / smartSummarize) or a 3-arg
    * aggregate needs before a coarse bucket counts — 0 (the default)
    * keeps graphite's keep-everything behavior.
    */
  final case class SeriesSet(df: DataFrame, step: Long,
                             cf: String = "average", xff: Double = 0.0)

  /** Render-time consolidation — graphite-web's maxDataPoints contract:
    * a client asking to draw a [from, until) range at most `maxPoints`
    * wide gets the step coarsened by the smallest integer factor that
    * fits, each coarse bucket folding its fine buckets with the set's
    * consolidation function. THE scale valve of the read path: a
    * 10-year range at 1-minute step leaves the cluster as ~one screen
    * of points, aggregated where the data lives — never shipped raw.
    * Buckets align on the epoch grid of the coarsened step (graphite
    * aligns on `from`; the epoch grid keeps the rule stateless).
    */
  def consolidate(set: SeriesSet, fromSec: Long, untilSec: Long,
                  maxPoints: Int): SeriesSet = {
    require(maxPoints > 0, "maxDataPoints must be positive")
    val points = math.max(0L, untilSec - fromSec) / math.max(1L, set.step)
    if (points <= maxPoints) set
    else {
      val factor = ((points + maxPoints - 1) / maxPoints).toInt
      val newStep = set.step * factor
      val nb = Time.align(col("bucket"), newStep).as("bucket")
      val agg = cfAgg(set.cf, "consolidate")
      SeriesSet(set.df.groupBy(col("series"), nb).agg(agg.as("v"))
        .select(col("series"), col("bucket"),
          col("v").cast("double").as("value")), newStep, set.cf)
    }
  }

  /** Every glob leaf of a target, in source order — a store-backed
    * caller fetches exactly this universe (union of the globs) before
    * evaluating, so the fetch predicate and the evaluator use the SAME
    * [[globToRegex]] translation.
    */
  def globLeaves(n: Node): Seq[String] = n match {
    case Glob(p) => Seq(p)
    // useSeriesAbove refetches series named by search→replace over the
    // input names: a store-backed caller must fetch the replaced globs
    // too, so each inner leaf contributes its replaced form (a sound
    // over-approximation — replace applied to the PATTERN covers
    // replace applied to every name the pattern matches whenever the
    // replaced text lies outside wildcard spans, graphite's
    // documented usage)
    case Call("useSeriesAbove", args) =>
      val inner = args.collect { case TargetArg(t) => globLeaves(t) }.flatten
      (args.lift(2), args.lift(3)) match {
        case (Some(StrArg(search)), Some(StrArg(repl))) =>
          (inner ++ inner.map(_.replace(search, repl))).distinct
        case _ => inner
      }
    // applyByNode evaluates its template per matched prefix: the
    // template's leaves with '%' widened to the prefix-depth glob of
    // each inner leaf cover every per-prefix expansion
    case Call("applyByNode", args) =>
      val inner = args.collect { case TargetArg(t) => globLeaves(t) }.flatten
      (args.lift(1), args.lift(2)) match {
        case (Some(NumArg(nn)), Some(StrArg(template))) =>
          val prefixGlobs = inner
            .map(_.split("\\.").take(nn.toInt + 1).mkString(".")).distinct
          (inner ++ prefixGlobs.flatMap { p =>
            scala.util.Try(globLeaves(parse(template.replace("%", p))))
              .getOrElse(Nil)
          }).distinct
        case _ => inner
      }
    case Call(_, args) => args.collect { case TargetArg(t) => globLeaves(t) }.flatten
  }

  /** The `/metrics/find` browse contract over a frame of series names
    * (column `series`): expand `query` — a glob of dotted nodes — to
    * the matching TREE NODES at the query's depth, each flagged
    * `is_leaf` (some matching series ends exactly there) and
    * `is_branch` (some continues deeper); a node can be both. This is
    * the API a graphite-web tree browser walks one level at a time.
    * Shape: one projection + one hash aggregate whose output is
    * bounded by the matched node count — a 10M-series catalog browse
    * never collects the catalog.
    */
  def findNodes(series: DataFrame, query: String): DataFrame = {
    val depth = query.split("\\.", -1).length
    val parts = split(col("series"), "\\.")
    series
      .where(size(parts) >= depth)
      .select(concat_ws(".", slice(parts, 1, depth)).as("node"),
        (size(parts) === depth).as("leaf"))
      .where(col("node").rlike(globToRegex(query)))
      .groupBy(col("node"))
      .agg(max(col("leaf")).as("is_leaf"),
        max(!col("leaf")).as("is_branch"))
  }

  private val wSeries: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(col("series")).orderBy(col("bucket"))

  private def dec(c: Column): Column = c.cast("decimal(18,6)")
  /** 6-decimal quantization — THE division-output contract (scaladoc). */
  private def q6(c: Column): Column = round(c * lit(1e6)) / lit(1e6)

  /** The per-(series, coarse-bucket) consolidation fold shared by
    * [[consolidate]], summarize and smartSummarize. `last` is
    * graphite's safeLast (latest NON-null value — the null-keyed rows
    * never win a max_by; within a per-series group the bucket alone
    * orders deterministically).
    */
  private def cfAgg(cf: String, who: String): Column = cf match {
    case "average" | "avg" => q6(sum(dec(col("value"))).cast("double") /
                                 count(col("value")))
    case "sum"  => dec(sum(dec(col("value")))).cast("double")
    case "max"  => max(col("value"))
    case "min"  => min(col("value"))
    case "last" => max_by(col("value"),
      when(col("value").isNotNull, col("bucket")))
    case other  => throw new IllegalArgumentException(
      s"$who: unknown cf '$other'")
  }

  private def out(df: DataFrame, name: Column, value: Column): DataFrame =
    df.select(name.as("series"), col("bucket"), value.cast("double").as("value"))

  /** The xFilesFactor gate for the re-bucketing folds (summarize /
    * smartSummarize), evaluated after the per-(series, coarse-bucket)
    * agg where `v` is the fold, `__n` the non-null count, and `bucket`
    * the coarse bucket. Graphite's denominator is the number of fetch
    * GRID slots actually inside the bucket — under a render context
    * partial boundary buckets (a window that is not a multiple of the
    * interval) get the clamped slot count, not the bucket's full
    * capacity (full capacity would null boundary buckets graphite
    * keeps). A bare eval() has no window, so the full ivl/step
    * capacity stands in. Pure column arithmetic — no extra scan.
    */
  private def xffGate(in: SeriesSet, ivl: Long,
                      ctx: Option[RenderContext]): Column = {
    if (in.xff <= 0) col("v")
    else {
      val st = math.max(1L, in.step)
      val denom: Column = ctx match {
        case Some(c) =>
          // fine grid slots are step-multiples in
          // [max(bucket, from), min(bucket + ivl, until))
          val nbE = unix_timestamp(col("bucket"))
          val lo = greatest(nbE, lit(c.fromSec))
          val hi = least(nbE + lit(ivl), lit(c.untilSec))
          greatest(lit(1L), (floor((hi - lit(1L)) / lit(st)) -
            floor((lo + lit(st - 1)) / lit(st)) + lit(1L)).cast("long"))
        case None => lit(math.max(1L, ivl / st))
      }
      when(col("__n") >= lit(in.xff) * denom, col("v"))
    }
  }

  /** Dotted-name node at a graphite index: 0-based from the left,
    * negative from the right (Spark element_at is 1-based from the left
    * and already negative-from-the-end, so only the non-negative case
    * needs the +1). Shared by aliasByNode / groupByNode(s) /
    * the WithWildcards aggregations / weightedAverage / substr.
    */
  private def nodeAt(series: Column, idx: Int): Column =
    element_at(split(series, "\\."), if (idx < 0) idx else idx + 1)

  /** The shared value fold behind every function that takes a named
    * aggregation — aggregate / groupByNode(s) / groupByTags /
    * {sum,average}SeriesWithWildcards / filterSeries / highest / lowest
    * / aggregateLine, and the long-standing xxxSeries family. Works
    * per-bucket (cross-series) and per-series (scores) alike. Exact
    * decimal accumulation for everything that sums (the class doc's
    * numeric contract); q6 on every division and on interpolated
    * percentiles (the two engines' linear interpolations differ in the
    * last ulp).
    */
  private def aggFor(func: String): Column = func match {
    case "average" | "avg"   => q6(sum(dec(col("value"))).cast("double") /
                                   count(col("value")))
    case "sum" | "total"     => dec(sum(dec(col("value")))).cast("double")
    case "max"               => max(col("value"))
    case "min"               => min(col("value"))
    case "count"             => count(col("value")).cast("double")
    case "range" | "rangeOf" => max(col("value")) - min(col("value"))
    case "median"            => q6(expr("percentile(value, 0.5)"))
    // graphite's safeLast: the latest NON-null value (max_by skips rows
    // whose ordering key is null, so null values never win); the series
    // name breaks per-bucket ties, making the fold deterministic in
    // per-BUCKET grouped contexts (aggregate/groupByNode/groupByTags)
    // where bucket is the grouping key and every row would otherwise tie
    case "last" | "current"  => max_by(col("value"),
      when(col("value").isNotNull, struct(col("bucket"), col("series"))))
    // population stddev from decimal sums: every accumulation is
    // exact, the residual double ops are order-free
    case "stddev"            => q6(sqrt(greatest(
        (sum(dec(col("value") * col("value"))).cast("double") -
          sum(dec(col("value"))).cast("double") *
          sum(dec(col("value"))).cast("double") / count(col("value"))) /
          count(col("value")), lit(0.0))))
    case other => throw new IllegalArgumentException(
      s"unknown aggregation '$other'")
  }

  // ---------------------------------------------------------- tag support

  /** Value of `tag` in a tagged series name (`name;k=v;k2=v2` — the
    * carbon tagged-metric form): the pseudo-tag "name" is the path
    * before the first ';'; a missing tag extracts as the empty string,
    * which is exactly graphite's semantics for `tag=` (matches series
    * without the tag). A codegen'd regexp on the series column — the
    * filter stays a pushable scan predicate, no shuffle, no tag index
    * needed.
    */
  private def tagValue(tag: String): Column =
    if (tag == "name") substring_index(col("series"), ";", 1)
    else regexp_extract(col("series"),
      ";" + java.util.regex.Pattern.quote(tag) + "=([^;]*)", 1)

  /** One graphite tag expression (`tag=v`, `tag!=v`, `tag=~re`,
    * `tag!=~re`) → a Column predicate. Regex forms anchor at the start
    * of the value (graphite matches with re.match).
    */
  private def tagPredicate(expr: String): Column = {
    val m = "([^!=~]+)(!=~|=~|!=|=)(.*)".r
    expr match {
      case m(tag, op, v) => op match {
        case "="   => tagValue(tag) === lit(v)
        case "!="  => tagValue(tag) =!= lit(v)
        case "=~"  => tagValue(tag).rlike("^(?:" + v + ")")
        case "!=~" => !tagValue(tag).rlike("^(?:" + v + ")")
      }
      case _ => throw new IllegalArgumentException(
        s"bad seriesByTag expression '$expr'")
    }
  }

  /** Enforce graphite's one-series-per-operand contract for the
    * cross-series arithmetic functions (divideSeries, multiplySeries):
    * a glob operand matching several series would otherwise silently
    * fan out the per-bucket join and duplicate rows, where graphite-web
    * raises. The check is a per-bucket `count(distinct series)` folded
    * into the value expression itself (a plan-level raise_error, not a
    * driver action — nothing collects, CaseWhen only evaluates the
    * error branch when tripped), so the frame it returns is the same
    * one-row-per-bucket broadcastable shape the join expects.
    */
  private def oneSeries(df: DataFrame, what: String): DataFrame =
    df.groupBy(col("bucket"))
      .agg(countDistinct(col("series")).as("__ns"),
        first(col("value")).as("value"))
      .select(col("bucket"),
        when(col("__ns") > 1, raise_error(lit(
          s"$what must evaluate to exactly one series")))
          .otherwise(col("value")).as("value"))

  /** Number of universe-fetch sites a parsed target will evaluate: every
    * Glob leaf and seriesByTag/useSeriesAbove selection re-reads the
    * universe frame, and applyByNode re-probes it once per matched
    * prefix (capped, but many). When a target carries MORE than one
    * fetch site, each site's subtree would re-run the caller's whole
    * universe plan — for the render facade that plan is the lww
    * aggregate over RAW events, i.e. the dominant corpus-sized pass —
    * so [[eval]] materializes the universe once and lets every site
    * read the materialized frame (r13 optimization; the g36 shared
    * name frame was the same fix for one function's internals).
    */
  /** Facade functions that consume their input SeriesSet TWICE (a
    * per-series/per-bucket score aggregate plus a join back onto the
    * input): each doubles its subtree's universe fetches. The list is
    * a superset check, not a contract — a missed name only forgoes the
    * sharing, a false positive only shares one fetch early.
    */
  private val TwoPassFns: Set[String] = Set(
    "maximumAbove", "maximumBelow", "minimumAbove", "minimumBelow",
    "averageAbove", "averageBelow", "currentAbove", "currentBelow",
    "highestAverage", "highestMax", "highestCurrent",
    "lowestAverage", "lowestCurrent", "highest", "lowest", "mostDeviant",
    "nPercentile", "removeAbovePercentile", "removeBelowPercentile",
    "removeBetweenPercentile", "averageOutsidePercentile",
    "asPercent", "filterSeries", "removeEmptySeries", "limit",
    "sortByMaxima", "sortByMinima", "sortByTotal", "sortByName",
    "multiplySeries", "divideSeries", "diffSeries")

  /** Universe-fetch sites in the parsed tree. `ctxMode`: under a render
    * context the time()/timeFunction/sinFunction grids are spark.range
    * leaves (no universe read); a bare eval falls back to the
    * universe's bucket spine, which IS a fetch. The generated-spine and
    * annotation functions (identity/constantLine/threshold/events/
    * aliasQuery) read the universe in both modes — r13's count missed
    * them, so e.g. g42's three fetch sites went unshared.
    */
  private[graft] def universeFetches(n: Node, ctxMode: Boolean): Int = n match {
    case Glob(_) => 1
    case Call(fn, args) =>
      def f(a: Arg): Int = a match {
        case TargetArg(t) => universeFetches(t, ctxMode)
        case _ => 0
      }
      val sub = args.map(f).sum
      fn match {
        case "seriesByTag" | "useSeriesAbove" => sub + 1
        case "applyByNode" => MaxApplyByNodePrefixes // per-prefix re-probe
        case "identity" | "constantLine" | "threshold" => sub + 1 // spine
        case "events" | "aliasQuery" => sub + 1 // annotation/lookup read
        case "time" | "timeFunction" | "sinFunction" =>
          sub + (if (ctxMode) 0 else 1)
        case "fallbackSeries" =>
          // the presence probe (cnt) and keepA each re-consume the
          // primary subtree on top of its own evaluation
          args.headOption.map(f).getOrElse(0) + sub
        case f0 if TwoPassFns(f0) => sub * 2
        case _ => sub
      }
  }

  /** True when every universe fetch under `n` is a plain Glob — the
    * precondition for [[globLeaves]]' useSeriesAbove/applyByNode
    * pattern-level over-approximations to COVER the subtree's fetch
    * set (a nested seriesByTag/spine/annotation fetch would escape
    * them).
    */
  private def globOnlyFetches(n: Node): Boolean = n match {
    case Glob(_) => true
    case Call(fn, args) =>
      !Set("seriesByTag", "identity", "constantLine", "threshold",
        "time", "timeFunction", "sinFunction", "events",
        "aliasQuery")(fn) &&
        args.collect { case TargetArg(t) => t }.forall(globOnlyFetches)
  }

  /** Every fetch site's pushable name predicate, or None when some
    * consumer is not name-bounded (generated spines read every series'
    * buckets; an untagged events() reads everything). Pushing the
    * disjunction into the shared universe BEFORE the checkpoint
    * restores the per-leaf scan pruning materialization otherwise
    * forfeits (r13 advice: a selective single glob under a TwoPassFns
    * wrapper paid a whole-universe materialization). Sound because
    * every consumer re-applies its own predicate on top of the shared
    * frame, and the rewrite-fetchers (useSeriesAbove / applyByNode /
    * aliasQuery) are covered by the same pattern-level
    * over-approximations [[globLeaves]] documents.
    */
  private[graft] def namePreds(n: Node, ctxMode: Boolean): Option[Seq[Column]] = {
    def globPreds(node: Node): Option[Seq[Column]] =
      if (globOnlyFetches(node))
        Some(globLeaves(node).map(g => col("series").rlike(globToRegex(g))))
      else None
    n match {
      case Glob(p) => Some(Seq(col("series").rlike(globToRegex(p))))
      case Call("seriesByTag", args) =>
        scala.util.Try(args.map {
          case StrArg(s0) => tagPredicate(s0)
          case a => throw new IllegalArgumentException(a.toString)
        }.reduce(_ && _)).toOption.map(Seq(_))
      case c @ Call("useSeriesAbove" | "applyByNode", _) => globPreds(c)
      case Call("events", args) =>
        if (args.nonEmpty && args.forall(_.isInstanceOf[StrArg]))
          Some(Seq(col("series").isin(
            args.collect { case StrArg(s0) => "events." + s0 }: _*)))
        else None // tagless events() spikes on every series' buckets
      case Call("aliasQuery", args) =>
        // the lasts lookup reads series named search→replace over the
        // input names; the rewrite is a REGEX, so the pattern-level
        // over-approximation is only sound when each inner glob is
        // wildcard-free (it then matches exactly itself and the regex
        // applies to the concrete name)
        (args.headOption, args.lift(1), args.lift(2)) match {
          case (Some(TargetArg(t)), Some(StrArg(search)), Some(StrArg(repl)))
              if globOnlyFetches(t) =>
            val inner = globLeaves(t)
            if (inner.exists(_.exists("{}*?[]".contains(_)))) None
            else scala.util.Try {
              val repl0 = repl.replaceAll("\\\\(\\d)", "\\$$1")
              val rewritten = inner.map(_.replaceAll(search, repl0))
              ((inner ++ rewritten).distinct)
                .map(g => col("series").rlike(globToRegex(g)))
            }.toOption
          case _ => None
        }
      case Call(fn, _)
          if Set("time", "timeFunction", "sinFunction")(fn) =>
        if (ctxMode) Some(Nil) else None // ctx grids are spark.range
      case Call(fn, _)
          if Set("identity", "constantLine", "threshold")(fn) => None
      case Call(_, args) =>
        val subs = args.collect { case TargetArg(t) => namePreds(t, ctxMode) }
        if (subs.exists(_.isEmpty)) None else Some(subs.flatten.flatten)
    }
  }

  /** OR of all targets' fetch predicates, when every fetch site is
    * name-bounded. */
  private def universeNamePred(nodes: Seq[Node],
                               ctxMode: Boolean): Option[Column] = {
    val per = nodes.map(namePreds(_, ctxMode))
    if (per.exists(_.isEmpty)) None
    else {
      val preds = per.flatten.flatten
      if (preds.isEmpty) None else Some(preds.reduce(_ || _))
    }
  }

  /** Bounds (minOff, maxOff) on the ctx-window offsets any fetch site
    * under `n` can see, relative to the node's own request window:
    * timeShift hands its subtree a ctx moved by −sec, timeStack the
    * union of its copies' windows; every fetching function reads at
    * its own (already offset) ctx, contributing 0. Throws when the
    * fetch window cannot be bounded statically (applyByNode parses its
    * template per prefix at eval time) — callers then share without
    * the window clamp.
    */
  private[graft] def shiftRange(n: Node): (Long, Long) = n match {
    case Glob(_) => (0L, 0L)
    case Call(fn, args) =>
      val subs = args.collect { case TargetArg(t) => shiftRange(t) }
      val here = fn match {
        case "seriesByTag" | "useSeriesAbove" | "identity" |
             "constantLine" | "threshold" | "events" | "aliasQuery" |
             "time" | "timeFunction" | "sinFunction" => Seq((0L, 0L))
        case "applyByNode" => throw new IllegalArgumentException(
          "applyByNode: template windows resolve per prefix at eval")
        case _ => Nil
      }
      val all = subs ++ here
      val base =
        if (all.isEmpty) (0L, 0L)
        else (all.map(_._1).min, all.map(_._2).max)
      fn match {
        case "timeShift" =>
          val sec = args.lift(1) match {
            case Some(StrArg(s0)) => parseDuration(s0)
            case a => throw new IllegalArgumentException(s"timeShift: $a")
          }
          (base._1 - sec, base._2 - sec)
        case "timeStack" =>
          val sec = args.lift(1) match {
            case Some(StrArg(s0)) => timeStackSec(s0)
            case a => throw new IllegalArgumentException(s"timeStack: $a")
          }
          val start = args.lift(2) match {
            case Some(NumArg(v)) => v.toInt
            case _ => 0
          }
          val end = args.lift(3) match {
            case Some(NumArg(v)) => v.toInt
            case _ => 7
          }
          val shifts = (start until end).map(_.toLong * sec)
          (base._1 + shifts.min, base._2 + shifts.max)
        case _ => base
      }
  }

  /** Materialize `universe` once when the parsed targets will fetch it
    * more than once (bounded by the series×bucket frame — the lww
    * AGGREGATE, never raw events), pre-filtered to the disjunction of
    * the targets' name predicates when every fetch site is
    * name-bounded, so the selective-glob pushdown the r13 sharing
    * forfeited survives the materialization (r13 advice item 4).
    * Streaming universes can't checkpoint. The checkpoint is LOCAL
    * (single-JVM executor blocks, not fault-tolerant): executor loss
    * mid-query fails the evaluation instead of recomputing — the
    * documented trade for this bounded frame (r13 advice item 5); a
    * cluster deployment needing replay swaps persist/reliable
    * checkpointing here.
    */
  private def shareUniverse(nodes: Seq[Node], universe: DataFrame): DataFrame =
    if (!universe.isStreaming &&
        nodes.map(universeFetches(_, ctxMode = false)).sum > 1)
      universeNamePred(nodes, ctxMode = false)
        .map(universe.where).getOrElse(universe)
        // (c) kept, time pays: without it sf0.1 g36 went 1.45 -> 1.92 s (6 pairs)
        .localCheckpoint(true)
    else universe

  /** The ctx'd-render sharing (r13 verdict item 5): each leaf clamps to
    * its own (possibly shifted) request window, so a naive pre-clamp
    * materialization would forfeit window pushdown — instead clamp to
    * the UNION of every fetch site's window ([from+minOff,
    * until+maxOff) from the statically-bounded shift offsets), filter
    * to the targets' name predicates when available, and materialize
    * THAT. Every leaf's exact ctxClamp still applies on top of the
    * shared frame, so rows outside its own window never matter. When
    * the offsets can't be bounded statically the clamp is skipped and
    * the universe is shared unclamped (still one scan instead of one
    * per fetch site).
    */
  private def shareRenderUniverse(nodes: Seq[Node], universe: DataFrame,
                                  fromSec: Long, untilSec: Long): DataFrame =
    if (universe.isStreaming ||
        nodes.map(universeFetches(_, ctxMode = true)).sum <= 1) universe
    else {
      val clamped = scala.util.Try {
        val rs = nodes.map(shiftRange)
        val lo = fromSec + rs.map(_._1).min
        val hi = untilSec + rs.map(_._2).max
        universe.where(col("bucket") >= timestamp_seconds(lit(lo)) &&
          col("bucket") < timestamp_seconds(lit(hi)))
      }.getOrElse(universe)
      universeNamePred(nodes, ctxMode = true)
        .map(clamped.where).getOrElse(clamped)
        // (c) kept, time pays: without it sf0.1 g38 went 1.13 -> 1.54 s (6 pairs)
        .localCheckpoint(true)
    }

  /** Evaluate `target` over `universe` (see class doc for its shape). */
  def eval(target: String, universe: DataFrame, step: Long): DataFrame = {
    val node = parse(target)
    evalNode(node, shareUniverse(Seq(node), universe), step).df
  }

  /** The render request context threaded through [[evalNode]] for the
    * functions that need graphite-web's request state: smartSummarize
    * aligns its buckets to `fromSec`, and timeSlice's relative time
    * specs resolve against `nowSec`. Built by [[render]]; a bare
    * [[eval]] call carries none, and those functions then fail loudly
    * at plan-build time.
    */
  final case class RenderContext(fromSec: Long, untilSec: Long,
                                 nowSec: Long)

  /** The request fetch window, applied at every universe-consuming
    * LEAF (glob / seriesByTag / the useSeriesAbove refetch / the
    * generated-series spines): graphite-web fetches [from, until) per
    * leaf and timeShift shifts the WINDOW the inner target fetches
    * (requestContext.startTime/endTime move by the shift), so the
    * clamp must be ctx-driven here — not one render-top filter over a
    * pre-widened universe, whose boundary summarize/xff folds saw
    * rows graphite never fetched and whose time()/identity grids
    * anchored to the UNSHIFTED request window under timeShift (r12
    * advice). A bare eval() has no ctx and sees the caller's universe
    * unclamped, exactly as before.
    */
  private def ctxClamp(df: DataFrame,
                       ctx: Option[RenderContext]): DataFrame =
    ctx.fold(df)(c => df.where(
      col("bucket") >= timestamp_seconds(lit(c.fromSec)) &&
        col("bucket") < timestamp_seconds(lit(c.untilSec))))

  /** Graphite `/render` `from`/`until` time specifier → epoch seconds,
    * with `now` EXPLICIT (the §5.3 stance — no wall-clock reads).
    * Public graphite-web forms covered: epoch seconds (`1311163200`),
    * `now`, a signed duration relative to now (`-24h`, `+1h`), and
    * `now±duration` (`now-7d`). Absolute date strings beyond epoch
    * seconds are out of scope (the store's universe is epoch-bucketed).
    */
  def parseTimeSpec(spec: String, nowSec: Long): Long = {
    val s = spec.trim
    if (s == "now") nowSec
    else if (s.matches("\\d+")) s.toLong
    else if (s.startsWith("now-") || s.startsWith("now+"))
      nowSec + parseDuration(s.stripPrefix("now"))
    else if (s.startsWith("-") || s.startsWith("+"))
      nowSec + parseDuration(s)
    else throw new IllegalArgumentException(s"bad time spec '$spec'")
  }

  /** The full `/render` endpoint semantics in one call: every LEAF
    * fetches the request window [from, until) ([[ctxClamp]] — graphite
    * fetches the window per leaf, functions see only it), every target
    * is evaluated, the maxDataPoints consolidation applies to each,
    * and the series sets union — one frame out, exactly what a
    * dashboard panel asked for. Each target stays an independent
    * declarative plan; the union is plan-level (no driver
    * materialization between targets).
    *
    * A timeShift subtree evaluates under a ctx shifted by its offset
    * (graphite-web shifts the inner requestContext the same way), so
    * its leaves fetch [from−s, until−s), its xff denominators and
    * generated grids anchor where the data actually lives, and the
    * shifted output is re-clamped to [from, until) so no buckets
    * escape the asked-for range.
    */
  def render(targets: Seq[String], universe: DataFrame, step: Long,
             fromSec: Long, untilSec: Long,
             maxDataPoints: Option[Int] = None): DataFrame =
    renderSets(targets, universe, step, fromSec, untilSec,
      nowSec = untilSec, maxDataPoints).reduce(_ unionByName _)

  /** One evaluated-and-consolidated frame PER target, in target order —
    * the shared engine under [[render]] (which unions them) and
    * [[renderJson]] (which must keep same-named series from different
    * targets apart, the way graphite's response does). `nowSec` anchors
    * relative time specs inside function arguments (timeSlice); the
    * epoch-seconds [[render]] overload anchors it at `untilSec`.
    */
  private def renderSets(targets: Seq[String], universe: DataFrame,
                         step: Long, fromSec: Long, untilSec: Long,
                         nowSec: Long,
                         maxDataPoints: Option[Int]): Seq[DataFrame] = {
    require(targets.nonEmpty, "render needs at least one target")
    val ctx = Some(RenderContext(fromSec, untilSec, nowSec))
    val nodes = targets.map(parse)
    // multi-fetch renders share ONE union-window materialization of the
    // universe ([[shareRenderUniverse]]); each leaf still fetches its
    // own ctx window on top ([[ctxClamp]]; timeShift/timeStack hand
    // their subtree a SHIFTED ctx, so shifted leaves reach back exactly
    // as far as graphite's per-target widened fetch did, and shifted
    // output lands back inside [from, until) by construction). No
    // blanket output clamp: graphite keeps re-bucketed labels that
    // fall before `from` (summarize's epoch grid, smartSummarize's
    // truncated origins).
    val shared = shareRenderUniverse(nodes, universe, fromSec, untilSec)
    nodes.map { node =>
      val set = evalNode(node, shared, step, ctx)
      maxDataPoints.map(consolidate(set, fromSec, untilSec, _))
        .getOrElse(set).df
    }
  }

  /** [[render]] with graphite-web's string time specifiers
    * (`-24h`, `now-7d`, epoch seconds) and an explicit `now`.
    */
  def render(targets: Seq[String], universe: DataFrame, step: Long,
             from: String, until: String, nowSec: Long,
             maxDataPoints: Option[Int]): DataFrame =
    renderSets(targets, universe, step,
      parseTimeSpec(from, nowSec), parseTimeSpec(until, nowSec),
      nowSec, maxDataPoints).reduce(_ unionByName _)

  /** The default [[renderJson]] point budget when the caller sets no
    * maxDataPoints — fetchValues' bounded-by-default discipline applied
    * to the JSON endpoint: an uncapped 10-year 1-second panel folds to
    * at most this many points per series where the data lives instead
    * of building an unbounded per-series array state.
    */
  val DefaultMaxDataPoints: Int = 1000000

  /** graphite-web's `/render?format=json` response shape as a frame:
    * one row per output series per TARGET — (target, datapoints),
    * datapoints = (v, t) structs in bucket order; the HTTP layer
    * serializes each as graphite's `[value, epoch]` pair (t is integral
    * here, as graphite emits it). Same-named series from DIFFERENT
    * targets stay separate entries (grouped per target ordinal, the
    * way graphite's response lists them), they never merge into one
    * interleaved array. The per-series fold is bounded by the RENDERED
    * point count: maxDataPoints (defaulted to
    * [[DefaultMaxDataPoints]]) caps the set before this collect_list,
    * so the fold can never become the unbounded per-key state a naive
    * collect-the-series would be.
    */
  def renderJson(targets: Seq[String], universe: DataFrame, step: Long,
                 fromSec: Long, untilSec: Long,
                 maxDataPoints: Option[Int] = None): DataFrame = {
    val cap = Some(maxDataPoints.getOrElse(DefaultMaxDataPoints))
    renderSets(targets, universe, step, fromSec, untilSec,
        nowSec = untilSec, cap).zipWithIndex
      .map { case (df, i) => df.withColumn("__t", lit(i)) }
      .reduce(_ unionByName _)
      .groupBy(col("__t"), col("series").as("target"))
      .agg(array_sort(collect_list(struct(
        col("value").as("v"), unix_timestamp(col("bucket")).as("t"))),
        (a, b) => when(a.getField("t") < b.getField("t"), -1)
          .when(a.getField("t") > b.getField("t"), 1).otherwise(0))
        .as("datapoints"))
      .orderBy(col("__t"), col("target"))
      .select(col("target"), col("datapoints"))
  }

  def evalNode(node: Node, universe: DataFrame, step: Long): SeriesSet =
    evalNode(node, universe, step, None)

  def evalNode(node: Node, universe: DataFrame, step: Long,
               ctx: Option[RenderContext]): SeriesSet = {
    def ev(n: Node): SeriesSet = evalNode(n, universe, step, ctx)
    def renderCtx(who: String): RenderContext = ctx.getOrElse(
      throw new IllegalArgumentException(
        s"$who needs the render request context — evaluate it through " +
          "render(), not a bare eval()"))
    def one(args: Seq[Arg]): SeriesSet = args.head match {
      case TargetArg(t) => ev(t)
      case a => throw new IllegalArgumentException(s"expected a target, got $a")
    }
    def num(a: Arg): Double = a match {
      case NumArg(v) => v
      case a0 => throw new IllegalArgumentException(s"expected a number, got $a0")
    }
    def str(a: Arg): String = a match {
      case StrArg(v) => v
      case a0 => throw new IllegalArgumentException(s"expected a string, got $a0")
    }
    // a moving-window size: either a point count (5) or a duration
    // string ('1d') divided by the set's step — the two forms
    // graphite's moving* family accepts
    def windowPoints(a: Arg, stepSec: Long): Int = a match {
      case NumArg(v) => v.toInt
      case StrArg(s0) =>
        val sec = parseDuration(s0)
        require(sec > 0 && sec % stepSec == 0,
          s"window '$s0' must be a positive multiple of the ${stepSec}s step")
        (sec / stepSec).toInt
      case x => throw new IllegalArgumentException(s"bad window: $x")
    }

    node match {
      case Glob(pat) =>
        SeriesSet(ctxClamp(universe, ctx)
          .where(col("series").rlike(globToRegex(pat))), step)

      case c @ Call(fn, args) =>
        val name = lit(text(c))
        fn match {
          // ---- cross-series aggregation: one per-bucket hash agg;
          // graphite names the result after the call text
          case "sumSeries" | "averageSeries" | "maxSeries" | "minSeries" |
               "countSeries" | "rangeOfSeries" | "stddevSeries" =>
            val in = args.map { case TargetArg(t) => ev(t)
                                case a => throw new IllegalArgumentException(s"$fn: $a") }
            require(in.map(_.step).distinct.size == 1, s"$fn: mixed steps")
            val u = in.map(_.df).reduce(_ unionByName _)
            val agg = aggFor(fn match {
              case "rangeOfSeries" => "range"
              case f               => f.stripSuffix("Series")
            })
            SeriesSet(out(u.groupBy(col("bucket")).agg(agg.as("v")),
              name, col("v")), in.head.step)

          // ---- cross-series product: graphite's contract is one series
          // per input (divideSeries' sibling). Graphite multiplies with
          // safeMul, which POISONS on None — unlike the None-SKIPPING
          // safeSum family — so a bucket where ANY factor is null or
          // MISSING yields null, not a dropped row and not a one-sided
          // product (the powSeries None-grid parity, extended here by
          // the r12 advice sweep; the old inner-join fold silently
          // dropped missing-factor buckets). One hash agg per bucket
          // over the union of present rows; expected member count is
          // the argument count (each operand is one series), so no
          // broadcast frame is needed. The fold is sorted by argIdx —
          // float multiply order pinned by the target text — with q6
          // per step (the division-output contract, mirrored by the
          // oracles).
          case "multiplySeries" =>
            val in = args.map { case TargetArg(t) => ev(t)
                                case a => throw new IllegalArgumentException(s"$fn: $a") }
            require(in.nonEmpty, "multiplySeries needs at least one target")
            require(in.map(_.step).distinct.size == 1, s"$fn: mixed steps")
            val u = in.zipWithIndex.map { case (s0, i) =>
              oneSeries(s0.df, "multiplySeries operand")
                .select(lit(i).as("__ai"), col("bucket"), col("value")) }
              .reduce(_ unionByName _)
            val prod = u.groupBy(col("bucket"))
              .agg(array_sort(collect_list(struct(
                col("__ai").as("i"), col("value").as("v")))).as("__a"))
              .select(col("bucket"),
                when(exists(col("__a"), x => x.getField("v").isNull) ||
                     size(col("__a")) < lit(in.size),
                  lit(null))
                  .otherwise(aggregate(
                    slice(col("__a"), 2, 1000000),
                    element_at(col("__a"), 1).getField("v"),
                    (acc, x) => q6(acc * x.getField("v")))).as("value"))
            SeriesSet(out(prod, name, col("value")), in.head.step)

          case "group" =>
            val in = args.map { case TargetArg(t) => ev(t)
                                case a => throw new IllegalArgumentException(s"group: $a") }
            require(in.map(_.step).distinct.size == 1, "group: mixed steps")
            SeriesSet(in.map(_.df).reduce(_ unionByName _), in.head.step)

          // ---- per-bucket left-fold exponentiation (graphite's
          // powSeries): s1 ^ s2 ^ … in ARGUMENT order (pow is
          // non-commutative; name order only breaks ties WITHIN one
          // glob arg, the fetch-order proxy). One hash agg per bucket
          // collecting a series-count-bounded struct array (sorted by
          // (argIdx, series) so the float op order is pinned by the
          // target text, never by partitioning). Graphite evaluates
          // over the None-filled shared grid, so a bucket where ANY
          // input series lacks a point is poisoned: a null value row
          // nulls it, and a MISSING row does too (the per-bucket
          // member count is compared against the set's distinct
          // (arg, series) count — an O(1)-row broadcast frame)
          case "powSeries" =>
            val in = args.map { case TargetArg(t) => ev(t)
                                case a => throw new IllegalArgumentException(s"$fn: $a") }
            require(in.nonEmpty, "powSeries needs at least one target")
            require(in.map(_.step).distinct.size == 1, s"$fn: mixed steps")
            val u = in.zipWithIndex.map { case (s0, i) =>
              s0.df.select(lit(i).as("__ai"), col("series"),
                col("bucket"), col("value")) }
              .reduce(_ unionByName _)
            val nSer = u.select(col("__ai"), col("series")).distinct()
              .agg(count(lit(1)).as("__n"))
            val folded = u.groupBy(col("bucket"))
              .agg(array_sort(collect_list(struct(
                col("__ai").as("i"), col("series").as("s"),
                col("value").as("v")))).as("__a"))
              .crossJoin(broadcast(nSer))
              .select(col("bucket"),
                when(exists(col("__a"), x => x.getField("v").isNull) ||
                     size(col("__a")) < col("__n"),
                  lit(null))
                  .otherwise(q6(aggregate(
                    slice(col("__a"), 2, 1000000),
                    element_at(col("__a"), 1).getField("v"),
                    (acc, x) => pow(acc, x.getField("v"))))).as("value"))
            SeriesSet(out(folded, name, col("value")), in.head.step)

          // ---- scalar transforms: stay inside whole-stage codegen
          case "scale" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              col("value") * lit(num(args(1)))))
          case "offset" | "add" => // add is graphite 1.1's offset alias
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              col("value") + lit(num(args(1)))))
          case "absolute" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"), abs(col("value"))))
          case "invert" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              when(col("value") =!= 0, q6(lit(1.0) / col("value")))))
          case "squareRoot" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              when(col("value") >= 0, sqrt(col("value")))))
          case "logarithm" | "log" =>
            val in = one(args)
            val base = if (args.length > 1) num(args(1)) else 10.0
            in.copy(df = out(in.df, col("series"),
              when(col("value") > 0, q6(log(base, col("value"))))))
          case "pow" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              q6(pow(col("value"), lit(num(args(1)))))))
          // ln(v/(1−v)); graphite Nones the out-of-domain values (its
          // math.log raises), so v outside (0,1) nulls here too
          case "logit" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              when(col("value") > 0 && col("value") < 1,
                q6(log(col("value") / (lit(1.0) - col("value")))))))
          case "transformNull" =>
            val in = one(args)
            val d = if (args.length > 1) num(args(1)) else 0.0
            in.copy(df = out(in.df, col("series"),
              coalesce(col("value"), lit(d))))
          // graphite nulls the out-of-range values (the bucket stays,
          // so windows downstream still see its position)
          case "removeAboveValue" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              when(col("value") <= lit(num(args(1))), col("value"))))
          case "removeBelowValue" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              when(col("value") >= lit(num(args(1))), col("value"))))

          // ---- per-series windows (partitioned by series, never global)
          case "derivative" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              col("value") - lag(col("value"), 1).over(wSeries)))
          case "nonNegativeDerivative" =>
            val in = one(args)
            val prev = lag(col("value"), 1).over(wSeries)
            in.copy(df = out(in.df, col("series"),
              when(col("value") >= prev, col("value") - prev)))
          case "perSecond" =>
            val in = one(args)
            val prev = lag(col("value"), 1).over(wSeries)
            in.copy(df = out(in.df, col("series"),
              q6(when(col("value") >= prev, col("value") - prev) / lit(in.step))))
          case "integral" =>
            val in = one(args)
            val w = wSeries.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            in.copy(df = out(in.df, col("series"),
              sum(dec(col("value"))).over(w).cast("double")))
          case "movingAverage" =>
            val in = one(args)
            val n = windowPoints(args(1), in.step)
            require(n > 0, "movingAverage window must be positive")
            val w = wSeries.rowsBetween(-(n - 1), Window.currentRow)
            in.copy(df = out(in.df, col("series"),
              q6(sum(dec(col("value"))).over(w).cast("double") /
                count(col("value")).over(w))))
          case "movingSum" | "movingMax" | "movingMin" | "movingMedian" =>
            val in = one(args)
            val n = windowPoints(args(1), in.step)
            require(n > 0, s"$fn window must be positive")
            val w = wSeries.rowsBetween(-(n - 1), Window.currentRow)
            val v = fn match {
              case "movingSum"    => sum(dec(col("value"))).over(w).cast("double")
              case "movingMax"    => max(col("value")).over(w)
              case "movingMin"    => min(col("value")).over(w)
              // exact trailing median (h21's shape): order statistics
              // accumulate nothing, so the only cross-engine arithmetic
              // is the even-count midpoint of two identical doubles
              case "movingMedian" => expr("percentile(value, 0.5)").over(w)
            }
            in.copy(df = out(in.df, col("series"), v))
          case "stdev" =>
            // trailing POPULATION stddev from decimal sums (graphite's
            // stdev(series, points)): exact accumulation, then a fixed
            // double formula — order-free on both engines
            val in = one(args)
            val n = num(args(1)).toInt
            require(n > 0, "stdev window must be positive")
            val w = wSeries.rowsBetween(-(n - 1), Window.currentRow)
            val s = sum(dec(col("value"))).over(w).cast("double")
            val m2 = sum(dec(col("value") * col("value"))).over(w).cast("double")
            val cnt = count(col("value")).over(w)
            in.copy(df = out(in.df, col("series"),
              q6(sqrt(greatest((m2 - s * s / cnt) / cnt, lit(0.0))))))
          case "keepLastValue" =>
            val in = one(args)
            val w = wSeries.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            in.copy(df = out(in.df, col("series"),
              last(col("value"), ignoreNulls = true).over(w)))
          case "timeShift" =>
            // the inner target evaluates under a ctx shifted by −sec
            // (graphite-web moves the inner requestContext's window):
            // its leaves fetch [from−sec, until−sec) — exactly the
            // data that lands in [from, until) after the +sec shift —
            // and its xff denominators / time() grids anchor there.
            // Nested shifts compose through the recursion. (r12
            // advice: the unshifted ctx clamped boundary summarize
            // denominators to the wrong window and dropped leading
            // time() ticks.)
            val sec = parseDuration(str(args(1)))
            val sctx = ctx.map(c => c.copy(fromSec = c.fromSec - sec,
              untilSec = c.untilSec - sec))
            val in = args.head match {
              case TargetArg(t) => evalNode(t, universe, step, sctx)
              case a => throw new IllegalArgumentException(
                s"timeShift: expected a target, got $a")
            }
            in.copy(df = out(in.df, col("series"),
              col("value")).withColumn("bucket",
              timestamp_seconds(unix_timestamp(col("bucket")) + lit(sec))))

          // ---- re-bucketing: per-(series, coarse-bucket) hash agg
          case "summarize" =>
            val in = one(args)
            val ivl = parseDuration(str(args(1)))
            require(ivl > 0, "summarize interval must be positive")
            val cf = if (args.length > 2) str(args(2)) else "sum"
            val nb = Time.align(col("bucket"), ivl).as("bucket")
            val agg = cfAgg(cf, "summarize")
            val v = xffGate(in, ivl, ctx)
            SeriesSet(in.df.groupBy(col("series"), nb)
              .agg(agg.as("v"), count(col("value")).as("__n"))
              .select(col("series"), col("bucket"),
                v.cast("double").as("value")), ivl)

          // summarize aligned to the render request's `from` (graphite's
          // smartSummarize) instead of the epoch grid: bucket = origin +
          // ⌊(t − origin)/interval⌋·interval, where origin is `from`,
          // optionally truncated to a calendar unit (alignTo) — the
          // origin is one driver-side number, the fold is the same
          // per-(series, coarse-bucket) hash agg as summarize
          case "smartSummarize" =>
            val in = one(args)
            val ivl = parseDuration(str(args(1)))
            require(ivl > 0, "smartSummarize interval must be positive")
            val cf = if (args.length > 2) str(args(2)) else "sum"
            val c = renderCtx("smartSummarize")
            val origin = args.lift(3) match {
              case Some(a) => truncateEpoch(c.fromSec, str(a))
              case None    => c.fromSec
            }
            val nb = timestamp_seconds(lit(origin) +
              floor((unix_timestamp(col("bucket")) - lit(origin)) /
                lit(ivl)).cast("long") * lit(ivl)).as("bucket")
            val v = xffGate(in, ivl, ctx)
            SeriesSet(in.df
              .groupBy(col("series"), nb)
              .agg(cfAgg(cf, "smartSummarize").as("v"),
                count(col("value")).as("__n"))
              .select(col("series"), col("bucket"),
                v.cast("double").as("value")), ivl)

          // ---- per-series order statistics: one bounded agg (a row per
          // series) broadcast back — nPercentile flattens the series to
          // its percentile, remove*Percentile nulls the outliers
          case "nPercentile" | "removeAbovePercentile" |
               "removeBelowPercentile" =>
            val in = one(args)
            val p = num(args(1)) / 100.0
            require(p > 0 && p <= 1, s"$fn: percentile out of range")
            // q6 the interpolated percentile: the two engines' linear
            // interpolations differ in the last ulp ((1-f)a+fb vs
            // a+f(b-a)), and a data value CAN sit exactly on the
            // midpoint — quantized, both land on the same 6-decimal grid
            val per = in.df.groupBy(col("series"))
              .agg(q6(expr(s"percentile(value, $p)")).as("__pct"))
            val joined = in.df.join(broadcast(per), Seq("series"), "left")
            val v = fn match {
              case "nPercentile"           => col("__pct")
              case "removeAbovePercentile" =>
                when(col("value") <= col("__pct"), col("value"))
              case _                       =>
                when(col("value") >= col("__pct"), col("value"))
            }
            in.copy(df = out(joined, col("series"), v))

          // ---- consolidation tag: data untouched, the cf rides the
          // set until a maxDataPoints cap applies it ([[consolidate]])
          case "consolidateBy" =>
            val in = one(args)
            val cf = str(args(1))
            require(Set("average", "avg", "sum", "max", "min", "last")(cf),
              s"consolidateBy: unknown cf '$cf'")
            in.copy(cf = cf)

          // ---- xFilesFactor attribute: like consolidateBy, data
          // untouched — the factor rides the set until a re-bucketing
          // fold (summarize/smartSummarize) or a 3-arg aggregate
          // applies it
          case "setXFilesFactor" | "xFilesFactor" =>
            val in = one(args)
            val v = num(args(1))
            require(v >= 0 && v <= 1,
              s"$fn: factor must be in [0,1], got $v")
            in.copy(xff = v)

          // ---- renaming
          case "alias" =>
            val in = one(args)
            in.copy(df = out(in.df, lit(str(args(1))), col("value")))
          case "aliasByNode" =>
            val in = one(args)
            in.copy(df = out(in.df,
              nodeAt(col("series"), num(args(1)).toInt), col("value")))
          case "aliasByMetric" =>
            val in = one(args)
            in.copy(df = out(in.df,
              element_at(split(col("series"), "\\."), -1), col("value")))

          // ---- cross-series arithmetic: per-bucket window / join
          case "asPercent" =>
            val in = one(args)
            args.lift(1) match {
              // explicit numeric total: a pure scalar projection
              case Some(NumArg(total)) =>
                require(total != 0, "asPercent: zero total")
                in.copy(df = out(in.df, col("series"),
                  q6(col("value") * lit(100.0) / lit(total))))
              // a total SERIES: one-per-bucket, broadcast like a divisor
              case Some(TargetArg(t)) =>
                val tot = ev(t)
                require(tot.step == in.step, "asPercent: mixed steps")
                val div = broadcast(oneSeries(tot.df, "asPercent total")
                  .withColumnRenamed("value", "__tot"))
                in.copy(df = out(in.df.join(div, Seq("bucket"), "left"),
                  col("series"),
                  q6(when(col("__tot") =!= 0,
                    col("value") * lit(100.0) / col("__tot")))))
              case Some(x) => throw new IllegalArgumentException(s"asPercent: $x")
              // default: the per-bucket sum of the set itself
              case None =>
                val wB = Window.partitionBy(col("bucket"))
                in.copy(df = out(in.df, col("series"),
                  q6(col("value") * lit(100.0) /
                    sum(dec(col("value"))).over(wB).cast("double"))))
            }
          case "divideSeries" =>
            val a = one(args)
            val b = args(1) match {
              case TargetArg(t) => ev(t)
              case x => throw new IllegalArgumentException(s"divideSeries: $x")
            }
            require(a.step == b.step, "divideSeries: mixed steps")
            // divisor must be a single series (graphite's contract);
            // broadcast it — it is one row per bucket
            val div = broadcast(oneSeries(b.df, "divideSeries divisor")
              .withColumnRenamed("value", "__div"))
            a.copy(df = out(a.df.join(div, Seq("bucket"), "left"),
              col("series"),
              q6(when(col("__div") =!= 0, col("value") / col("__div")))))

          case "diffSeries" =>
            // first target minus the per-bucket decimal sum of the
            // rest; buckets where the minuend is absent stay absent,
            // an absent subtrahend counts as 0 (documented choice —
            // graphite skips None inside its sum the same way)
            val a = one(args)
            val rest = args.tail.map {
              case TargetArg(t) => ev(t)
              case x => throw new IllegalArgumentException(s"diffSeries: $x")
            }
            require(rest.nonEmpty, "diffSeries needs a subtrahend")
            require(rest.forall(_.step == a.step), "diffSeries: mixed steps")
            val sub = rest.map(_.df).reduce(_ unionByName _)
              .groupBy(col("bucket"))
              .agg(dec(sum(dec(col("value")))).cast("double").as("__sub"))
            a.copy(df = out(a.df.join(sub, Seq("bucket"), "left"),
              col("series"),
              col("value") - coalesce(col("__sub"), lit(0.0))))

          // ---- pairwise list combination (graphite's xxxSeriesLists
          // family): the i-th series of the first list pairs with the
          // i-th of the second. Fetch order isn't a frame concept; the
          // deterministic proxy is NAME order per side (documented
          // deviation). Ranking each side's one-row-per-series name
          // frame is a distributed range sort + zipWithIndex (one
          // bounded extra job: per-partition counts to the driver,
          // O(#partitions) longs) — NOT a partitionless row_number
          // window, which would single-task-sort the whole matched
          // universe (the shape r11 evicted from highest/lowest/limit;
          // PlanShapeSpec's inventory sweep now pins it out). The
          // pair map broadcasts; unequal list lengths raise at
          // EXECUTION via the unmatched-rank rows of the full join
          // (graphite raises InputParameterError the same way) — no
          // driver-side count. Bucket semantics follow the engine's
          // own divideSeries/diffSeries contracts: the first list's
          // buckets survive, an absent divisor/factor nulls, an
          // absent subtrahend counts 0. None-grid audit (r13 sweep):
          // aggregateSeriesLists' named folds are graphite's
          // None-SKIPPING safe* aggregators, so folding each pair's
          // union-of-present buckets already matches (a one-sided
          // bucket folds the present side alone — graphite's
          // safeSum([None, x]) = x); multiplySeriesLists poisons a
          // null factor through its per-pair q6 product; only the
          // first-list-grid convention itself deviates (an a-missing
          // bucket is absent, graphite shows None) — by the same
          // documented sparse-frame stance as divideSeries.
          case "divideSeriesLists" | "multiplySeriesLists" |
               "subtractSeriesLists" | "diffSeriesLists" |
               "aggregateSeriesLists" =>
            val a = one(args)
            val b = args(1) match {
              case TargetArg(t) => ev(t)
              case x => throw new IllegalArgumentException(s"$fn: $x")
            }
            require(a.step == b.step, s"$fn: mixed steps")
            val func = if (fn == "aggregateSeriesLists") str(args(2)) else ""
            // ONE materialized one-row-per-series frame covers BOTH
            // sides (r12 checkpointed each side's
            // distinct().orderBy() separately, and each checkpoint
            // re-executed its side's whole upstream universe
            // aggregation — 2 of the 4 upstream passes the r12
            // verdict measured at 10.4→28.0 s on sf100e's narrow
            // universe. One union job materializes both name sets —
            // Catalyst's ReuseExchange dedupes identical subplans
            // within the single job — and each side's rank is then a
            // sort + zipWithIndex of the series-count-bounded
            // checkpoint, never of the upstream.)
            val ss = a.df.sparkSession
            val names = a.df.select(col("series"), lit(0).as("__side"))
              .unionByName(b.df.select(col("series"), lit(1).as("__side")))
              .distinct().localCheckpoint() // (b) cross-action: each side's zipWithIndex
            def ranked(side: Int, c: String) = {
              // distributed range sort + zipWithIndex over the
              // checkpointed names (one bounded extra job:
              // per-partition counts to the driver, O(#partitions)
              // longs) — NOT a partitionless row_number window, which
              // would single-task-sort (the shape r11 evicted;
              // PlanShapeSpec's inventory sweep pins it out)
              val rows = names.where(col("__side") === side)
                .select(col("series")).orderBy(col("series")).rdd
                .zipWithIndex.map { case (r, i) =>
                  org.apache.spark.sql.Row(r.getString(0), i + 1L) }
              ss.createDataFrame(rows,
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField(c,
                    org.apache.spark.sql.types.StringType),
                  org.apache.spark.sql.types.StructField("__rk",
                    org.apache.spark.sql.types.LongType))))
            }
            val pairs = ranked(0, "__sa")
              .join(ranked(1, "__sb"), Seq("__rk"), "full_outer")
              .select(col("__rk"),
                when(col("__sa").isNull || col("__sb").isNull, raise_error(
                  lit(s"$fn: the two series lists must be the same length")))
                  .otherwise(col("__sa")).as("__sa"),
                col("__sb"))
            val aKeyed = a.df.join(broadcast(pairs),
              a.df("series") === pairs("__sa"))
            val pairName = fn match {
              case "divideSeriesLists" =>
                concat(lit("divideSeries("), col("__sa"), lit(","),
                  col("__sb"), lit(")"))
              case "multiplySeriesLists" =>
                concat(lit("multiplySeries("), col("__sa"), lit(","),
                  col("__sb"), lit(")"))
              case "aggregateSeriesLists" =>
                concat(lit(s"${func}Series("), col("__sa"), lit(","),
                  col("__sb"), lit(")"))
              case _ =>
                concat(lit("diffSeries("), col("__sa"), lit(","),
                  col("__sb"), lit(")"))
            }
            val bSide = b.df.select(col("series").as("__sb"),
              col("bucket"), col("value").as("__bv"))
            fn match {
              case "aggregateSeriesLists" =>
                // the named fold over each pair's union of buckets —
                // one hash agg keyed (pair, bucket), aggFor's decimal
                // contract
                val bKeyed = bSide.join(broadcast(pairs), Seq("__sb"))
                  .select(pairName.as("series"), col("bucket"),
                    col("__bv").as("value"))
                val aNamed = aKeyed.select(pairName.as("series"),
                  col("bucket"), col("value"))
                SeriesSet(aNamed.unionByName(bKeyed)
                  .groupBy(col("series"), col("bucket"))
                  .agg(aggFor(func).as("v"))
                  .select(col("series"), col("bucket"),
                    col("v").cast("double").as("value")), a.step)
              case _ =>
                val joined = aKeyed.join(bSide, Seq("__sb", "bucket"), "left")
                val v = fn match {
                  case "divideSeriesLists" =>
                    q6(when(col("__bv") =!= 0, col("value") / col("__bv")))
                  case "multiplySeriesLists" =>
                    q6(col("value") * col("__bv"))
                  case _ => // subtract/diff: absent subtrahend counts 0
                    col("value") - coalesce(col("__bv"), lit(0.0))
                }
                SeriesSet(out(joined, pairName, v), a.step)
            }

          // ---- series-set filters: regex on the name (codegen'd
          // predicate, no shuffle)
          case "exclude" =>
            val in = one(args)
            in.copy(df = in.df.where(!col("series").rlike(str(args(1)))))
          case "grep" | "grepSeries" =>
            val in = one(args)
            in.copy(df = in.df.where(col("series").rlike(str(args(1)))))

          // ---- threshold filters: one per-series agg (bounded: one
          // row per series) + broadcast semi-join back
          case "maximumAbove" | "maximumBelow" | "minimumAbove" |
               "minimumBelow" | "averageAbove" | "averageBelow" |
               "currentAbove" | "currentBelow" =>
            val in = one(args)
            val n = num(args(1))
            val statCol = fn match {
              case "maximumAbove" | "maximumBelow" => max(col("value"))
              case "minimumAbove" | "minimumBelow" => min(col("value"))
              case "averageAbove" | "averageBelow" =>
                q6(sum(dec(col("value"))).cast("double") / count(col("value")))
              case _ => // current*: safeLast — latest NON-null value
                max_by(col("value"),
                  when(col("value").isNotNull, col("bucket")))
            }
            val keepPred = fn match {
              case "maximumAbove" | "minimumAbove" | "averageAbove" |
                   "currentAbove" => col("__stat") > lit(n)
              case _              => col("__stat") < lit(n)
            }
            val keep = in.df.groupBy(col("series"))
              .agg(statCol.as("__stat")).where(keepPred).select("series")
            in.copy(df = in.df.join(broadcast(keep), Seq("series"), "left_semi"))

          // ---- series selection: per-series agg (one row per series)
          // then a rank over that BOUNDED frame + semi-join back
          case "highestAverage" | "highestMax" | "highestCurrent" |
               "lowestAverage" | "lowestCurrent" =>
            val in = one(args)
            val k = num(args(1)).toInt
            val score = fn match {
              case "highestAverage" | "lowestAverage" =>
                q6(sum(dec(col("value"))).cast("double") / count(col("value")))
              case "highestCurrent" | "lowestCurrent" => // safeLast
                max_by(col("value"),
                  when(col("value").isNotNull, col("bucket")))
              case _ => max(col("value"))
            }
            val perSeries = in.df.groupBy(col("series")).agg(score.as("__score"))
            // orderBy+limit over the one-row-per-series frame plans as
            // TakeOrderedAndProject — per-partition top-k merged at the
            // driver (h18's shape), never a single-task global sort,
            // so a million-series universe ranks without a bottleneck
            val top = (if (fn.startsWith("lowest"))
                perSeries.orderBy(col("__score").asc, col("series"))
              else perSeries.orderBy(col("__score").desc, col("series")))
              .limit(k).select("series")
            in.copy(df = in.df.join(broadcast(top), Seq("series"), "left_semi"))

          // ---- tagged series (carbon tagged-metric form
          // `name;k=v;k2=v2`): selection is a conjunction of codegen'd
          // name predicates — a pushable scan filter, same plan shape
          // as a Glob leaf, no tag index and no shuffle
          case "seriesByTag" =>
            require(args.nonEmpty, "seriesByTag needs at least one expression")
            val pred = args.map(a => tagPredicate(str(a))).reduce(_ && _)
            SeriesSet(ctxClamp(universe, ctx).where(pred), step)

          case "aliasByTags" =>
            val in = one(args)
            require(args.size > 1, "aliasByTags needs at least one tag")
            val tags = args.tail.map(str)
            in.copy(df = out(in.df,
              concat_ws(".", tags.map(tagValue): _*), col("value")))

          // ---- Holt-Winters render targets: the h25/h37 typed
          // per-series folds (SeriesFold — group bounded by retention,
          // dyadic constants, IEEE op order fixed) surfaced as render
          // functions. Season = one day at the set's step. Forecast
          // PRESERVES the series name (the façade's per-series
          // transform contract); the bands fan one series into two, so
          // those wrap the name the way graphite-web does.
          case "holtWintersForecast" =>
            val in = one(args)
            val period = math.max(1L, 86400L / in.step).toInt
            val hw = SeriesFold.holtWinters(in.df, "series", "bucket",
              "value", alpha = 0.5, beta = 0.25, gamma = 0.25, period)
            in.copy(df = out(hw, col("series"), col("forecast")))

          // the Area form is the Bands rendered filled — same data
          case "holtWintersConfidenceBands" | "holtWintersConfidenceArea" =>
            val in = one(args)
            val delta = if (args.size > 1) num(args(1)) else 3.0
            val period = math.max(1L, 86400L / in.step).toInt
            val hw = SeriesFold.holtWintersBands(in.df, "series", "bucket",
              "value", alpha = 0.5, beta = 0.25, gamma = 0.25, period, delta)
            val up = out(hw, concat(lit("holtWintersConfidenceUpper("),
              col("series"), lit(")")), col("upper"))
            val lo = out(hw, concat(lit("holtWintersConfidenceLower("),
              col("series"), lit(")")), col("lower"))
            in.copy(df = up.unionByName(lo))

          case "holtWintersAberration" =>
            val in = one(args)
            val delta = if (args.size > 1) num(args(1)) else 3.0
            val period = math.max(1L, 86400L / in.step).toInt
            val hw = SeriesFold.holtWintersBands(in.df, "series", "bucket",
              "value", alpha = 0.5, beta = 0.25, gamma = 0.25, period, delta)
            // graphite: amount outside the band, 0 inside — a pure
            // comparison of the fold's bit-identical doubles
            in.copy(df = out(hw, concat(lit("holtWintersAberration("),
              col("series"), lit(")")),
              when(col("y") > col("upper"), col("y") - col("upper"))
                .when(col("y") < col("lower"), col("y") - col("lower"))
                .otherwise(lit(0.0))))

          // ---- generic cross-series aggregation (graphite 1.1's
          // aggregate(list, "func")): one per-bucket hash agg through
          // the shared [[aggFor]] dispatch — median included, which the
          // legacy xxxSeries family never had
          case "aggregate" =>
            val in = one(args)
            val xff = args.lift(2).map(num).getOrElse(in.xff)
            val base = in.df.groupBy(col("bucket"))
              .agg(aggFor(str(args(1))).as("v"),
                count(col("value")).as("__n"))
            val df0 =
              if (xff <= 0) base
              else {
                // graphite's xFilesFactor arg: a bucket only counts
                // when nonNull/series ≥ xff. The series total is one
                // bounded agg row, broadcast — never a driver read.
                val tot = in.df.agg(
                  countDistinct(col("series")).as("__tot"))
                base.crossJoin(broadcast(tot))
                  .select(col("bucket"),
                    when(col("__n") >= lit(xff) * col("__tot"),
                      col("v")).as("v"))
              }
            SeriesSet(out(df0, name, col("v")), in.step)

          // ---- grouped aggregation: the fan-in workhorses of real
          // dashboards. Key from name nodes (groupByNode/s), from tags
          // (groupByTags), or the name MINUS wildcard positions
          // (xxxSeriesWithWildcards). All the same plan: one hash agg
          // keyed (group-name, bucket) — series-count-bounded output,
          // no window, no join, scale-indifferent
          case "groupByNode" =>
            val in = one(args)
            val cb = if (args.length > 2) str(args(2)) else "average"
            val key = nodeAt(col("series"), num(args(1)).toInt)
            SeriesSet(in.df.groupBy(key.as("series"), col("bucket"))
              .agg(aggFor(cb).as("v"))
              .select(col("series"), col("bucket"),
                col("v").cast("double").as("value")), in.step)

          case "groupByNodes" =>
            val in = one(args)
            val cb = str(args(1))
            val nodes = args.drop(2).map(a => num(a).toInt)
            require(nodes.nonEmpty, "groupByNodes needs at least one node")
            val key = concat_ws(".",
              nodes.map(i => nodeAt(col("series"), i)): _*)
            SeriesSet(in.df.groupBy(key.as("series"), col("bucket"))
              .agg(aggFor(cb).as("v"))
              .select(col("series"), col("bucket"),
                col("v").cast("double").as("value")), in.step)

          // group name = the tag VALUES dot-joined (deliberate
          // simplification of graphite's re-tagged name form, matching
          // aliasByTags' output contract above)
          case "groupByTags" =>
            val in = one(args)
            val cb = str(args(1))
            val tags = args.drop(2).map(str)
            require(tags.nonEmpty, "groupByTags needs at least one tag")
            val key = concat_ws(".", tags.map(tagValue): _*)
            SeriesSet(in.df.groupBy(key.as("series"), col("bucket"))
              .agg(aggFor(cb).as("v"))
              .select(col("series"), col("bucket"),
                col("v").cast("double").as("value")), in.step)

          case "sumSeriesWithWildcards" | "averageSeriesWithWildcards" |
               "aggregateWithWildcards" =>
            val in = one(args)
            // the generic form names its fold; the legacy pair encode it
            val (cb, posArgs) =
              if (fn == "aggregateWithWildcards") (str(args(1)), args.drop(2))
              else (if (fn.startsWith("sum")) "sum" else "average", args.tail)
            val drop = posArgs.map(a => num(a).toInt)
            require(drop.nonEmpty, s"$fn needs at least one position")
            // name with the wildcard node positions removed (0-based);
            // filter-with-index keeps this one codegen'd projection
            val key = array_join(filter(split(col("series"), "\\."),
              (_, i) => !drop.map(d => i === lit(d)).reduce(_ || _)), ".")
            SeriesSet(in.df.groupBy(key.as("series"), col("bucket"))
              .agg(aggFor(cb).as("v"))
              .select(col("series"), col("bucket"),
                col("v").cast("double").as("value")), in.step)

          // ---- map/reduce templating (graphite's mapSeries /
          // reduceSeries): mapSeries only marks the grouping — the
          // frame already carries every series — so it passes through;
          // reduceSeries does the work as ONE hash agg keyed
          // (prefix, bucket), pivoting the matcher node into columns
          // for the order-dependent 2-ary folds (asPercent /
          // divideSeries / diffSeries) and running the aggFor fold
          // directly for the symmetric ones. Output names follow
          // graphite-web functions.py reduceSeries:
          // nodes[0:reduceNode] + '.reduce.' + func. Duplicate series
          // per (prefix, matcher) fold by max for determinism
          // (graphite's dict assignment keeps an arbitrary one).
          case "mapSeries" | "map" => one(args)
          case "reduceSeries" | "reduce" =>
            val in = one(args)
            val func = str(args(1))
            val nodeIdx = num(args(2)).toInt
            require(nodeIdx > 0, "reduceSeries: node must be positive")
            val matchers = args.drop(3).map(str)
            require(matchers.nonEmpty, "reduceSeries needs matchers")
            val parts = split(col("series"), "\\.")
            val prefix = array_join(slice(parts, 1, nodeIdx), ".")
            val nodeV = element_at(parts, nodeIdx + 1)
            val filtered = in.df.where(nodeV.isin(matchers: _*))
            val outName = concat(col("__pre"), lit(s".reduce.$func"))
            // None-grid audit (r13 sweep): the pivot groups each
            // prefix's union-of-present buckets and max(when(...))
            // leaves a missing matcher's slot NULL, so asPercent /
            // divideSeries emit present-with-null exactly where
            // graphite's None-filled grid does; the symmetric folds
            // below are the None-SKIPPING safe* family. Already
            // parity — no sparse-frame deviation here.
            func match {
              case "asPercent" | "divideSeries" | "diffSeries" =>
                val aggs = matchers.zipWithIndex.map { case (m, i) =>
                  max(when(nodeV === lit(m), col("value"))).as(s"__v$i") }
                val pivoted = filtered
                  .groupBy(prefix.as("__pre"), col("bucket"))
                  .agg(aggs.head, aggs.tail: _*)
                def v(i: Int) = col(s"__v$i")
                val folded: Column = func match {
                  case "asPercent" =>
                    require(matchers.length == 2,
                      "reduceSeries asPercent needs exactly 2 matchers")
                    q6(when(v(1) =!= 0, v(0) * lit(100.0) / v(1)))
                  case "divideSeries" =>
                    require(matchers.length == 2,
                      "reduceSeries divideSeries needs exactly 2 matchers")
                    q6(when(v(1) =!= 0, v(0) / v(1)))
                  case _ => // diffSeries: absent subtrahends count 0
                    (1 until matchers.length)
                      .foldLeft(v(0)) { (acc, i) =>
                        acc - coalesce(v(i), lit(0.0)) }
                }
                SeriesSet(out(pivoted, outName, folded), in.step)
              case f =>
                // symmetric folds route through aggFor; the legacy
                // xxxSeries names map to their aggregation
                val cb = f.stripSuffix("Series") match {
                  case "" => f
                  case base => base
                }
                SeriesSet(out(filtered
                  .groupBy(prefix.as("__pre"), col("bucket"))
                  .agg(aggFor(cb).as("v")), outName, col("v")), in.step)
            }

          // ---- weightedAverage(listAvg, listWeight, nodes…): pair the
          // two sets by node key, then ONE per-bucket agg
          // Σ(v·w)/Σ(w) — null values drop their product but their
          // weight still counts, graphite's sumSeries(products)/
          // sumSeries(weights) semantics. Equi-join on (key, bucket) —
          // co-partitioned, no fan-out. Graphite's one-series-per-key-
          // per-side contract is ENFORCED (divideSeries' oneSeries
          // stance): a node set that collapses distinct series would
          // silently inflate Σ(v·w)/Σ(w) through join fan-out, so each
          // side folds to one row per (key, bucket) with a plan-level
          // raise_error when >1 series lands on a key — no collect,
          // and the pre-agg shares the join's (key, bucket) keys so it
          // adds no extra shuffle
          case "weightedAverage" =>
            val a = one(args)
            val wgt = args(1) match {
              case TargetArg(t) => ev(t)
              case x => throw new IllegalArgumentException(s"$fn: $x")
            }
            require(a.step == wgt.step, s"$fn: mixed steps")
            val nodes = args.drop(2).map(x => num(x).toInt)
            require(nodes.nonEmpty, s"$fn needs at least one node")
            def keyed(df: DataFrame, vname: String) = df.select(
                concat_ws(".", nodes.map(i => nodeAt(col("series"), i)): _*)
                  .as("__k"),
                col("bucket"), col("series"), col("value"))
              .groupBy(col("__k"), col("bucket"))
              .agg(countDistinct(col("series")).as("__ns"),
                first(col("value")).as(vname))
              .select(col("__k"), col("bucket"),
                when(col("__ns") > 1, raise_error(lit(
                  s"$fn: node key matches more than one series on a side")))
                  .otherwise(col(vname)).as(vname))
            val j = keyed(a.df, "__v")
              .join(keyed(wgt.df, "__w"), Seq("__k", "bucket"), "inner")
            val sw = sum(dec(col("__w"))).cast("double")
            val sv = sum(dec(col("__v") * col("__w"))).cast("double")
            SeriesSet(out(j.groupBy(col("bucket"))
              .agg(when(sw =!= 0, q6(sv / sw)).as("v")),
              name, col("v")), a.step)

          // ---- per-bucket distribution across series, flattened to
          // one series (same q6'd-interpolation stance as nPercentile)
          case "percentileOfSeries" =>
            val in = one(args)
            val p = num(args(1)) / 100.0
            require(p > 0 && p <= 1, s"$fn: percentile out of range")
            SeriesSet(out(in.df.groupBy(col("bucket"))
              .agg(q6(expr(s"percentile(value, $p)")).as("v")),
              name, col("v")), in.step)

          // ---- generic per-series filter (the parameterized form of
          // the maximumAbove/averageBelow family): bounded per-series
          // agg + broadcast semi-join back
          case "filterSeries" =>
            val in = one(args)
            val t = num(args(3))
            val keepPred = str(args(2)) match {
              case ">"  => col("__stat") > t
              case ">=" => col("__stat") >= t
              case "<"  => col("__stat") < t
              case "<=" => col("__stat") <= t
              case "="  => col("__stat") === t
              case "!=" => col("__stat") =!= t
              case op   => throw new IllegalArgumentException(
                s"filterSeries: unknown operator '$op'")
            }
            val keep = in.df.groupBy(col("series"))
              .agg(aggFor(str(args(1))).as("__stat"))
              .where(keepPred).select("series")
            in.copy(df = in.df.join(broadcast(keep), Seq("series"), "left_semi"))

          // ---- useSeriesAbove(series, value, search, replace):
          // graphite's indirection — series whose max exceeds `value`
          // NAME new series via literal search→replace, and those new
          // series are re-fetched. The derived name set is one bounded
          // per-series agg (a row per qualifying series) broadcast as a
          // semi-join against the universe — the "refetch" is a plan-
          // level name probe, no collect, no second scan beyond the
          // semi-join's. Names with no matching series drop out, which
          // is graphite's removeEmptySeries tail. (Store-backed callers
          // fetch the replaced globs too — see [[globLeaves]].)
          case "useSeriesAbove" =>
            val in = one(args)
            val v = num(args(1))
            val search = str(args(2)); val repl = str(args(3))
            val keep = in.df.groupBy(col("series"))
              .agg(max(col("value")).as("__mx")).where(col("__mx") > v)
              .select(regexp_replace(col("series"),
                java.util.regex.Pattern.quote(search),
                java.util.regex.Matcher.quoteReplacement(repl)).as("series"))
            SeriesSet(ctxClamp(universe, ctx)
              .select(col("series"), col("bucket"), col("value"))
              .join(broadcast(keep), Seq("series"), "left_semi"), step)

          // ---- applyByNode(series, nodeNum, template, newName?):
          // evaluate `template` once per distinct (nodeNum+1)-node
          // prefix of the matched series, '%' replaced by the prefix —
          // graphite's per-prefix macro. The prefix list is THE bounded
          // driver collect of the facade (capped at
          // [[MaxApplyByNodePrefixes]], fetchValues' discipline;
          // graphite-web re-evaluates per series, so this is strictly
          // less driver work than the original). Each prefix's plan is
          // an independent declarative subtree over the same universe —
          // its leaf globs carry the prefix, so scan pruning still
          // applies — and the union is plan-level.
          case "applyByNode" =>
            val in = one(args)
            val nodeNum = num(args(1)).toInt
            require(nodeNum >= 0, "applyByNode: negative node")
            val template = str(args(2))
            val newName = args.lift(3).map(str)
            val prefixes = in.df
              .select(array_join(slice(split(col("series"), "\\."), 1,
                nodeNum + 1), ".").as("__p"))
              .distinct().orderBy("__p").limit(MaxApplyByNodePrefixes + 1)
              .collect().map(_.getString(0)).toSeq
            require(prefixes.size <= MaxApplyByNodePrefixes,
              s"applyByNode: more than $MaxApplyByNodePrefixes distinct " +
                "prefixes — group first (groupByNode) or narrow the glob")
            if (prefixes.isEmpty)
              SeriesSet(universe
                .select(col("series"), col("bucket"), col("value"))
                .where(lit(false)), step)
            else {
              val parts = prefixes.map { p =>
                val sub = evalNode(parse(template.replace("%", p)),
                  universe, step, ctx)
                newName match {
                  case Some(nn) =>
                    sub.copy(df = out(sub.df, lit(nn.replace("%", p)),
                      col("value")))
                  case None => sub
                }
              }
              require(parts.map(_.step).distinct.size == 1,
                "applyByNode: template evaluations disagree on step")
              SeriesSet(parts.map(_.df).reduce(_ unionByName _),
                parts.head.step)
            }

          // ---- generic top/bottom-k (the parameterized highest*/
          // lowest*), plus mostDeviant (score = population stddev —
          // same ranking as graphite's variance, both monotone)
          case "highest" | "lowest" | "mostDeviant" =>
            val in = one(args)
            val k = num(args(1)).toInt
            val score = fn match {
              case "mostDeviant" => aggFor("stddev")
              case _ => aggFor(if (args.length > 2) str(args(2)) else "average")
            }
            val perSeries = in.df.groupBy(col("series")).agg(score.as("__score"))
            // TakeOrdered top-k over the per-series frame (h18's shape
            // — see the highestAverage family above)
            val top = (if (fn == "lowest")
                perSeries.orderBy(col("__score").asc, col("series"))
              else perSeries.orderBy(col("__score").desc, col("series")))
              .limit(k).select("series")
            in.copy(df = in.df.join(broadcast(top), Seq("series"), "left_semi"))

          // ---- keep series whose average sits OUTSIDE the
          // [100−n, n]th percentile band of the per-series averages —
          // both percentiles from one agg over the bounded
          // one-row-per-series frame
          case "averageOutsidePercentile" =>
            val in = one(args)
            val nRaw = num(args(1))
            val n = if (nRaw < 50) 100 - nRaw else nRaw
            val (lo, hi) = ((100 - n) / 100.0, n / 100.0)
            val avgs = in.df.groupBy(col("series")).agg(aggFor("average").as("__avg"))
            val bounds = avgs.agg(
              q6(expr(s"percentile(__avg, $lo)")).as("__lo"),
              q6(expr(s"percentile(__avg, $hi)")).as("__hi"))
            val keep = avgs.crossJoin(broadcast(bounds))
              .where(col("__avg") < col("__lo") || col("__avg") > col("__hi"))
              .select("series")
            in.copy(df = in.df.join(broadcast(keep), Seq("series"), "left_semi"))

          case "removeEmptySeries" =>
            val in = one(args)
            val keep = in.df.groupBy(col("series"))
              .agg(count(col("value")).as("__n"))
              .where(col("__n") > 0).select("series")
            in.copy(df = in.df.join(broadcast(keep), Seq("series"), "left_semi"))

          // first n series in NAME order — the deterministic stand-in
          // for graphite's fetch order, which a distributed frame
          // doesn't have (documented deviation). distinct+orderBy+limit
          // is a TakeOrdered over the name set, never a global sort
          case "limit" =>
            val in = one(args)
            val n = num(args(1)).toInt
            val top = in.df.select("series").distinct()
              .orderBy(col("series")).limit(n)
            in.copy(df = in.df.join(broadcast(top), Seq("series"), "left_semi"))

          // union of the args, FIRST occurrence of each series name
          // wins — a min-arg-index per name (bounded agg) + semi-join
          case "unique" =>
            val in = args.map { case TargetArg(t) => ev(t)
                                case a => throw new IllegalArgumentException(s"unique: $a") }
            require(in.nonEmpty, "unique needs at least one target")
            require(in.map(_.step).distinct.size == 1, "unique: mixed steps")
            val tagged = in.zipWithIndex.map { case (s0, i) =>
              s0.df.withColumn("__arg", lit(i)) }.reduce(_ unionByName _)
            val firstArg = tagged.groupBy(col("series"))
              .agg(min(col("__arg")).as("__arg"))
            SeriesSet(tagged
              .join(broadcast(firstArg), Seq("series", "__arg"), "left_semi")
              .drop("__arg"), in.head.step)

          // ---- scalar tail: all single codegen'd projections
          case "sigmoid" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              q6(lit(1.0) / (lit(1.0) + exp(-col("value"))))))
          case "exp" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"), q6(exp(col("value")))))
          case "round" =>
            val in = one(args)
            val p = if (args.length > 1) num(args(1)).toInt else 0
            in.copy(df = out(in.df, col("series"), round(col("value"), p)))
          case "isNonNull" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              when(col("value").isNotNull, 1.0).otherwise(0.0)))
          // value · seconds/step — rate re-based to a per-`seconds` rate
          case "scaleToSeconds" =>
            val in = one(args)
            in.copy(df = out(in.df, col("series"),
              q6(col("value") * lit(num(args(1))) / lit(in.step.toDouble))))

          // ---- per-series one-row aggregates broadcast back
          // (nPercentile's plan shape)
          case "minMax" =>
            val in = one(args)
            val mm = in.df.groupBy(col("series"))
              .agg(min(col("value")).as("__mn"), max(col("value")).as("__mx"))
            val j = in.df.join(broadcast(mm), Seq("series"), "left")
            in.copy(df = out(j, col("series"),
              when(col("value").isNull, lit(null))
                .when(col("__mx") > col("__mn"),
                  q6((col("value") - col("__mn")) / (col("__mx") - col("__mn"))))
                .otherwise(lit(0.0))))
          case "offsetToZero" =>
            val in = one(args)
            val mn = in.df.groupBy(col("series")).agg(min(col("value")).as("__mn"))
            in.copy(df = out(in.df.join(broadcast(mn), Seq("series"), "left"),
              col("series"), col("value") - col("__mn")))
          // the series flattened to its named aggregate across its own
          // buckets — name preserved (per-series transform contract)
          case "aggregateLine" =>
            val in = one(args)
            val func = if (args.length > 1) str(args(1)) else "average"
            val per = in.df.groupBy(col("series")).agg(aggFor(func).as("__line"))
            in.copy(df = out(in.df.join(broadcast(per), Seq("series"), "left"),
              col("series"), col("__line")))

          // ---- per-series windows
          case "changed" =>
            val in = one(args)
            val prev = lag(col("value"), 1).over(wSeries)
            in.copy(df = out(in.df, col("series"),
              when(prev.isNotNull && col("value").isNotNull &&
                col("value") =!= prev, 1.0).otherwise(0.0)))
          case "delay" =>
            val in = one(args)
            val n = num(args(1)).toInt
            in.copy(df = out(in.df, col("series"),
              if (n >= 0) lag(col("value"), n).over(wSeries)
              else lead(col("value"), -n).over(wSeries)))
          // linear interpolation across null gaps: the last/first
          // non-null (value, time) pair on each side via ignore-nulls
          // struct windows — leading/trailing nulls stay null
          case "interpolate" =>
            val in = one(args)
            val t = unix_timestamp(col("bucket"))
            val pt = struct(t.as("t"), col("value").as("v"))
            val wPrev = wSeries.rowsBetween(Window.unboundedPreceding, -1)
            val wNext = wSeries.rowsBetween(1, Window.unboundedFollowing)
            val pv = last(when(col("value").isNotNull, pt),
              ignoreNulls = true).over(wPrev)
            val nv = first(when(col("value").isNotNull, pt),
              ignoreNulls = true).over(wNext)
            val fit = pv.getField("v") +
              (nv.getField("v") - pv.getField("v")) *
                (t - pv.getField("t")) / (nv.getField("t") - pv.getField("t"))
            in.copy(df = out(in.df, col("series"),
              when(col("value").isNotNull, col("value"))
                .when(pv.isNotNull && nv.isNotNull, q6(fit))))
          // running integral that RESETS each interval: the window just
          // gains the coarse bucket as a second partition key
          case "integralByInterval" =>
            val in = one(args)
            val ivl = parseDuration(str(args(1)))
            require(ivl > 0, s"$fn interval must be positive")
            val w = Window
              .partitionBy(col("series"), Time.align(col("bucket"), ivl))
              .orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            in.copy(df = out(in.df, col("series"),
              sum(dec(col("value"))).over(w).cast("double")))

          // ---- re-bucketing: Σ(value·step) per coarse interval —
          // a rate turned back into a count (graphite's hitcount)
          case "hitcount" =>
            val in = one(args)
            val ivl = parseDuration(str(args(1)))
            require(ivl > 0, "hitcount interval must be positive")
            val nb = Time.align(col("bucket"), ivl).as("bucket")
            SeriesSet(in.df.groupBy(col("series"), nb)
              .agg((dec(sum(dec(col("value")))).cast("double") *
                lit(in.step.toDouble)).as("v"))
              .select(col("series"), col("bucket"),
                col("v").cast("double").as("value")), ivl)

          // ---- the EMA recurrence (ema_t needs ema_{t-1}'s OUTPUT):
          // the h13 typed per-series fold surfaced through the target
          // language. α = 2/(points+1); seeded with the first value
          // (documented deviation from graphite's first-window-average
          // seed — the fold's long-standing h13 contract)
          case "exponentialMovingAverage" =>
            val in = one(args)
            val pts = num(args(1)).toInt
            require(pts > 0, s"$fn points must be positive")
            val ema = SeriesFold.exponentialMovingAverage(in.df,
              "series", "bucket", "value", alpha = 2.0 / (pts + 1.0))
            in.copy(df = out(ema, col("series"), col("ema")))

          // ---- per-series ordinary-least-squares fit, evaluated at
          // every bucket. x = seconds offset from the series' FIRST
          // bucket: the fit is affine-invariant in x, so the values
          // equal graphite's absolute-timestamp fit while every decimal
          // accumulation stays magnitude-bounded (Σx² ~ (points·step)²
          // · points, comfortably inside DECIMAL(38,6) at any
          // retention). Sums exact → the closed-form slope/intercept
          // doubles are order-free
          case "linearRegression" =>
            val in = one(args)
            val t = unix_timestamp(col("bucket"))
            val mnT = min(t).over(Window.partitionBy(col("series")))
            val base = in.df.withColumn("__x", (t - mnT).cast("double"))
            def d38(c: Column): Column = c.cast("decimal(38,6)")
            val st = base.where(col("value").isNotNull)
              .groupBy(col("series")).agg(
                count(lit(1)).cast("double").as("__n"),
                d38(sum(d38(col("__x")))).cast("double").as("__sx"),
                d38(sum(d38(col("value")))).cast("double").as("__sy"),
                d38(sum(d38(col("__x") * col("value")))).cast("double").as("__sxy"),
                d38(sum(d38(col("__x") * col("__x")))).cast("double").as("__sxx"))
            val j = base.join(broadcast(st), Seq("series"), "left")
            val det = col("__n") * col("__sxx") - col("__sx") * col("__sx")
            val slope = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) / det
            val icept = (col("__sy") - slope * col("__sx")) / col("__n")
            in.copy(df = out(j, col("series"),
              when(det =!= 0, q6(icept + slope * col("__x")))))

          // ---- generic trailing window (the parameterized form of the
          // moving* family): same per-series ROWS frame, value fold
          // picked by name. Window-attached directly to the aggregates
          // (the compound q6 forms can't ride a bare aggFor().over)
          case "movingWindow" =>
            val in = one(args)
            val n = windowPoints(args(1), in.step)
            require(n > 0, "movingWindow size must be positive")
            val w = wSeries.rowsBetween(-(n - 1), Window.currentRow)
            val v = (if (args.length > 2) str(args(2)) else "average") match {
              case "average" | "avg" =>
                q6(sum(dec(col("value"))).over(w).cast("double") /
                   count(col("value")).over(w))
              case "sum" | "total" => sum(dec(col("value"))).over(w).cast("double")
              case "max"           => max(col("value")).over(w)
              case "min"           => min(col("value")).over(w)
              case "count"         => count(col("value")).over(w).cast("double")
              case "range" | "rangeOf" =>
                max(col("value")).over(w) - min(col("value")).over(w)
              case "median"        => expr("percentile(value, 0.5)").over(w)
              case "last" | "current" => // safeLast over the frame
                max_by(col("value"),
                  when(col("value").isNotNull, col("bucket"))).over(w)
              case "stddev" =>
                val s = sum(dec(col("value"))).over(w).cast("double")
                val m2 = sum(dec(col("value") * col("value"))).over(w).cast("double")
                val cnt = count(col("value")).over(w)
                q6(sqrt(greatest((m2 - s * s / cnt) / cnt, lit(0.0))))
              case other => throw new IllegalArgumentException(
                s"movingWindow: unknown func '$other'")
            }
            in.copy(df = out(in.df, col("series"), v))

          // graphite's cumulative(): consolidateBy(series, 'sum')
          case "cumulative" =>
            one(args).copy(cf = "sum")

          // ---- plan-level emptiness pivot: primary if it has ANY
          // rows, else the fallback — one O(1)-row count broadcast into
          // both branches, no driver decision, no collect
          case "fallbackSeries" =>
            val a = one(args)
            val b = args(1) match {
              case TargetArg(t) => ev(t)
              case x => throw new IllegalArgumentException(s"$fn: $x")
            }
            require(a.step == b.step, "fallbackSeries: mixed steps")
            val cnt = a.df.agg(count(lit(1)).as("__cnt"))
            val keepA = a.df.crossJoin(broadcast(cnt))
              .where(col("__cnt") > 0).drop("__cnt")
            val keepB = b.df.crossJoin(broadcast(cnt))
              .where(col("__cnt") === 0).drop("__cnt")
            SeriesSet(keepA.unionByName(keepB), a.step)

          // values nulled outside [start, end] — epoch-second bounds,
          // or graphite's relative/`now±` string specs resolved against
          // the render request's explicit `now` (the §5.3 stance: a
          // bare eval() has no now, so string specs require the
          // render() context)
          case "timeSlice" =>
            val in = one(args)
            def bound(a: Arg): Long = a match {
              case NumArg(v) => v.toLong
              case StrArg(s0) => parseTimeSpec(s0, renderCtx("timeSlice").nowSec)
              case x => throw new IllegalArgumentException(s"timeSlice: $x")
            }
            val lo = bound(args(1))
            val hi = if (args.length > 2) bound(args(2)) else Long.MaxValue
            in.copy(df = out(in.df, col("series"),
              when(unix_timestamp(col("bucket")).between(lo, hi), col("value"))))

          // ---- generated series over the universe's bucket spine
          // (graphite generates on the render range; the facade's range
          // IS the universe): identity = the timestamp as the value,
          // constantLine/threshold = a flat line
          case "identity" =>
            SeriesSet(ctxClamp(universe, ctx).select(col("bucket")).distinct()
              .select(lit(str(args.head)).as("series"), col("bucket"),
                unix_timestamp(col("bucket")).cast("double").as("value")), step)
          // identity with graphite's optional coarser step: the bucket
          // epoch as the value. Under a render context the grid is
          // DATA-INDEPENDENT, stepping from `from` to `until` exactly
          // like graphite-web's timeFunction (a gap in fetched data
          // cannot drop a tick, and alignment anchors at `from`, not
          // the epoch); a bare eval() has no request range, so it
          // falls back to the universe's bucket spine at epoch
          // multiples — documented spine dependency of the
          // context-free form.
          case "time" | "timeFunction" =>
            val nm = str(args.head)
            val ts = if (args.length > 1) num(args(1)).toLong else step
            require(ts > 0 && ts % step == 0,
              s"$fn: step $ts must be a positive multiple of the " +
                s"set's ${step}s step")
            val grid = ctx match {
              case Some(c) =>
                // spark.range is a leaf plan: parallel, no data scan
                universe.sparkSession.range(c.fromSec, c.untilSec, ts)
                  .select(timestamp_seconds(col("id")).as("bucket"))
              case None =>
                universe.select(col("bucket")).distinct()
                  .where(unix_timestamp(col("bucket")) % lit(ts) === 0)
            }
            SeriesSet(grid.select(lit(nm).as("series"), col("bucket"),
              unix_timestamp(col("bucket")).cast("double").as("value")), ts)
          case "constantLine" | "threshold" =>
            val v = num(args.head)
            val nm = if (fn == "threshold" && args.length > 1) str(args(1))
                     else text(c)
            SeriesSet(ctxClamp(universe, ctx).select(col("bucket")).distinct()
              .select(lit(nm).as("series"), col("bucket"),
                lit(v).cast("double").as("value")), step)

          // ---- the chart-generator / annotation quartet (r12 verdict
          // missing #3) — all DETERMINISTIC on this facade.
          // sinFunction(name, amplitude, step): graphite-web's value is
          // math.sin(epoch(when))·amplitude — a pure function of the
          // request grid, not a random generator (only randomWalk is).
          // Grid rules match time(): ctx-driven from `from` to `until`;
          // the step DEFAULTS to the set's step (graphite's 60s default
          // presumes a 60s chart; same stance as time()'s step arg) and
          // must be a multiple of it.
          case "sinFunction" =>
            val nm = str(args.head)
            val amp = if (args.length > 1) num(args(1)) else 1.0
            val ts = if (args.length > 2) num(args(2)).toLong else step
            require(ts > 0 && ts % step == 0,
              s"$fn: step $ts must be a positive multiple of the " +
                s"set's ${step}s step")
            val grid = ctx match {
              case Some(cc) =>
                universe.sparkSession.range(cc.fromSec, cc.untilSec, ts)
                  .select(timestamp_seconds(col("id")).as("bucket"))
              case None =>
                universe.select(col("bucket")).distinct()
                  .where(unix_timestamp(col("bucket")) % lit(ts) === 0)
            }
            SeriesSet(grid.select(lit(nm).as("series"), col("bucket"),
              (sin(unix_timestamp(col("bucket"))) * amp).as("value")), ts)

          // verticalLine(ts, label): graphite-web's annotation series —
          // start = end = parsed ts, step 1, values [1.0, 1.0] (points
          // at ts and ts+1). The time spec resolves against the request
          // context and must land inside the window, mirroring
          // graphite's ValueError on an out-of-range line.
          case "verticalLine" =>
            val c0 = renderCtx("verticalLine")
            val ts = parseTimeSpec(str(args.head), c0.nowSec)
            require(ts >= c0.fromSec && ts <= c0.untilSec,
              s"verticalLine: $ts outside [${c0.fromSec}, ${c0.untilSec}]")
            val nm = if (args.length > 1) str(args(1)) else text(c)
            SeriesSet(universe.sparkSession.range(ts, ts + 2)
              .select(lit(nm).as("series"),
                timestamp_seconds(col("id")).as("bucket"),
                lit(1.0).cast("double").as("value")), 1)

          // events(*tags): the event-annotation stream as ONE series
          // named `events` with a 1.0 spike wherever a matching
          // `events.<tag>` series (all series when no tags) carries a
          // point in the request window. Graphite-web reads per-second
          // spikes from its events DB; on a bucketed universe each
          // spike lands on its bucket (documented granularity
          // deviation — the 1.0 value and `events` naming match).
          case "events" =>
            val base = ctxClamp(universe, ctx).where(col("value").isNotNull)
            val tagged =
              if (args.isEmpty) base
              else base.where(col("series").isin(
                args.map(a => "events." + str(a)): _*))
            SeriesSet(tagged.select(col("bucket")).distinct()
              .select(lit("events").as("series"), col("bucket"),
                lit(1.0).cast("double").as("value")), step)

          // aliasQuery(seriesList, search, replace, newName): rename
          // each series using the LAST value of the series its
          // regex-rewritten name points at. graphite-web re-renders the
          // rewritten target once PER series; here the rewrite must
          // name concrete universe series and the lookup is one
          // distributed max_by aggregation + equi-join — never a
          // per-series re-render (the applyByNode stance). newName's
          // printf placeholder: %d formats the last value as a long
          // (python's %d truncation), anything else (%f/%.Nf/%g)
          // formats the double. A series whose rewritten name matches
          // nothing is DROPPED — graphite raises mid-render; a
          // declarative plan cannot throw on data (documented
          // deviation).
          case "aliasQuery" =>
            val in = one(args)
            val repl = str(args(2)).replaceAll("\\\\(\\d)", "\\$$1")
            val newName = str(args(3))
            val lasts = ctxClamp(universe, ctx)
              .where(col("value").isNotNull)
              .groupBy(col("series").as("__q"))
              .agg(max(struct(col("bucket"), col("value")))
                .getField("value").as("__last"))
            val fmtArg = if (newName.contains("%d"))
              col("__last").cast("long") else col("__last")
            val named = in.df
              .withColumn("__q",
                regexp_replace(col("series"), str(args(1)), repl))
              .join(lasts, "__q")
            in.copy(df = out(named,
              format_string(newName, fmtArg), col("value")))

          // the series and its `end−start` self-shifts. Graphite's
          // normalization: an UNSIGNED unit means the past ('1d' →
          // '-1d'), so copy i draws data from i·|unit| ago at the
          // current position (output bucket = input − i·sec with sec
          // sign-normalized); an explicit '+' asks for future data,
          // drawn earlier. Labels carry the MULTIPLIER index the way
          // graphite-web does (timeShift(name, i)), so aliasSub
          // patterns written for graphite dashboards keep matching.
          // The inner fetch window widens by the stack's span (the
          // union ctx below).
          case "timeStack" =>
            val sec = timeStackSec(str(args(1)))
            val start = if (args.length > 2) num(args(2)).toInt else 0
            val end = if (args.length > 3) num(args(3)).toInt else 7
            require(end > start, "timeStack: end must exceed start")
            // the inner target evaluates ONCE under a ctx widened to
            // the union of every copy's window — copy i needs input
            // [from + i·sec, until + i·sec) — and each copy then
            // shifts out of the shared eval (graphite-web instead
            // re-evaluates the inner target per copy with that copy's
            // shifted context; one eval per copy would multiply the
            // scan end−start times, so this DEVIATES for
            // window-sensitive inner folds: a summarize/xff boundary
            // denominator inside a stacked target sees the union
            // window, not its copy's. Documented trade; the stacked
            // COPIES themselves are exact — the outer render clamp
            // trims each to [from, until)).
            val shifts = (start until end).map(i => i.toLong * sec)
            val sctx = ctx.map(c => c.copy(
              fromSec = c.fromSec + shifts.min,
              untilSec = c.untilSec + shifts.max))
            val in = args.head match {
              case TargetArg(t) => evalNode(t, universe, step, sctx)
              case a => throw new IllegalArgumentException(
                s"timeStack: expected a target, got $a")
            }
            val shifted = (start until end).map { i =>
              out(in.df,
                concat(lit("timeShift("), col("series"), lit(s",$i)")),
                col("value"))
                .withColumn("bucket", timestamp_seconds(
                  unix_timestamp(col("bucket")) - lit(i * sec)))
            }
            // each copy drew from the UNION window; the request ctx
            // trims every copy back to [from, until) here (the only
            // place a subtree intentionally over-fetches)
            SeriesSet(ctxClamp(shifted.reduce(_ unionByName _), ctx),
              in.step)

          // ---- display-only attributes: accepted and ignored so real
          // dashboard target strings evaluate — color/linewidth/stack
          // rendering is a chart concern, the DATA is unchanged
          // the sortBy family reorders only — ordering is a rendering
          // concern here (renderJson orders by name); sortByMinima is
          // the exception below (graphite-web also FILTERS in it)
          case "color" | "dashed" | "lineWidth" | "drawAsInfinite" |
               "secondYAxis" | "stacked" | "alpha" | "legendValue" |
               "cactiStyle" | "areaBetween" | "sortByName" | "sortBy" |
               "sortByTotal" | "sortByMaxima" =>
            one(args)

          // graphite-web's sortByMinima drops series without a
          // positive max before sorting (functions.py sortByMinima) —
          // that part is data-visible, so it gets the bounded
          // per-series agg + broadcast semi-join the threshold
          // filters use
          case "sortByMinima" =>
            val in = one(args)
            val keep = in.df.groupBy(col("series"))
              .agg(max(col("value")).as("__mx"))
              .where(col("__mx") > 0).select("series")
            in.copy(df = in.df.join(broadcast(keep),
              Seq("series"), "left_semi"))

          // ---- renaming tail
          // regex-substitute on the name; python \1 backrefs accepted
          // and translated to Java's $1
          case "aliasSub" =>
            val in = one(args)
            val repl = str(args(2)).replaceAll("\\\\(\\d)", "\\$$1")
            in.copy(df = out(in.df,
              regexp_replace(col("series"), str(args(1)), repl), col("value")))
          // python-slice of the dotted nodes: substr(series, start, stop)
          case "substr" =>
            val in = one(args)
            val start = num(args(1)).toInt
            val stop = if (args.length > 2) num(args(2)).toInt else 0
            require(start >= 0 && stop >= 0, "substr: negative index")
            val parts = split(col("series"), "\\.")
            val sliced =
              if (stop == 0) slice(parts, start + 1, 10000)
              else slice(parts, start + 1, stop - start)
            in.copy(df = out(in.df, array_join(sliced, "."), col("value")))

          case other =>
            throw new IllegalArgumentException(s"unknown render function '$other'")
        }
    }
  }
}
