package graft.operators

import graft.core.Time
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The xFilesFactor-gated cascading downsample — the reference's
  * `propagate` (`src/hoard.coffee:71-178`) re-expressed as a tumbling
  * aggregate.
  *
  * Contract items preserved (SURVEY §2.2.7/8):
  *  - expectedPoints = coarserStep / finerStep; an interval receives a
  *    value only when knownPoints / expectedPoints >= xff (`:142-156`,
  *    `>=` at the boundary);
  *  - aggregate = arithmetic mean of the *known* finer points (`:156`);
  *  - cascade is level-by-level finest→coarsest, each level aggregating
  *    from the level directly above (mean-of-means, `:364-379`), never
  *    from raw points.
  *
  * Scale: each hop is one `groupBy` with partial aggregation; the group
  * key (series, coarser interval) is a strict coarsening of the previous
  * hop's key, so AQE can often satisfy the next hop with a local shuffle.
  */
object Rollup {

  /** One downsample hop. Input columns: (seriesCol, intervalCol: timestamp
    * aligned at finerStep, valueCol: double). Output: same shape at
    * coarserStep.
    */
  def downsample(finer: DataFrame, seriesCol: String, intervalCol: String,
                 valueCol: String, finerStep: Long, coarserStep: Long,
                 xff: Double, cf: String = "avg"): DataFrame =
    finer
      .withColumn("__fi", col(intervalCol)) // pre-group copy for "last"
      .groupBy(col(seriesCol),
        Time.align(col(intervalCol), coarserStep).as(intervalCol))
      .agg(consolidate(cf, col(valueCol), col("__fi")).as(valueCol),
        count(col(valueCol)).as("__known"))
      .where(passesXff(col("__known"), finerStep, coarserStep, xff))
      .drop("__known")

  /** The value one coarse interval takes from its finer `value`s; `at`
    * is each finer value's slot, which orders "last". `agg` places each
    * aggregate: as is under a `groupBy`, `_.over(w)` over a window.
    *
    * `cf` picks the consolidation function (avg/min/max/sum/last) — the
    * reference hardcodes the mean and flags the gap itself
    * (`src/hoard.coffee:156`); "last" = value of the latest finer slot.
    */
  def consolidate(cf: String, value: Column, at: Column,
                  agg: Column => Column = identity): Column = cf match {
    case "avg"  => agg(avg(value))
    // decimal-exact mean: partial-aggregation order cannot perturb the
    // result; the output is additionally quantized to 6 decimals so a
    // further cascade hop over it stays order-independent too
    case "avg_exact" =>
      (agg(sum(value.cast("decimal(18,6)"))).cast("double") /
        agg(count(value))).cast("decimal(18,6)").cast("double")
    case "min"  => agg(min(value))
    case "max"  => agg(max(value))
    case "sum"  => agg(sum(value))
    // decimal-exact sum (same determinism argument as avg_exact)
    case "sum_exact" => agg(sum(value.cast("decimal(18,6)"))).cast("double")
    case "last" => agg(max_by(value, at))
    case other  => throw new IllegalArgumentException(s"unknown cf: $other")
  }

  /** The xff gate on a coarse interval holding `known` finer values:
    * known / expectedPoints >= xff, `>=` keeping the boundary case as
    * `knownPercent >= xff` does.
    */
  def passesXff(known: Column, finerStep: Long, coarserStep: Long,
                xff: Double): Column = {
    require(coarserStep % finerStep == 0, s"$coarserStep not a multiple of $finerStep")
    known.cast("double") / lit((coarserStep / finerStep).toDouble) >= lit(xff)
  }
}
