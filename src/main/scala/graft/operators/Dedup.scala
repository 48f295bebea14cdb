package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Last-write-wins per (series, interval) — the reference's overwrite
  * semantics: a later update to the same ring slot replaces the earlier
  * value (`src/hoard.coffee:211-225`; golden proof SURVEY §2.2.2). In a
  * distributed engine "later" must be explicit, so callers supply a
  * monotone `seq` column (ingest sequence / event_id).
  */
object Dedup {

  /** Keep, per group, the value of the row with the highest `seq`.
    *
    * Implemented as `max_by` under `groupBy` rather than a
    * `row_number()` window: the aggregate form gets map-side partial
    * aggregation (one shuffle of partial maxima instead of a full-row
    * shuffle + per-partition sort), which is the difference between
    * O(rows) and O(rows·log rows) network+sort cost at 100 TB.
    *
    * @param keep  columns to resolve with last-write-wins (e.g. value)
    */
  def lastWriteWins(df: DataFrame, groupCols: Seq[Column], seq: Column,
                    keep: Seq[(String, Column)]): DataFrame = {
    val aggs = keep.map { case (name, c) => max_by(c, seq).as(name) }
    df.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
  }
}
