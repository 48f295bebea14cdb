package graft.streaming

import graft.store.HoardStore
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming ingress feeding the batch write path — SURVEY
  * §3.4: streaming is only the ingress; rollups stay batch-recomputable
  * because points may arrive arbitrarily late *within retention*
  * (Whisper's raison d'être), which rules out watermark-closed
  * aggregation. Each micro-batch runs the store's deterministic
  * upsert + cascade; a watermark (if configured upstream) bounds only
  * dedup state, never rollup finality.
  */
object StreamIngest {

  /** Attach a streaming frame of (series_id STRING, ts LONG epoch-sec,
    * value DOUBLE) to a store. `now` is resolved per batch by the
    * caller-supplied clock so tests stay deterministic. An empty
    * micro-batch costs one routing job and publishes nothing.
    */
  def start(stream: DataFrame, store: HoardStore, clock: () => Long,
            checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.updateManyDf(batch, clock())
      }
      .start()

  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class IslandState(islands: Seq[SessionState], maxSeen: Long)
  final case class Session(series_id: String, start: Long, end: Long,
                           n: Long, sum: Double)

  /** Custom streaming state via flatMapGroupsWithState: gap-based
    * sessionization per series. Points within `gapSec` of an island
    * merge into it; an island is emitted (closed) once the series' max
    * seen event time has moved more than `horizonSec` past the island's
    * end — until then it rides in GroupState, so gap-separated
    * stragglers arriving in DIFFERENT micro-batches still coalesce
    * into one session as long as they land within the horizon.
    *
    * `horizonSec` (default = gapSec) is the explicit lateness bound:
    * larger values merge later stragglers at the cost of more islands
    * held in state (bounded by horizon/gap per key). A point older
    * than the horizon starts a fresh island and closes on the next
    * advance — the unavoidable boundary under eager Append emission,
    * now a configured parameter rather than an accident of batching.
    * (No timeout dependency — deterministic under replay.)
    */
  def sessionize(events: Dataset[(String, Long, Double)], gapSec: Long,
                 horizonSec: Long = 0L): Dataset[Session] = {
    import events.sparkSession.implicits._
    val horizon = math.max(gapSec, horizonSec)

    // merge gap-adjacent islands in a start-sorted list (a new point can
    // bridge two existing islands)
    def coalesce(sorted: List[SessionState]): List[SessionState] =
      sorted.foldLeft(List.empty[SessionState]) { (acc, s) =>
        acc match {
          case h :: t if s.start - h.last <= gapSec =>
            SessionState(h.start, math.max(h.last, s.last),
              h.n + s.n, h.sum + s.sum) :: t
          case _ => s :: acc
        }
      }.reverse

    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long, Double)],
         state: GroupState[IslandState]) =>
          val st = state.getOption.getOrElse(IslandState(Seq.empty, Long.MinValue))
          var islands = st.islands.toList
          var maxSeen = st.maxSeen
          it.toSeq.sortBy(_._2).foreach { case (_, ts, v) =>
            maxSeen = math.max(maxSeen, ts)
            islands = coalesce(
              (SessionState(ts, ts, 1, v) :: islands).sortBy(_.start))
          }
          val (close, keep) = islands.partition(_.last < maxSeen - horizon)
          // maxSeen persists even with no open islands so the horizon
          // stays monotone for any later straggler
          if (maxSeen != Long.MinValue) state.update(IslandState(keep, maxSeen))
          close.sortBy(_.start)
            .map(s => Session(key, s.start, s.last, s.n, s.sum)).iterator
      }
  }

  final case class WindowKeyEvent(wstart: Long, key: String)
  final case class TopKRow(wstart: Long, rnk: Long, key: String, n: Long)

  /** Exactly-once per-window top-k (streaming heavy hitters): counts
    * per key ride in GroupState keyed by the tumbling window start; an
    * EVENT-TIME TIMEOUT at the window end publishes the ranked top-k
    * the moment the watermark passes it, then drops the state. The
    * sink sees each window exactly once (Append), open windows are
    * never emitted, and state is bounded by (#open windows within the
    * watermark horizon) × (#distinct keys) — never by stream length.
    * Ties rank deterministically (count DESC, key ASC).
    *
    * `events`: (ts TIMESTAMP, key STRING). The watermark rides on the
    * FLOORED window-start column (it must survive to the stateful
    * operator, and the floor makes the rule integer-exact), so the
    * emission rule replayable in batch is: a window [w, w+windowSec)
    * is published iff floor(max event time) − delay moved STRICTLY
    * past its end — the GroupStateTimeout.EventTimeTimeout contract.
    */
  def windowedTopK(events: DataFrame, windowSec: Long, k: Int,
                   delay: String): Dataset[TopKRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(timestamp_seconds(
          floor(col("ts").cast("long") / windowSec) * windowSec).as("wts"),
        col("key"))
      .withWatermark("wts", delay)
      .as[(java.sql.Timestamp, String)]
      .groupByKey(_._1.getTime / 1000L)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (wstart: Long, rows: Iterator[(java.sql.Timestamp, String)],
         state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.getOption.getOrElse(Map.empty[String, Long])
            state.remove()
            counts.toSeq.sortBy { case (key, n) => (-n, key) }.take(k)
              .zipWithIndex
              .map { case ((key, n), i) => TopKRow(wstart, i + 1L, key, n) }
              .iterator
          } else {
            val m = scala.collection.mutable.Map.empty[String, Long]
            state.getOption.foreach(m ++= _)
            rows.foreach(r => m.update(r._2, m.getOrElse(r._2, 0L) + 1L))
            state.update(m.toMap)
            state.setTimeoutTimestamp((wstart + windowSec) * 1000L)
            Iterator.empty
          }
      }
  }

  /** Streaming aggregation example over the events shape: watermarked
    * tumbling hourly counts/means per series — the declarative
    * streaming analogue of the finest archive.
    */
  def hourlyAggregates(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(col("series_id"), window(col("ts"), "1 hour"))
      // decimal-exact sum -> one double division: the mean is identical
      // regardless of partial-aggregation order (oracle parity)
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(col("value"))).as("mean_value"),
        max(col("value")).as("max_value"))
      .select(col("series_id"), col("window.start").as("bucket"),
        col("n"), col("mean_value"), col("max_value"))
}
