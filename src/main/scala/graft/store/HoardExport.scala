package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reverse migration: export series from a [[HoardStore]] back to
  * whisper/hoard binary files (`src/hoard.coffee:30-69` layout) that
  * any whisper/graphite/hoard reader — including [[HoardImport]] —
  * can consume.
  *
  * Both paths encode [[liveRings]], the store's in-retention ring
  * content in the whisper source's schema. [[toWhisper]] is the
  * single-series path, driver-side by design: ONE series' export is
  * bounded by the policy's total ring capacity (the target file IS a
  * fixed-size ring), the same cap rationale as `fetchValues`.
  * [[toWhisperTree]] is the bulk reverse migration — a whole store back
  * to a graphite tree through the DSv2 whisper sink
  * ([[graft.sources.WhisperSink]]): one shuffle on series_id, each
  * series encoded and written inside an executor task, so an N-series
  * store exports with N-way parallelism instead of a driver loop.
  */
object HoardExport {

  /** Every level's merged (last-write-wins) rows inside its ring span
    * `(now - retention, now + step)` — what `fetch` would serve — as
    * `(series_id, step, ts, value)`, the whisper source/sink schema.
    * Each level read is month-pruned to that window.
    */
  def liveRings(st: HoardStore, now: Long): DataFrame =
    st.policy.sorted.map { ar =>
      st.readLevelRange(ar, now - ar.retention + 1, now + ar.step)
        .select(col("series_id"), lit(ar.step).cast("long").as("step"),
          col("interval").as("ts"), col("value").cast("double").as("value"))
    }.reduce(_ unionByName _)

  /** Write `series` at clock `now` (explicit, never wall time) to
    * `path`: [[liveRings]] of that series, one archive ring per level.
    */
  def toWhisper(st: HoardStore, series: String, path: String,
                now: Long): Unit = {
    val rows = liveRings(st, now).where(col("series_id") === series)
      .select(col("step"), col("ts").cast("long"), col("value"))
      .collect() // bounded: at most the policy's total ring capacity
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupMap(_._1)(_._2)
    val levels = st.policy.sorted.map { ar =>
      val pts = rows.getOrElse(ar.step, Array.empty[(Long, Double)]).toSeq
      require(pts.size <= ar.points,
        s"level ${ar.step} holds ${pts.size} live intervals > ring " +
          s"capacity ${ar.points} — vacuum before export")
      (ar, pts)
    }
    val bytes = WhisperFormat.write(now, st.policy.xff.toFloat, levels)
    val target = Paths.get(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    Files.write(target, bytes)
  }

  /** Bulk reverse migration: every series of `st` at clock `now` to a
    * graphite tree under `dir` — dotted series names map to
    * subdirectories (`web.srv1.cpu` → `dir/web/srv1/cpu.whisper`,
    * graphite's own layout), dotless names land flat. [[liveRings]]
    * goes through `write.format("whisper")`, so each file is
    * byte-identical to what [[toWhisper]] writes for the same series.
    * Returns the number of files written (one per series).
    */
  def toWhisperTree(st: HoardStore, dir: String, now: Long): Long = {
    val p = st.policy
    val rings = liveRings(st, now)
    rings.write.format("whisper")
      .option("archives", p.sorted.map(a => s"${a.step}:${a.points}").mkString(","))
      .option("now", now.toString)
      .option("xff", p.xff.toFloat.toString)
      .mode("append").save(dir)
    rings.select("series_id").distinct().count()
  }
}
