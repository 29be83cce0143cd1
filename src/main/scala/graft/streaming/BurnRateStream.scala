package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Det.r4

/** Streaming twin of `burn_rate_alerts` (SliQueries.scala #62) — the
  * multi-window multi-burn-rate alert policy run continuously instead
  * of as a daily batch report. The stateful topology is one chain over
  * ONE scan of the source, with no stream-stream join:
  *
  *   1. minute pre-agg: `avg(value)` per (minute, event_type);
  *   2. sliding 6-hour/1-hour re-agg over the minute rows: `slow` is
  *      the count of minutes and of breach minutes in the six hours,
  *      `fast` the same two counts over the window's newest hour (the
  *      hour that ends with it); a window whose newest hour has no
  *      minutes emits nothing;
  *   3. delivery dedup ([[dedupForDelivery]]).
  *
  * Semantics: an hour alerts when BOTH
  *   - fast burn (that hour's breach-minute share / 1% budget) ≥ 100
  *   - slow burn (trailing-6-hour breach-minute share / 1% budget) ≥ 85
  * Fast catches the spike; slow suppresses one-hour blips. The slow
  * window here is the minute-weighted 6-hour share (the SRE-handbook
  * definition) — the batch #62 query uses the unweighted mean of
  * hourly fasts; both are standard. BurnRateStreamSpec pins the
  * stream against its own batch run; BurnRateEquivalenceSpec pins
  * both against an independent reference (the earlier join form) on
  * generated inputs and on a fixture with incidents added.
  *
  * Why one aggregation serves both burns: chained `window()` places a
  * minute row at `end − 1 µs`, so it falls in the six sliding windows
  * whose span holds the minute, and in the newest hour of exactly one
  * of them. `fast` and `slow` are the integer counts a tumbling hour
  * and a separate sliding window would give, through the same double
  * expressions, hence bit-identical after rounding.
  *
  * Scale notes: the minute pre-agg is the only stage that sees raw
  * events; the sliding stage holds types × 6 open windows, so state
  * is O(types × window horizon), independent of event rate. The
  * newest hour's `window` (rebuilt from the sliding window's end)
  * leaves stage 2 as the only event-time column (a query may carry
  * one).
  *
  * Checkpoints: this topology (two aggregations + dedup) replaced a
  * five-operator one, in which the minute frame fed a fast-burn and a
  * slow-burn aggregation (so each micro-batch scanned the source
  * twice) that met in a stream-stream join. A checkpoint written by
  * the join form cannot be resumed — Spark's state-schema check
  * rejects it at start; restart such a query from a fresh checkpoint.
  */
object BurnRateStream {

  val FastThreshold = 100.0
  val SlowThreshold = 85.0

  private def breach = col("v") < 50 || col("v") > 150

  /** Breach-minute share over a 1% error budget. */
  private def burn(breaches: Column, minutes: Column): Column =
    breaches * lit(1.0) / minutes / lit(0.01)

  /** Stage 1 — minute pre-aggregation. Identical grain to the batch
    * query's minute rollup.
    */
  def minuteRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(avg("value").as("v"))

  /** Alert rows: one per (type, hour) that crosses both thresholds,
    * with the hour's start as `alert_hour`. Valid on streaming and
    * batch frames alike.
    */
  def alerts(events: DataFrame): DataFrame =
    alertWindows(events).select(
      col("event_type"),
      col("window.start").as("alert_hour"),
      col("fast"), col("slow"))

  /** Stage 2 — as [[alerts]] but keeping the hour-window STRUCT: the
    * struct is what carries the event-time/watermark metadata
    * downstream (projecting `.start` strips it), so the dedup stage
    * consumes this form. The sliding window is a column of the minute
    * rows, so the aggregation can single out the newest hour's minutes
    * by a conditional sum. Every buffer is a long, which keeps the
    * stage a code-generated hash aggregation.
    */
  def alertWindows(events: DataFrame): DataFrame = {
    val breaches = when(breach, 1L).otherwise(0L)
    val hourStart = col("slow_window.end") - expr("INTERVAL 1 HOUR")
    val newest = col("window.start") >= hourStart
    val sixHours = minuteRollup(events)
      .withColumn("slow_window", window(col("window"), "6 hours", "1 hour"))
      .groupBy(col("slow_window"), col("event_type"))
      .agg(
        count(lit(1)).as("minutes6"),
        sum(breaches).as("breaches6"),
        sum(when(newest, 1L)).as("minutes1"),
        sum(when(newest, breaches)).as("breaches1"))
      .where(col("minutes1").isNotNull)
    // the newest hour's window takes over the sliding window's
    // event-time metadata; the sliding window itself is dropped
    val eventTime = sixHours.schema("slow_window").metadata
    val hour = struct(hourStart.as("start"), col("slow_window.end").as("end"))
    sixHours
      .select(
        col("event_type"),
        hour.as("window", eventTime),
        burn(col("breaches1"), col("minutes1")).as("fast"),
        burn(col("breaches6"), col("minutes6")).as("slow"))
      .where(col("fast") >= FastThreshold && col("slow") >= SlowThreshold)
      .select(
        col("event_type"), col("window"),
        r4(col("fast")).as("fast"),
        r4(col("slow")).as("slow"))
  }

  /** Stage 3 — delivery dedup: alert rows are unique per (type, hour)
    * by construction, but an at-least-once source replay can re-emit
    * one; `dropDuplicatesWithinWatermark` makes delivery idempotent
    * with state bounded to the watermark horizon (vs `dropDuplicates`'
    * unbounded key set). `window` carries event-time metadata from the
    * window aggs, so NO second `withWatermark` node is added here — a
    * second node would hold the global (min-policy) watermark at zero
    * until it sees data, which it never would because the upstream
    * aggs would then never finalize. Streaming-only — batch runs are
    * exactly-once already. Consumes [[alertWindows]] (the window
    * struct is the event-time carrier) and projects to the [[alerts]]
    * schema after the dedup.
    */
  def dedupForDelivery(alertWindowRows: DataFrame): DataFrame =
    alertWindowRows
      .dropDuplicatesWithinWatermark("event_type", "window")
      .select(
        col("event_type"),
        col("window.start").as("alert_hour"),
        col("fast"), col("slow"))
}
