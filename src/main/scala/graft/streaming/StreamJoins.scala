package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det.r2
import graft.sources.Tables

/** Stream-stream and stream-static joins — the join class of the
  * streaming surface ([[BurnRateStream]] covers windowed alerts and
  * delivery dedup; [[Scd2Stream]] covers custom state).
  *
  * The core is ONE expression ([[viewPurchasePairs]]) valid in both
  * execution modes: `withWatermark` is a no-op on batch frames
  * (Catalyst eliminates the node), so the batch twin and the streaming
  * run share the exact same join, and batch-equivalence is by
  * construction rather than by parallel implementations
  * (StreamJoinSpec still asserts it end to end on MemoryStreams).
  *
  * Scale notes: a stream-stream interval join keys state by user_id
  * and expires rows once the watermark passes the interval bound —
  * state is O(events within the 1-hour window horizon), not O(stream).
  * The batch twin is an equi-join on user_id with the interval as a
  * join-time range predicate: one shuffle per side, no pair explosion
  * beyond the true matches (same class as range_join_shipwindow).
  */
object StreamJoins {

  /** (purchase, prior-view-within-1-hour) pairs: equi-join on user_id
    * with `p.ts - 1h <= v.ts <= p.ts`. Works on streaming frames
    * (2-hour watermarks bound join state) and batch frames (watermark
    * eliminated) identically.
    */
  def viewPurchasePairs(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "2 hours")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    p.join(v,
      col("v_user") === col("p_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("p_id"),
        col("p_ts"), col("v_ts"))
  }

  /** Declared query `interval_join_views` (full DuckDB oracle): per
    * user, purchases that had >= 1 view in the preceding hour, total
    * matched (purchase, view) pairs, and the mean purchase-view gap.
    * The batch twin of the stream-stream interval join above — same
    * plan, run on the fixture tables.
    */
  def intervalJoinViews(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val pairs = viewPurchasePairs(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
    pairs
      .groupBy("user_id")
      .agg(
        countDistinct(col("p_id")).as("n_purchases_with_view"),
        count(lit(1)).as("n_pairs"),
        r2(avg((unix_millis(col("p_ts")) - unix_millis(col("v_ts"))) / 1000.0))
          .as("avg_gap_s"))
      .orderBy("user_id")
  }
}
