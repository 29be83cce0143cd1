package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Det.r4
import graft.functions.QuantileFunctions
import graft.sources.Tables

/** Persisted per-day QUANTILE sketch table + rollup — the percentile
  * twin of [[SketchRollup]] (distinct counts) and
  * [[ReportMaintenance]] (exact sum/min/max): with GK sketches
  * persisted per (event_type, event_date), p50/p90/p99 reports over
  * ANY date range re-aggregate KB-scale sketch rows instead of
  * revisiting raw events — previously the one readout that forced a
  * raw re-scan (`percentile_approx` keeps its state internal).
  *
  * BUILD (once, at ingest): one linear scan of `events` →
  * (event_type, event_date, gk_sketch(value, ε=0.01), n). ROLLUP (the
  * declared query `quantile_sketch_rollup`): `gk_merge` per
  * event_type → `gk_quantiles` readout. QuantileSketchSpec asserts
  * the GK rank guarantee end-to-end THROUGH the merge: every estimate
  * ranks within ε·n (+1) of its target against the exact sorted data.
  */
object QuantileRollup extends DayRollup {

  /** Relative rank error ε: estimates rank within 1% of target. */
  val Eps = 0.01

  /** Bump when the sketch format changes.
    * v2: table is partitioned by event_date so a day refresh swaps
    * ONLY that day's partition (dynamic partition overwrite).
    */
  val FormatVersion = 2

  protected val name = "qsketch"

  val TableSchema: StructType = StructType.fromDDL(
    "event_type string, qs binary, n_events bigint, event_date date")

  /** Per-(event_type, event_date) sketch rows of an events frame. */
  def dayRows(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("event_date"))
      .agg(
        QuantileFunctions.gkSketch(col("value"), Eps).as("qs"),
        count(lit(1)).as("n_events"))

  /** The one raw scan of the corpus's events. */
  def dailySketches(spark: SparkSession, dir: String): DataFrame =
    dayRows(Tables.events(spark, dir))

  /** Declared query `quantile_sketch_rollup` (rows-only: GK sketch
    * internals have no DuckDB mirror; the ε rank bound is asserted in
    * QuantileSketchSpec): all-time p50/p90/p99 per event_type computed
    * ONLY from the persisted per-day sketch table.
    */
  def quantileSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = readTable(spark, ensure(spark, dir))
    daily
      .groupBy("event_type")
      .agg(
        QuantileFunctions.gkMerge(col("qs"), Eps).as("qs"),
        count(lit(1)).as("n_days"),
        sum("n_events").as("n_events"))
      .withColumn("q", QuantileFunctions.gkQuantiles(col("qs"), Seq(0.5, 0.9, 0.99)))
      .select(
        col("event_type"), col("n_days"), col("n_events"),
        r4(col("q")(0)).as("p50_est"),
        r4(col("q")(1)).as("p90_est"),
        r4(col("q")(2)).as("p99_est"))
      .orderBy("event_type")
  }
}
