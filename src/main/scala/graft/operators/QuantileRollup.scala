package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det.r4
import graft.functions.QuantileFunctions
import graft.sources.{EventSink, Tables}

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
object QuantileRollup {

  /** Relative rank error ε: estimates rank within 1% of target. */
  val Eps = 0.01

  /** Bump when the sketch format changes.
    * v2: table is partitioned by event_date so a day refresh swaps
    * ONLY that day's partition (dynamic partition overwrite).
    */
  val FormatVersion = 2

  def tablePath(dir: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_qsketch/v${FormatVersion}_$key"
  }

  /** Per-(event_type, event_date) sketch rows — the one raw scan. */
  def dailySketches(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("event_date"))
      .agg(
        QuantileFunctions.gkSketch(col("value"), Eps).as("qs"),
        count(lit(1)).as("n_events"))

  /** Idempotent one-shot build of the persisted sketch table
    * (event_date-partitioned so a day refresh swaps single days).
    */
  def ensure(spark: SparkSession, dir: String): String = synchronized {
    val path = tablePath(dir)
    val hPath = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath))
      dailySketches(spark, dir)
        .write.mode("overwrite").partitionBy("event_date").parquet(path)
    path
  }

  /** Incremental maintenance — the daily-ETL append (mirror of
    * [[SketchRollup.appendDayFrom]]): sketch ONLY the given day's
    * rows from `events` and swap ONLY that day's partition of the
    * persisted table (dynamic partition overwrite — other days' files
    * are never touched, so a mid-publish crash is recoverable by
    * re-running the day). Re-running a day is idempotent — the day
    * row is a pure function of the day's data — so backfills and
    * retries can never double-count, and QuantileSketchSpec proves
    * day-wise builds answer quantiles within the same ε bound as
    * one-shot builds.
    */
  def appendDayFrom(spark: SparkSession, events: DataFrame, day: String,
      tablePath: String): Unit = {
    EventSink.onDays(events, Seq(day))
      .groupBy(col("event_type"), to_date(col("ts")).as("event_date"))
      .agg(
        QuantileFunctions.gkSketch(col("value"), Eps).as("qs"),
        count(lit(1)).as("n_events"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date")
      .parquet(tablePath)
  }

  /** Declared query `quantile_sketch_rollup` (rows-only: GK sketch
    * internals have no DuckDB mirror; the ε rank bound is asserted in
    * QuantileSketchSpec): all-time p50/p90/p99 per event_type computed
    * ONLY from the persisted per-day sketch table.
    */
  /** Stored-table schema, declared so reads survive an EMPTY table
    * (a partitioned write of zero rows leaves no data files to infer
    * from; event_date is the partition column).
    */
  val TableSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "event_type string, qs binary, n_events bigint, event_date date")

  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TableSchema).parquet(path)

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
