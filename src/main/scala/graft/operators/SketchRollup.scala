package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.SketchFunctions
import graft.sources.Tables

/** Pre-aggregated sketch table + rollup — the 100 TB "never re-read
  * raw data" aggregation story, executed rather than argued.
  *
  * BUILD (once per corpus, like a daily ETL materialization): one
  * linear scan of `events` producing a (event_type, event_date) row
  * with a k=512 MinHash sketch of the day's user ids
  * ([[graft.functions.MinHashAgg]]) plus the day's event count. At
  * production scale this table is appended per day-partition and is
  * ~4 KB per group — constant size regardless of how many events the
  * day had.
  *
  * ROLLUP (the declared query `sketch_rollup`): re-aggregate the
  * persisted sketches per event_type with [[graft.functions.MinHashMergeAgg]]
  * (element-wise min — associative, commutative, duplicate-absorbing)
  * and read out the distinct-user estimate. The raw events table is
  * NOT in the plan: month/quarter/all-time distinct-user reports run
  * entirely off the tiny sketch table. SketchAggSpec proves the merged
  * sketch is BIT-IDENTICAL to sketching all raw rows directly, and
  * bounds the estimator error against exact countDistinct.
  */
object SketchRollup extends DayRollup {

  /** Sketch width: RSD ≈ 1/√(k−2) ≈ 4.4% — cardinality-grade, far
    * wider than the k=64 Jaccard plane (which needs only pair
    * similarity, not absolute counts).
    */
  val K = 512

  /** Bump when the sketch format changes (hash chain, k, schema).
    * v2: table is partitioned by event_date so a day refresh swaps
    * ONLY that day's partition (dynamic partition overwrite).
    */
  val FormatVersion = 2

  protected val name = "sketch"
  override protected def suffix: String = s"_k$K"

  val TableSchema: StructType = StructType.fromDDL(
    "event_type string, sig array<bigint>, n_events bigint, event_date date")

  /** Per-(event_type, event_date) sketch rows of an events frame
    * (event_type, ts, user_id).
    */
  def dayRows(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), to_date(col("ts")).as("event_date"),
        xxhash64(col("user_id")).as("h"))
      .groupBy("event_type", "event_date")
      .agg(
        SketchFunctions.minhashAgg(col("h"), K).as("sig"),
        count(lit(1)).as("n_events"))

  /** The one pass over the corpus's raw events. */
  def dailySketches(spark: SparkSession, dir: String): DataFrame =
    dayRows(Tables.events(spark, dir))

  /** Declared query `sketch_rollup` (rows-only: xxhash64-derived
    * sketch internals have no DuckDB mirror; the estimator bound and
    * bit-exact mergeability are asserted in SketchAggSpec): all-time
    * distinct-user estimate per event_type computed ONLY from the
    * persisted per-day sketch table.
    */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    // one row per (day, type): a single task reads it, with no shuffle
    // for the merge and none for the ordering
    val daily = readTable(spark, ensure(spark, dir)).coalesce(1)
    daily
      .groupBy("event_type")
      .agg(
        SketchFunctions.minhashMerge(col("sig"), K).as("sig"),
        count(lit(1)).as("n_days"),
        sum("n_events").as("n_events"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        round(SketchFunctions.minhashCardinality(col("sig"), K))
          .cast("long").as("est_users"))
      .orderBy("event_type")
  }
}
