package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions
import graft.sources.{EventSink, Tables}

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
object SketchRollup {

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

  /** Deterministic per-corpus location (same convention as
    * [[IvfIndex.indexPath]]; production would use a managed table).
    */
  def tablePath(dir: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_sketch/v${FormatVersion}_${key}_k$K"
  }

  /** Per-(event_type, event_date) sketch rows from raw events: the
    * one pass that ever touches the fact table.
    */
  def dailySketches(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("event_date"),
        xxhash64(col("user_id")).as("h"))
      .groupBy("event_type", "event_date")
      .agg(
        SketchFunctions.minhashAgg(col("h"), K).as("sig"),
        count(lit(1)).as("n_events"))

  /** Idempotent build of the persisted sketch table
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

  /** Incremental maintenance — the daily-ETL append: sketch ONLY the
    * given day's raw events and swap ONLY that day's partition of the
    * persisted table (dynamic partition overwrite — other days' files
    * are never touched, and the commit protocol stages new files
    * before the swap, so a mid-publish crash is recoverable by
    * re-running the day). Raw data outside `day` is never re-read,
    * and re-running a day (backfill, retry) is idempotent, so no
    * rollup can double-count. SketchAggSpec proves day-wise appends
    * produce a table whose rollup is bit-identical to the one-shot
    * build.
    */
  def appendDay(spark: SparkSession, dir: String, day: String, tablePath: String): Unit =
    appendDayFrom(spark, Tables.events(spark, dir), day, tablePath)

  /** [[appendDay]] over an arbitrary events frame (needs event_type,
    * ts, user_id) — lets the streaming ingest sketch from the SINK's
    * post-merge contents instead of the raw fixture layout.
    */
  def appendDayFrom(spark: SparkSession, events: DataFrame, day: String,
      tablePath: String): Unit = {
    EventSink.onDays(events, Seq(day))
      .select(col("event_type"), to_date(col("ts")).as("event_date"),
        xxhash64(col("user_id")).as("h"))
      .groupBy("event_type", "event_date")
      .agg(
        graft.functions.SketchFunctions.minhashAgg(col("h"), K).as("sig"),
        count(lit(1)).as("n_events"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date")
      .parquet(tablePath)
  }

  /** Sketch-on-ingest: the streaming composition of the idempotent
    * upsert sink and incremental sketch maintenance. Every micro-batch
    *   1. merges into the date-partitioned sink by content key
    *      ([[graft.sources.Upsert.upsertDatePartitioned]] — replays
    *      are no-ops), then
    *   2. re-sketches each AFFECTED day from the SINK's post-merge
    *      contents (not from the batch!) via [[appendDayFrom]].
    * Sketching from the sink makes the sketch row a pure function of
    * the merged day — batch replay, out-of-order delivery, and
    * backfills all converge to the same sketch table the one-shot
    * batch build would produce (proven in SketchAggSpec).
    */
  def streamingIngest(stream: DataFrame, sinkPath: String, sketchPath: String,
      keys: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val spark = df.sparkSession
        graft.sources.Upsert.upsertDatePartitioned(spark, sinkPath, df, keys)
        val days = df.select(to_date(col("ts")).as("d")).distinct()
          .collect().map(_.getDate(0).toString)
        val sink = spark.read.parquet(sinkPath)
        days.foreach(d => appendDayFrom(spark, sink, d, sketchPath))
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Declared query `sketch_rollup` (rows-only: xxhash64-derived
    * sketch internals have no DuckDB mirror; the estimator bound and
    * bit-exact mergeability are asserted in SketchAggSpec): all-time
    * distinct-user estimate per event_type computed ONLY from the
    * persisted per-day sketch table.
    */
  /** Stored-table schema, declared so reads survive an EMPTY table
    * (a partitioned write of zero rows leaves no data files to infer
    * from; event_date is the partition column).
    */
  val TableSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "event_type string, sig array<bigint>, n_events bigint, event_date date")

  def readTable(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema(TableSchema).parquet(path)

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
