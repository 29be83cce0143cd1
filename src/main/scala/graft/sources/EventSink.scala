package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Production storage layout for the events fact table (SURVEY §7.4):
  * date-partitioned parquet. At 100 TB the flat single-file layout
  * the testdata uses cannot work — every time-range query must prune
  * whole partitions, not just row groups. This module is the write
  * side of that layout plus the matching pruned reader; the
  * SourceSinkSpec proves (a) round-trip equality and (b) that a
  * ts-range read plans PartitionFilters, i.e. Spark never lists the
  * out-of-range directories.
  *
  * Scale notes: `partitionBy("event_date")` hash-distributes writes
  * per date directory; repartitioning by the partition column before
  * the write (`repartition(col)`) gives one file per date instead of
  * one file per (task × date) — the small-files problem is the #1
  * operational failure of naive partitioned writes at scale.
  */
object EventSink {

  /** Write `events` (with its µs `ts`) date-partitioned under `path`.
    * `filesPerDate` caps output files per date directory: rows are
    * repartitioned on (event_date, bucket) where bucket spreads a
    * date's rows over at most `filesPerDate` tasks — 1 (default) for
    * small dates, larger for dates too big for a single writer task.
    */
  def writeDatePartitioned(events: DataFrame, path: String, filesPerDate: Int = 1): Unit = {
    val dated = events.withColumn("event_date", to_date(col("ts")))
    val spread =
      if (filesPerDate <= 1)
        // one shuffle partition per date (AQE may coalesce further —
        // harmless: partitionBy still splits one file per date)
        dated.repartition(col("event_date"))
      else
        // explicit partition count: AQE must not coalesce the spread
        // away; (date, bucket) combos land in distinct tasks w.h.p.,
        // and the cap holds by construction (bucket < filesPerDate)
        dated.withColumn("__bucket", pmod(xxhash64(col("event_id")), lit(filesPerDate)))
          .repartition(filesPerDate * 32, col("event_date"), col("__bucket"))
          .drop("__bucket")
    spread.write
      .partitionBy("event_date")
      .mode("overwrite")
      .parquet(path)
  }

  /** Compact the given date partitions to `filesPerDate` files each,
    * CLUSTERED by (event_type, ts) within each file — the steady-state
    * maintenance job every high-rate partitioned sink needs:
    * streaming/upsert ingestion accretes small files per date (one per
    * micro-batch task), and at 100 TB the resulting listing + per-file
    * open overhead dominates scans long before data volume does.
    * Clustering is the second half of the win: sorted files give
    * parquet tight min/max stats per row group, so `event_type`/`ts`
    * predicates skip row groups inside boundary dates (partition
    * pruning already handles whole dates).
    *
    * Only the listed days are read or rewritten (partition-pruned scan
    * → staged write → dynamic partition overwrite, the
    * [[Upsert]] publish discipline); re-running is idempotent and a
    * failed run leaves the sink intact. CompactionSpec proves content
    * identity, the file-count drop, untouched-partition stability, and
    * the in-file sort order.
    */
  def compactDates(spark: SparkSession, path: String, days: Seq[String],
      filesPerDate: Int = 1): Unit = {
    if (days.isEmpty) return
    val dayDates = days.map(java.sql.Date.valueOf)
    val affected = readDatePartitioned(spark, path)
      .filter(col("event_date").isInCollection(dayDates))
      .repartition(math.max(days.size * filesPerDate, 1),
        col("event_date"), pmod(xxhash64(col("event_id")), lit(filesPerDate)))
      .sortWithinPartitions("event_date", "event_type", "ts")
    val staging = s"${path}__compact_staging"
    affected.write.partitionBy("event_date").mode("overwrite").parquet(staging)
    // per-write overwrite mode, as in [[Upsert]]: the session stays untouched
    try {
      spark.read.parquet(staging)
        .repartition(math.max(days.size * filesPerDate, 1),
          col("event_date"), pmod(xxhash64(col("event_id")), lit(filesPerDate)))
        .sortWithinPartitions("event_date", "event_type", "ts")
        .write.partitionBy("event_date").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(path)
    } finally {
      val p = new org.apache.hadoop.fs.Path(staging)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Read the partitioned layout back. The `event_date` partition
    * column materializes from directory names; `ts` keeps its full
    * fidelity inside the files.
    */
  def readDatePartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The rows of `events` on the given UTC days (`yyyy-MM-dd`). The
    * day test is on `ts`; when `events` carries the sink's `event_date`
    * partition column, the same days filter it too, so a scan of the
    * date-partitioned sink lists and reads only those days' directories.
    */
  def onDays(events: DataFrame, days: Seq[String]): DataFrame = {
    val dates = days.map(java.sql.Date.valueOf)
    val byTs = events.filter(to_date(col("ts")).isInCollection(dates))
    if (events.columns.contains("event_date"))
      byTs.filter(col("event_date").isInCollection(dates))
    else byTs
  }

  /** Time-range read with partition pruning: the [from, to) bound is
    * applied to the PARTITION column (so directory listing prunes)
    * AND to `ts` (row-group + row precision within boundary dates).
    */
  def readRange(spark: SparkSession, path: String, fromUtc: String, toUtc: String): DataFrame =
    readDatePartitioned(spark, path)
      .filter(col("event_date") >= lit(fromUtc).cast("date") &&
        col("event_date") < lit(toUtc).cast("date") &&
        col("ts") >= lit(fromUtc).cast("timestamp") &&
        col("ts") < lit(toUtc).cast("timestamp"))
}
