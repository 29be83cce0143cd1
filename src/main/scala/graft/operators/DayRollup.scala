package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.{EventSink, Tables}

/** An event-day rollup ([[SketchRollup]], [[QuantileRollup]],
  * [[ReportMaintenance]]): a persisted table of per-(event_type,
  * event_date) rows partitioned by event_date, each row a pure function
  * of that day's events. A rollup declares only its artifact name,
  * format version, root suffix, stored schema and [[dayRows]]; the
  * one-shot build and a day refresh are the same [[dayRows]] frame over
  * different inputs (the corpus's events vs the given days of a sink)
  * through the same partitioned write. So replays, backfills and
  * out-of-order refreshes converge to the one-shot table, which the
  * rollups' specs prove.
  */
trait DayRollup {

  /** The root's `graft_<name>` directory. */
  protected def name: String

  /** Bump when the stored state changes. */
  def FormatVersion: Int

  /** Build parameters carried in the root name. */
  protected def suffix: String = ""

  /** Stored-table schema, declared so reads survive an EMPTY table (a
    * partitioned write of zero rows leaves no data files to infer from;
    * event_date is the partition column).
    */
  def TableSchema: StructType

  /** The day rows of an events frame (ts, event_type and the rolled-up
    * columns).
    */
  def dayRows(events: DataFrame): DataFrame

  /** Deterministic per-corpus location ([[StoreProtocol.root]]). */
  def tablePath(dir: String): String =
    StoreProtocol.root(name, FormatVersion, dir, suffix)

  /** Idempotent build of the persisted table from the corpus's events,
    * rebuilt when `events.parquet` is regenerated in place or the
    * table's `_SUCCESS` is missing ([[StoreProtocol.ensureArtifact]]).
    */
  def ensure(spark: SparkSession, dir: String): String = synchronized {
    val path = tablePath(dir)
    StoreProtocol.ensureArtifact(spark, path, dir, "events") {
      write(dayRows(Tables.events(spark, dir)), path, "static")
      true
    }
    path
  }

  /** Recompute `days` from `events` (the post-merge sink, or any frame
    * with the [[dayRows]] inputs) and replace those days' rows. Days
    * outside the list are never re-read (over the date-partitioned
    * sink, [[EventSink.onDays]] prunes partitions) AND never rewritten:
    * the publish is a DYNAMIC partition overwrite scoped to the
    * affected `event_date` partitions, with new files staged by the
    * commit protocol before the swap — a failed refresh cannot damage
    * unaffected days, and re-running it converges.
    */
  def refreshDays(spark: SparkSession, events: DataFrame, days: Seq[String],
      tablePath: String): Unit =
    if (days.nonEmpty) write(dayRows(EventSink.onDays(events, days)), tablePath, "dynamic")

  /** The one partitioned write: "static" replaces the whole table and
    * leaves its `_SUCCESS`, "dynamic" swaps only the written days and
    * keeps the root's `_SUCCESS` and `_SOURCE`. Set per write, so a
    * session-wide overwrite mode never changes either.
    */
  private def write(rows: DataFrame, path: String, mode: String): Unit =
    rows.write.mode("overwrite")
      .option("partitionOverwriteMode", mode)
      .partitionBy("event_date")
      .parquet(path)

  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TableSchema).parquet(path)
}
