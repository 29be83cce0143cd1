package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.ReportMaintenance
import graft.sources.{EventSink, Tables, Upsert}

/** Idempotent upsert/backfill contract of
  * [[graft.sources.Upsert.upsertDatePartitioned]] — the parquet
  * stand-in for a table-format MERGE INTO, so an Iceberg/Delta backend
  * inherits this exact contract: re-ingesting overlapping data can
  * never double-count, corrected rows replace by content key,
  * untouched partitions are never rewritten, and concurrent writers
  * lose nothing (via the create-exclusive lock here; via the format's
  * optimistic-concurrency commit there).
  */
class UpsertSpec extends SparkTestBase {

  private def events: DataFrame = Tables.events(spark, sf)

  private def fingerprint(df: DataFrame): (Long, Long, Row) =
    (df.count(),
      df.select(countDistinct("event_id")).collect().head.getLong(0),
      df.agg(sum("value"), expr("bit_xor(xxhash64(event_id, event_type, value))")).collect().head)

  test("re-ingesting the same batch is a no-op (counts AND content identical)") {
    val path = Files.createTempDirectory("graft_upsert").toString + "/sink"
    Upsert.upsertDatePartitioned(spark, path, events, Seq("event_id"))
    val first = fingerprint(spark.read.parquet(path))
    // replay the identical batch — the at-least-once scenario
    Upsert.upsertDatePartitioned(spark, path, events, Seq("event_id"))
    val second = fingerprint(spark.read.parquet(path))
    assert(first == second, s"replay changed the sink: $first -> $second")
    assert(first._1 == events.count())
  }

  test("backfill with corrected values replaces rows by key, count unchanged") {
    val path = Files.createTempDirectory("graft_upsert").toString + "/sink"
    Upsert.upsertDatePartitioned(spark, path, events, Seq("event_id"))
    val before = spark.read.parquet(path).count()
    // correct one day's values (the backfill): same keys, value*2
    val day = events.filter(to_date(col("ts")) === lit("2024-01-05").cast("date"))
    assert(day.count() > 0)
    Upsert.upsertDatePartitioned(spark, path, day.withColumn("value", col("value") * 2),
      Seq("event_id"))
    val after = spark.read.parquet(path)
    assert(after.count() == before, "backfill changed the row count")
    val corrected = after.filter(col("event_date") === lit("2024-01-05").cast("date"))
      .agg(sum("value")).collect().head.getDouble(0)
    val expected = day.agg(sum(col("value") * 2)).collect().head.getDouble(0)
    assert(math.abs(corrected - expected) < 1e-6, "values not replaced")
  }

  test("mixed batch: new keys insert, old keys update, within-batch dups resolve to latest") {
    val path = Files.createTempDirectory("graft_upsert").toString + "/sink"
    val base = events.filter(col("event_id") < 500)
    Upsert.upsertDatePartitioned(spark, path, base, Seq("event_id"))
    val nBase = base.count()
    // batch = 100 updates + 100 inserts, each key duplicated with an
    // older-ts variant that must lose
    val updates = events.filter(col("event_id") >= 400 && col("event_id") < 600)
      .withColumn("event_type", lit("upserted"))
    val stale = updates.withColumn("ts", col("ts") - expr("INTERVAL 1 HOUR"))
      .withColumn("event_type", lit("stale_must_lose"))
    Upsert.upsertDatePartitioned(spark, path, updates.unionByName(stale), Seq("event_id"))
    val sink = spark.read.parquet(path)
    assert(sink.count() == nBase + 100)
    assert(sink.select(countDistinct("event_id")).collect().head.getLong(0) == nBase + 100)
    assert(sink.filter(col("event_type") === "stale_must_lose").count() == 0)
    assert(sink.filter(col("event_type") === "upserted").count() == 200)
  }

  test("untouched partitions are not rewritten (file mtimes unchanged)") {
    val path = Files.createTempDirectory("graft_upsert").toString + "/sink"
    Upsert.upsertDatePartitioned(spark, path, events, Seq("event_id"))
    def mtimes(date: String): Map[String, Long] = {
      val d = new java.io.File(s"$path/event_date=$date")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val otherDates = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      .map(_.getName.stripPrefix("event_date=")).filterNot(_ == "2024-01-05")
    assert(otherDates.nonEmpty)
    val before = otherDates.map(d => d -> mtimes(d)).toMap
    Thread.sleep(1100) // FS mtime granularity
    val day = events.filter(to_date(col("ts")) === lit("2024-01-05").cast("date"))
    Upsert.upsertDatePartitioned(spark, path, day, Seq("event_id"))
    otherDates.foreach { d =>
      assert(mtimes(d) == before(d), s"partition $d was rewritten by an unrelated upsert")
    }
  }

  test("streaming foreachBatch upsert: overlapping micro-batches, exactly-once keyed effect") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("graft_upsert_stream").toString
    val path = s"$base/sink"
    val input = MemoryStream[(Long, String, Double)]
    val stream = input.toDF().toDF("event_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(lit(1704067200000000L) + col("event_id") * 1000000L))
    val q = ReportMaintenance.maintainOnIngest(stream, path, s"$base/report",
      Seq("event_id"), s"$base/ckpt")
    try {
      input.addData((1L, "a", 1.0), (2L, "a", 1.0))
      q.processAllAvailable()
      // batch 2 overlaps key 2 (corrected value) and adds key 3
      input.addData((2L, "b", 9.0), (3L, "b", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val sink = spark.read.parquet(path).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("event_type"), r.getAs[Double]("value"))).toMap
    assert(sink.keySet == Set(1L, 2L, 3L))
    assert(sink(2L) == ("b", 9.0), s"overlapping key not upserted: ${sink(2L)}")
  }

  test("concurrent merges into one sink serialize through the lock and lose nothing") {
    // two writers, disjoint key ranges, racing into the same sink —
    // without the sibling lock file the loser's read-merge-publish
    // window could swallow the winner's rows (plain parquet has no
    // optimistic concurrency; Iceberg/Delta would provide this at the
    // format layer)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = Files.createTempDirectory("graft_upsert_cc").toString + "/sink"
    // seed the sink so both racers take the merge path, not first-load
    Upsert.upsertDatePartitioned(spark, path,
      events.filter(col("event_id") < 100), Seq("event_id"))
    val a = events.filter(col("event_id") >= 100 && col("event_id") < 300)
    val b = events.filter(col("event_id") >= 300 && col("event_id") < 500)
    val fa = Future(Upsert.upsertDatePartitioned(spark, path, a, Seq("event_id")))
    val fb = Future(Upsert.upsertDatePartitioned(spark, path, b, Seq("event_id")))
    Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
    val got = spark.read.parquet(path).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val want = events.filter(col("event_id") < 500).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == want,
      s"concurrent merge lost ${(want -- got).size} rows, invented ${(got -- want).size}")
    // the lock is released afterwards
    assert(!new java.io.File(s"${path}__merge_lock").exists(), "lock leaked")
  }

  test("a stale lock (crashed writer) is broken, not waited on forever") {
    val path = Files.createTempDirectory("graft_upsert_stale").toString + "/sink"
    val lock = new java.io.File(s"${path}__merge_lock")
    lock.getParentFile.mkdirs()
    assert(lock.createNewFile())
    lock.setLastModified(System.currentTimeMillis() - 3600_000L) // 1 h old
    // must break the stale lock and complete the merge
    Upsert.upsertDatePartitioned(spark, path,
      events.filter(col("event_id") < 50), Seq("event_id"))
    assert(spark.read.parquet(path).count() == 50)
    assert(!lock.exists(), "stale lock not cleaned up")
  }

  test("filesPerDate caps per-date file count (and >1 splits big dates)") {
    val d1 = Files.createTempDirectory("graft_fpd").toString
    EventSink.writeDatePartitioned(events, d1, filesPerDate = 3)
    val dates = new java.io.File(d1).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
    assert(dates.nonEmpty)
    val counts = dates.map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(counts.forall(c => c >= 1 && c <= 3), s"file counts: ${counts.mkString(",")}")
    assert(counts.exists(_ > 1), "filesPerDate=3 never produced more than one file")
  }
}
