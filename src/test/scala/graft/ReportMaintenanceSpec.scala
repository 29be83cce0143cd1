package graft

import org.apache.spark.sql.functions._

import graft.operators.{QuantileRollup, ReportMaintenance, SketchRollup, SliQueries}
import graft.sources.{EventSink, Tables, Upsert}

/** Exact materialized-view maintenance of the day report
  * (ReportMaintenance): incremental == one-shot == direct, correction
  * via upsert converges, replay is a no-op, and the served query never
  * touches the raw fact table.
  */
class ReportMaintenanceSpec extends SparkTestBase {

  private def distinctDays(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0).toString).sorted.toSeq

  test("maintained day report == direct slo_day_report, value for value") {
    val served = ReportMaintenance.sloReportMaintained(spark, sf).collect()
    val direct = SliQueries.sloDayReport(spark, sf).collect()
    assert(served.length == direct.length && served.length > 0)
    served.zip(direct).foreach { case (s, d) =>
      assert(s == d, s"maintained row $s != direct row $d")
    }
  }

  test("day-wise incremental build is bit-identical to the one-shot build") {
    val base = java.nio.file.Files.createTempDirectory("graft_report_inc").toString
    val inc = s"$base/inc"
    val ev = Tables.events(spark, sf)
    val days = distinctDays(ev)
    assert(days.size > 2)
    // simulate the daily ETL: one refresh per day, oldest first
    days.foreach(d => ReportMaintenance.refreshDays(spark, ev, Seq(d), inc))
    // replay a mid-stream day: must be a no-op
    ReportMaintenance.refreshDays(spark, ev, Seq(days(days.size / 2)), inc)
    val fromInc = spark.read.parquet(inc)
    val oneShot = ReportMaintenance.dayStats(ev)
    assert(fromInc.count() == oneShot.count() && fromInc.count() > 0)
    assert(fromInc.as("a")
      .join(oneShot.as("b"), Seq("event_date", "event_type"))
      .filter(col("a.n") =!= col("b.n") ||
        col("a.sum_value") =!= col("b.sum_value") ||
        col("a.min_value") =!= col("b.min_value") ||
        col("a.max_value") =!= col("b.max_value"))
      .count() == 0, "incremental table diverged from one-shot build")
  }

  test("upsert correction: refreshing only affected days reconverges with direct") {
    val base = java.nio.file.Files.createTempDirectory("graft_report_upd").toString
    val sink = s"$base/sink"
    val report = s"$base/report"
    val ev = Tables.events(spark, sf)
    // initial load + full report build
    Upsert.upsertDatePartitioned(spark, sink, ev, Seq("event_id"))
    val days = distinctDays(ev)
    ReportMaintenance.refreshDays(spark, spark.read.parquet(sink), days, report)
    // correction batch: re-ingest one day's rows with doubled values
    val day = days(1)
    val correction = ev.filter(to_date(col("ts")) === lit(day).cast("date"))
      .withColumn("value", col("value") * 2)
    Upsert.upsertDatePartitioned(spark, sink, correction, Seq("event_id"))
    ReportMaintenance.refreshDays(spark, spark.read.parquet(sink), Seq(day), report)
    // maintained == direct over the post-merge sink, bit for bit
    val maintained = spark.read.parquet(report)
    val direct = ReportMaintenance.dayStats(spark.read.parquet(sink))
    assert(maintained.count() == direct.count())
    assert(maintained.as("a")
      .join(direct.as("b"), Seq("event_date", "event_type"))
      .filter(col("a.n") =!= col("b.n") ||
        col("a.sum_value") =!= col("b.sum_value") ||
        col("a.min_value") =!= col("b.min_value") ||
        col("a.max_value") =!= col("b.max_value"))
      .count() == 0, "maintained report diverged after upsert correction")
    // and the corrected day really changed (sum doubled)
    val before = ReportMaintenance.dayStats(ev)
      .filter(col("event_date") === lit(day).cast("date"))
      .agg(sum("sum_value")).head().getDouble(0)
    val after = maintained
      .filter(col("event_date") === lit(day).cast("date"))
      .agg(sum("sum_value")).head().getDouble(0)
    assert(math.abs(after - 2 * before) < 1e-6 * math.abs(before),
      s"corrected day sum $after != 2 × original $before")
  }

  test("day recomputes over the date-partitioned sink read only the listed days") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val base = java.nio.file.Files.createTempDirectory("graft_report_prune").toString
    val sink = s"$base/sink"
    val ev = Tables.events(spark, sf)
    EventSink.writeDatePartitioned(ev, sink) // one file per day
    val days = distinctDays(ev)
    val picked = Seq(days(1), days(days.size / 2))
    assert(days.size > picked.size + 1)
    // every scan of the sink made by the three day recomputes
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[FileSourceScanExec]()
    val helper = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        helper.collect(qe.executedPlan) {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.endsWith(sink)) => s
        }.foreach(scans.add)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val sinkDf = spark.read.parquet(sink)
      ReportMaintenance.refreshDays(spark, sinkDf, picked, s"$base/report")
      SketchRollup.appendDayFrom(spark, sinkDf, picked.head, s"$base/sketch")
      QuantileRollup.appendDayFrom(spark, sinkDf, picked.head, s"$base/quantile")
      eventually(timeout(30.seconds)) { assert(scans.size >= 3) }
    } finally spark.listenerManager.unregister(listener)
    scans.forEach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "event_date")),
        s"no event_date partition filter on the sink scan:\n$s")
      val files = s.metrics("numFiles").value
      assert(files >= 1 && files <= picked.size,
        s"sink scan read $files files for ${picked.size} days (of ${days.size})")
    }
    // and the pruned refresh still equals the one-shot build on those days
    val report = spark.read.parquet(s"$base/report")
    val direct = ReportMaintenance.dayStats(ev)
      .filter(col("event_date").isInCollection(picked.map(java.sql.Date.valueOf)))
    assert(report.count() == direct.count() &&
      report.exceptAll(direct.select(report.columns.map(col): _*)).isEmpty)
  }

  test("report-on-ingest: streaming upsert keeps sink AND report table converged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_report_stream").toString
    val input = MemoryStream[(Long, Long, String, Double)]
    val stream = input.toDF().toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(lit(1704067200000000L) +
        (col("event_id") % 3) * 86400000000L + col("event_id") * 1000000L))
      .withColumn("props", lit("{}"))
    val q = ReportMaintenance.maintainOnIngest(stream, s"$base/sink", s"$base/report",
      Seq("event_id"), s"$base/ckpt")
    try {
      input.addData((1 to 40).map(i => (i.toLong, i.toLong % 7, "a", 1.0)): _*)
      q.processAllAvailable()
      // overlapping replay-ish batch: 20 corrected rows + 20 new
      input.addData((21 to 60).map(i => (i.toLong, i.toLong % 5, "b", 2.0)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val sink = spark.read.parquet(s"$base/sink")
    assert(sink.count() == 60)
    val maintained = spark.read.parquet(s"$base/report")
    val oneShot = ReportMaintenance.dayStats(sink)
    assert(maintained.count() == oneShot.count() && maintained.count() > 0)
    assert(maintained.as("a")
      .join(oneShot.as("b"), Seq("event_date", "event_type"))
      .filter(col("a.n") =!= col("b.n") ||
        col("a.sum_value") =!= col("b.sum_value") ||
        col("a.min_value") =!= col("b.min_value") ||
        col("a.max_value") =!= col("b.max_value"))
      .count() == 0, "streaming-maintained report diverged from one-shot build")
  }
}
