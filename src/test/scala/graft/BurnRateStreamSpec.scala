package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.BurnRateStream

/** Streaming burn-rate alerting (BurnRateStream): the chained
  * minute→sliding-6h→dedup pipeline emits exactly the batch run
  * of the same expression, and the slow window provably suppresses a
  * spike the fast window alone would alert on.
  *
  * Fixture (base 2024-01-01 00:00 UTC, 10 sampled minutes per hour):
  *   "api": hours 0-1 healthy (v=100), hours 2-7 breaching (v=200)
  *     - fast = 100 from hour 2 on (every minute breaches)
  *     - slow (6-hour share) ending at hour h+1: h=6 → 50/60 = 83.3
  *       (< 85, suppressed), h=7 → 60/60 = 100 (alert)
  *   "db": all healthy → never alerts
  * ⇒ exactly ONE alert: ("api", hour 7).
  */
class BurnRateStreamSpec extends SparkTestBase {

  private val Base = 1704067200000000L // 2024-01-01 00:00:00 UTC in µs

  // (event_type, minutes-offset, value)
  private val fixture: Seq[(String, Long, Double)] = for {
    hour <- 0L to 7L
    slot <- 0L until 10L
    minute = hour * 60 + slot * 6
    (tpe, v) <- Seq(
      ("api", if (hour >= 2) 200.0 else 100.0),
      ("db", 100.0))
  } yield (tpe, minute, v)

  private def shape(df: DataFrame): DataFrame = df
    .toDF("event_type", "mins", "value")
    .withColumn("ts", timestamp_micros(lit(Base) + col("mins") * 60000000L))
    .drop("mins")

  private def batchEvents: DataFrame = {
    import spark.implicits._
    shape(fixture.toDF())
  }

  test("streaming alerts == batch run of the same expression (one alert, hour 7)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val in = MemoryStream[(String, Long, Double)]
    val q = BurnRateStream.dedupForDelivery(BurnRateStream.alertWindows(shape(in.toDF())))
      .writeStream.format("memory").queryName("burn_alerts")
      .outputMode("append").start()
    try {
      in.addData(fixture: _*)
      q.processAllAvailable()
      // sentinel batches: push the watermark far past every real
      // window so all three stateful stages flush (append mode emits
      // a window only once the watermark passes its end; the cascade
      // through chained stages needs a couple of no-data batches)
      (1 to 3).foreach { i =>
        in.addData(("zz_sentinel", 60L * 24 * 30 + i, 100.0))
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("burn_alerts")
      .select("event_type", "alert_hour", "fast", "slow")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString,
        r.getDouble(2), r.getDouble(3))).toSet
    val batch = BurnRateStream.alerts(batchEvents)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString,
        r.getDouble(2), r.getDouble(3))).toSet

    assert(batch == Set(("api", "2024-01-01T07:00:00Z", 100.0, 100.0)),
      s"batch twin produced $batch")
    assert(streamed == batch, s"streaming $streamed != batch $batch")
  }

  test("slow window discriminates: hour 6 fast-only spike is suppressed") {
    val breaches = when(col("v") < 50 || col("v") > 150, 1L).otherwise(0L)
    val byHour = BurnRateStream.minuteRollup(batchEvents)
      .filter(col("event_type") === "api")
      .groupBy(hour(col("window.start")).as("h"))
      .agg((sum(breaches) * 1.0 / count(lit(1)) / 0.01).as("fast"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // fast fires from hour 2 on — six hours the naive policy would page
    (2 to 7).foreach(h => assert(byHour(h) >= BurnRateStream.FastThreshold))
    (0 to 1).foreach(h => assert(byHour(h) == 0.0))
    // ...but the two-window policy pages exactly once
    val alerts = BurnRateStream.alerts(batchEvents).collect()
    assert(alerts.length == 1 && alerts.head.getString(0) == "api")
  }

  test("replayed source rows do not duplicate alerts (delivery dedup)") {
    // batch semantics of the dedup key: one row per (type, hour) even
    // if the upstream emitted twice
    import spark.implicits._
    val doubled = BurnRateStream.alerts(batchEvents)
      .unionAll(BurnRateStream.alerts(batchEvents))
    assert(doubled.count() == 2)
    assert(doubled.dropDuplicates("event_type", "alert_hour").count() == 1)
  }
}
