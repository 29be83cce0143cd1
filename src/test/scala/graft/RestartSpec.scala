package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Checkpointed restart semantics — the scheduled-incremental-job
  * pattern (`Trigger.AvailableNow` + checkpoint): each run processes
  * exactly the files that arrived since the last run, a restart after
  * new data resumes from the commit log (no loss), and a restart with
  * NO new data writes nothing (no dups). This is how the reference's
  * cron-style updater cadence maps onto Spark: same code, run N
  * times, exactly-once output across runs.
  */
class RestartSpec extends SparkTestBase {

  test("AvailableNow + checkpoint: two runs process two waves exactly once, idle run adds nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"

    def wave(ids: Range): Unit =
      ids.map(i => (i.toLong, s"e$i", i * 1.5)).toDF("event_id", "event_type", "value")
        .write.mode("append").parquet(src)

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .parquet(src)
        .withColumn("doubled", col("value") * 2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }

    wave(1 to 100)
    runOnce()
    assert(spark.read.parquet(out).count() == 100)

    wave(101 to 250)
    runOnce() // restart from the commit log: only the new files
    val afterTwo = spark.read.parquet(out)
    assert(afterTwo.count() == 250)
    assert(afterTwo.select(countDistinct("event_id")).head().getLong(0) == 250,
      "restart re-processed wave 1 — duplicate rows")

    runOnce() // idle restart: nothing new, nothing written
    assert(spark.read.parquet(out).count() == 250,
      "idle restart wrote rows")
    // the transform survived the whole lifecycle
    assert(spark.read.parquet(out)
      .filter(col("doubled") =!= col("value") * 2).count() == 0)
  }

  test("STATEFUL restart: the 3-stage burn-rate pipeline resumes RocksDB state across runs") {
    // The strong version of the restart contract: three chained
    // stateful stages (minute agg -> sliding 6-hour re-agg ->
    // watermark dedup) stopped MID-STREAM and resumed from
    // the checkpoint must recover every stage's RocksDB state and
    // still emit exactly the batch answer — no lost minutes, no
    // duplicated alerts, watermark restored from the commit log.
    import spark.implicits._
    import graft.streaming.BurnRateStream
    val BaseUs = 1704067200000000L // 2024-01-01 00:00 UTC in µs
    val base = java.nio.file.Files.createTempDirectory("graft_burn_restart").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"

    def rows(hours: Range, sentinel: Boolean = false) = {
      val fix = for {
        hour <- hours
        slot <- 0 until 10
        minute = hour * 60L + slot * 6
        (tpe, v) <- Seq(
          ("api", if (hour >= 2) 200.0 else 100.0),
          ("db", 100.0))
      } yield (tpe, minute, v)
      val sent = if (sentinel)
        (1 to 3).map(i => ("zz_sentinel", 60L * 24 * 30 + i, 100.0)) else Nil
      (fix ++ sent).toDF("event_type", "mins", "value")
        .withColumn("ts", timestamp_micros(lit(BaseUs) + col("mins") * 60000000L))
        .select("event_type", "ts", "value")
    }

    def runOnce(): Unit = {
      val in = spark.readStream
        .schema("event_type STRING, ts TIMESTAMP, value DOUBLE")
        .parquet(src)
      val q = BurnRateStream.dedupForDelivery(BurnRateStream.alertWindows(in))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(180000) finally q.stop()
    }

    // wave 1 stops mid-breach (hours 0-4): open minute windows, a
    // half-filled 6-hour window — all must survive the stop
    rows(0 until 5).write.mode("append").parquet(src)
    runOnce()
    // wave 2 completes the stream (hours 5-7) + watermark sentinel
    rows(5 until 8, sentinel = true).write.mode("append").parquet(src)
    runOnce()

    val got = spark.read.parquet(out)
      .filter(col("event_type") =!= "zz_sentinel")
      .select("event_type", "alert_hour", "fast", "slow")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString,
        r.getDouble(2), r.getDouble(3))).toSet
    assert(got == Set(("api", "2024-01-01T07:00:00Z", 100.0, 100.0)),
      s"restarted pipeline produced $got")

    // idle restart: nothing new arrives, nothing may be re-emitted
    runOnce()
    assert(spark.read.parquet(out)
      .filter(col("event_type") =!= "zz_sentinel").count() == 1,
      "idle restart duplicated an alert")
  }
}
