package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Det.r4
import graft.sources.Tables
import graft.streaming.BurnRateStream

/** Independent equivalence check for `BurnRateStream`: its alerts must
  * equal, row for row, those of a separately written reference — the
  * two-burn form the library used before the join-free chain (minute
  * pre-agg feeding a tumbling-hour fast burn AND a minute-grain 6 h
  * sliding slow burn, met in an equi-join on (type, window end)). The
  * reference shares no expression with the library beyond `r4`, so a
  * wrong rewrite of the chain cannot pass by construction.
  *
  * Inputs:
  *   - generated events: several types, empty hours before and inside
  *     a 6 h window, values exactly on the 50 / 150 breach bounds,
  *     hours with a single minute, several events per minute;
  *   - the sf0.1 events with two incidents added, so alerts fire.
  */
class BurnRateEquivalenceSpec extends SparkTestBase {

  private val Base = 1704067200000000L // 2024-01-01 00:00:00 UTC in µs
  private val MinuteUs = 60000000L

  /** The reference: the join form, written against raw columns. */
  private def referenceAlerts(events: DataFrame): DataFrame = {
    val breach = col("v") < 50 || col("v") > 150
    val minutes = events
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(avg("value").as("v"))
    val fast = minutes
      .groupBy(window(col("window"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(when(breach, 1L).otherwise(0L)).as("b"))
      .select(col("window"), col("event_type"),
        (col("b") * lit(1.0) / col("n") / lit(0.01)).as("fast"))
    val slow = minutes
      .groupBy(window(col("window"), "6 hours", "1 hour").as("w6"),
        col("event_type").as("t6"))
      .agg(count(lit(1)).as("n6"), sum(when(breach, 1L).otherwise(0L)).as("b6"))
      .select(col("w6"), col("t6"),
        (col("b6") * lit(1.0) / col("n6") / lit(0.01)).as("slow"))
    fast.join(slow, col("event_type") === col("t6") && col("window.end") === col("w6.end"))
      .where(col("fast") >= 100.0 && col("slow") >= 85.0)
      .select(col("event_type"), col("window.start").as("alert_hour"),
        r4(col("fast")).as("fast"), r4(col("slow")).as("slow"))
  }

  private def rows(df: DataFrame): Seq[(String, String, Double, Double)] =
    df.select("event_type", "alert_hour", "fast", "slow").collect().toSeq
      .map((r: Row) => (r.getString(0), r.getTimestamp(1).toInstant.toString,
        r.getDouble(2), r.getDouble(3)))
      .sorted

  /** (event_type, µs offset from Base, value) rows of one generated
    * type over 20 hours. Each hour is empty, a single minute, healthy,
    * breaching (every minute's events on one side of the bounds) or
    * nearly breaching (one minute exactly on 50 or 150, which is not a
    * breach). An incident span of breaching-leaning hours makes the
    * slow burn cross its threshold, with gaps and near-misses inside.
    */
  private val edgeValues = Gen.oneOf(50.0, 150.0, 49.0, 151.0, 100.0, 10.0, 300.0)
  private def genMinute(m: Long, values: Gen[Double]): Gen[Seq[(Long, Double)]] =
    Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, values)).map(_.map(v => (m, v)))
  private def genHour(mode: Int): Gen[Seq[(Long, Double)]] = {
    def minutes(values: Long => Gen[Double]) = for {
      n <- Gen.choose(20, 60)
      ms <- Gen.pick(n, 0L until 60L)
      evs <- Gen.sequence[Seq[Seq[(Long, Double)]], Seq[(Long, Double)]](
        ms.sorted.map(m => genMinute(m, values(m))))
    } yield evs.flatten
    val low = Gen.oneOf(10.0, 49.0, 49.99)
    val high = Gen.oneOf(150.01, 151.0, 300.0)
    mode match {
      case 0 => Gen.const(Seq.empty)
      case 1 => Gen.choose(0L, 59L).flatMap(m => genMinute(m, edgeValues))
      case 2 => minutes(m => if (m % 2 == 0) low else high)
      case 3 => Gen.oneOf(50.0, 150.0).flatMap(edge =>
        minutes(m => if (m % 7 == 3) Gen.const(edge) else high))
      case _ => minutes(_ => Gen.frequency(3 -> Gen.const(100.0), 1 -> edgeValues))
    }
  }
  private val genType: Gen[Seq[(Long, Double)]] = for {
    start <- Gen.choose(0, 8)
    len <- Gen.choose(4, 12)
    modes <- Gen.sequence[Seq[Int], Int]((0 until 20).map(h =>
      if (h >= start && h < start + len)
        Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1), 8 -> Gen.const(2), 1 -> Gen.const(3))
      else Gen.frequency(2 -> Gen.const(0), 1 -> Gen.const(1), 4 -> Gen.const(4))))
    hours <- Gen.sequence[Seq[Seq[(Long, Double)]], Seq[(Long, Double)]](modes.map(genHour))
  } yield hours.zipWithIndex.flatMap { case (evs, h) =>
    evs.map { case (m, v) => ((h * 60L + m) * MinuteUs + 1000L * h, v) }
  }

  private def generated(seeds: Seq[Long]): Seq[(String, Long, Double)] =
    for {
      s <- seeds
      t <- 0 until 4
      (us, v) <- genType.pureApply(Gen.Parameters.default, Seed(s * 31 + t))
    } yield (s"s${s}_t$t", us, v)

  private def shape(df: DataFrame): DataFrame = df
    .toDF("event_type", "us", "value")
    .withColumn("ts", timestamp_micros(lit(Base) + col("us")))
    .drop("us")

  test("alerts == join-form reference on generated events (gaps, 50/150 bounds, 1-minute hours)") {
    import spark.implicits._
    val evs = generated(1L to 12L)
    // the generator must actually produce the edge cases it claims
    val hoursOf = evs.groupBy(e => (e._1, e._2 / (60 * MinuteUs)))
    assert(evs.exists(_._3 == 50.0) && evs.exists(_._3 == 150.0))
    assert(hoursOf.values.exists(_.map(e => e._2 / MinuteUs).distinct.size == 1),
      "no single-minute hour generated")
    assert(evs.groupBy(_._1).values.exists { es =>
      val hs = es.map(_._2 / (60 * MinuteUs)).toSet
      (hs.min to hs.max).exists(h => !hs.contains(h))
    }, "no empty hour inside a type's span")
    val df = shape(evs.toDF())
    val got = rows(BurnRateStream.alerts(df))
    val want = rows(referenceAlerts(df))
    assert(want.size >= 10, s"generated input fires too few alerts (${want.size})")
    assert(got == want, s"alerts diverged: only stream ${got.diff(want).take(5)}, " +
      s"only reference ${want.diff(got).take(5)}")
  }

  test("streaming alerts == join-form reference on generated events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = generated(Seq(3L, 7L, 11L))
    val in = MemoryStream[(String, Long, Double)]
    val q = BurnRateStream.dedupForDelivery(BurnRateStream.alertWindows(shape(in.toDF())))
      .writeStream.format("memory").queryName("burn_equiv")
      .outputMode("append").start()
    try {
      in.addData(evs: _*)
      q.processAllAvailable()
      // far-future sentinels move the watermark past every window
      (1 to 3).foreach { i =>
        in.addData(("zz_sentinel", (60L * 24 * 30 + i) * MinuteUs, 100.0))
        q.processAllAvailable()
      }
    } finally q.stop()
    val want = rows(referenceAlerts(shape(evs.toDF())))
    assert(want.nonEmpty)
    assert(rows(spark.table("burn_equiv")) == want)
  }

  test("alerts == join-form reference on sf0.1 events with incidents added") {
    import spark.implicits._
    // the sf0.1 fixture, beside the unit-scale one
    val events = Tables.events(spark, new java.io.File(sf).getParent + "/sf0.1")
      .select("event_type", "ts", "value")
    // a 9-hour every-minute outage of `error` (fires once the 6 h
    // share passes 85%), a 3-hour one of `view` (too short for the
    // slow burn) and a `click` stretch with a healthy minute in ten
    // (never 100% fast); the fixture's own events mix into each minute
    val day = 1704067200000000L + 10L * 86400000000L
    val incidents = (
      (0L until 9 * 60).map(m => ("error", day + m * MinuteUs + 7L, 1000.0)) ++
      (0L until 3 * 60).map(m => ("view", day + 86400000000L + m * MinuteUs, 1.0)) ++
      (0L until 8 * 60).map(m => ("click", day + 2 * 86400000000L + m * MinuteUs,
        if (m % 10 == 0) 100.0 else 20.0))
    ).toDF("event_type", "us", "value")
      .select(col("event_type"), timestamp_micros(col("us")).as("ts"), col("value"))
    val df = events.unionByName(incidents)
    val got = rows(BurnRateStream.alerts(df))
    val want = rows(referenceAlerts(df))
    assert(want.exists(_._1 == "error") && !want.exists(_._1 == "click"),
      s"incidents did not fire: $want")
    assert(got == want, s"alerts diverged: only stream ${got.diff(want).take(5)}, " +
      s"only reference ${want.diff(got).take(5)}")
  }
}
