package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{BurnRateStream, StatefulSessions, StreamJoins}

/** RocksDB state-store hardening (round-4): every stateful streaming
  * twin runs under RocksDBStateStoreProvider — the 100 TB state
  * configuration (the default HDFS-backed store holds state on the
  * executor HEAP; at production state sizes that is an OOM, while
  * RocksDB keeps state off-heap and spills to local disk) — with
  * PINNED state-size bounds proving watermark/timeout eviction keeps
  * state O(horizon), never O(stream history).
  *
  * The shared test session already defaults to RocksDB (SparkTestBase)
  * so every OTHER streaming suite exercises it too; this suite adds
  * the explicit provider proof (rocksdb* custom metrics in each
  * stateful operator's progress) and the eviction bounds on
  * long-stream fixtures. The sketch/IVF ingest sinks (foreachBatch)
  * are STATELESS by design — replay safety comes from idempotent
  * dynamic-partition overwrites, not store state — so they have no
  * state to bound; their replay proofs live in IvfStreamSpec /
  * SourceSinkSpec and run under the RocksDB default like everything
  * else.
  */
class StateStoreSpec extends SparkTestBase {

  /** Every stateful operator of a finished run must carry rocksdb*
    * custom metrics — the provider proof.
    */
  private def assertRocksDb(q: StreamingQuery): Unit = {
    val ops = q.lastProgress.stateOperators
    assert(ops.nonEmpty, "expected stateful operators in the progress")
    ops.foreach { op =>
      assert(op.customMetrics.keySet().asScala.exists(_.startsWith("rocksdb")),
        s"operator '${op.operatorName}' is not running on RocksDB: " +
          s"metrics ${op.customMetrics.keySet()}")
    }
  }

  private def maxStateRows(q: StreamingQuery): Long =
    q.lastProgress.stateOperators.map(_.numRowsTotal).max

  test("closedSessions under RocksDB: state is O(active users) across 10x session history") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StatefulSessions.closedSessions(in.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("rocks_sessions")
      .outputMode("append").start()
    val users = 10
    val rounds = 10 // 10 sessions/user — state must NOT grow with this
    var maxState = 0L
    val base = 1704067200000L // 2024-01-01 00:00 UTC
    try {
      (0 until rounds).foreach { r =>
        val t0 = base + r * 3600000L // rounds 1 h apart ⇒ gap > 30 min
        val evs = for { u <- 0 until users; k <- 0 until 3 }
          yield (u.toLong, new java.sql.Timestamp(t0 + u * 7L + k * 60000L))
        in.addData(evs)
        q.processAllAvailable()
        maxState = math.max(maxState, maxStateRows(q))
      }
      // far-future sentinel fires every pending event-time timer so the
      // final round's sessions emit and their state is removed
      in.addData((-1L, new java.sql.Timestamp(base + 30L * 86400000L)))
      q.processAllAvailable()
      in.addData((-1L, new java.sql.Timestamp(base + 60L * 86400000L)))
      q.processAllAvailable()
      assertRocksDb(q)
      val endState = maxStateRows(q)
      // after the flush only the sentinel's own open session may remain
      assert(endState <= 2, s"state not evicted after flush: $endState rows")
    } finally q.stop()
    val emitted = spark.table("rocks_sessions").filter(col("user_id") >= 0).count()
    assert(emitted == users * rounds,
      s"eviction lost sessions: $emitted != ${users * rounds}")
    // one open session per user, plus at most one round of eviction lag
    // (timers fire on the batch AFTER the watermark passes) — never the
    // 100 sessions of history
    assert(maxState <= 2L * users + 1,
      s"session state grew with history: max $maxState rows for $users users")
  }

  test("stream-stream interval join under RocksDB: state bounded by the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vIn = MemoryStream[(Long, java.sql.Timestamp)]
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val views = vIn.toDF().toDF("user_id", "ts")
    val purchases = pIn.toDF().toDF("user_id", "event_id", "ts")
    val q = StreamJoins.viewPurchasePairs(views, purchases)
      .writeStream.format("memory").queryName("rocks_pairs")
      .outputMode("append").start()
    val base = 1704067200000L
    val hours = 24
    val usersPerHour = 3
    var maxState = 0L
    // per user-hour: views at :05 and :25, purchase at :30 ⇒ 2 pairs
    def viewRows(h: Int) = for {
      u <- 1 to usersPerHour; m <- Seq(5L, 25L)
    } yield (u.toLong, new java.sql.Timestamp(base + h * 3600000L + m * 60000L))
    def purchaseRows(h: Int) = (1 to usersPerHour).map(u =>
      (u.toLong, h * 100L + u, new java.sql.Timestamp(base + h * 3600000L + 1800000L)))
    try {
      (0 until hours).grouped(4).foreach { chunk =>
        chunk.foreach { h => vIn.addData(viewRows(h)); pIn.addData(purchaseRows(h)) }
        q.processAllAvailable()
        maxState = math.max(maxState, maxStateRows(q))
      }
      assertRocksDb(q)
    } finally q.stop()
    val pairs = spark.table("rocks_pairs").count()
    assert(pairs == hours.toLong * usersPerHour * 2,
      s"join lost/duplicated pairs: $pairs")
    // total buffered rows ever fed = 24 h × 3 users × 3 rows = 216; the
    // 2-hour watermark (+ one 4-hour chunk of eviction lag) bounds live
    // state to the horizon, not the history
    val fed = hours.toLong * usersPerHour * 3
    assert(maxState < fed / 2 && maxState <= 120,
      s"join state not horizon-bounded: max $maxState of $fed fed rows")
  }

  test("burn-rate pipeline (3 stateful stages) under RocksDB: all stages evict") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val baseUs = 1704067200000000L
    // BurnRateStreamSpec's fixture: api breaches hours 2-7, db healthy
    val fixture: Seq[(String, Long, Double)] = for {
      hour <- 0L to 7L
      slot <- 0L until 10L
      minute = hour * 60 + slot * 6
      (tpe, v) <- Seq(
        ("api", if (hour >= 2) 200.0 else 100.0),
        ("db", 100.0))
    } yield (tpe, minute, v)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_type", "mins", "value")
      .withColumn("ts", timestamp_micros(lit(baseUs) + col("mins") * 60000000L))
      .drop("mins")
    val in = MemoryStream[(String, Long, Double)]
    val q = BurnRateStream.dedupForDelivery(BurnRateStream.alertWindows(shape(in.toDF())))
      .writeStream.format("memory").queryName("rocks_burn")
      .outputMode("append").start()
    try {
      in.addData(fixture: _*)
      q.processAllAvailable()
      (1 to 3).foreach { i =>
        in.addData(("zz_sentinel", 60L * 24 * 30 + i, 100.0))
        q.processAllAvailable()
      }
      assertRocksDb(q)
      val ops = q.lastProgress.stateOperators
      // the exact topology: minute and sliding-6h aggregations
      // plus the delivery dedup — no stream-stream join
      assert(ops.map(_.operatorName).toSeq.sorted ==
        Seq("dedupeWithinWatermark", "stateStoreSave", "stateStoreSave"),
        s"unexpected stateful operators ${ops.map(_.operatorName).toSeq}")
      // ...over ONE scan of the source per micro-batch
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(plan.collectLeaves().length == 1, s"source scanned more than once:\n$plan")
      // post-flush, every finalized window row and dedup key is gone —
      // only sentinel-era state may linger in each stage
      ops.foreach { op =>
        assert(op.numRowsTotal <= 30,
          s"stage '${op.operatorName}' kept ${op.numRowsTotal} state rows after flush")
      }
    } finally q.stop()
    val alerts = spark.table("rocks_burn")
      .select("event_type", "alert_hour").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString)).toSet
    assert(alerts == Set(("api", "2024-01-01T07:00:00Z")),
      s"pipeline under RocksDB produced $alerts")
  }
}
