package graft

import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions
import graft.operators.{DedupOps, SketchRollup}
import graft.sources.Tables

/** The TypedImperativeAggregate sketch plane (SketchAgg.scala +
  * SketchRollup.scala): bit-compatibility with the relational minhash
  * plane, exact mergeability, estimator accuracy, and the
  * ObjectHashAggregate partial-agg plan shape.
  */
class SketchAggSpec extends SparkTestBase {

  test("MinHashAgg is bit-identical to the relational min(xxhash64(h, i)) plane") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), DedupOps.tokensCol.as("toks"))
    // relational k=64 signature (the DedupOps.docSketches hash chain)
    val rel = DedupOps.docSketches(docs)
      .select(col("doc_id"),
        array((0 until DedupOps.K).map(i => col(s"m$i")): _*).as("sig"))
    // imperative: same exploded token-hash rows through MinHashAgg
    val imp = docs
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy("doc_id")
      .agg(SketchFunctions.minhashAgg(col("h"), DedupOps.K).as("sig"))
    val diff = rel.as("r").join(imp.as("i"), "doc_id")
      .filter(col("r.sig") =!= col("i.sig"))
    assert(diff.count() == 0, "imperative sketch differs from relational plane")
    assert(rel.count() == imp.count())
  }

  test("minhash_merge of per-day sketches is BIT-IDENTICAL to sketching raw rows directly") {
    val daily = SketchRollup.dailySketches(spark, sf)
    val merged = daily.groupBy("event_type")
      .agg(SketchFunctions.minhashMerge(col("sig"), SketchRollup.K).as("sig"))
    val direct = Tables.events(spark, sf)
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .groupBy("event_type")
      .agg(SketchFunctions.minhashAgg(col("h"), SketchRollup.K).as("sig"))
    val diff = merged.as("m").join(direct.as("d"), "event_type")
      .filter(col("m.sig") =!= col("d.sig"))
    assert(diff.count() == 0, "merged-of-daily != direct sketch")
    assert(merged.count() == direct.count())
  }

  test("sketch_rollup estimate within 12% of exact distinct users per event_type") {
    val est = SketchRollup.sketchRollup(spark, sf)
      .select("event_type", "est_users")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (et, n) =>
      val e = est(et)
      val err = math.abs(e - n).toDouble / n
      assert(err < 0.12, s"$et: est $e vs exact $n (err ${err * 100}%)")
    }
  }

  test("sketch agg plans as ObjectHashAggregate with partial aggregation across partitions") {
    val df = Tables.events(spark, sf)
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .repartition(7) // force a multi-partition partial->final merge
      .groupBy("event_type")
      .agg(SketchFunctions.minhashAgg(col("h"), 64).as("sig"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
    // partial state crossed a shuffle and merged; result must equal 1-partition run
    val one = Tables.events(spark, sf)
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .coalesce(1)
      .groupBy("event_type")
      .agg(SketchFunctions.minhashAgg(col("h"), 64).as("sig"))
    assert(df.as("a").join(one.as("b"), "event_type")
      .filter(col("a.sig") =!= col("b.sig")).count() == 0)
  }

  test("SimHashAgg is bit-identical to the relational lane-packed formulation") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), DedupOps.tokensCol.as("toks"))
    val typed = DedupOps.simhashSignatures(docs)
    val rel = DedupOps.simhashSignaturesRelational(docs)
    val diff = typed.as("t").join(rel.as("r"), "doc_id")
      .filter(col("t.sim") =!= col("r.sim"))
    assert(diff.count() == 0, "typed simhash differs from relational plane")
    assert(typed.count() == rel.count() && typed.count() > 0)
  }

  test("sketch aggregates are SQL-callable (build + merge + simhash)") {
    Tables.events(spark, sf).createOrReplaceTempView("ev_sql")
    val sql = spark.sql(
      """WITH daily AS (
        |  SELECT event_type, to_date(ts) AS d, minhash_sketch(xxhash64(user_id), 64) AS sig
        |  FROM ev_sql GROUP BY 1, 2)
        |SELECT event_type, minhash_merge(sig, 64) AS sig FROM daily GROUP BY 1""".stripMargin)
    val df = Tables.events(spark, sf)
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .groupBy("event_type")
      .agg(SketchFunctions.minhashAgg(col("h"), 64).as("sig"))
    assert(sql.as("a").join(df.as("b"), "event_type")
      .filter(col("a.sig") =!= col("b.sig")).count() == 0)
    val sim = spark.sql(
      "SELECT simhash_agg(xxhash64(user_id)) AS s FROM ev_sql").head().getLong(0)
    assert(sim != 0L)
  }

  test("incremental day-wise appends == one-shot build (bit-identical rollup)") {
    val base = java.nio.file.Files.createTempDirectory("graft_sketch_inc").toString
    val inc = s"$base/inc"
    val days = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0).toString).sorted
    assert(days.size > 2)
    val ev = Tables.events(spark, sf)
    days.foreach(d => SketchRollup.appendDayFrom(spark, ev, d, inc))
    // replay one mid-stream day: must be a no-op
    SketchRollup.appendDayFrom(spark, ev, days(days.size / 2), inc)
    val fromInc = spark.read.parquet(inc)
      .groupBy("event_type")
      .agg(SketchFunctions.minhashMerge(col("sig"), SketchRollup.K).as("sig"),
        sum("n_events").as("n"))
    val oneShot = SketchRollup.dailySketches(spark, sf)
      .groupBy("event_type")
      .agg(SketchFunctions.minhashMerge(col("sig"), SketchRollup.K).as("sig"),
        sum("n_events").as("n"))
    assert(fromInc.as("a").join(oneShot.as("b"), "event_type")
      .filter(col("a.sig") =!= col("b.sig") || col("a.n") =!= col("b.n"))
      .count() == 0)
    assert(fromInc.count() == oneShot.count())
  }

  test("sketch-on-ingest: streaming upsert keeps sink AND sketch table converged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val input = MemoryStream[(Long, Long, String, Double)]
    val stream = input.toDF().toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(lit(1704067200000000L) +
        (col("event_id") % 3) * 86400000000L + col("event_id") * 1000000L))
      .withColumn("props", lit("{}"))
    val q = SketchRollup.maintainOnIngest(stream, s"$base/sink", s"$base/sketch",
      Seq("event_id"), s"$base/ckpt")
    try {
      input.addData((1 to 40).map(i => (i.toLong, i.toLong % 7, "a", 1.0)): _*)
      q.processAllAvailable()
      // overlapping replay-ish batch: 20 corrected rows + 20 new, other type
      input.addData((21 to 60).map(i => (i.toLong, i.toLong % 5, "b", 2.0)): _*)
      q.processAllAvailable()
    } finally q.stop()
    // sink is keyed-unique
    val sink = spark.read.parquet(s"$base/sink")
    assert(sink.count() == 60)
    assert(sink.select(countDistinct("event_id")).head().getLong(0) == 60)
    // the streaming-maintained sketch table == one-shot build over the
    // final sink contents, bit for bit
    val streamed = spark.read.parquet(s"$base/sketch")
    val oneShot = sink
      .select(col("event_type"), to_date(col("ts")).as("event_date"),
        xxhash64(col("user_id")).as("h"))
      .groupBy("event_type", "event_date")
      .agg(SketchFunctions.minhashAgg(col("h"), SketchRollup.K).as("sig"),
        count(lit(1)).as("n_events"))
    assert(streamed.count() == oneShot.count() && streamed.count() > 0)
    assert(streamed.as("a")
      .join(oneShot.as("b"), Seq("event_type", "event_date"))
      .filter(col("a.sig") =!= col("b.sig") || col("a.n_events") =!= col("b.n_events"))
      .count() == 0, "streaming-maintained sketch diverged from one-shot build")
  }

  test("empty group evals to null sketch, empty input to zero rows") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("g", "h")
      .groupBy("g").agg(SketchFunctions.minhashAgg(col("h"), 8).as("sig"))
    assert(empty.count() == 0)
    val allNull = Seq(("a", Option.empty[Long])).toDF("g", "h")
      .groupBy("g").agg(SketchFunctions.minhashAgg(col("h"), 8).as("sig"))
    val row = allNull.collect()(0)
    assert(row.isNullAt(1), "all-null input group should eval to null sketch")
  }
}
