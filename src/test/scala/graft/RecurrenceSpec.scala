package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Affine2
import graft.operators.RecurrenceOps
import graft.sources.Tables

/** Law tests for the distributed linear-recurrence plane
  * (Affine2Compose + RecurrenceOps.affineScanBy): the two-pass sliced
  * scan must agree with (a) the one-task sequential window scan it
  * replaces and (b) a driver-side sequential replay of the raw
  * recurrence — at MINUTE grain, the corpus-proportional shape the
  * operator exists for (holt_smooth's own oracle covers the day
  * grain).
  */
class RecurrenceSpec extends SparkTestBase {

  private val alpha = 0.3
  private val beta = 0.2

  /** Per-type minute series with the Holt update map attached. */
  private def minuteMaps: DataFrame =
    Tables.events(spark, sf)
      .groupBy(col("event_type"),
        date_trunc("minute", col("ts")).as("m"))
      .agg(avg("value").as("x"))
      .withColumn("k",
        (unix_timestamp(col("m")) / 60L).cast("long"))
      .withColumn("__m", Affine2.affineMap(
        lit(1 - alpha), lit(1 - alpha),
        lit(-alpha * beta), lit(1 - alpha * beta),
        lit(alpha) * col("x"), lit(alpha * beta) * col("x")))

  private def states(df: DataFrame, mapCol: String): Map[(String, Long), (Double, Double)] =
    df.select(col("event_type"), col("k"),
        Affine2.applyTo(col(mapCol), col("x0"), lit(0.0)).as("s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getStruct(2).getDouble(0), r.getStruct(2).getDouble(1)))
      .toMap

  test("affineScanBy == sequential one-task window scan at minute grain") {
    val maps = minuteMaps
    val seeds = maps.groupBy("event_type").agg(min_by(col("x"), col("k")).as("x0"))
    val dist = RecurrenceOps
      .affineScanBy(maps, "event_type", "k", "__m", "__f")
      .join(broadcast(seeds), Seq("event_type"))
    val seq = maps
      .withColumn("__f", Affine2.composeScan(col("__m")).over(
        Window.partitionBy("event_type").orderBy("k")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(seeds), Seq("event_type"))
    val d = states(dist, "__f")
    val s = states(seq, "__f")
    assert(d.keySet == s.keySet)
    assert(d.nonEmpty && d.keySet.map(_._1).size == 5)
    // composed-matrix vs sequential association: reassociation-ulp
    // drift only (contractive A) — far inside the r4 grid
    d.foreach { case (key, (l1, b1)) =>
      val (l2, b2) = s(key)
      assert(math.abs(l1 - l2) < 1e-9 && math.abs(b1 - b2) < 1e-9,
        s"$key: dist ($l1,$b1) vs seq ($l2,$b2)")
    }
  }

  test("scan state == driver-side sequential replay of the raw recurrence") {
    val maps = minuteMaps
    val seeds = maps.groupBy("event_type").agg(min_by(col("x"), col("k")).as("x0"))
    val dist = states(
      RecurrenceOps.affineScanBy(maps, "event_type", "k", "__m", "__f")
        .join(broadcast(seeds), Seq("event_type")), "__f")
    val series = maps.select("event_type", "k", "x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(t => (t._2, t._3)).toSeq).toMap
    series.foreach { case (tpe, rows) =>
      var l = rows.head._2
      var b = 0.0
      rows.foreach { case (k, x) =>
        val lNew = alpha * x + (1 - alpha) * (l + b)
        b = beta * (lNew - l) + (1 - beta) * b
        l = lNew
        val (dl, db) = dist((tpe, k))
        assert(math.abs(dl - l) < 1e-9 && math.abs(db - b) < 1e-9,
          s"($tpe,$k): scan ($dl,$db) vs replay ($l,$b)")
      }
    }
  }

  test("affine monoid laws: identity and associativity of compose") {
    import spark.implicits._
    val df = Seq((1.0, 2.0, 0.5, -0.3, 4.0, 1.5),
        (0.2, -1.0, 3.0, 0.7, -2.0, 0.1))
      .toDF("a", "b", "c", "d", "e", "f")
      .withColumn("m1", Affine2.affineMap(col("a"), col("b"), col("c"),
        col("d"), col("e"), col("f")))
      .withColumn("m2", Affine2.affineMap(col("d"), col("e"), col("f"),
        col("a"), col("b"), col("c")))
      .withColumn("m3", Affine2.affineMap(col("c"), col("a"), col("d"),
        col("b"), col("f"), col("e")))
    val out = df.select(
      Affine2.applyTo(Affine2.compose(col("m1"), Affine2.identity), lit(1.0), lit(2.0)).as("idR"),
      Affine2.applyTo(Affine2.compose(Affine2.identity, col("m1")), lit(1.0), lit(2.0)).as("idL"),
      Affine2.applyTo(col("m1"), lit(1.0), lit(2.0)).as("raw"),
      Affine2.applyTo(Affine2.compose(Affine2.compose(col("m3"), col("m2")), col("m1")),
        lit(1.0), lit(2.0)).as("assocL"),
      Affine2.applyTo(Affine2.compose(col("m3"), Affine2.compose(col("m2"), col("m1"))),
        lit(1.0), lit(2.0)).as("assocR")).collect()
    out.foreach { r =>
      def p(i: Int) = (r.getStruct(i).getDouble(0), r.getStruct(i).getDouble(1))
      assert(p(0) == p(2) && p(1) == p(2), "identity law")
      val (al, ar) = (p(3), p(4))
      assert(math.abs(al._1 - ar._1) < 1e-12 && math.abs(al._2 - ar._2) < 1e-12,
        "associativity law")
    }
  }

  test("holt_smooth: row 1 is the seed fixpoint (level == day_avg, trend == 0)") {
    val first = RecurrenceOps.holtSmooth(spark, sf)
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("day")))
      .filter(col("rn") === 1)
      .collect()
    assert(first.length == 5)
    first.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(3),
        s"level ${r.getDouble(3)} != day_avg ${r.getDouble(2)}")
      assert(r.getDouble(4) == 0.0, s"trend ${r.getDouble(4)} != 0")
    }
  }
}
