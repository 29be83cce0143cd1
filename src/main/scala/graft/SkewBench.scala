package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench.{median, timeIt}

/** Skew-join bench (BASELINE.md addendum): the same hot-key fact ⋈
  * uniform dim aggregate under (a) AQE skew-join split (the default
  * production answer), (b) AQE skew handling OFF — the straggler a
  * naive shuffle join becomes, and (c) SkewOps.saltedEquiJoin — the
  * explicit mitigation for pipelines where runtime re-planning is
  * unavailable or one key still chokes a task after splitting.
  *
  * Broadcast is disabled throughout: the dim side is deliberately
  * over the broadcast threshold in production (that is WHY the join
  * shuffles and the skew matters); letting it broadcast here would
  * measure nothing. Prints one JSON line with per-variant median
  * seconds and asserts all three variants return identical results.
  */
object SkewBench {

  private def agg(joined: DataFrame): DataFrame =
    joined.groupBy("bucket").agg(
      count(lit(1)).as("n"),
      round(sum("v"), 2).as("sum_v"))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_skew")
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    val spark = GraftSession.create(confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // AQE's skew thresholds assume production-sized partitions
      // (256 MB); at bench scale the whole fact is ~500 MB, so scale
      // the thresholds down proportionally or the splitter never
      // engages and variant (a) silently measures variant (b)
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m"))
    val fact = spark.read.parquet(s"$dir/fact.parquet")
    val dim = spark.read.parquet(s"$dir/dim.parquet")

    def plain(): DataFrame =
      agg(fact.join(dim.withColumnRenamed("k", "dk"), col("k") === col("dk")))
    def salted(): DataFrame =
      agg(graft.operators.SkewOps.saltedEquiJoin(
        fact, dim.withColumnRenamed("k", "dk"), "k", "dk", salt = 32))
    def saltedHot(): DataFrame =
      agg(graft.operators.SkewOps.saltedHotKeyJoin(
        fact, dim.withColumnRenamed("k", "dk"), "k", "dk", salt = 32,
        hotThreshold = 1000000L))

    def withSkewJoin(on: Boolean)(f: => Unit): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
      // forceOptimizeSkewedJoin: the agg on the join output introduces
      // an extra shuffle AQE normally refuses to re-balance around
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", on.toString)
      try f
      finally {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
      }
    }

    // correctness first: all three variants must agree exactly
    val expect = plain().collect().sortBy(_.getLong(0))
    val gotSalt = salted().collect().sortBy(_.getLong(0))
    require(expect.sameElements(gotSalt), "salted join diverged from plain")
    val gotHot = saltedHot().collect().sortBy(_.getLong(0))
    require(expect.sameElements(gotHot), "hot-key salted join diverged from plain")

    val aqeOn = median(Seq.fill(passes)(timeIt {
      withSkewJoin(on = true)(plain().collect())
    }))
    val aqeOff = median(Seq.fill(passes)(timeIt {
      withSkewJoin(on = false)(plain().collect())
    }))
    val saltTime = median(Seq.fill(passes)(timeIt {
      withSkewJoin(on = false)(salted().collect())
    }))
    val hotTime = median(Seq.fill(passes)(timeIt {
      withSkewJoin(on = false)(saltedHot().collect())
    }))
    println(s"""{"metric":"skew_join","unit":"sec","passes":$passes,""" +
      s""""aqe_skew_on":$aqeOn,"aqe_skew_off":$aqeOff,"salted32":$saltTime,""" +
      s""""salted_hot32":$hotTime,"dir":"$dir"}""")
    spark.stop()
  }
}
