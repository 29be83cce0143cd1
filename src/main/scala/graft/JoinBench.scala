package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench.{median, timeIt}
import graft.sources.Tables

/** Join-strategy bench (BASELINE.md addendum): the customer-side star
  * query under (a) broadcast dims, (b) forced shuffle SMJ, (c)
  * pre-bucketed fact tables (orderkey bucketing pays the orders ⋈
  * lineitem shuffle at write time). Prints one JSON line with median
  * seconds per variant.
  *
  * What this measures FOR, at 100 TB: the broadcast/SMJ crossover is
  * the size of the dim side vs executor memory; the bucketed variant
  * is the steady-state answer for the fact⋈fact hop that no broadcast
  * can ever cover. The recorded numbers anchor those claims on this
  * hardware instead of folklore.
  */
object JoinBench {

  /** top10-shaped star: lineitem ⋈ orders (orderkey) ⋈ customer
    * (custkey) → revenue per customer → top 10.
    */
  private def star(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      bcastDims: Boolean): DataFrame = {
    val cust = if (bcastDims) broadcast(customer) else customer
    lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust.select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .orderBy(col("rev").desc, col("c_custkey"))
      .limit(10)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.create(
      confs = Seq("spark.sql.warehouse.dir" -> "/tmp/graft-joinbench-warehouse"))

    val lineitem = Tables.lineitem(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)

    // one-time bucketed layout (4 buckets ~= dataset/cores balance at
    // this SF; production sizes buckets to ~128 MB each)
    Seq("jb_orders", "jb_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(s"/tmp/graft-joinbench-warehouse/$t")
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    val nBuckets = cpus
    val tBucketBuild = timeIt {
      orders.write.bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("jb_orders")
      lineitem.write.bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("jb_lineitem")
    }

    def run(name: String)(build: => DataFrame): (String, Double) = {
      build.collect() // warm codegen/JIT for this exact plan
      val times = (1 to 3).map(_ => timeIt(build.collect()))
      name -> median(times)
    }

    // conf must hold across the COLLECTS (plans resolve at action
    // time), so scope it around the whole timed run
    def noBroadcast[T](f: => T): T = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    val results = Seq(
      run("broadcast_dim") {
        star(lineitem, orders, customer, bcastDims = true)
      },
      noBroadcast(run("smj_all") {
        star(lineitem, orders, customer, bcastDims = false)
      }),
      run("bucketed_fact_bcast_dim") {
        star(spark.table("jb_lineitem"), spark.table("jb_orders"), customer, bcastDims = true)
      },
      noBroadcast(run("bucketed_fact_smj_dim") {
        star(spark.table("jb_lineitem"), spark.table("jb_orders"), customer, bcastDims = false)
      }))

    val js = results.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    println(s"""{"metric":"join_variants","unit":"sec","bucket_build_sec":$tBucketBuild,"variants":$js,"sf":"$sfDir","cpus":$cpus}""")
    spark.stop()
  }
}
