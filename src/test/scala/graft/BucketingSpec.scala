package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Bucketing = the pre-paid shuffle (SURVEY §4): at 100 TB the
  * orders⋈lineitem shuffle dominates every star query, and bucketing
  * both fact tables by the join key at WRITE time removes it from
  * every subsequent read. This spec proves the engine actually gets
  * the shuffle-free plan (not just that bucketed tables can be
  * written): same join, bucketed inputs → zero Exchange operators,
  * identical results.
  */
class BucketingSpec extends SparkTestBase {

  test("bucketed equi-join runs shuffle-free and matches the unbucketed result") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority")
    val lineitem = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_extendedprice", "l_discount")

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // DROP TABLE only clears the in-memory catalog; a previous JVM's
    // managed-table directory would still fail LOCATION_ALREADY_EXISTS.
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    // bucket count must match on both sides (else Spark re-shuffles
    // one side unless bucket coalescing applies); sortBy pre-sorts
    // within buckets so even the SMJ sort is read-time free.
    orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    lineitem.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def joined(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("rev"))
          .orderBy("o_orderpriority")

      val bucketed = joined(spark.table("b_orders"), spark.table("b_lineitem"))
      val rows = bucketed.collect()
      val full = bucketed.queryExecution.executedPlan.toString
      // AdaptiveSparkPlan prints "== Final Plan ==" then "== Initial
      // Plan ==" (pre-AQE, WITH the exchanges AQE never ran) — only
      // the final section is what executed.
      val p = full.indexOf("== Initial Plan ==") match {
        case -1 => full
        case i  => full.substring(0, i)
      }

      // the defining property: everything under the SortMergeJoin is
      // exchange-free — both sides' buckets are read co-located
      // (scan lines say "Bucketed: true"). Exchanges above the join
      // (the groupBy on a different key, the final orderBy) are
      // expected and irrelevant.
      val joinSection = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange"),
        s"join inputs were shuffled despite bucketing:\n$p")
      assert("Bucketed: true".r.findAllIn(joinSection).size == 2,
        s"expected both scans bucketed:\n$p")

      val plain = joined(orders, lineitem).collect()
      assert(rows.toSeq == plain.toSeq, "bucketed join changed results")

      // STAR variant (the steady-state shape of BASELINE.md's
      // round-3 join-strategy addendum): add the
      // customer hop + an agg on a non-bucket key. The fact⋈fact hop
      // must STAY exchange-free inside the bigger plan — bucketing
      // that only survives a 2-table toy plan would be useless.
      val customer = Tables.customer(spark, sf).select("c_custkey", "c_name")
      val ordersC = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      spark.sql("DROP TABLE IF EXISTS b_orders_c")
      val dirC = new java.io.File("/tmp/graft-test-warehouse/b_orders_c")
      if (dirC.exists()) {
        java.nio.file.Files.walk(dirC.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      ordersC.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders_c")
      def starQ(l: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.DataFrame) =
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey", "c_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("rev"))
          .orderBy(col("rev").desc, col("c_custkey")).limit(10)
      val star = starQ(spark.table("b_lineitem"), spark.table("b_orders_c"))
      val starRows = star.collect()
      val fullStar = star.queryExecution.executedPlan.toString
      val pStar = fullStar.indexOf("== Initial Plan ==") match {
        case -1 => fullStar
        case i  => fullStar.substring(0, i)
      }
      val starJoin = pStar.substring(pStar.indexOf("SortMergeJoin"))
      // below the fact SMJ: only bucketed scans + the dim's broadcast
      // (a broadcast is not a shuffle)
      assert(!starJoin.replaceAll("BroadcastExchange[^\n]*", "")
        .replaceAll("ReusedExchange[^\n]*", "")
        .contains("Exchange"),
        s"fact hop shuffled inside the star plan:\n$pStar")
      assert("Bucketed: true".r.findAllIn(starJoin).size == 2,
        s"expected both fact scans bucketed in star plan:\n$pStar")
      assert(starRows.toSeq == starQ(lineitem, ordersC).collect().toSeq,
        "bucketed star query changed results")
      spark.sql("DROP TABLE IF EXISTS b_orders_c")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
