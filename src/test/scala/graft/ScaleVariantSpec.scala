package graft

import org.apache.spark.sql.functions._

import graft.operators.{ScalarQueries, ScaleVariants, SliQueries}

/** r4 verdict #3 — each documented sketch swap, proven within ε of
  * its exact oracle-backed twin on the same data. These bounds are
  * the contract a 100 TB deployment relies on when it flips from the
  * exact lane to the sketch lane.
  */
class ScaleVariantSpec extends SparkTestBase {

  test("dq_profile_hll: identical schema/null/min/max lanes; distinct within 5%") {
    val exact = ScalarQueries.dqProfile(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val hll = ScaleVariants.dqProfileHll(spark, sf).collect()
    assert(hll.length == exact.size)
    hll.foreach { r =>
      val e = exact(r.getString(0))
      assert(r.schema == e.schema, s"${r.getString(0)}: schema drift")
      assert(r.getLong(1) == e.getLong(1), s"${r.getString(0)}: n_null differs")
      val (ad, ed) = (r.getLong(2).toDouble, e.getLong(2).toDouble)
      assert(math.abs(ad - ed) <= 0.05 * ed + 1.0,
        s"${r.getString(0)}: HLL distinct $ad vs exact $ed")
      assert(r.get(3) == e.get(3) && r.get(4) == e.get(4),
        s"${r.getString(0)}: min/max lane differs")
    }
  }

  test("rolling_active_users_sketch: same day spine; counts within MinHash RSD") {
    val exact = SliQueries.rollingActiveUsers(spark, sf).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    val est = ScaleVariants.rollingActiveUsersSketch(spark, sf).collect()
    assert(est.map(_.getDate(0).toString).toSet == exact.keySet,
      "day spine differs from the exact form")
    // k=512 MinHash RSD ≈ 4.4%; allow 3σ plus integer slack
    est.foreach { r =>
      val (a7, ud) = exact(r.getDate(0).toString)
      assert(math.abs(r.getLong(1) - a7) <= 0.15 * a7 + 2.0,
        s"${r.getDate(0)}: active_7d est ${r.getLong(1)} vs exact $a7")
      assert(math.abs(r.getLong(2) - ud) <= 0.15 * ud + 2.0,
        s"${r.getDate(0)}: user_days est ${r.getLong(2)} vs exact $ud")
    }
  }

  test("mad_robust_gk: same groups/counts; quantile stats within GK rank-ε value slack") {
    val exact = ScalarQueries.madRobust(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val gk = ScaleVariants.madRobustGk(spark, sf).collect()
    assert(gk.length == exact.size)
    // ε = 0.01 rank error on the fixture's ~uniform 2-dp value grid:
    // a 1% rank slip moves a quantile by ~1% of the value RANGE —
    // bound by 2.5% of range per statistic (iqr subtracts two)
    gk.foreach { r =>
      val e = exact(r.getString(0))
      assert(r.getLong(4) == e.getLong(4), s"${r.getString(0)}: n differs")
      val range = Seq(
        ("median_value", 1), ("mad", 2), ("iqr", 2)
      )
      val span = 200.0 // fixture value span; stats scale with it
      range.foreach { case (nameCol, mult) =>
        val i = e.schema.fieldNames.indexOf(nameCol)
        val (a, b) = (r.getDouble(i), e.getDouble(i))
        assert(math.abs(a - b) <= 0.0125 * span * mult,
          s"${r.getString(0)}.$nameCol: gk $a vs exact $b")
      }
    }
  }

  test("plans: hll profile has no Expand; sketch rollup never scans raw events") {
    val hllPlan = ScaleVariants.dqProfileHll(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!hllPlan.contains("Expand"),
      "HLL profile must be a single-pass agg (no multi-distinct Expand)")
    // exact lane (r11): six per-column two-phase distincts instead of
    // the ×6 Expand multi-distinct — no Expand, no count(DISTINCT),
    // and every dedup aggregate groups by exactly one column
    val exactQe = ScalarQueries.dqProfile(spark, sf).queryExecution
    assert(!exactQe.executedPlan.toString.contains("Expand"),
      "exact profile must not pay the multi-distinct Expand")
    val aggs = exactQe.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(!aggs.exists(_.aggregateExpressions.exists(_.exists {
      case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
        ae.isDistinct
      case _ => false
    })), "exact profile still plans a multi-column count(DISTINCT)")
    val dedups = aggs.filter(_.groupingExpressions.nonEmpty)
    assert(dedups.size == 6 && dedups.forall(_.groupingExpressions.size == 1),
      s"expected six single-column distincts, got grouping " +
        dedups.map(_.groupingExpressions.mkString(",")).mkString("; "))
    val rauPlan = ScaleVariants.rollingActiveUsersSketch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!rauPlan.contains("events.parquet"),
      s"sketch-served report re-read the raw fact table:\n$rauPlan")
  }
}
