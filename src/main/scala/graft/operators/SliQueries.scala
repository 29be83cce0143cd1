package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Det.{r2, r4}
import graft.operators.Checkpoints._
import graft.sources.Tables

/** SLI/SLO analytics surface (SURVEY.md §2.1, queries #1–#10).
  *
  * These model the reference's core capabilities (the
  * `zalando-zmon/service-level-reporting` updater/report pipeline —
  * raw SLI reads, 1-minute downsampling, weighted averages, per-day
  * reports, target breach counting, compliance %, latest-value
  * lookups, relative-range rolling windows; see SURVEY §1.1/§3.1,
  * public-knowledge citations) re-expressed as declarative Spark
  * plans.
  *
  * Determinism discipline (SURVEY §2.7): no raw TIMESTAMP output
  * (always `unix_millis` or DATE), every double aggregate rounded,
  * every result totally ordered.
  *
  * Scale notes: each query is a single scan → (optional window) →
  * hash-aggregate pipeline. Aggregations are two-phase
  * (partial/final) automatically; the ts-range filter in #1 is pushed
  * into the parquet scan. The window queries (#7–#9) shuffle once on
  * their partition key (`user_id`/`event_type`) — at 100 TB the same
  * plans hold, with AQE sizing the exchange; there is no driver-side
  * iteration anywhere.
  */
object SliQueries {

  /** #1 — raw SLI values in a time range (scan + filter + project).
    * The ts-range predicate is applied to the raw nanos column via
    * [[Tables.eventsInRange]] so BOTH predicates reach the parquet
    * reader (`PushedFilters: ts >= …, ts < …, event_type = 'error'`) —
    * at 100 TB this is the difference between reading one week of row
    * groups and scanning the whole fact table.
    */
  def sliFilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsInRange(spark, dir, "2024-01-08", "2024-01-15")
      .filter(col("event_type") === "error")
      .select(
        col("event_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("user_id"),
        r2(col("value")).as("value"))
      .orderBy("event_id")

  /** #2 — resample raw check datapoints to 1-minute SLI rows. */
  def sliMinuteDownsample(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_millis(date_trunc("minute", col("ts"))).as("minute_ms"))
      .agg(r4(avg("value")).as("avg_value"), count(lit(1)).as("n"))
      .orderBy("event_type", "minute_ms")

  /** #3 — weighted average Σ(v·w)/Σ(w), weight from the JSON props
    * column (`aggregation.type = weighted` in the reference).
    * try_cast, not cast: under ANSI a non-numeric `$.k` (dirty JSON)
    * would otherwise fail the whole query; the null weight drops the
    * row from both sums instead (DirtyInputSpec).
    */
  def sliWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(r4(weightedAvg(col("value"), w)).as("weighted_avg"))
      .orderBy("event_type")
  }

  /** Weighted-average aggregate Σ(v·w)/Σ(w), null when Σ(w) = 0
    * (the reference's `aggregation.type = weighted`). Exposed for
    * property tests (bounds + constant-weight laws).
    */
  def weightedAvg(v: Column, w: Column): Column =
    sum(v * w) / nullif(sum(w), lit(0L))

  /** #4 — per-day report breakdown: count/avg/min/max/sum. */
  def sloDayReport(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        r4(avg("value")).as("avg_value"),
        r2(min("value")).as("min_value"),
        r2(max("value")).as("max_value"),
        r2(sum("value")).as("sum_value"))
      .orderBy("day", "event_type")

  /** Shared 1-minute rollup used by #5/#6 (re-agg of agg). */
  private def perMinute(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .agg(avg("value").as("v"))

  /** #5 — count of minutes outside the target band [50, 150]. */
  def sloBreachCount(spark: SparkSession, dir: String): DataFrame =
    perMinute(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("minutes"),
        sum(when(col("v") < 50 || col("v") > 150, 1L).otherwise(0L)).as("breaches"))
      .orderBy("event_type")

  /** #6 — SLO compliance %: share of in-band minutes. */
  def sloCompliancePct(spark: SparkSession, dir: String): DataFrame =
    perMinute(spark, dir)
      .groupBy("event_type")
      .agg(r4(
        lit(100.0) * sum(when(col("v") >= 50 && col("v") <= 150, 1L).otherwise(0L))
          / count(lit(1))
      ).as("compliance_pct"))
      .orderBy("event_type")

  /** #7 — latest value per entity (row_number dedup-keep-latest). */
  def sliLatestPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"),
        col("event_type"),
        r2(col("value")).as("value"))
      .orderBy("user_id")
  }

  /** #8 — 7-day rolling average over the daily series
    * (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW).
    */
  def sliRolling7d(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(avg("value").as("v"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    daily
      .select(col("event_type"), col("day"),
        r4(avg("v").over(w)).as("rolling_7d_avg"))
      .orderBy("event_type", "day")
  }

  /** Sessionization core: assigns a dense per-user `session_id`
    * (1..n) using a 30-minute inactivity gap. Input needs `user_id`,
    * `ts` (timestamp), `event_id` (tie-break). Two window passes over
    * one `user_id` shuffle. Exposed for property tests (gap law).
    */
  def sessionized(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_ts", "new_s")
  }

  /** #9 — sessionization with a 30-minute gap: lag → new-session flag
    * → running sum = session id → per-user session stats. Stateful
    * sessionization expressed as two window passes over the same
    * `user_id` partitioning (one shuffle, both windows reuse it).
    */
  def sliSessionize(spark: SparkSession, dir: String): DataFrame = {
    // session_id is a dense running count per user (1..n_sessions), so
    // max == countDistinct — same value, no distinct Expand in the plan.
    sessionized(Tables.events(spark, dir)).groupBy("user_id")
      .agg(
        max("session_id").as("n_sessions"),
        r4(count(lit(1)) * lit(1.0) / max("session_id"))
          .as("avg_events_per_session"))
      .orderBy("user_id")
  }

  /** #46 — error-budget burn rate: with a 99% SLO, each day's budget
    * is 1% of its minutes; burn = breach_minutes / (minutes × 0.01).
    * Worst-day and mean burn per type — the alerting math SLO
    * platforms page on (fast-burn/slow-burn policies).
    */
  def errorBudgetBurn(spark: SparkSession, dir: String): DataFrame = {
    dailyBurn(spark, dir)
      .withColumn("burn", col("breaches") / (col("minutes") * lit(0.01)))
      .groupBy("event_type")
      .agg(
        r4(max("burn")).as("max_daily_burn"),
        r4(avg("burn")).as("avg_daily_burn"))
      .orderBy("event_type")
  }

  /** #62 — multi-window multi-burn-rate alerting (the SRE-handbook
    * policy SLO platforms page on): an hour alerts when BOTH its own
    * burn (fast window) and the trailing 6-hour average burn (slow
    * window) exceed their thresholds — fast catches the spike, slow
    * suppresses one-hour blips. Burn is in error-budget multiples
    * (breach share / 1% budget). Thresholds (fast ≥ 100 = the hour
    * fully out of budget, slow ≥ 85) are tuned to the fixture's
    * synthetic noise floor; a production 99.9% SLO uses the classic
    * 14.4/6 pairs — the PLAN is threshold-independent.
    *
    * Shape: minute rollup → hour rollup (reuses the minute shuffle's
    * partitioning lineage) → one window pass per event_type → final
    * per-type agg. No joins; at 100 TB the minute rollup dominates
    * and is exactly the pre-aggregation the sketch/report tables
    * already materialize.
    */
  def burnRateAlerts(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .agg(avg("value").as("v"))
      .groupBy(col("event_type"), date_trunc("hour", col("m")).as("h"))
      .agg(
        count(lit(1)).as("minutes"),
        sum(when(col("v") < 50 || col("v") > 150, 1L).otherwise(0L)).as("breaches"))
    val w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-5, 0)
    hourly
      .withColumn("fast", (col("breaches") * lit(1.0) / col("minutes")) / lit(0.01))
      .withColumn("slow", avg(col("fast")).over(w))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_hours"),
        sum(when(col("fast") >= 100 && col("slow") >= 85, 1L).otherwise(0L))
          .as("n_alert_hours"),
        r4(max("slow")).as("max_slow_burn"))
      .orderBy("event_type")
  }

  /** #69 — gap-filled, forward-filled minute series: generate the
    * full minute grid per event_type (sequence + explode — the dense
    * time axis the reference's report charts need), left-join the
    * observed 1-minute SLI rollup, and carry the last observation
    * forward over gaps (`last(v, ignoreNulls)` window). Output is the
    * per-type fill accounting + the mean of the FILLED series, which
    * differs from the raw mean exactly where gaps are (the
    * gap-duration weighting real dashboards show).
    *
    * Scale: the grid is minutes × types — O(calendar), not O(events)
    * — and the fill is one window pass per type over the already
    * down-sampled rollup. At 100 TB nothing here touches raw events
    * except the minute rollup every SLI query shares.
    */
  def gapFillMinutes(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("minute"))
      .agg(avg("value").as("v"))
    val grid = m.groupBy("event_type")
      .agg(min("minute").as("lo"), max("minute").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 MINUTE"))).as("minute"))
    val w = Window.partitionBy("event_type").orderBy("minute")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(m, Seq("event_type", "minute"), "left")
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_minutes"),
        count(col("v")).as("n_observed"),
        (count(lit(1)) - count(col("v"))).as("n_filled"),
        r4(avg("filled")).as("avg_filled"))
      .orderBy("event_type")
  }

  /** #70 — weekly retention cohorts: of the users active in week w,
    * how many return in week w+1. The classic product-analytics
    * self-join over the distinct (user, week) activity set — the
    * activity set is the only shuffle (distinct on two narrow
    * columns), the cohort join matches on (user, adjacent week), and
    * the final grain is O(weeks).
    */
  def weeklyRetention(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val retained = uw.as("a")
      .join(uw.as("b"),
        col("b.user_id") === col("a.user_id") &&
          col("b.wk") === col("a.wk") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("a.wk").as("wk"))
      .agg(count(lit(1)).as("n_retained"))
    uw.groupBy("wk")
      .agg(count(lit(1)).as("n_users"))
      .join(retained, Seq("wk"), "left")
      .select(
        col("wk").cast("date").as("week"),
        col("n_users"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        r4(lit(100.0) * coalesce(col("n_retained"), lit(0L)) / col("n_users"))
          .as("retention_pct"))
      .orderBy("week")
  }

  /** #10 — tumbling 1-hour aggregation (the streaming updater
    * cadence, run as a batch report).
    */
  def sloHourlyTumble(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("window_start_ms"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), r4(avg("value")).as("avg_value"))
      .orderBy("window_start_ms", "event_type")

  /** #77 — error-budget CARRYOVER via a RECURSIVE CTE (Spark 4's
    * `WITH RECURSIVE`, full DuckDB oracle): each day's remaining
    * budget is `clamp(prev + refill − burn, 0, cap)` — a NON-LINEAR
    * recurrence (the clamps make every prefix-sum/window rewrite
    * wrong the first time a bound is hit), which is exactly the job
    * recursion exists for. The day-over-day carryover-with-cap policy
    * is how real SLO programs spread an error budget across a window
    * instead of resetting it daily.
    *
    * Scale/termination: the recursion runs over the DAILY rollup —
    * O(types × days) rows, linear depth (one join per day), branching
    * factor 1 — after the single raw-events scan in the `daily` CTE.
    * Spark requires UNION ALL recursion (UNION is unsupported in
    * 4.1); this recurrence is inherently acyclic so UNION ALL is the
    * correct semantics, not a workaround.
    */
  def budgetCarryover(spark: SparkSession, dir: String): DataFrame = {
    // The recursive step's plan re-executes PER ITERATION (UnionLoop
    // semantics), so anything it references must not embed the raw
    // scan — materialize the day rollup (O(types × days) rows, KB)
    // in cache first, and recurse over THAT. Without this the sf0.1
    // query re-aggregated raw events once per day of recursion depth
    // (measured 9.0 s). The coalesce(1) collapses the cached frame to
    // ONE partition so each loop job is ~single-task (at 32 cached
    // partitions each job paid 32 tasks of scheduling floor to move
    // KB of data). Parallelism is unaffected: the raw scan + partial
    // agg keep their partitioning behind the groupBy exchange.
    //
    // r10 depth reshape (measured: day-grain recursion ran ~30
    // sequential UnionLoop steps ≈ 157 scheduler jobs ≈ 7.5 s at
    // sf0.1, all scheduling floor): the recursion now steps one BLOCK
    // of days at a time. Within a block the recurrence is evaluated
    // by [[graft.functions.ClampScanFn]] — the composed clamped-shift
    // function `struct(s, a, b)` with `apply(x) = min(b, max(a,
    // x + s))`, the SAME function monoid budget_carryover_scan's
    // ClampScan is built on (CarryoverScanSpec pins scan ≡ recurrence
    // row-for-row, clamps saturated both ways) — computed in ONE
    // window pass at plan time, corpus-side parallel. The recursive
    // CTE then carries the budget ACROSS blocks — the genuinely
    // sequential dependency — at depth ceil(days/K). Block size K is
    // derived IN-PLAN per event_type (ceil(maxrn/3)), so the
    // UnionLoop depth is ~3 at ANY series length: recursion stays the
    // declared engine surface (genuine WITH RECURSIVE / UNION ALL),
    // its cost no longer scales with calendar span. (Divisor 3, was 6
    // at first reshape: each UnionLoop step costs ~5 scheduler jobs
    // whatever the block width, so fewer-but-wider blocks are free —
    // depth 3 keeps the CTE genuinely recursive while halving the
    // loop's job count; measured 0.87 -> ~0.6 s.) The DuckDB oracle
    // is UNCHANGED (day-grain recursion) — the driver's hash gate is
    // the equivalence proof, exactly as it is for the scan twin.
    val w = Window.partitionBy("event_type").orderBy("day")
    val wType = Window.partitionBy("event_type")
    val wBlk = Window.partitionBy("event_type", "blk").orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg((sum(when(col("value") < 50 || col("value") > 150, 1L).otherwise(0L))
        / count(lit(1)).cast("double")).as("burn"))
      .withColumn("rn", row_number().over(w))
      .withColumn("krn",
        greatest(ceil(max(col("rn")).over(wType) / 3.0), lit(1.0)).cast("int"))
      .withColumn("blk", expr("(rn - 1) DIV krn"))
      .withColumn("is_end",
        col("rn") % col("krn") === 0 ||
          col("rn") === max(col("rn")).over(wType))
      .withColumn("f",
        graft.functions.ClampScan.clampScanFn(lit(0.25) - col("burn"), 0.0, 2.0)
          .over(wBlk))
      .coalesce(1)
      // cut(), NOT cache(): localCheckpoint materializes eagerly into
      // fresh blocks per invocation. A .cache() here left a
      // CacheManager entry whose RDD a session-hygiene unpersist
      // (Bench between passes) permanently de-levels — after which
      // every UnionLoop step silently re-ran the raw scan + windows
      // (measured: passes 2-3 at 5.4 s of task time vs pass 1's 1.5).
      .cut()
    blocks.createOrReplaceTempView("graft_burn_blocks")
    spark.sql(
      """WITH RECURSIVE
        |ends AS (SELECT event_type, blk, f FROM graft_burn_blocks
        |         WHERE is_end),
        |carry(event_type, blk, budget) AS (
        |  SELECT event_type, blk,
        |         least(f.b, greatest(f.a, 1.0D + f.s))
        |  FROM ends WHERE blk = 0
        |  UNION ALL
        |  SELECT /*+ BROADCAST(e) */ e.event_type, e.blk,
        |         least(e.f.b, greatest(e.f.a, c.budget + e.f.s))
        |  FROM carry c JOIN ends e
        |    ON e.event_type = c.event_type AND e.blk = c.blk + 1)
        |SELECT r.event_type, r.day,
        |       round(r.burn + 1e-7, 4) AS burn,
        |       round(least(r.f.b, greatest(r.f.a,
        |             coalesce(c.budget, 1.0D) + r.f.s)) + 1e-7, 4) AS budget
        |FROM graft_burn_blocks r LEFT JOIN carry c
        |  ON c.event_type = r.event_type AND c.blk = r.blk - 1
        |ORDER BY r.event_type, r.day""".stripMargin)
  }

  /** `budget_carryover_scan` — budget_carryover's recursion replaced
    * by ONE window pass (full oracle — the SAME recursive-CTE oracle,
    * so the driver hash gate itself proves the swap): the recurrence
    * `budget_t = clamp(budget_{t-1} + 0.25 − burn_t, 0, 2)` is an
    * associative scan over the clamped-shift function monoid
    * ([[graft.functions.ClampScan]]), so the ~30 sequential
    * single-task jobs the recursive form honestly costs collapse into
    * the day-rollup's one window exchange — recursion depth leaves
    * the job count entirely. The scan is bit-identical to the
    * recurrence whenever a clamp has bound (the parameter chains
    * replay the same float additions) and ulp-close otherwise —
    * inside the r4 grid; CarryoverScanSpec pins row-equality with the
    * recursive form plus a constructed fixture that saturates BOTH
    * clamps.
    *
    * Scale shape: scan → partial-agg'd day rollup → one
    * (event_type)-keyed window over calendar-bounded rows (the
    * zscore_anomaly shape) → sort. At 100 TB this replaces the
    * recursive form outright; the recursive twin stays declared as
    * the engine-surface proof that WITH RECURSIVE works.
    */
  def budgetCarryoverScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ClampScan.clampScan
    // explicit ROWS running frame: AggregateWindowFunction requires
    // it (an ordered spec defaults to a RANGE frame, which the
    // analyzer refuses to pair with a running window function)
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg((sum(when(col("value") < 50 || col("value") > 150, 1L).otherwise(0L))
        / count(lit(1)).cast("double")).as("burn"))
      .withColumn("budget_raw",
        clampScan(lit(0.25) - col("burn"), 0.0, 2.0, 1.0).over(w))
      .select(col("event_type"), col("day"),
        r4(col("burn")).as("burn"), r4(col("budget_raw")).as("budget"))
      .orderBy("event_type", "day")
  }

  /** Declared query `zscore_anomaly` (full oracle) — SLI anomaly
    * detection: each (event_type, day) daily mean is scored against
    * the trailing 7 COMPLETE prior days (ROWS BETWEEN 7 PRECEDING AND
    * 1 PRECEDING — the current day never contaminates its own
    * baseline), z = (v − μ)/σ, flagged at |z| > 2. This is the
    * burn-rate alert's statistical sibling: burn_rate_alerts detects
    * threshold breaches, this detects DISTRIBUTION shifts (a latency
    * regression that stays inside the SLO window but is 3σ off its
    * own history).
    *
    * Determinism: z is rounded (r4) BEFORE the |z| > 2 comparison in
    * both engines, so the boolean can never disagree on a boundary
    * ulp. σ > 0 guard keeps the division well-defined (σ is
    * sample-stddev in both Spark and the oracle).
    *
    * Scale: scan → partial-agg'd daily rollup (events collapse
    * map-side) → one window exchange on event_type. The window frame
    * is 8 rows per partition key regardless of corpus size — the
    * shuffled frame is days×types, not events. Survives 100 TB.
    */
  def zscoreAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("v"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("mu", avg("v").over(w))
      .withColumn("sigma", stddev("v").over(w))
      .withColumn("n_prior", count(lit(1)).over(w))
      .filter(col("n_prior") === 7 && col("sigma") > 0)
      .withColumn("z", r4((col("v") - col("mu")) / col("sigma")))
      .select(col("event_type"), col("day"),
        r4(col("v")).as("daily_avg"), col("z"),
        (abs(col("z")) > 2.0).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  /** `ewma_smooth` — exponentially-weighted moving average of the
    * daily SLI series, α = 1/2 (full oracle). The adjusted-EWMA
    * closed form `Σ (1−α)^(t−i)·v_i / Σ (1−α)^(t−i)` becomes a pair
    * of running-sum windows after multiplying through by 2^t:
    * `ewma_t = Σ_{i≤t} v_i·2^i / Σ_{i≤t} 2^i`. α = 1/2 is chosen so
    * every weight is an EXACT power of two — `pow(2, rn)` is exact in
    * IEEE-754 and `v·2^rn` only shifts the exponent, so the two
    * engines' windows sum identical doubles and the cross-engine
    * noise is summation order alone (covered by Det.r4), with no
    * libm pow-ulp exposure.
    *
    * Scale: the windows run over the daily rollup (days×types rows,
    * corpus-size-independent) after a partial-agg'd scan — same shape
    * as zscore_anomaly. The 2^rn rescaling overflows past ~1000 rows
    * per key; at that depth, segment the series (re-zero rn per year)
    * or fall back to the recursive form (budget_carryover's shape).
    */
  def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("v"))
    val seq = daily.withColumn("rn",
      row_number().over(Window.partitionBy("event_type").orderBy("day"))
        .cast("int"))
    val w = Window.partitionBy("event_type").orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq.select(
      col("event_type"), col("day"), r4(col("v")).as("avg_value"),
      r4(sum(col("v") * pow(lit(2.0), col("rn"))).over(w) /
        sum(pow(lit(2.0), col("rn"))).over(w)).as("ewma"))
      .orderBy("event_type", "day")
  }

  /** `rolling_p95` — rolling 7-day p95 latency per event_type (full
    * oracle), THE canonical SLO latency metric: exact p95 of the
    * per-minute averages within each day, smoothed over a 6-day-
    * preceding RANGE frame. Percentile-of-rollup is intentional —
    * p95-of-minutes is the SLO statistic (burst minutes count once),
    * distinct from p95-of-raw-events.
    *
    * Scale: raw events collapse map-side into the minute rollup (one
    * partial-agg'd exchange); the exact percentile then runs over
    * bounded groups (≤1440 minutes/day/type — constant at any corpus
    * size, so exact beats sketch here); the RANGE window runs over
    * the days×types daily grain. Raw data is scanned once, shuffled
    * never.
    */
  def rollingP95(spark: SparkSession, dir: String): DataFrame = {
    val perMin = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .agg(avg("value").as("v"))
    val daily = perMin
      .groupBy(col("event_type"), to_date(col("m")).as("day"))
      .agg(expr("percentile(v, 0.95)").as("p95raw"))
    val w = Window.partitionBy("event_type")
      .orderBy(datediff(col("day"), lit("1970-01-01").cast("date")))
      .rangeBetween(-6, 0)
    daily.select(
      col("event_type"), col("day"), r4(col("p95raw")).as("p95"),
      r4(avg("p95raw").over(w)).as("rolling_p95"))
      .orderBy("event_type", "day")
  }

  /** `regr_value_trend` — per-type linear trend of the daily SLI
    * series (full oracle): OLS slope / intercept / R² / n of daily
    * avg value against integer day number, via the declarative
    * `regr_*` aggregate family. The capacity-planning complement of
    * `zscore_anomaly`: that flags point shifts, this quantifies the
    * secular drift ("latency grows 0.06/day, R² 0.01 — noise, not
    * trend").
    *
    * Determinism: regr_* are moment accumulators (Σx, Σy, Σxy, Σx²)
    * in both engines; inputs are the daily rollup's doubles and exact
    * small-integer day numbers, outputs pass through Det.r4 so the
    * only cross-engine exposure is summation order on 30 values.
    *
    * Scale: the regression runs on the days×types rollup (corpus-
    * size-independent), which itself collapses map-side. regr_* are
    * algebraic aggregates — partial-aggregable, so even regressing
    * RAW events (bypassing the rollup) would shuffle only constant-
    * size moment tuples per type. Survives 100 TB.
    */
  def regrValueTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("v"))
      .withColumn("x",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("double"))
    daily.groupBy("event_type").agg(
      r4(regr_slope(col("v"), col("x"))).as("slope"),
      r4(regr_intercept(col("v"), col("x"))).as("intercept"),
      r4(regr_r2(col("v"), col("x"))).as("r2"),
      regr_count(col("v"), col("x")).cast("long").as("n_days"))
      .orderBy("event_type")
  }

  /** `theilsen_trend` — Theil–Sen robust trend of each type's daily
    * mean (full oracle): the MEDIAN of all pairwise slopes
    * (x_b − x_a)/(k_b − k_a), with the median-residual intercept —
    * the estimator that shrugs off the outlier days that drag
    * `regr_value_trend`'s least-squares line around (~29% breakdown
    * point vs 0; Theil 1950 / Sen 1968, public knowledge); read the
    * OLS line from `regr_value_trend` for contrast.
    *
    * Scale: the pair join runs on the DAY-grain rollup — O(days²)
    * per type, calendar-bounded (435 pairs per type-month), never
    * the corpus. A corpus-grain series would use the standard
    * sampled-pairs variant — WIRED as [[theilsenTrendSampled]] with
    * a content-hash subsample, full oracle (r7); the exact form here
    * is the oracle-checkable truth.
    * Median slope via the same interpolated `percentile` contract
    * as percentile_value; the intercept pass reuses the cut daily
    * frame (two consumers).
    */
  def theilsenTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("x"))
      .withColumn("k",
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("double"))
      .cut()
    val slopes = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.k") < col("b.k"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.x") - col("a.x")) / (col("b.k") - col("a.k"))).as("s"))
      .groupBy("event_type")
      .agg(expr("percentile(s, 0.5)").as("ts_slope"),
        count(lit(1)).as("n_pairs"))
    daily.join(broadcast(slopes), Seq("event_type"))
      .select(col("event_type"), col("n_pairs"),
        col("ts_slope"), (col("x") - col("ts_slope") * col("k")).as("res"))
      .groupBy("event_type")
      .agg(max("n_pairs").as("n_pairs"),
        r4(max("ts_slope")).as("ts_slope"),
        r4(expr("percentile(res, 0.5)")).as("ts_intercept"))
      .orderBy("event_type")
  }

  /** `theilsen_trend_sampled` — the SAMPLED-PAIRS Theil–Sen variant
    * [[theilsenTrend]]'s scaladoc promises, wired (full oracle): the
    * median over a deterministic ~50% subsample of the pairwise
    * slopes instead of all O(days²) of them. On a CORPUS-grain
    * series (ticks, not days) the exact pair join is quadratic in
    * the series length; the standard mitigation is a fixed random
    * pair budget — the estimator stays consistent (Sen 1968's
    * U-statistic tolerates subsampling) while the join volume drops
    * by the sample rate².
    *
    * Determinism (what makes a SAMPLED estimator oracle-checkable):
    * pair inclusion is a pure content hash — the first 48 md5 bits
    * of "type:kₐ:k_b" compared against 2⁴⁷ (the hashSplit /
    * weighted_sample discipline) — so both engines, any cluster
    * size, and any re-run draw the IDENTICAL subsample; no RNG, no
    * seed plumbing. The k values render through an int cast so the
    * hashed string is byte-identical cross-engine. StatsLawSpec pins
    * (a) exact equality with [[theilsenTrend]] when the threshold is
    * opened to 2⁴⁸ and (b) the sampled slope's deviation from the
    * exact form on the fixture.
    */
  def theilsenTrendSampled(spark: SparkSession, dir: String,
      threshold: Long = 140737488355328L): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("x"))
      .withColumn("k",
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("double"))
      .cut()
    val u48 = conv(substring(md5(concat(
      col("a.event_type"), lit(":"),
      col("a.k").cast("int").cast("string"), lit(":"),
      col("b.k").cast("int").cast("string"))), 1, 12), 16, 10).cast("long")
    val slopes = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.k") < col("b.k"))
      .filter(u48 < lit(threshold)) // default 2^47: keep ~half the pairs
      .select(col("a.event_type").as("event_type"),
        ((col("b.x") - col("a.x")) / (col("b.k") - col("a.k"))).as("s"))
      .groupBy("event_type")
      .agg(expr("percentile(s, 0.5)").as("ts_slope"),
        count(lit(1)).as("n_pairs_sampled"))
    daily.join(broadcast(slopes), Seq("event_type"))
      .select(col("event_type"), col("n_pairs_sampled"),
        col("ts_slope"), (col("x") - col("ts_slope") * col("k")).as("res"))
      .groupBy("event_type")
      .agg(max("n_pairs_sampled").as("n_pairs_sampled"),
        r4(max("ts_slope")).as("ts_slope"),
        r4(expr("percentile(res, 0.5)")).as("ts_intercept"))
      .orderBy("event_type")
  }

  /** `rolling_active_users` — trailing-7-day distinct active users
    * per day (full oracle): the canonical WAU engagement metric, and
    * deliberately the EXACT twin of what `sketch_rollup`'s HLL merge
    * answers approximately. Windowed DISTINCT does not decompose
    * (neither engine allows count(distinct) in a window frame), so
    * the exact form is: per-day distinct (day, user) pairs, then a
    * 7-day range join against the day spine, re-distinct-counted per
    * anchor day.
    *
    * Scale: the (day, user) dedup collapses map-side (days×users
    * output, corpus-size-independent). The range join broadcasts the
    * DAY SPINE (calendar-bounded — dozens of rows at any corpus
    * size), so each (day, user) row fans out to ≤7 anchors with NO
    * shuffle of the pair frame beyond the final distinct-agg. At
    * 100 TB the same query swaps the exact distinct for the per-day
    * HLL sketch table + 7-way merge (QuantileRollup/SketchRollup
    * pattern) — the report contract is unchanged.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day").as("d")).distinct()
    du.join(broadcast(days), datediff(col("d"), col("day")).between(0, 6))
      .groupBy(col("d").as("day"))
      .agg(
        countDistinct("user_id").as("active_7d"),
        count(lit(1)).as("user_days"))
      .orderBy("day")
  }

  /** `breach_streaks` — gaps-and-islands over daily SLO state (full
    * oracle): consecutive runs of "bad days" (daily breach-minute
    * share > 0.68) per event_type, reported as (streak_start,
    * streak_end, len). THE islands idiom: group key = dayNum −
    * row_number() within the breached subset — constant along each
    * consecutive run, strictly decreasing across gaps. Streak length
    * is what pages a human (one bad day is noise; five consecutive
    * is an incident) — `burn_rate_alerts` detects it live, this is
    * the retrospective form.
    *
    * Determinism: share = breaches/minutes is one exact IEEE division
    * of two integers in both engines, so the 0.68 comparison can
    * never disagree; day arithmetic is integer; row_number runs under
    * a total order (one row per (type, day)).
    *
    * Scale: events collapse map-side into the minute rollup; the
    * islands window runs on the days×types grain (corpus-size-
    * independent). One corpus-sized exchange (the minute agg), then
    * bounded frames. Survives 100 TB.
    */
  def breachStreaks(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyBurn(spark, dir)
      .withColumn("share", col("breaches") * lit(1.0) / col("minutes"))
      .filter(col("share") > 0.68)
    val dayNum = datediff(col("day"), lit("1970-01-01").cast("date"))
    daily
      .withColumn("grp",
        dayNum - row_number().over(
          Window.partitionBy("event_type").orderBy("day")))
      .groupBy("event_type", "grp")
      .agg(
        min("day").as("streak_start"),
        max("day").as("streak_end"),
        count(lit(1)).as("len"))
      .select(col("event_type"), col("streak_start"), col("streak_end"), col("len"))
      .orderBy("event_type", "streak_start")
  }

  /** `funnel_steps` — time-bounded conversion funnel view → click →
    * purchase (full oracle): users who viewed, users whose first
    * qualifying click came STRICTLY AFTER their first view and within
    * 24 h of it, users whose first qualifying purchase followed that
    * click under the same 24 h bound, with step conversion rates. The
    * product-analytics op plain per-type counts cannot answer: ORDER
    * and PROXIMITY between events both matter (without the time bound
    * this fixture converts 100% at every step — every user eventually
    * does everything; the bound is what makes the funnel a funnel).
    *
    * One pass, three stacked running-min windows over the same
    * (user_id) partitioning ordered by (ts, event_id) — a TOTAL
    * order, so same-timestamp ties resolve identically in both
    * engines; the strictly-after comparisons are on VALUES, so the
    * chain `tv → tc → tp` is deterministic. Stacked windows share
    * ONE exchange (same partition spec), and the per-user collapse
    * that follows reuses that partitioning — the whole funnel costs
    * one user-keyed shuffle plus the single-row final agg.
    *
    * Scale: state per window frame is one running min — O(1) per
    * row; no joins, no per-step rescans (the naive form is 3 joins =
    * 3 corpus shuffles). Survives 100 TB; a longer funnel adds
    * window STAGES, not exchanges.
    */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val perUser = funnelPerUser(spark, dir)
    perUser.agg(
      count("tv").as("n_viewed"),
      count("tc").as("n_clicked_after"),
      count("tp").as("n_purchased_after"),
      r4(count("tc").cast("double") / count("tv")).as("view_to_click"),
      r4(count("tp").cast("double") / count("tc")).as("click_to_purchase"))
  }

  /** Shared funnel stage frame: per user, first view `tv`, first
    * qualifying click `tc` (strictly after `tv`, within 24 h), first
    * qualifying purchase `tp` (same rule vs `tc`), via three stacked
    * running-min windows over ONE (user_id) exchange ordered by the
    * (ts, event_id) total order. Consumed by [[funnelSteps]] (step
    * counts/rates) and [[timeToConvert]] (latency distribution) — the
    * two reports MUST agree on what "converted" means, so they share
    * this frame by construction (pinned in StatsLawSpec).
    */
  private def funnelPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("tv",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tc",
        min(when(col("event_type") === "click" && col("ts") > col("tv")
          && col("ts") <= col("tv") + expr("INTERVAL 24 HOURS"),
          col("ts"))).over(w))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" && col("ts") > col("tc")
          && col("ts") <= col("tc") + expr("INTERVAL 24 HOURS"),
          col("ts"))).over(w))
      .groupBy("user_id")
      .agg(min("tv").as("tv"), min("tc").as("tc"), min("tp").as("tp"))
  }

  /** `time_to_convert` — latency distribution of the funnel's first
    * conversion (full oracle): for users whose first qualifying click
    * followed their first view (the `funnel_steps` definition, shared
    * via [[funnelPerUser]]), minutes from view to click: count, mean,
    * median, p90. The "HOW FAST do converters convert" companion to
    * `funnel_steps`' "how many convert" — the histogram product teams
    * actually put on dashboards.
    *
    * Determinism: the latency is an exact integer µs difference
    * divided by a constant (6e7) — bit-identical doubles in both
    * engines; median/p90 interpolate with the same (n−1)·p index
    * arithmetic on those doubles (`percentile` here ≡ DuckDB
    * `quantile_cont`); r4 absorbs the shared-formula ulps.
    *
    * Scale: converter grain (≤ users). Exact `percentile` over the
    * single global group is the documented bounded-cardinality
    * choice — one value per CONVERTER, orders below the event corpus;
    * past user-dimension scale swap for the GK sketch plane
    * (`percentile_approx_value` twin) with the same report contract.
    */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val lat = funnelPerUser(spark, dir)
      .where(col("tc").isNotNull)
      .select(((unix_micros(col("tc")) - unix_micros(col("tv")))
        / lit(6e7)).as("lat_min"))
    lat.agg(
      count(lit(1)).as("n_converted"),
      r4(avg("lat_min")).as("avg_min"),
      r4(percentile(col("lat_min"), lit(0.5))).as("med_min"),
      r4(percentile(col("lat_min"), lit(0.9))).as("p90_min"))
  }

  /** `peak_concurrency` — per-day peak of simultaneously-open user
    * sessions (full oracle): sessionize with the 30-minute gap rule
    * (the [[sessionized]] idiom #9 uses), split each session interval
    * at UTC midnight (so the sweep partitions by day), then the
    * classic sweep line: +1 at each clipped start, −1 at each clipped
    * end, running sum ordered by (t, delta DESC), max per day. The
    * capacity-planning number ("how many concurrent users must we
    * serve") that per-day event counts cannot give — overlap, not
    * volume.
    *
    * Determinism: ties at the same instant process all +1 before any
    * −1 (delta DESC — touching sessions count as concurrent, both
    * engines); equal (t, delta) rows commute (each prefix max is
    * order-free across permutations of identical deltas), so the
    * per-day max is unique despite the non-total sort.
    *
    * Scale: the window partitions by DAY over session-grain edges
    * (2 rows per session-day, not per event) — the corpus-sized work
    * is the sessionize exchange, already keyed by user; midnight
    * splitting is what keeps the sweep partitioned (an unpartitioned
    * global sweep is the naive form). Calendar-bounded explode:
    * sessions span 1-2 days under the 30-min gap rule.
    */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionized(Tables.events(spark, dir))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("s_start"), max("ts").as("s_end"))
    val split = sess
      .withColumn("day",
        explode(sequence(to_date(col("s_start")), to_date(col("s_end")))))
      .select(col("day"),
        greatest(col("s_start"), col("day").cast("timestamp")).as("t0"),
        least(col("s_end"), date_add(col("day"), 1).cast("timestamp")).as("t1"))
    val edges = split.select(col("day"), explode(array(
        struct(col("t0").as("t"), lit(1L).as("delta")),
        struct(col("t1").as("t"), lit(-1L).as("delta")))).as("e"))
      .select(col("day"), col("e.t").as("t"), col("e.delta").as("delta"))
    val w = Window.partitionBy("day").orderBy(col("t").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    edges.withColumn("concurrent", sum("delta").over(w))
      .groupBy("day").agg(max("concurrent").as("peak"))
      .orderBy("day")
  }

  /** `cohort_retention` — D0–D6 retention triangle (full oracle):
    * users cohorted by FIRST-SEEN day; for each cohort and each day
    * offset k ∈ [0, 6], how many came back and what share of the
    * cohort that is. The product-growth report (D1/D7 retention) that
    * daily-active counts can't answer — it needs each user's personal
    * day-zero, not the calendar.
    *
    * Scale: ONE corpus-grain exchange — the (user, day) dedup (two-
    * phase, collapses map-side); first-seen derives from the SAME
    * deduped frame re-keyed by user, and the activity⋈first-seen join
    * is user-co-keyed. Cohort sizes are calendar-grain and broadcast
    * back; the triangle is days×7 rows at any corpus size.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstd = act.groupBy("user_id").agg(min("day").as("d0"))
    val coh = firstd.groupBy("d0").agg(count(lit(1)).as("n_users"))
    act.join(firstd, "user_id")
      .withColumn("k", datediff(col("day"), col("d0")))
      .where(col("k").between(0, 6))
      .groupBy(col("d0").as("cohort_day"), col("k"))
      .agg(countDistinct("user_id").as("active"))
      .join(broadcast(coh), col("cohort_day") === col("d0"))
      .select(col("cohort_day"), col("k").cast("long").as("k"), col("active"),
        r4(col("active") * lit(1.0) / col("n_users")).as("pct"))
      .orderBy("cohort_day", "k")
  }

  /** `new_vs_returning` — daily active users split into first-ever-
    * seen vs returning (full oracle). The acquisition-vs-engagement
    * split every DAU chart needs; shares the (user, day) dedup +
    * first-seen frames with [[cohortRetention]]'s design (one corpus
    * exchange, user-co-keyed join, day-grain output).
    */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstd = daily.groupBy("user_id").agg(min("day").as("d0"))
    daily.join(firstd, "user_id")
      .groupBy("day")
      .agg(
        sum(when(col("day") === col("d0"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("day") > col("d0"), 1L).otherwise(0L)).as("returning_users"))
      .orderBy("day")
  }

  /** `seasonal_dow_index` — day-of-week seasonal index per event
    * type (full oracle): avg(value) on each weekday ÷ the type's
    * overall avg. The seasonality profile `zscore_anomaly`'s flat
    * baseline ignores — an index of 1.09 on Thursdays says "don't
    * page on Thursday's 9% bump". Two-phase agg both levels (map-side
    * collapse); the per-type overall avg is a types-grain broadcast;
    * 7×types output rows. dow is 1=Sunday..7=Saturday in both engines
    * (DuckDB's 0-based dayofweek is shifted in the oracle).
    */
  def seasonalDowIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"), dayofweek(col("ts")).as("dow"), col("value"))
    val tot = base.groupBy("event_type").agg(avg("value").as("oavg"))
    base.join(broadcast(tot), "event_type")
      .groupBy(col("event_type"), col("dow").cast("long").as("dow"))
      .agg(count(lit(1)).as("n"), r4(avg("value") / max("oavg")).as("idx"))
      .orderBy("event_type", "dow")
  }

  /** `minmax_by_day` — best/worst day per event_type via the argmax
    * aggregate surface (full oracle): `max_by`/`min_by` (DuckDB
    * `arg_max`/`arg_min`) pick the DAY whose daily avg is extreme,
    * alongside the extreme values themselves. The one-row-per-group
    * sibling of `sli_latest_per_user`'s window argmax — when only the
    * maximizer is wanted, the aggregate form shuffles one (day, v)
    * pair per type instead of ranking whole partitions.
    *
    * Determinism: argmax is underspecified under comparand ties;
    * here the comparand is a 30-day avg of ~400 raw doubles per cell,
    * and StatsLawSpec pins that no (type, v) pair repeats at the
    * fixture SFs, so both engines' choices coincide. (A tie-hostile
    * deployment would compare on struct(v, day) — Spark supports
    * orderable structs; DuckDB's arg_max is scalar-only, which is
    * why the declared query keeps the scalar comparand.)
    *
    * Scale: max_by/min_by are algebraic (carry current (cmp, val)
    * pair through partial agg) — map-side collapse, O(types) output
    * at any corpus size.
    */
  def minmaxByDay(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("v"))
    daily.groupBy("event_type").agg(
      max_by(col("day"), col("v")).as("best_day"),
      min_by(col("day"), col("v")).as("worst_day"),
      r4(max("v")).as("max_avg"),
      r4(min("v")).as("min_avg"))
      .orderBy("event_type")
  }

  /** `event_transitions` — first-order Markov transition matrix over
    * per-user event streams (full oracle): for each ordered pair
    * (prev → next) of consecutive events of the SAME user (ordered by
    * the total order (ts, event_id)), the transition count and the
    * row-conditional probability P(next | prev). The behavioral-model
    * primitive under [[funnelSteps]]'s fixed funnel — the full
    * matrix says which funnels exist at all (and feeds Markov
    * attribution / next-event prediction).
    *
    * Scale: ONE user-keyed window exchange (the same partitioning
    * every per-user query here shares) produces the lag pairs;
    * transitions collapse map-side into the types² rollup, so the
    * second exchange carries O(|types|²) rows at any corpus size.
    * The row-normalizing window runs on that types²-grain frame.
    * Probability is one IEEE division of two longs — deterministic
    * cross-engine; output ordered (prev, next).
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .where(col("prev").isNotNull)
    val cnt = pairs.groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    cnt.withColumn("prob",
        r4(col("n") * lit(1.0) / sum("n").over(Window.partitionBy("prev"))))
      .orderBy("prev", "next")
  }

  /** `session_paths` — top-10 session journeys (full oracle): the
    * first 5 event types of each 30-min-gap session (same
    * [[sessionized]] rule as #9) joined into a `view>click>…` path
    * string, counted across sessions. The UX answer "how do people
    * actually move through the product" that the transition MATRIX
    * ([[eventTransitions]]) marginalizes away — paths keep order
    * beyond one step.
    *
    * Scale: sessionization's user-keyed window exchange is the ONE
    * corpus-grain shuffle; the per-session `collect_list` groups on
    * (user_id, session_id), which hash-partitioning on user_id
    * already satisfies (subset-of-keys clustering) — no second
    * corpus exchange, and the buffer is one session's events (gap-
    * bounded), truncated to 5 on the spot. Path counting then runs
    * on session-grain rows; top-10 lowers to TakeOrderedAndProject
    * (no global sort exchange). Determinism: in-session order is the
    * total (ts, event_id); ties in the top-10 break on the path
    * string.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val paths = sessionized(Tables.events(spark, dir))
      .groupBy("user_id", "session_id")
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .select(array_join(
        slice(transform(col("evs"), e => e("event_type")), 1, 5), ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(10)
  }

  /** `ab_test_conversion` — two-proportion experiment readout (full
    * oracle): users deterministically split A/B on the md5 of their
    * id (the [[graft.operators.TextOps.hashSplit]] discipline — the
    * assignment is a pure function of user_id, reproducible across
    * engines/re-runs/appends), conversion = "user has ≥1 high-value
    * purchase (value > 180)" (a ~27% base rate at every fixture SF —
    * a signup-shaped metric would be degenerate here, every user has
    * one), and the pooled two-proportion z statistic
    * `z = (p̂_A − p̂_B) / √(p̂(1−p̂)(1/n_A + 1/n_B))` with a
    * significance flag at |z| > 1.96 on the ROUNDED z (no boundary-
    * ulp flips). The experimentation primitive a product analytics
    * engine owes its users; the same shape serves any binary metric.
    *
    * Scale: conversion is a user-grain `max(bool)` — ONE two-phase
    * corpus exchange; group assignment is scan-side arithmetic; the
    * 2-row group frame folds to a single row via conditional aggs.
    * z's sqrt/divisions are correctly-rounded IEEE ops on count
    * ratios — bit-identical cross-engine before rounding.
    */
  def abTestConversion(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 180, 1L)
        .otherwise(0L)).as("conv"))
      .withColumn("grp",
        when((instr(lit("0123456789abcdef"),
          substring(md5(col("user_id").cast("string")), 1, 1)) - 1) % 2 === 0,
          lit("A")).otherwise(lit("B")))
    val g = perUser.groupBy().agg(
      sum(when(col("grp") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("grp") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("grp") === "A", col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("grp") === "B", col("conv")).otherwise(0L)).as("conv_b"))
    // try_divide throughout: an empty arm (n_a or n_b = 0) yields NULL
    // rates like the DuckDB oracle instead of failing the whole query
    // under ANSI (r4 advice) — unreachable on a real md5 user split, but
    // consistent with the repo-wide dirty-input policy.
    val pA = try_divide(col("conv_a"), col("n_a"))
    val pB = try_divide(col("conv_b"), col("n_b"))
    val pool = try_divide(col("conv_a") + col("conv_b"), col("n_a") + col("n_b"))
    // try_divide: a degenerate split (0% or 100% pooled conversion)
    // has zero pooled variance — z is undefined (NULL, matching
    // DuckDB's x/0), not an ANSI error
    val z = try_divide(pA - pB,
      sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
    g.select(col("n_a"), col("n_b"),
        r4(pA).as("rate_a"), r4(pB).as("rate_b"),
        r4(z).as("z_stat"),
        (abs(r4(z)) > 1.96).as("significant"))
  }

  /** `interarrival_stats` — per-type arrival-process profile (full
    * oracle): mean and coefficient-of-variation of INTRA-DAY
    * inter-arrival gaps, plus the per-minute Fano factor
    * (var/mean of minute counts). CV ≈ 1 and Fano ≈ small ⇒ Poisson
    * arrivals (alert thresholds can assume exponential gaps);
    * CV ≫ 1 ⇒ bursty traffic that needs burst-aware capacity — the
    * arrival-SHAPE diagnostic under [[zscoreAnomaly]]'s level shifts
    * and [[seasonalDowIndex]]'s calendar profile.
    *
    * Gaps are defined WITHIN (type, day): a sequence statistic only
    * partitions if its key does — the (type)-only form is the tfidf
    * skew lesson (|types| partitions at any corpus size), while the
    * (type, day) form re-partitions with the calendar at the cost of
    * one documented lost gap per day boundary. Gap math is exact
    * integer µs; the CV/Fano divisions round r4.
    *
    * Scale: one (type, day)-keyed window exchange for gaps + its
    * type-grain re-agg; the minute rollup collapses map-side; the
    * final join is types-grain broadcast.
    */
  def interarrivalStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("event_type"), to_date(col("ts")))
      .orderBy(col("ts"), col("event_id"))
    val gaps = ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .where(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        avg(col("gap_us") / 1e6).as("mean_s"),
        stddev_pop(col("gap_us") / 1e6).as("sd_s"))
    val fano = ev
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg((var_pop(col("c")) / avg(col("c"))).as("fano"))
    gaps.join(broadcast(fano), "event_type")
      .select(col("event_type"), col("n_gaps"),
        r4(col("mean_s")).as("mean_gap_s"),
        // try_divide: an all-zero-gap type (duplicate timestamps) has
        // an undefined CV (NULL, matching DuckDB), not an ANSI error
        r4(try_divide(col("sd_s"), col("mean_s"))).as("cv_gap"),
        r4(col("fano")).as("fano_minute"))
      .orderBy("event_type")
  }

  /** `max_gap_minutes` — detector-blindness windows (full oracle):
    * per type, the worst and average DAILY MAXIMUM inter-arrival gap
    * and the count of days with an hour-plus silence. The SLA
    * question [[interarrivalStats]]' mean/CV can't answer — a
    * monitoring stream with healthy averages can still go dark for
    * an hour, and that hour is where incidents hide. Same (type,
    * day)-keyed window as interarrival_stats (the sequence statistic
    * partitions with the calendar); gap math is exact integer µs,
    * rounded to the minute grid identically in both engines.
    */
  def maxGapMinutes(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), to_date(col("ts")))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .where(col("gap_us").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(max("gap_us") / 6e7).cast("long").as("max_gap_min"))
      .groupBy("event_type")
      .agg(max("max_gap_min").as("worst_gap_min"),
        r4(avg("max_gap_min")).as("avg_daily_max_gap"),
        sum(when(col("max_gap_min") >= 60, 1L).otherwise(0L))
          .as("days_with_hour_gap"))
      .orderBy("event_type")
  }

  /** Shared (type, day) burn rollup: per-day breach-minute count and
    * minute count under the [[errorBudgetBurn]] SLO convention
    * (minute-avg outside [50, 150] breaches; budget = 1% of minutes).
    */
  private def dailyBurn(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .agg(avg("value").as("v"))
      .groupBy(col("event_type"), to_date(col("m")).as("day"))
      .agg(count(lit(1)).as("minutes"),
        sum(when(col("v") < 50 || col("v") > 150, 1L).otherwise(0L)).as("breaches"))

  /** `burn_forecast` — error-budget burn trend + 7-day projection
    * (full oracle): OLS of the daily burn multiple (breach share ÷
    * the 1% budget, [[errorBudgetBurn]]'s convention) on the day
    * index, projected to anchor+7 days, flagged when the projection
    * exceeds budget. The forward-looking complement of
    * [[burnRateAlerts]]' instantaneous detection — "will this SLO
    * exhaust its budget NEXT week" is the question a review meeting
    * actually asks.
    *
    * Scale: raw events collapse map-side into the minute rollup (the
    * one corpus exchange); regr_* are algebraic moment accumulators
    * over the days×types grain; the min-day anchor is a single-row
    * broadcast. Projection compares on the ROUNDED value (no
    * boundary-ulp flips).
    */
  def burnForecast(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyBurn(spark, dir)
    val minDay = daily.agg(min("day").as("d0"))
    val b = daily.crossJoin(broadcast(minDay))
      .select(col("event_type"),
        datediff(col("day"), col("d0")).cast("double").as("di"),
        (col("breaches") / (col("minutes") * lit(0.01))).as("burn"))
    val proj = regr_intercept(col("burn"), col("di")) +
      regr_slope(col("burn"), col("di")) * (max(col("di")) + lit(7.0))
    b.groupBy("event_type")
      .agg(
        r4(regr_slope(col("burn"), col("di"))).as("slope"),
        r4(regr_intercept(col("burn"), col("di"))).as("intercept"),
        r4(avg("burn")).as("avg_burn"),
        r4(proj).as("proj_burn_7d"),
        (r4(proj) > 1.0).as("over_budget_7d"))
      .orderBy("event_type")
  }

  /** `flap_rate` — SLO state flapping (full oracle): daily bad/good
    * state (breach-minute share > 0.68, [[breachStreaks]]' daily
    * convention), counting state TRANSITIONS per type. A high flap
    * rate with few long streaks means a threshold sitting on the
    * noise floor — the alert-fatigue diagnostic that tells an SRE to
    * re-tune before anyone mutes the alert. Share is one exact IEEE
    * division of two longs; the flip indicator is integer equality —
    * no float exposure anywhere but the final rate (r4).
    *
    * Scale: same minute→day map-side collapse as every SLO query;
    * the lag window runs on the days×types grain (calendar-bounded
    * partitions at any corpus size).
    */
  def flapRate(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyBurn(spark, dir)
      .select(col("event_type"), col("day"),
        when(col("breaches") * lit(1.0) / col("minutes") > 0.68, 1L)
          .otherwise(0L).as("bad"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("prev", lag(col("bad"), 1).over(w))
      .withColumn("flip",
        when(col("prev").isNotNull && col("bad") =!= col("prev"), 1L).otherwise(0L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("bad").as("n_bad_days"),
        sum("flip").as("n_flaps"),
        // try_divide: a 1-day series has no transitions to rate (NULL,
        // matching DuckDB's x/0), not an ANSI error
        r4(try_divide(sum("flip") * lit(1.0), count(lit(1)) - 1)).as("flap_rate"))
      .orderBy("event_type")
  }

  /** `seasonal_decompose` — classical additive decomposition of the
    * daily SLI series (full oracle): trend = centered 7-day moving
    * average, weekday effect = per-dow mean of the detrended series
    * ([[seasonalDowIndex]]'s profile, now REMOVED from the signal),
    * residual = what's left; reported as σ(raw) vs σ(residual) and
    * the variance fraction explained. The denoising step in front of
    * [[zscoreAnomaly]]: a detector on residuals pages on genuine
    * shifts, not on Thursdays.
    *
    * Edge frames: the centered MA uses partial frames at the series
    * ends (identical ROWS semantics in both engines — determinism
    * over edge-theory). Scale: everything past the minute/day
    * map-side collapse runs on the days×types grain; the dow-effect
    * join is a 7×types broadcast.
    */
  /** `locf_impute` — last-observation-carried-forward imputation of
    * the daily SLI series (full oracle): days whose breach-minute
    * share exceeds the 0.68 daily-bad convention are MASKED (their
    * average is corrupt, not missing — [[gapFillMinutes]] handles
    * absent rows; this handles untrustworthy ones) and re-filled
    * with the most recent good day's value via
    * `last(v, ignoreNulls) OVER (… ROWS UNBOUNDED PRECEDING)` — the
    * IGNORE NULLS window-value surface (first/last/nth) the §2.6
    * window checklist was missing. Leading bad days stay NULL (no
    * prior observation exists; both engines agree).
    *
    * Scale: minute→day map-side collapse, then one days×types-grain
    * window — calendar-bounded partitions at any corpus size.
    */
  def locfImpute(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyBurnValue(spark, dir)
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .select(col("event_type"), col("day"),
        r4(col("v_masked")).as("v_masked"),
        r4(last(col("v_masked"), ignoreNulls = true).over(w)).as("v_filled"))
      .orderBy("event_type", "day")
  }

  /** `interp_impute` — LINEAR interpolation across masked gaps (the
    * companion to [[locfImpute]]'s carry-forward): a masked day gets
    * `prev + (next − prev) · (day − prev_day)/(next_day − prev_day)`
    * from its nearest non-masked neighbors, so multi-day gaps ramp
    * instead of plateauing (LOCF biases a recovering series low;
    * interpolation is the right default for rate-like SLIs whose
    * underlying signal is continuous). Leading/trailing gaps (only
    * one neighbor) degrade to nearest-neighbor fill. Same shared
    * [[dailyBurnValue]] rollup and mask as locf_impute — full oracle.
    *
    * Scale: identical shape to locf_impute — the rollup's minute agg
    * is the corpus-sized work; the four neighbor lookups are frames
    * over the (type, day) grain (calendar-bounded per partition, 30
    * rows here), one partitioned Window exchange. Division is
    * null-guarded by construction: a masked day lies strictly
    * between its neighbors, so next_day − prev_day ≥ 2 whenever both
    * exist, and a missing neighbor nulls the product (no ANSI
    * divide-by-zero path).
    */
  def interpImpute(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyBurnValue(spark, dir)
    val base = Window.partitionBy("event_type").orderBy("day")
    val wP = base.rowsBetween(Window.unboundedPreceding, -1)
    val wN = base.rowsBetween(1, Window.unboundedFollowing)
    val pv = last(col("v_masked"), ignoreNulls = true).over(wP)
    val pd = last(when(col("v_masked").isNotNull, col("day")),
      ignoreNulls = true).over(wP)
    val nv = first(col("v_masked"), ignoreNulls = true).over(wN)
    val nd = first(when(col("v_masked").isNotNull, col("day")),
      ignoreNulls = true).over(wN)
    val interp = coalesce(
      when(col("v_masked").isNotNull, col("v_masked"))
        .otherwise(pv + (nv - pv) * datediff(col("day"), pd) / datediff(nd, pd)),
      pv, nv)
    daily
      .select(col("event_type"), col("day"),
        r4(col("v_masked")).as("v_masked"),
        r4(interp).as("v_interp"))
      .orderBy("event_type", "day")
  }

  /** (type, day) rollup carrying BOTH the daily average and its
    * masked form (NULL when the day's breach share > 0.68) — shared
    * by [[locfImpute]]; kept separate from [[dailyBurn]] because the
    * masking needs the per-minute averages, not just counts.
    */
  private def dailyBurnValue(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .agg(avg("value").as("v"))
      .groupBy(col("event_type"), to_date(col("m")).as("day"))
      .agg(
        when(sum(when(col("v") < 50 || col("v") > 150, 1L).otherwise(0L)) * lit(1.0) /
          count(lit(1)) > 0.68, lit(null).cast("double"))
          .otherwise(avg("v")).as("v_masked"))

  /** `purchase_attribution` — last-touch attribution (full oracle):
    * each purchase is credited to the same user's most recent
    * non-purchase event within 1 hour, else 'direct'. The
    * product-analytics question behind [[eventTransitions]]'
    * aggregate matrix — which touchpoint actually precedes money.
    *
    * Implementation is the LOCF discipline applied to an as-of join:
    * `last(struct(ts, type) when non-purchase, ignoreNulls)` over
    * the user stream with a `(…, 1 PRECEDING)` frame carries the
    * candidate touch; the 1-hour bound then nulls stale carries.
    * This is [[asofPriorView]]'s linear window shape — no
    * self-join, no pair explosion, ONE user-keyed exchange; the
    * attribution rollup is |types|+1 rows at any corpus size.
    */
  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prior",
        last(when(col("event_type") =!= "purchase",
          struct(col("ts").as("t"), col("event_type").as("et"))),
          ignoreNulls = true).over(w))
    val attributed = carried
      .where(col("event_type") === "purchase")
      .select(
        when(col("prior").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prior.t")) > 3600000000L,
          lit("direct")).otherwise(col("prior.et")).as("attributed"))
    val cnt = attributed.groupBy("attributed").agg(count(lit(1)).as("n"))
    cnt
      .withColumn("share", r4(col("n") * lit(1.0) / sum("n").over(Window.partitionBy())))
      .orderBy("attributed")
  }

  /** `daily_percentile_bands` — p10/p50/p90 envelope of the daily
    * SLI series per type (full oracle): the dashboard band chart
    * behind every "is today normal" glance, and the spread metric
    * (p90−p10) that [[zscoreAnomaly]]'s σ-based z can misstate on
    * heavy tails. All three quantiles come from ONE `percentile`
    * call with an array of fractions (single sort per group, not
    * three); the band subtracts the UNROUNDED quantiles before its
    * own rounding, exactly like the oracle.
    *
    * Scale: percentile groups are the days×types grain (calendar-
    * bounded — exact beats sketch at any corpus size, the
    * `rolling_p95` argument).
    */
  def dailyPercentileBands(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("v"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        percentile(col("v"), array(lit(0.1), lit(0.5), lit(0.9))).as("qs"))
      .select(col("event_type"), col("n_days"),
        r4(element_at(col("qs"), 1)).as("p10"),
        r4(element_at(col("qs"), 2)).as("p50"),
        r4(element_at(col("qs"), 3)).as("p90"),
        r4(element_at(col("qs"), 3) - element_at(col("qs"), 1)).as("band"))
      .orderBy("event_type")
  }

  /** `type_corr_matrix` — cross-series correlation of the daily SLI
    * averages between every pair of event types (full oracle):
    * Pearson r over the shared day spine, canonical a<b pairs. The
    * dependency map incident response needs ("error rate moves with
    * purchase volume — same upstream?") and the input to any
    * multivariate anomaly gate, complementing [[zscoreAnomaly]]'s
    * per-series view.
    *
    * Scale: the rollup is days×types; the self-join is day-keyed on
    * that grain (calendar-bounded — never corpus-sized); corr is an
    * algebraic moment accumulator (partial-aggregable). Output is
    * C(types, 2) rows.
    */
  def typeCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("v"))
    daily.as("a")
      .join(daily.as("b"),
        col("a.day") === col("b.day") && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_days"), r4(corr(col("a.v"), col("b.v"))).as("r"))
      .orderBy("type_a", "type_b")
  }

  /** `value_autocorr` — lag-1 and lag-7 autocorrelation of the daily
    * SLI series per type (full oracle): persistence (acf1 ≫ 0 means
    * yesterday predicts today — alerts should baseline on yesterday)
    * and weekly memory (acf7, the autocorrelation form of
    * [[seasonalDowIndex]]'s calendar profile). `corr` pairs null-
    * skipping in both engines, so the first k days simply drop from
    * lag-k — counts reported.
    *
    * Scale: one days×types window for the lags, then moment aggs —
    * calendar-bounded after the map-side minute/day collapse.
    */
  def valueAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("v"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("v1", lag(col("v"), 1).over(w))
      .withColumn("v7", lag(col("v"), 7).over(w))
      .groupBy("event_type")
      .agg(
        r4(corr(col("v"), col("v1"))).as("acf1"),
        r4(corr(col("v"), col("v7"))).as("acf7"),
        count(col("v1")).as("n1"),
        count(col("v7")).as("n7"))
      .orderBy("event_type")
  }

  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("v"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-3, 3)
    val de = daily
      .withColumn("detr", col("v") - avg("v").over(w))
      .withColumn("dow", dayofweek(col("day")))
    val eff = de.groupBy("event_type", "dow")
      .agg(avg("detr").as("dow_eff"))
    de.join(broadcast(eff), Seq("event_type", "dow"))
      .select(col("event_type"), col("v"), (col("detr") - col("dow_eff")).as("r"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        r4(stddev_pop(col("v"))).as("sd_raw"),
        r4(stddev_pop(col("r"))).as("sd_resid"),
        // try_divide: a zero-variance series must report NULL (DuckDB's
        // x/0 semantics), not raise under ANSI
        r4(lit(1.0) - try_divide(var_pop(col("r")), var_pop(col("v"))))
          .as("var_explained"))
      .orderBy("event_type")
  }

  /** `cusum_changepoint` — CUSUM drift detection over the per-type
    * daily series (full oracle): the one-sided cumulative-sum
    * statistic `S_t = max(0, S_{t-1} + z_t − slack)` with slack 0.5σ,
    * reporting each type's peak CUSUM, the day it peaks (the change
    * point), and the count of days above the h=2 alarm threshold.
    * The sustained-SHIFT detector that completes the anomaly family:
    * zscore_anomaly fires on single-day spikes, ewma_smooth tracks
    * the level, CUSUM accumulates many small same-direction
    * deviations a per-day z-test never sees (the classic slow-burn
    * SLO degradation).
    *
    * The recursion is NOT computed recursively: `S_t =
    * P_t − min(0, min_{j≤t} P_j)` where `P` is the plain prefix sum
    * of `z_t − slack` (the standard reflection identity) — so the
    * whole statistic is two stacked running windows, no iterative
    * plan, no sequential task chain (contrast budget_carryover,
    * whose recurrence has no such closed form).
    *
    * Scale shape: one (type, day) rollup is the only corpus-sized
    * exchange (two-phase, partial-agg'd); per-type mean/σ broadcast
    * back onto the CALENDAR-grain daily frame; both windows and the
    * peak-day rank partition by event_type over days — bounded by
    * the calendar at any corpus size (the interarrival_stats
    * precedent). Peak-day ties break on the r4 grid by earliest day,
    * pinned identically in both engines via row_number.
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg("value").as("x"))
    val stats = daily.groupBy("event_type")
      .agg(avg("x").as("mu"), stddev_samp(col("x")).as("sd"))
    val base = Window.partitionBy("event_type").orderBy("day")
    val run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // try_divide: a single-day type has NULL σ, a constant series σ=0 —
    // the whole type's CUSUM goes NULL rather than ANSI-failing
    val y = try_divide(col("x") - col("mu"), nullif(col("sd"), lit(0.0))) - lit(0.5)
    val withS = daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("pf", sum(y).over(run))
      .withColumn("cusum",
        r4(col("pf") - least(lit(0.0), min(col("pf")).over(run))))
      .withColumn("rn",
        row_number().over(
          base.orderBy(col("cusum").desc_nulls_last, col("day"))))
    withS.groupBy("event_type")
      .agg(
        max(col("cusum")).as("max_cusum"),
        min(when(col("rn") === 1, col("day"))).as("peak_day"),
        sum(when(col("cusum") > 2.0, 1L).otherwise(0L)).as("n_alarm_days"))
      .orderBy("event_type")
  }

  /** `iqr_outliers` — Tukey-fence outlier counts per event type
    * (full oracle): exact Q1/Q3, fences at ±1.5·IQR, and the count
    * of values outside them. The ROBUST member of the outlier
    * family: [[zscoreAnomaly]]'s mean/σ fences are themselves
    * dragged by the outliers they hunt, while quartiles ignore the
    * tails entirely — the standard first screen on a value column
    * whose distribution is unknown.
    *
    * Fences are rounded to the r4 grid BEFORE the comparison in
    * both engines: the interpolated quartiles agree cross-engine
    * only to summation-order noise, and an unrounded fence would
    * let a value within an ulp of it flip the count (the argmin
    * lesson from kmeans_assign applied to a threshold).
    *
    * Scale: exact `percentile` buffers each group's values — the
    * honest bounded-cardinality form (|types| groups); the documented
    * swap is the GK plane (percentile_approx / mad_robust_gk) whose
    * rank-ε bounds the fence drift. The probe scan is the second,
    * inherent, corpus pass; the quartile frame broadcasts.
    */
  def iqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val q = ev.groupBy("event_type").agg(
      expr("percentile(value, 0.25)").as("q1"),
      expr("percentile(value, 0.75)").as("q3"))
    val lo = r4(col("q1") - lit(1.5) * (col("q3") - col("q1")))
    val hi = r4(col("q3") + lit(1.5) * (col("q3") - col("q1")))
    ev.join(broadcast(q), Seq("event_type"))
      .withColumn("lo", lo)
      .withColumn("hi", hi)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"),
        r4(min("q1")).as("q1"),
        r4(min("q3")).as("q3"))
      .orderBy("event_type")
  }

  /** `psi_drift` — Population Stability Index of the per-type value
    * distribution between the first and second half of the observed
    * month (full oracle): the standard drift score
    * `Σ_b (p2_b − p1_b)·ln(p2_b/p1_b)` monitoring teams alarm on
    * (≳0.1 = moderate shift, ≳0.25 = major). Complements
    * cusum_changepoint (WHEN the level moved) with a
    * distribution-SHAPE delta between two fixed windows.
    *
    * Buckets are hist_buckets' fixed [0,200)/width-10 clamp grid —
    * identical IEEE arithmetic in both engines — restricted to
    * buckets OBSERVED in either half (a bucket absent from both
    * halves carries no evidence); proportions are Laplace-smoothed
    * (`(n + 0.5)/(N + 0.5·B)`) so a bucket empty on one side
    * contributes a finite term instead of ln(0) — the textbook PSI
    * smoothing, applied identically in the oracle.
    *
    * Scale shape: ONE corpus scan collapsing map-side into the
    * (type, bucket) conditional-count grain (≤ |types|·20 rows);
    * everything after — per-type totals, the smoothing join, the PSI
    * sum — runs on that bounded frame. The two halves come from
    * conditional aggregation, not two scans.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame =
    psiFromBuckets(psiBucketCounts(Tables.events(spark, dir)))

  /** The ONE corpus-sized stage of [[psiDrift]]: collapse events into
    * (type, bucket) conditional counts for the two halves. A plain
    * running aggregate with no window, so the same expression would
    * run incrementally on a stream.
    */
  private def psiBucketCounts(events: DataFrame): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    events
      .groupBy(col("event_type"),
        least(greatest(floor(col("value") / 10), lit(0)), lit(19))
          .cast("long").as("bucket"))
      .agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("n1"),
        sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("n2"))
  }

  /** The bounded PSI finisher over a (type, bucket, n1, n2) frame
    * (≤ |types|·20 rows — per-type totals, Laplace smoothing, the
    * PSI sum).
    */
  private def psiFromBuckets(b: DataFrame): DataFrame = {
    val t = b.groupBy("event_type")
      .agg(sum("n1").as("t1"), sum("n2").as("t2"),
        count(lit(1)).as("nb"))
    b.join(t, Seq("event_type"))
      .select(col("event_type"), col("nb"),
        ((col("n1") + 0.5) / (col("t1") + lit(0.5) * col("nb"))).as("p1"),
        ((col("n2") + 0.5) / (col("t2") + lit(0.5) * col("nb"))).as("p2"))
      .groupBy("event_type")
      .agg(max("nb").as("n_buckets"),
        r4(sum((col("p2") - col("p1")) * log(col("p2") / col("p1"))))
          .as("psi"))
      .orderBy("event_type")
  }

  /** `survival_conversion` — Kaplan–Meier survival of view→purchase
    * conversion WITH right-censoring (full oracle): S(t) = Π over
    * event times ≤ t of (1 − d_i/n_i), read out at six horizons
    * (1h … 30d). The statistically honest companion to
    * time_to_convert: that query averages over users who DID convert
    * (survivorship bias by construction); KM keeps every user with a
    * first view in the at-risk set, censoring non-converters at the
    * observation window's end (administrative censoring at the
    * corpus max ts), so "P(not yet converted by t)" is unbiased —
    * the standard estimator (Kaplan & Meier 1958, public knowledge).
    *
    * Determinism/parity: durations are exact integer minutes
    * (µs-diff / 6e7 is exact-double arithmetic, floor-safe); d/n
    * terms are exact-count ratios; the product is computed as
    * exp(Σ ln(1 − d/n)) in BOTH engines so association can't differ.
    *
    * Scale: subject building is two user-keyed aggs + one user join;
    * the KM fold runs on the DURATION-grain histogram (bounded by
    * the observation calendar in minutes, not the corpus); its
    * unpartitioned window is pinned on that grain. Horizon readout
    * is a 6-row broadcast theta-join.
    */
  def survivalConversion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    // user-grain frame, two consumers (purchase scope + subject
    // build): cut so the view agg's corpus scan runs once
    val t0 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t0")).cut()
    val tp = e.filter(col("event_type") === "purchase")
      .join(t0, Seq("user_id"))
      .filter(col("ts") > col("t0"))
      .groupBy("user_id").agg(min("ts").as("tp"))
    val tmax = e.agg(max("ts").as("tmax"))
    // subject-grain frame, two consumers (histogram + N): cut
    val obs = t0.join(tp, Seq("user_id"), "left")
      .crossJoin(broadcast(tmax))
      .select(
        floor((unix_micros(coalesce(col("tp"), col("tmax"))) -
          unix_micros(col("t0"))) / lit(6e7)).as("dur"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("ev"))
      .cut()
    val hist = obs.groupBy("dur")
      .agg(sum("ev").as("d"), sum(lit(1L) - col("ev")).as("c"))
    val nTotal = obs.agg(count(lit(1)).as("n_total"))
    val wBefore = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wIncl = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val km = hist.crossJoin(broadcast(nTotal))
      .withColumn("at_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wBefore),
          lit(0L)))
      .withColumn("lnterm",
        when(col("d") === 0, lit(0.0))
          // the final event time can exhaust the risk set (d == n):
          // S drops to exactly 0 — explicit −∞ instead of ln(0),
          // which DuckDB raises on (exp(−∞) = 0 in both engines)
          .when(col("d") >= col("at_risk"), lit(Double.NegativeInfinity))
          .otherwise(log(lit(1.0) - col("d") / col("at_risk"))))
      .withColumn("surv", exp(sum("lnterm").over(wIncl)))
      .withColumn("cum_conv", sum("d").over(wIncl))
      .withColumn("cum_cens", sum("c").over(wIncl))
    val horizons = spark.range(1).select(
      explode(array(Seq(60L, 360L, 1440L, 4320L, 10080L, 43200L)
        .map(lit(_)): _*)).as("horizon_m"))
    broadcast(horizons)
      .join(km, col("dur") <= col("horizon_m"), "left")
      .groupBy("horizon_m")
      .agg(
        coalesce(max("cum_conv"), lit(0L)).as("n_converted"),
        coalesce(max("cum_cens"), lit(0L)).as("n_censored"),
        r4(coalesce(max_by(col("surv"), col("dur")), lit(1.0)))
          .as("survival"))
      .orderBy("horizon_m")
  }

  /** `value_drawdown` — running-peak drawdown of the value series per
    * type, in ingestion (event_id) order (full oracle): for each
    * event, how far value sits below the high-watermark seen so far;
    * the summary reports the peak, the deepest and mean drawdown, and
    * the share of events that SET a new high. The collapse detector —
    * a metric that rises but keeps printing deeper drawdowns is
    * oscillating, one whose at-peak share decays to 0 has plateaued;
    * classic in finance (maximum drawdown), equally useful on
    * capacity/latency telemetry.
    *
    * The running max is [[PrefixOps.prefixMaxBy]] — the max-monoid
    * prefix scan — NOT `max().over(Window.partitionBy(event_type)
    * .orderBy(event_id))`: the grain is raw events (corpus-
    * proportional) under a ~5-value key, the exact single-task-sort
    * shape the bounded-dimension tripwire exists for. Every task
    * scans only its own slice; the one bounded window runs over the
    * |types|×P offsets frame. Readout aggregates are plain per-type
    * folds broadcast onto nothing.
    */
  def valueDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    PrefixOps.prefixMaxBy(e, "event_type", "event_id", "value", "runmax")
      .withColumn("dd", col("runmax") - col("value"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        r2(max("value")).as("peak_value"),
        r2(max("dd")).as("max_drawdown"),
        r4(avg("dd")).as("avg_drawdown"),
        r4(avg(when(col("dd") === 0.0, 1.0).otherwise(0.0)))
          .as("at_peak_share"))
      .orderBy("event_type")
  }

  /** `dft_periodogram` — discrete-Fourier power at the first six
    * harmonics of the daily cycle over the minute-of-day value curve
    * (full oracle): P(k) = a_k² + b_k² with a_k = Σ_m s(m)·cos(2πkm/
    * 1440), b_k the sine twin — the SPECTRAL seasonality detector
    * (classical periodogram, Schuster 1898, public knowledge).
    * seasonal_dow_index and seasonal_decompose ASSUME a period and
    * measure its profile; the periodogram asks which within-day
    * frequencies carry energy at all — the diagnostic a real SLI
    * pipeline runs before fitting any seasonal model.
    *
    * Scale shape: the corpus is touched ONCE (the 1440-row
    * minute-of-day rollup — calendar-bounded); all trigonometry runs
    * on the bounded grid (1440 × 6 terms), so cross-engine cos/sin
    * ulp noise is bounded by the GRID size, not the corpus. s(m) is
    * r2-snapped before the transform (kills summation-order noise at
    * the source); powers are normalized by (Σs)² so every output is
    * in [0,1] and r6/r4 rounding sits far above the ≤1e-12 trig
    * noise. The six-row harmonic frame is a local range (no table
    * scan); the 1-row total-power frame broadcasts (pinned).
    */
  def dftPeriodogram(spark: SparkSession, dir: String): DataFrame = {
    val byMin = Tables.events(spark, dir)
      .groupBy((hour(col("ts")) * 60 + minute(col("ts"))).as("m"))
      .agg(r2(sum("value")).as("s"))
    val ks = spark.range(1, 7).select(col("id").as("k"))
    val ang = lit(2.0) * lit(math.Pi) * col("k") * col("m") / lit(1440.0)
    val pw = byMin.crossJoin(broadcast(ks))
      .select(col("k"), col("s"),
        (col("s") * cos(ang)).as("ct"), (col("s") * sin(ang)).as("st"))
      .groupBy("k")
      .agg(sum("ct").as("a"), sum("st").as("b"), sum("s").as("tot"))
      .select(col("k"),
        (col("a") * col("a") + col("b") * col("b")).as("p"),
        col("tot"))
    val total = pw.agg(sum("p").as("ptot"))
    pw.crossJoin(broadcast(total))
      .select(col("k"),
        // amplitude of harmonic k relative to the series total — the
        // [0,1] magnitude readout (raw normalized POWER of a flat
        // series is ~1e-7 and would vanish under any sane rounding)
        graft.functions.Det.r6(sqrt(col("p")) / col("tot"))
          .as("amp_ratio"),
        r4(col("p") / col("ptot")).as("power_share"))
      .orderBy("k")
  }

  /** `scd2_versions` — a slowly-changing-dimension TYPE-2 history
    * build from the event stream (full oracle): per user, collapse
    * consecutive same-VALUE-BAND runs (band = ⌊value/25⌋ — the
    * attribute being tracked) into versions with [eff_from, eff_to)
    * effective ranges via lag-change markers + a running version
    * counter + lead for the close-out — the Kimball SCD2 build, the
    * single most common warehouse maintenance op this engine didn't
    * yet demonstrate. Output is the band-grain version report
    * (version counts, open vs closed, mean closed-version lifetime).
    *
    * Scale shape: both windows are keyed by user_id — a
    * data-PROPORTIONAL key (per-key rows = that user's events), so
    * the sort parallelizes across the corpus; the version collapse is
    * a (user, version) hash agg; the report is a bounded band-grain
    * rollup. Determinism: ties inside a user's second are broken by
    * event_id; durations are exact epoch-ms integers before the one
    * division.
    */
  /** The (user_id, ver, band, eff_from, eff_to, n_events) SCD2
    * version frame [[scd2Versions]] reports over — exposed so the
    * streaming twin ([[graft.streaming.Scd2Stream]]) can be pinned
    * against the identical batch history (Scd2StreamSpec).
    */
  private[graft] def scd2VersionFrame(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") / 25).cast("long").as("band"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val versioned = ev
      .withColumn("isnew",
        when(lag("band", 1).over(w).isNull ||
          lag("band", 1).over(w) =!= col("band"), 1L).otherwise(0L))
      .withColumn("ver", sum("isnew").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val versions = versioned.groupBy("user_id", "ver", "band")
      .agg(min("ts").as("eff_from"), count(lit(1)).as("n_events"))
    val w2 = Window.partitionBy("user_id").orderBy("ver")
    versions.withColumn("eff_to", lead("eff_from", 1).over(w2))
  }

  def scd2Versions(spark: SparkSession, dir: String): DataFrame = {
    scd2VersionFrame(spark, dir)
      .groupBy("band")
      .agg(count(lit(1)).as("n_versions"),
        count(col("eff_to")).as("n_closed"),
        r4(avg(when(col("eff_to").isNotNull,
          (unix_millis(col("eff_to")) - unix_millis(col("eff_from"))) /
            lit(60000.0)))).as("avg_closed_min"),
        countDistinct("user_id").as("n_users"),
        r4(avg(col("n_events").cast("double"))).as("avg_events_per_version"))
      .orderBy("band")
  }
}
