package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffled equi-joins. AQE's skew-join split
  * (on by default) handles most hot keys at runtime; this explicit
  * salted join is for the cases AQE can't fix — a single key so hot
  * one task still chokes after splitting, or a deliberately
  * pre-partitioned pipeline where runtime re-planning is off.
  *
  * Shape: the (small) build side is replicated `salt` ways; each
  * probe row picks one replica pseudo-randomly but DETERMINISTICALLY
  * (hash of its own key + row id), so the hot key's probe rows spread
  * over `salt` reducers instead of one. Result is row-identical to
  * the plain join (ScaleOpsSpec proves it).
  */
object SkewOps {

  /** Equi-join `probe ⋈ build` on `probe(probeKey) == build(buildKey)`
    * with the build side salted `salt` ways. `build` must be the
    * smaller side (it is replicated ×salt).
    */
  def saltedEquiJoin(probe: DataFrame, build: DataFrame,
      probeKey: String, buildKey: String, salt: Int): DataFrame = {
    val p = probe.withColumn("__salt_p",
      pmod(xxhash64(col(probeKey), monotonically_increasing_id()), lit(salt.toLong))
        .cast("int"))
    val b = build.withColumn("__salt_b",
      explode(sequence(lit(0), lit(salt - 1))))
    p.join(b,
        p(probeKey) === b(buildKey) && col("__salt_p") === col("__salt_b"))
      .drop("__salt_p", "__salt_b")
  }

  /** [[saltedEquiJoin]] with the salt applied ONLY to detected hot
    * keys — the production form when the build side is too large to
    * replicate wholesale. One counting pass over the probe keys finds
    * keys above `hotThreshold` rows (the [[skewProfile]] statistic
    * turned into a cut); the probe splits into a cold lane (plain
    * equi-join) and a hot lane where only the HOT keys' build rows
    * replicate ×salt — replication cost O(|hot keys| × salt), not
    * O(|build| × salt). Row-identical to the plain join (ScaleOpsSpec
    * pins it on both sides of the hot threshold; same argument as
    * [[saltedEquiJoin]]).
    *
    * The hot-key frame is collected to the driver — bounded by
    * construction: at threshold t over n probe rows there are ≤ n/t
    * hot keys (a 100 TB fact at t = 1e6 yields ≤ a few thousand),
    * and they broadcast into both lane filters as a literal set.
    */
  def saltedHotKeyJoin(probe: DataFrame, build: DataFrame,
      probeKey: String, buildKey: String, salt: Int,
      hotThreshold: Long): DataFrame = {
    val hot = probe.groupBy(probeKey).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= hotThreshold)
      .select(probeKey).collect().map(_.get(0))
    if (hot.isEmpty) return probe.join(build, probe(probeKey) === build(buildKey))
    val hotLit = hot.map(lit(_))
    val cold = probe.filter(!col(probeKey).isin(hotLit: _*))
      .join(build.filter(!col(buildKey).isin(hotLit: _*)),
        probe(probeKey) === build(buildKey))
    val pHot = probe.filter(col(probeKey).isin(hotLit: _*))
      .withColumn("__salt_p",
        pmod(xxhash64(col(probeKey), monotonically_increasing_id()), lit(salt.toLong))
          .cast("int"))
    val bHot = build.filter(col(buildKey).isin(hotLit: _*))
      .withColumn("__salt_b", explode(sequence(lit(0), lit(salt - 1))))
    val hotJoined = pHot.join(bHot,
        pHot(probeKey) === bHot(buildKey) && col("__salt_p") === col("__salt_b"))
      .drop("__salt_p", "__salt_b")
    cold.unionAll(hotJoined)
  }

  /** Declared query `salted_join` (WITH DuckDB oracle — salting is
    * semantics-preserving, so the oracle is the PLAIN join+agg and a
    * hash match proves row-identity through the salt): supplier-nation
    * revenue through the salted join at salt = 8.
    */
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Det.r2
    val fact = graft.sources.Tables.lineitem(spark, dir)
      .select("l_suppkey", "l_extendedprice")
    val dim = graft.sources.Tables.supplier(spark, dir)
      .select("s_suppkey", "s_nationkey")
    saltedEquiJoin(fact, dim, "l_suppkey", "s_suppkey", salt = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"), r2(sum("l_extendedprice")).as("revenue"))
      .orderBy("s_nationkey")
  }

  /** Declared query `salted_hot_join` (WITH DuckDB oracle — the plain
    * join+agg, hash-matching through the mitigation exactly like
    * `salted_join`): the same supplier-nation rollup through
    * [[saltedHotKeyJoin]] at threshold 500 — suppliers above ~500
    * lines take the salted lane, the rest the plain lane, so the
    * oracle match exercises the lane SPLIT too (the measured 2.1×
    * crossover vs whole-build salting is BASELINE.md's "Round-6
    * addendum: measured skew-join crossover").
    */
  def saltedHotJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Det.r2
    val fact = graft.sources.Tables.lineitem(spark, dir)
      .select("l_suppkey", "l_extendedprice")
    val dim = graft.sources.Tables.supplier(spark, dir)
      .select("s_suppkey", "s_nationkey")
    saltedHotKeyJoin(fact, dim, "l_suppkey", "s_suppkey", salt = 8,
        hotThreshold = 500L)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"), r2(sum("l_extendedprice")).as("revenue"))
      .orderBy("s_nationkey")
  }

  /** `skew_profile` — join-key skew diagnostic over the fact tables'
    * shuffle keys (full oracle): per key, row count, key cardinality,
    * the hottest key's share, and p99-key-frequency ÷ mean — the
    * numbers that DECIDE between a plain shuffle join, AQE skew
    * split, and [[saltedEquiJoin]]. An engine that ships a salted
    * join owes its users the profiler that says when to use it.
    *
    * Scale: each tagged scan is column-pruned to ONE key column; the
    * (key, value) frequency rollup partial-aggregates map-side (hot
    * keys collapse BEFORE the exchange — measuring skew must not
    * itself skew); the stats pass runs on the key-cardinality grain.
    * The exact p99-over-counts buffers per-profile frequencies —
    * swap for the GK plane past ~1e8 distinct keys per profile,
    * report shape unchanged.
    */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Det.r4
    val t = graft.sources.Tables
    val keyed = Seq(
      ("lineitem.l_orderkey", t.lineitem(spark, dir).select(col("l_orderkey").as("kv"))),
      ("lineitem.l_partkey", t.lineitem(spark, dir).select(col("l_partkey").as("kv"))),
      ("orders.o_custkey", t.orders(spark, dir).select(col("o_custkey").as("kv"))),
      ("events.user_id", t.events(spark, dir).select(col("user_id").as("kv"))))
      .map { case (name, df) => df.select(lit(name).as("key"), col("kv")) }
      .reduce(_ unionAll _)
    keyed
      .groupBy("key", "kv").agg(count(lit(1)).as("n"))
      .groupBy("key")
      .agg(
        sum("n").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max("n").as("top1_rows"),
        r4(max("n") * lit(1.0) / sum("n")).as("top1_share"),
        r4(expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY n)") /
          (sum("n") * lit(1.0) / count(lit(1)))).as("p99_over_avg"))
      .orderBy("key")
  }
}
