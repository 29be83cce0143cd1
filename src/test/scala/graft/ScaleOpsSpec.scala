package graft

import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, SkewOps}
import graft.sources.Tables

/** Specs for the round-2 scale utilities: mergeable source
  * signatures, salted skew join.
  */
class SourceOverlapSpec extends SparkTestBase {
  test("minhash overlap estimator within 4 sd of exact union jaccard per source pair") {
    import spark.implicits._
    // exact token-universe jaccard for source pairs within one lang
    val uni = Tables.documents(spark, sf)
      .select(col("lang"), col("source"), explode(DedupOps.tokensCol).as("tok"))
      .groupBy("lang", "source").agg(collect_set("tok").as("toks"))
      .as[(String, String, Seq[String])].collect()
      .map { case (l, s, t) => (l, s) -> t.toSet }.toMap
    val sig = DedupOps.sourceSignatures(spark, sf)
    val est = sig.as("l").join(sig.as("r"),
        col("l.lang") === col("r.lang") && col("l.source") < col("r.source"))
      .select(col("l.lang"), col("l.source"), col("r.source"),
        (0 until DedupOps.K).map(i =>
          when(col(s"l.m$i") === col(s"r.m$i"), 1).otherwise(0)).reduce(_ + _)
          .as("matches"))
      .collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      val (lang, sa, sb) = (r.getString(0), r.getString(1), r.getString(2))
      val (ta, tb) = (uni((lang, sa)), uni((lang, sb)))
      val exact = ta.intersect(tb).size.toDouble / ta.union(tb).size
      val estJ = r.getInt(3).toDouble / DedupOps.K
      val sd = math.sqrt(math.max(exact * (1 - exact), 0.01) / DedupOps.K)
      assert(math.abs(estJ - exact) <= 4 * sd + 0.02,
        s"($lang,$sa,$sb): est $estJ vs exact $exact (sd $sd)")
    }
  }
}

class SkewSpec extends SparkTestBase {
  test("salted join == plain join (row multiset, via aggregate equality)") {
    val fact = Tables.lineitem(spark, sf).select("l_suppkey", "l_extendedprice")
    val dim = Tables.supplier(spark, sf).select("s_suppkey", "s_nationkey")
    val plain = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
      .collect().map(r => (r.get(0).toString, r.getLong(1), math.rint(r.getDouble(2) * 100)))
      .toSet
    val salted = SkewOps.saltedEquiJoin(fact, dim, "l_suppkey", "s_suppkey", salt = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
      .collect().map(r => (r.get(0).toString, r.getLong(1), math.rint(r.getDouble(2) * 100)))
      .toSet
    assert(salted == plain)
  }

  test("hot-key salted join == plain join, on both sides of the hot threshold") {
    val fact = Tables.lineitem(spark, sf).select("l_suppkey", "l_extendedprice")
    val dim = Tables.supplier(spark, sf).select("s_suppkey", "s_nationkey")
    def rollup(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
      .collect().map(r => (r.get(0).toString, r.getLong(1), math.rint(r.getDouble(2) * 100)))
      .toSet
    val plain = rollup(fact.join(dim, col("l_suppkey") === col("s_suppkey")))
    // threshold 100: every supplier key is hot at sf0.001 (600 rows /
    // 10 suppliers) — the all-hot lane; threshold 10_000_000: no key
    // is hot — the early-exit plain lane; threshold 500: mixed
    Seq(100L, 500L, 10000000L).foreach { thr =>
      val got = rollup(SkewOps.saltedHotKeyJoin(
        fact, dim, "l_suppkey", "s_suppkey", salt = 8, hotThreshold = thr))
      assert(got == plain, s"hot-key salted join diverged at threshold $thr")
    }
  }
}

/** SRP candidate plane: the banding self-join + distinct must shuffle
  * only scalar columns — embedding arrays re-join AFTER candidates.
  */
class SrpPlanSpec extends SparkTestBase {
  test("srpCandidates exchanges carry no array columns") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val vecs = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cands = graft.operators.AnnOps.srpCandidates(vecs)
      val exchanges = cands.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected at least one exchange (banding join + distinct)")
      exchanges.foreach { e =>
        val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"exchange carries array columns ${arrays.map(_.name).mkString(",")}:\n$e")
      }
      // and the full pipeline still verifies: results identical to the
      // pre-split shape (cos from re-joined embeddings)
      assert(graft.operators.AnnOps.srpNearDupPairs(vecs).columns.toSeq ==
        Seq("a_id", "b_id", "cos"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("srpChunkBits tracks corpus size: 2^r buckets ~ n, floored and capped") {
    import graft.operators.AnnOps.srpChunkBits
    assert(srpChunkBits(0) == 8 && srpChunkBits(100) == 8)
    assert(srpChunkBits(256) == 8)        // floor binds through 2^8
    assert(srpChunkBits(5000) == 13)      // sf0.1 corpus
    assert(srpChunkBits(150000) == 15)    // sf3 corpus hits the cap
    assert(srpChunkBits(Long.MaxValue / 2) == 15)
    // monotone non-decreasing in n
    val vals = Seq(1L, 10L, 1000L, 10000L, 100000L, 10000000L).map(srpChunkBits)
    assert(vals == vals.sorted)
  }
}
