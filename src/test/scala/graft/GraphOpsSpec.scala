package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.Prop.forAll

import graft.operators.GraphOps

/** Connected components: functional laws against a driver-side
  * union-find reference, plus the log-diameter convergence claim
  * (the 100 TB argument) pinned on a worst-case chain.
  */
object GraphCcTestKit {

  /** Reference union-find over the same edge list; min-id roots. */
  def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // always parent the larger root, so roots stay component minima
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  def ccOf(edges: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] = {
    val spark = TestSpark.spark
    import spark.implicits._
    GraphOps.connectedComponents(
      edges.toDF("a", "b").withColumn("part", lit("g")).select("part", "a", "b"),
      maxIter)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
  }
}

object GraphCcProps extends SparkProps("connected_components") {
  import GraphCcTestKit._

  private val edgeGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 40)
    m <- Gen.choose(1, 60)
    es <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong - 1)
      b <- Gen.choose(0L, n.toLong - 1)
    } yield (math.min(a, b), math.max(a, b)))
  } yield es.filter(e => e._1 != e._2).distinct

  property("random graphs match union-find (labels = min id per component)") =
    forAll(edgeGen) { edges =>
      edges.isEmpty || {
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        ccOf(edges) == unionFind(nodes, edges)
      }
    }
}

class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._
  import GraphCcTestKit.ccOf

  test("cc.worst-case 200-node chain converges (log-diameter rounds, maxIter 25)") {
    val chain = (0L until 199L).map(i => (i, i + 1))
    val got = ccOf(chain)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  // r10: small graphs now close via the local union-find regime, so
  // the ITERATIVE Hash-Min plane needs its own pin — force it by
  // zeroing the local-regime threshold and re-check the worst case.
  test("cc.iterative plane (local regime disabled) matches on the chain") {
    val chain = (0L until 199L).map(i => (i, i + 1))
    spark.conf.set("spark.graft.graph.localEdgeMax", "0")
    try {
      val got = ccOf(chain)
      assert(got.size == 200 && got.values.forall(_ == 0L))
    } finally spark.conf.unset("spark.graft.graph.localEdgeMax")
  }

  // r11: the default threshold derives from a BYTES budget
  // (localBytesMax / 48 B-per-boxed-edge) so the one-task local paths
  // are bounded by working-set size, not a bare row count; the
  // explicit row conf still overrides.
  test("cc.local threshold derives from the bytes budget (48 B/edge)") {
    assert(GraphOps.localEdgeMax(spark) == (192L << 20) / 48L) // default
    spark.conf.set("spark.graft.graph.localBytesMax", "480")
    try {
      assert(GraphOps.localEdgeMax(spark) == 10L)
      // a 9-edge chain stays local, an 11-edge chain goes iterative —
      // both must produce the same labels (the regimes are equivalent;
      // this pins that the BOUND actually routes)
      assert(ccOf((0L until 9L).map(i => (i, i + 1))).values.forall(_ == 0L))
      assert(ccOf((0L until 11L).map(i => (i, i + 1))).values.forall(_ == 0L))
      // explicit row conf takes precedence over the bytes budget
      spark.conf.set("spark.graft.graph.localEdgeMax", "7")
      assert(GraphOps.localEdgeMax(spark) == 7L)
    } finally {
      spark.conf.unset("spark.graft.graph.localBytesMax")
      spark.conf.unset("spark.graft.graph.localEdgeMax")
    }
  }

  test("cc.two components in one part keep distinct min-id labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val got = ccOf(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("cc.partition key isolates graphs (same node ids, different parts)") {
    val df = Seq(
      ("p1", 1L, 2L),
      ("p2", 2L, 3L)).toDF("part", "a", "b")
    val got = GraphOps.connectedComponents(df)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(("p1", 1L) -> 1L, ("p1", 2L) -> 1L,
      ("p2", 2L) -> 2L, ("p2", 3L) -> 2L))
  }

  test("cluster_keep_best: sizes agree with dedup_clusters; removed = size-1") {
    val clusters = GraphOps.dedupClusters(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val keep = GraphOps.clusterKeepBest(spark, sf).collect()
    assert(keep.nonEmpty)
    keep.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      assert(clusters(key) == r.getLong(3), s"size mismatch for $key")
      assert(r.getLong(4) == r.getLong(3) - 1)
    }
    assert(keep.length == clusters.size)
  }

  test("semantic_dedup: clusters non-trivial, label diversity bounded by size") {
    val rows = GraphOps.semanticDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 2L, s"singleton cluster: $r")
      assert(r.getLong(2) == r.getLong(1) - 1)
      assert(r.getLong(3) >= 1L && r.getLong(3) <= r.getLong(1),
        s"label diversity out of bounds: $r")
    }
    // representatives are distinct (cluster_id is the kept vec_id)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("dedup_clusters: clusters are non-trivial and ids distinct per lang") {
    val rows = GraphOps.dedupClusters(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) >= 2L), "singleton cluster leaked")
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).distinct.length == rs.length)
    }
  }

  test("kcore_parts: fixpoint within the oracle's unrolled depth; core laws hold") {
    val row = GraphOps.kcoreParts(spark, sf).collect().head
    // the DuckDB oracle replays the peel unrolled to 14 rounds — the
    // live loop must converge STRICTLY within that, or the fixed-depth
    // replay no longer equals the fixpoint (the contract the hash
    // match rides on)
    assert(graft.operators.KcoreRounds.last > 0 &&
      graft.operators.KcoreRounds.last < 14,
      s"peel used ${graft.operators.KcoreRounds.last} rounds (oracle depth 14)")
    val (nodes, edges) = (row.getLong(0), row.getLong(1))
    // core law: every survivor has >=3 core neighbors => avg degree >=3
    // (vacuous on an empty core, which is a legal fixpoint)
    if (nodes > 0) {
      assert(edges * 2 >= nodes * 3, s"avg core degree < k: $row")
      assert(row.getDouble(2) >= 3.0, s"avg_core_degree < k: $row")
    } else assert(edges == 0L && row.getDouble(2) == 0.0)
  }

  test("hub_distance: fixpoint within the oracle's unrolled depth; BFS laws hold") {
    val rows = GraphOps.hubDistance(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the DuckDB oracle relaxes unrolled to 14 rounds — the live BFS
    // must converge STRICTLY within that (same contract as kcore)
    assert(graft.operators.HubRounds.last > 0 &&
      graft.operators.HubRounds.last < 14,
      s"BFS used ${graft.operators.HubRounds.last} rounds (oracle depth 14)")
    // exactly one hub at distance 0
    assert(rows.get(0).contains(1L), s"hops=0 row: ${rows.get(0)}")
    // hop levels are contiguous: a node at distance d implies a
    // frontier at every distance below it
    val reached = rows.keySet.filter(_ >= 0)
    assert(reached == (0 to reached.max).toSet, s"gap in hop levels: $reached")
    // level 1 is exactly the hub's degree-neighborhood: it can't be
    // empty unless the graph has a single node
    if (rows.values.sum > 1) assert(rows.getOrElse(1, 0L) > 0)
  }

  // r10: kcore/hub now run a local single-pass regime on small
  // graphs; the distributed planes stay covered by forcing them.
  test("kcore/hub iterative planes (local regime disabled) agree with local") {
    val localK = GraphOps.kcoreParts(spark, sf).collect().toSeq
    val localH = GraphOps.hubDistance(spark, sf).collect().toSeq
    spark.conf.set("spark.graft.graph.localEdgeMax", "0")
    try {
      assert(GraphOps.kcoreParts(spark, sf).collect().toSeq == localK)
      assert(GraphOps.hubDistance(spark, sf).collect().toSeq == localH)
    } finally spark.conf.unset("spark.graft.graph.localEdgeMax")
  }

  // the local BFS holds both directions of every edge, so its cap is
  // compared against the symmetric row count: a cap between und/2 and
  // und must route to the iterative plane
  test("hub_distance: local plane capped by the symmetric row count") {
    val und = graft.operators.EdgeStore.undirected(spark, sf).count()
    assert(und > 2)
    val local = GraphOps.hubDistance(spark, sf).collect().toSeq
    assert(graft.operators.HubRounds.local, "default cap should run locally")
    spark.conf.set("spark.graft.graph.localEdgeMax", (und - 1).toString)
    try {
      assert(GraphOps.hubDistance(spark, sf).collect().toSeq == local)
      assert(!graft.operators.HubRounds.local,
        s"cap ${und - 1} < $und symmetric rows still ran the one-task plane")
      spark.conf.set("spark.graft.graph.localEdgeMax", und.toString)
      GraphOps.hubDistance(spark, sf).collect()
      assert(graft.operators.HubRounds.local)
    } finally spark.conf.unset("spark.graft.graph.localEdgeMax")
  }

  // r11: every pagerank plane must produce the same report on one
  // fixture — local (the default at this SF), mid (co-partitioned
  // SHJ loop), big-broadcast (zero-edge-shuffle symmetric-contrib
  // plane), and the huge-node row fallback. The planes differ only
  // in distribution strategy; the r4 output grid absorbs their
  // summation-order ulps.
  test("copurchase_pagerank: all four planes agree on the fixture") {
    def run(): Seq[(Long, Double)] =
      SparkEntry.queries("copurchase_pagerank")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val local = run()
    assert(local.nonEmpty)
    try {
      spark.conf.set("spark.graft.graph.localEdgeMax", "0")
      assert(run() == local, "mid plane diverged from local")
      spark.conf.set("spark.graft.graph.pagerankMidMax", "0")
      assert(run() == local, "big broadcast plane diverged from local")
      spark.conf.set("spark.graft.graph.pagerankBroadcastNodeMax", "0")
      assert(run() == local, "huge-node row plane diverged from local")
    } finally {
      spark.conf.unset("spark.graft.graph.localEdgeMax")
      spark.conf.unset("spark.graft.graph.pagerankMidMax")
      spark.conf.unset("spark.graft.graph.pagerankBroadcastNodeMax")
    }
  }

  test("common_neighbor_recs: no recommended pair is an existing edge; scores are consistent") {
    val recs = GraphOps.commonNeighborRecs(spark, sf).collect()
    assert(recs.length == 10)
    // rebuild the >=2-support edge set from lineitem, independently of
    // the edge store (an independent build doubles as a probe)
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey")
    val edges = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .count().filter(col("count") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    recs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, s"pair not oriented: ($a,$b)")
      assert(!edges.contains((a, b)), s"recommended an existing edge ($a,$b)")
      assert(r.getLong(2) >= 1, "common-neighbor count < 1")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0,
        s"jaccard out of range: ${r.getDouble(3)}")
    }
    // descending by common with the (a,b) tie-break — the cut is total
    val keys = recs.map(r => (-r.getLong(2), r.getLong(0), r.getLong(1))).toSeq
    assert(keys == keys.sorted, "output not in (common DESC, a, b) order")
  }

  test("common_neighbor_recs_capped == uncapped when the cap does not bind") {
    // sf0.001's max support-graph degree is ~52 — a cap above that
    // cannot drop a wedge center, so the capped plan must reproduce
    // the uncapped answer EXACTLY (same rows, same order)
    val un = GraphOps.commonNeighborRecs(spark, sf).collect().toSeq
    val cap = GraphOps.commonNeighborRecsCapped(spark, sf, cap = 10000)
      .collect().toSeq
    assert(cap == un,
      s"capped(10000) diverged from uncapped: capped=$cap uncapped=$un")
  }

  test("common_neighbor_recs_capped: binding cap keeps only capped-center " +
      "wedges and reports honest recall on the fixture") {
    // cap = 10 BINDS at sf0.001 (median degree 24): the capped top-10
    // is a subset of the uncapped CANDIDATE set (never invents pairs),
    // every reported pair still shares >= 1 capped-center neighbor,
    // and the candidate-set recall vs uncapped stays positive — the
    // approximation drops hub-witnessed pairs, it doesn't fabricate.
    val un = GraphOps.commonNeighborRecs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = GraphOps.commonNeighborRecsCapped(spark, sf, cap = 10)
      .collect()
    assert(capped.nonEmpty, "binding cap emptied the recommendations")
    capped.foreach { r =>
      assert(r.getLong(2) >= 1, "capped pair with no common neighbor")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
    // recall of the capped top-10 against the uncapped top-10: on this
    // dense fixture hubs dominate, so we only pin non-triviality (> 0
    // would be flaky at cap=10 on 200 nodes; subset-of-candidates and
    // order are the structural guarantees)
    val keys = capped.map(r => (-r.getLong(2), r.getLong(0), r.getLong(1))).toSeq
    assert(keys == keys.sorted, "capped output not in (common DESC, a, b) order")
    info(s"top-10 overlap with uncapped at cap=10: " +
      s"${capped.map(r => (r.getLong(0), r.getLong(1))).count(un.contains)}/10")
  }
}
