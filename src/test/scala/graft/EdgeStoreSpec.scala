package graft

import org.apache.spark.sql.functions._

import graft.operators.EdgeStore

/** The persisted co-purchase edge store (r7 verdict #1): the audited
  * lineitem self-join runs once as ingest DDL and the nine graph
  * consumers probe a bucketed parquet table. Pins here:
  *   1. store content ≡ the inline self-join build, row-for-row —
  *      the reason every consumer's oracle hash is unchanged;
  *   2. the degree aggregation (groupBy on the bucket column) runs
  *      with ZERO shuffle exchange off the bucketed scan;
  *   3. the wedge self-join (e1.x = e2.x) runs with ZERO shuffle
  *      exchange even when broadcast is disabled — the bucketed
  *      partitioning serves both sides (at bench scale AQE may still
  *      elect a broadcast; this pin proves the shuffle-free SMJ is
  *      what the plan degrades to when it can't);
  *   4. the store write produced one file per bucket, which is what
  *      lets the scan expose its SORTED BY order.
  */
class EdgeStoreSpec extends SparkTestBase {

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("store content equals the inline lineitem self-join build, row-for-row") {
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey")
    val inline = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .count().filter(col("count") >= 2)
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stored = EdgeStore.canonical(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == inline,
      s"store diverged: ${(stored -- inline).take(3)} extra, ${(inline -- stored).take(3)} missing")
    // and the undirected table is exactly the symmetric closure
    val und = EdgeStore.undirected(spark, sf).count()
    assert(und == 2L * inline.size, s"undirected rows $und != 2x${inline.size}")
  }

  test("degree aggregation on the bucket column runs with zero shuffle exchange") {
    val p = executed(
      EdgeStore.undirected(spark, sf)
        .groupBy(col("x").as("n")).agg(count(lit(1)).as("deg")))
    assert(p.contains("Bucketed: true"), s"scan not bucketed:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"degree agg shuffled despite bucketing:\n$p")
  }

  test("wedge self-join on the bucket key is shuffle-free with broadcast off") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val und = EdgeStore.undirected(spark, sf)
      val e1 = und.select(col("x"), col("y").as("y1"))
      val e2 = und.select(col("x"), col("y").as("y2"))
      val df = e1.join(e2, Seq("x")).filter(col("y1") < col("y2"))
        .groupBy("y1", "y2").agg(count(lit(1)).as("common"))
      df.collect()
      val full = df.queryExecution.executedPlan.toString
      val p = full.indexOf("== Initial Plan ==") match {
        case -1 => full; case i => full.substring(0, i)
      }
      assert(p.contains("SortMergeJoin"), s"expected SMJ with broadcast off:\n$p")
      // the ONLY hash exchange allowed is the (y1, y2) re-agg — the
      // join itself must ride the bucketed partitioning on x
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n == 1, s"expected 1 hash exchange (the pair re-agg), got $n:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("capped wedge build folds the hub cap into a window, not a semi-join") {
    val df = SparkEntry.queries("common_neighbor_recs_capped")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the center filter must be a count-window over the bucketed
    // partitioning — no LeftSemi join and no exchange feeding it
    assert(!p.contains("LeftSemi"), s"cap regressed to a semi-join:\n${p.take(1500)}")
    assert(p.contains("Window"), "expected the center-degree count window")
  }

  test("store layout: one file per bucket (sort order readable)") {
    EdgeStore.ensure(spark, sf)
    val files = new java.io.File(s"${EdgeStore.storePath(sf)}/und")
      .listFiles().filter(f => f.getName.endsWith(".parquet"))
    assert(files.length == EdgeStore.NumBuckets,
      s"expected ${EdgeStore.NumBuckets} bucket files, got ${files.length}")
  }

  test("weighted planes equal the inline distinct-basket builds, row-for-row") {
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey")
    val dli = li.distinct()
    // basket-distinct pair supports (the statistics-consumer convention)
    val inlineWd = dli.as("x").join(dli.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .agg(count(lit(1)).as("wd"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val storedWd = EdgeStore.weighted(spark, sf)
      .filter(col("x") < col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(storedWd == inlineWd, "wd plane diverged from the inline distinct build")
    // raw line-pair supports (the graph-consumer convention) must
    // DIFFER from wd exactly on duplicate-(order, part) line groups —
    // pinning that both conventions are really carried
    val storedW = EdgeStore.weighted(spark, sf)
      .filter(col("x") < col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(storedW.forall { case (k, w) => w >= inlineWd(k) },
      "raw support below basket-distinct support")
    // per-part distinct-order counts and the total order count
    val inlineParts = dli.groupBy("l_partkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val storedParts = EdgeStore.parts(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storedParts == inlineParts, "parts plane diverged")
    val inlineN = li.select("l_orderkey").distinct().count()
    assert(EdgeStore.norders(spark, sf).collect().head.getLong(0) == inlineN,
      "order-count plane diverged")
  }

  test("statistics consumers never scan lineitem (the r9 no-rebuild pin)") {
    Seq("copurchase_pairs", "lift_rules").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("lineitem"),
        s"$q re-paid the corpus-sized basket self-join:\n${p.take(1500)}")
      assert(p.contains("graft_wpairs"), s"$q did not read the weighted store")
    }
    // pagerank's RETURNED plan reads only its final rank checkpoint
    // (lineage cut, the kcore shape) — pin the no-lineitem property
    // on the shares/degree derivation instead
    val wp = EdgeStore.weighted(spark, sf)
    assert(!wp.queryExecution.executedPlan.toString.contains("lineitem"))
  }

  test("appendOrders == full rebuild; replay-safe; compaction-invariant") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    // split by ORDER (lines of one order share l_orderkey, so each
    // half is complete orders — the appendOrders contract)
    val half1 = li.filter(col("l_orderkey") % 2 === 0)
    val half2 = li.filter(col("l_orderkey") % 2 === 1)
    val dirA = java.nio.file.Files.createTempDirectory("graft_edges_inc").toString
    half1.write.mode("overwrite").parquet(s"$dirA/lineitem.parquet")
    def und(d: String): Seq[(Long, Long)] =
      EdgeStore.undirected(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val truth = und(sf) // the full-corpus build is the ground truth
    EdgeStore.ensure(spark, dirA)
    // incrementally ingest the second half: O(batch) pair counts +
    // delta partition + republish — must equal the full rebuild
    EdgeStore.appendOrders(spark, dirA, half2, batchId = 1L)
    assert(und(dirA) == truth, "append diverged from full rebuild")
    // replay the SAME batch: dynamic overwrite replaces its delta
    // partition, so support counts must not double
    EdgeStore.appendOrders(spark, dirA, half2, batchId = 1L)
    assert(und(dirA) == truth, "replayed batch double-counted support")
    // compaction folds deltas into the base without touching the
    // published adjacency
    EdgeStore.compact(spark, dirA)
    val dd = new java.io.File(s"${EdgeStore.storePath(dirA)}/deltas")
    assert(!dd.exists() ||
      dd.listFiles().forall(f => !f.getName.startsWith("ingest_batch=")),
      "compaction left folded delta partitions")
    assert(und(dirA) == truth, "compaction changed the adjacency")
    // a replayed FOLDED batch must be a no-op (the per-namespace
    // watermark — the r8 ADVICE compaction-under-streaming bug)
    EdgeStore.appendOrders(spark, dirA, half2, batchId = 1L)
    assert(und(dirA) == truth, "replay of a folded batch double-counted")
    // and the pair base alone now carries the merged supports: a
    // fresh append on top of the compacted base still agrees
    EdgeStore.appendOrders(spark, dirA, half2.limit(0), batchId = 2L)
    assert(und(dirA) == truth, "post-compaction append diverged")
  }

  test("compaction crash windows: prepare-only, commit-without-gc, torn pointer") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val half1 = li.filter(col("l_orderkey") % 2 === 0)
    val half2 = li.filter(col("l_orderkey") % 2 === 1)
    val dirC = java.nio.file.Files.createTempDirectory("graft_edges_crash").toString
    half1.write.mode("overwrite").parquet(s"$dirC/lineitem.parquet")
    def und(d: String): Seq[(Long, Long)] =
      EdgeStore.undirected(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    EdgeStore.ensure(spark, dirC)
    EdgeStore.appendOrders(spark, dirC, half2, batchId = 1L)
    val truth = und(sf)
    assert(und(dirC) == truth)
    val root = EdgeStore.storePath(dirC)
    // window A: crash AFTER prepare (new epoch fully written, pointer
    // still old) — nothing observable changes, and re-running the
    // compaction just overwrites the orphaned epoch
    val next = EdgeStore.compactPrepare(spark, dirC).get
    assert(und(dirC) == truth, "prepare changed observable state")
    val next2 = EdgeStore.compactPrepare(spark, dirC).get
    assert(next2 == next, "re-prepared compaction diverged")
    // window B: crash AFTER commit, BEFORE gc — folded deltas still
    // on disk are ignored by watermark: no double count, no throw
    EdgeStore.compactCommit(spark, dirC, next2)
    assert(und(dirC) == truth, "folded deltas double-counted after commit")
    EdgeStore.appendOrders(spark, dirC, half2, batchId = 1L)
    assert(und(dirC) == truth, "replay of a folded batch re-applied")
    // window C: torn pointer swap — CURRENT deleted, complete tmp
    // left behind; the next open must promote it
    val cur = new java.io.File(s"$root/CURRENT")
    val tmp = new java.io.File(s"$root/CURRENT.tmp")
    java.nio.file.Files.copy(cur.toPath, tmp.toPath)
    assert(cur.delete())
    assert(und(dirC) == truth, "torn pointer swap not recovered")
    assert(cur.exists() && !tmp.exists(), "recovery did not promote the tmp pointer")
    // and the gc retry leaves a clean, still-correct store
    EdgeStore.compactGc(spark, dirC)
    assert(und(dirC) == truth, "gc retry changed the adjacency")
  }

  test("ad-hoc and streaming id spaces are disjoint and both fold correctly") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val dirD = java.nio.file.Files.createTempDirectory("graft_edges_ids").toString
    li.filter(col("l_orderkey") % 3 === 0)
      .write.mode("overwrite").parquet(s"$dirD/lineitem.parquet")
    def und(d: String): Seq[(Long, Long)] =
      EdgeStore.undirected(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    EdgeStore.ensure(spark, dirD)
    // an ad-hoc append (auto id, AdHocIdBase space) and a
    // streaming-style append (small explicit id) must coexist
    EdgeStore.appendOrders(spark, dirD, li.filter(col("l_orderkey") % 3 === 1))
    EdgeStore.appendOrders(spark, dirD, li.filter(col("l_orderkey") % 3 === 2),
      batchId = 1L)
    val truth = und(sf)
    assert(und(dirD) == truth, "mixed-namespace appends diverged")
    def commitIds(): Seq[Long] =
      new java.io.File(s"${EdgeStore.storePath(dirD)}/deltas_commits")
        .listFiles().flatMap(f => scala.util.Try(f.getName.toLong).toOption)
        .toSeq.sorted
    val commits = commitIds()
    assert(commits == Seq(1L, EdgeStore.AdHocIdBase + 1L),
      s"unexpected id assignment: $commits")
    // compaction folds BOTH namespaces; replays of either are no-ops
    EdgeStore.compact(spark, dirD)
    EdgeStore.appendOrders(spark, dirD, li.filter(col("l_orderkey") % 3 === 2),
      batchId = 1L)
    assert(und(dirD) == truth, "folded streaming replay re-applied")
    // a NEW ad-hoc append keeps advancing past the folded watermark
    // (empty batch: id accounting only)
    EdgeStore.appendOrders(spark, dirD, li.limit(0))
    val commits2 = commitIds()
    assert(commits2.contains(EdgeStore.AdHocIdBase + 2L),
      s"ad-hoc id did not advance past the folded watermark: $commits2")
    assert(und(dirD) == truth, "empty ad-hoc append changed the adjacency")
  }

  test("source regenerated in place triggers a rebuild (no stale store served)") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val dirR = java.nio.file.Files.createTempDirectory("graft_edges_regen").toString
    li.filter(col("l_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dirR/lineitem.parquet")
    val n1 = EdgeStore.undirected(spark, dirR).count()
    // regenerate the SAME dir with different data — the stamp guard
    // must wipe and rebuild instead of serving the old adjacency
    li.write.mode("overwrite").parquet(s"$dirR/lineitem.parquet")
    spark.catalog.refreshTable(EdgeStore.tableName(dirR))
    val n2 = EdgeStore.undirected(spark, dirR).count()
    val full = EdgeStore.undirected(spark, sf).count()
    assert(n2 == full, s"regenerated source served stale store: $n2 != $full (old $n1)")
  }

  test("streamingAppend maintains the adjacency exactly-once across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey")
    val dirB = java.nio.file.Files.createTempDirectory("graft_edges_stream").toString
    li.filter(col("l_orderkey") % 3 === 0)
      .write.mode("overwrite").parquet(s"$dirB/lineitem.parquet")
    EdgeStore.ensure(spark, dirB)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_edges_ckpt").toString
    val q = EdgeStore.streamingAppend(spark, dirB,
        input.toDF().toDF("l_orderkey", "l_partkey"))
      .option("checkpointLocation", ckpt).start()
    try {
      Seq(1L, 2L).foreach { m =>
        input.addData(li.filter(col("l_orderkey") % 3 === m)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    def und(d: String): Seq[(Long, Long)] =
      EdgeStore.undirected(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(und(dirB) == und(sf),
      "streamed adjacency diverged from the full-corpus build")
  }

  test("append is O(batch): no published-cache rewrite until compaction (v5)") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val half1 = li.filter(col("l_orderkey") % 2 === 0)
    val half2 = li.filter(col("l_orderkey") % 2 === 1)
    val dirP = java.nio.file.Files.createTempDirectory("graft_edges_pub").toString
    half1.write.mode("overwrite").parquet(s"$dirP/lineitem.parquet")
    EdgeStore.ensure(spark, dirP)
    val root = EdgeStore.storePath(dirP)
    def artifactState(): Seq[(String, Long, Long)] =
      Seq("und", "wpairs").flatMap { a =>
        new java.io.File(s"$root/$a").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified))
      }.sorted
    val before = artifactState()
    // the append must not touch the published artifacts (the r9
    // verdict item: per-append republish was O(graph), not O(batch))
    EdgeStore.appendOrders(spark, dirP, half2, batchId = 1L)
    assert(artifactState() == before,
      "appendOrders rewrote the published cache — O(graph) republish regressed")
    // ...and probes must MERGE the live deltas, matching the
    // full-corpus build exactly (merge-on-read path)
    def und(d: String): Seq[(Long, Long)] =
      EdgeStore.undirected(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(und(dirP) == und(sf), "merge-on-read probe diverged")
    // the merge-path probe is NOT the bucketed table scan (probe the
    // degree-agg shape — a bare scan auto-disables bucketing anyway)
    def degPlan(): String = EdgeStore.undirected(spark, dirP)
      .groupBy("x").agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!degPlan().contains("Bucketed: true"),
      "expected the merged live view while deltas are outstanding")
    // compaction folds the deltas AND refreshes the cache: probes
    // return to the bucketed fast path with identical content
    EdgeStore.compact(spark, dirP)
    assert(degPlan().contains("Bucketed: true"),
      "published cache not servable after compaction")
    assert(und(dirP) == und(sf), "post-compaction probe diverged")
    // crash window: a stale PUBLISHED marker (simulating a crash
    // between the pointer swap and the republish) must never serve
    // the stale cache — the probe's own ensure() repairs it at open
    // (no deltas outstanding) and the content stays exact
    val mf = new java.io.File(s"$root/PUBLISHED")
    val mtxt = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    java.nio.file.Files.write(mf.toPath, "999".getBytes("UTF-8"))
    // drop the checksum sidecar the raw rewrite invalidated (the
    // simulated crash scenario has no sidecar either)
    new java.io.File(s"$root/.PUBLISHED.crc").delete()
    assert(und(dirP) == und(sf), "stale-marker open diverged")
    assert(new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8") == mtxt,
      "open did not republish over the stale marker")
  }

  test("v6 packed plane: bucketed when servable, merge-on-read under " +
      "deltas, content ≡ the per-query pack; weightedRows is epoch-honest") {
    // content: the published pack equals the groupBy/collect_list the
    // consumers used to build per query (same (x, deg, dst-multiset))
    def packOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Seq[Long])] =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Long](2).sorted)).toMap
    val inline = packOf(EdgeStore.weighted(spark, sf).groupBy(col("x"))
      .agg(first(col("deg_x")).as("deg"),
        sort_array(collect_list(col("y"))).as("dsts")))
    val published = packOf(EdgeStore.packed(spark, sf))
    assert(published == inline, "packed plane diverged from the inline pack")
    // plan: served from the bucketed table when the cache is servable
    val p = EdgeStore.packed(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("graft_adj"), s"packed probe did not read the store:\n$p")
    // metadata: weightedRows == the real count while servable
    assert(EdgeStore.weightedRows(spark, sf)
      .contains(EdgeStore.weighted(spark, sf).count()))
    // under live deltas: weightedRows must refuse (stale metadata) and
    // packed must merge-on-read the delta content
    val li = graft.sources.Tables.lineitem(spark, sf)
    val half1 = li.filter(col("l_orderkey") % 2 === 0)
    val half2 = li.filter(col("l_orderkey") % 2 === 1)
    val dirV = java.nio.file.Files.createTempDirectory("graft_edges_v6").toString
    half1.write.mode("overwrite").parquet(s"$dirV/lineitem.parquet")
    EdgeStore.ensure(spark, dirV)
    EdgeStore.appendOrders(spark, dirV, half2, batchId = 1L)
    assert(EdgeStore.weightedRows(spark, dirV).isEmpty,
      "weightedRows served publish-time metadata over live deltas")
    assert(packOf(EdgeStore.packed(spark, dirV).select(col("x"), col("deg"),
        sort_array(col("dsts")).as("dsts"))) == inline,
      "merge-on-read pack diverged from the full-corpus pack")
    // after compaction the republished plane serves bucketed again,
    // and the marker count reflects the folded state
    EdgeStore.compact(spark, dirV)
    assert(packOf(EdgeStore.packed(spark, dirV).select(col("x"), col("deg"),
        sort_array(col("dsts")).as("dsts"))) == inline,
      "post-compaction pack diverged")
    assert(EdgeStore.weightedRows(spark, dirV)
      .contains(EdgeStore.weighted(spark, dirV).count()))
  }

  test("torn PUBLISHED marker reads as absent: a truncated row count is never served") {
    // only the whole `<epoch> <rows> end` parses; every proper prefix —
    // including `7 1234`, a count cut short — reads as no marker
    val whole = "7 123456 end"
    assert(EdgeStore.parseMarker(whole).contains((7L, 123456L)))
    (0 until whole.length).foreach { i =>
      assert(EdgeStore.parseMarker(whole.take(i)).isEmpty,
        s"torn marker '${whole.take(i)}' parsed")
    }
    // on disk: a marker torn inside the count must not reach
    // weightedRows — the open republishes and serves the real count
    val dirT = java.nio.file.Files.createTempDirectory("graft_edges_torn").toString
    graft.sources.Tables.lineitem(spark, sf)
      .write.mode("overwrite").parquet(s"$dirT/lineitem.parquet")
    EdgeStore.ensure(spark, dirT)
    val mf = new java.io.File(s"${EdgeStore.storePath(dirT)}/PUBLISHED")
    val mtxt = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    val torn = mtxt.split(" ").take(2).mkString(" ").dropRight(1)
    java.nio.file.Files.write(mf.toPath, torn.getBytes("UTF-8"))
    new java.io.File(s"${EdgeStore.storePath(dirT)}/.PUBLISHED.crc").delete()
    val rows = EdgeStore.weighted(spark, dirT).count()
    assert(rows >= 10 && EdgeStore.weightedRows(spark, dirT).contains(rows),
      s"torn marker '$torn' served a wrong row count")
    assert(new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8") == mtxt,
      "open did not republish over the torn marker")
  }

  test("graph consumers never scan lineitem (the no-rebuild pin)") {
    val graphPack = Seq("triangle_parts", "clustering_coeff", "kcore_parts",
      "degree_assortativity", "degree_dist", "common_neighbor_recs",
      "common_neighbor_recs_capped", "hub_distance", "hill_tail_index")
    graphPack.foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("lineitem"),
        s"$q re-paid the corpus-sized edge build:\n${p.take(1500)}")
      // kcore's RETURNED plan reads only its lineage-cut peel rounds —
      // the store scan lives inside the loop's jobs, not the finisher
      if (q != "kcore_parts")
        assert(p.contains("graft_edges"), s"$q did not read the edge store")
    }
  }
}
