package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det.r4
import graft.sources.Tables

/** Persisted IVF (inverted-file) index for ANN search — the scale
  * path that makes `ann_cosine_topk` probe-only.
  *
  * Lifecycle (the standard database-index shape):
  *   1. BUILD (once per corpus, like a `CREATE INDEX` DDL): choose
  *      `npivots` pivot vectors, assign every corpus vector to its
  *      nearest pivot SHUFFLE-FREE (see [[assign]]), and persist the
  *      assignment as a parquet table `PARTITIONED BY (bucket)` plus
  *      a tiny pivot table. The only driver-side action is collecting
  *      the npivots pivot rows — an index-build step, not a per-query
  *      one (queries never collect).
  *   2. PROBE (every query): rank pivots by query cosine (a broadcast
  *      of one row against npivots rows), take the `nprobe` best
  *      buckets, and scan ONLY those partitions of the persisted
  *      assignment — the bucket join hits the partition column, so
  *      dynamic partition pruning skips the other directories
  *      entirely (asserted in AnnRecallSpec). Exact cosine re-rank +
  *      TakeOrderedAndProject top-k on the survivors.
  *
  * At 100 TB the build is one linear scan-and-write, and each query
  * reads nprobe/npivots of the data with no full-corpus work at all;
  * rebuilding only happens when the corpus changes, exactly like any
  * secondary index.
  */
object IvfIndex {

  /** Bump when the assignment/probe FORMAT changes (hash chain,
    * tie-break, schema, pivot selection) — a persisted index from
    * older code must never be silently reused.
    * v5: assignment partitioned by (bucket, ingest_batch) — the
    * second level makes streaming appends exactly-once (see
    * [[appendVectors]]).
    */
  val FormatVersion = 5

  /** Lloyd iterations used by [[ensure]] to refine the seed pivots.
    * Measured on the isotropic sf0.01 corpus (worst case for IVF):
    * batch recall@3 at nprobe 3/8 goes 0.667 (raw seeds) → 0.720
    * (3 iters) → 0.727 (6 iters) — 3 captures most of the gain at
    * half the build cost, and on genuinely clustered corpora the gap
    * widens (IvfKmeansSpec: bucket purity 0.125 → ≥ 0.9).
    */
  val KmeansIters = 3

  /** Index location for (corpus dir, npivots) ([[StoreProtocol.root]]):
    * deterministic so every query against the same corpus shares one
    * index; versioned so stale-format artifacts are never picked up.
    */
  def indexPath(dir: String, npivots: Int): String =
    StoreProtocol.root("ivf", FormatVersion, dir, s"_p$npivots")

  private def cosine(a: Column, b: Column): Column = AnnOps.cosine(a, b)

  /** Shuffle-free nearest-pivot assignment. Pivots are BUILD-TIME
    * literals, so the argmax unrolls into npivots native-dot cosines
    * plus one `array_max` over `struct(cos, -p_id)` rows (struct
    * ordering = max cosine, then min pivot id — identical tie-break
    * semantics to a `row_number` window, without its full shuffle of
    * corpus×npivots rows). The whole assignment is a pure projection:
    * scan → compute → write, zero Exchange (AnnRecallSpec asserts
    * this on the physical plan).
    */
  def assign(emb: DataFrame, pivots: Seq[(Long, Seq[Double])]): DataFrame = {
    // argmax over cosines is scale-invariant in the row vector, so
    // scoring against UNIT-normalized pivot literals needs only ONE
    // dot per pivot — no per-row self-norm, no division. The row's
    // own norm is computed once and STORED: probes then re-rank with
    // a single dot per candidate (norms are index data, the standard
    // ANN-index layout).
    val unitPivots = pivots.map { case (pid, p) =>
      val n = math.sqrt(p.map(x => x * x).sum)
      (pid, if (n == 0) p else p.map(_ / n))
    }
    val scored = unitPivots.map { case (pid, pemb) =>
      struct(dot(col("emb"), typedlit(pemb)).as("c"), lit(-pid).as("np"))
    }
    emb.withColumn("best", array_max(array(scored: _*)))
      .select(col("vec_id"), col("label"), col("emb"),
        sqrt(dot(col("emb"), col("emb"))).as("norm"),
        (-col("best").getField("np")).cast("long").as("bucket"))
  }

  private def dot(a: Column, b: Column): Column = AnnOps.dot(a, b)

  /** Per-bucket centroid of the assigned vectors — the Lloyd update
    * step, fully relational: posexplode to (bucket, pos, v) →
    * per-(bucket, dim) mean → re-assemble the array ordered by dim.
    * Output: (bucket, c_emb).
    */
  def centroids(assigned: DataFrame): DataFrame =
    assigned.select(col("bucket"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy("bucket", "pos").agg(avg("v").as("m"))
      .groupBy("bucket")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("c_emb"))

  /** Spherical k-means pivot refinement (Lloyd iterations): assign
    * every vector to its max-cosine pivot, replace each pivot by its
    * bucket's mean vector (cosine is scale-invariant, so the
    * unnormalized mean IS the mean direction), repeat. Empty buckets
    * keep their previous pivot. Each iteration is one shuffle-free
    * assignment pass + one centroid aggregation; only npivots×dim
    * doubles ever reach the driver (index-build DDL, like [[ensure]]).
    * On clustered data this moves pivots onto the cluster cores so
    * probing fewer buckets catches more true neighbors
    * (IvfKmeansSpec: the assignment objective is monotone and recall
    * at nprobe=1 beats unrefined pivots on a clustered corpus).
    */
  def kmeansPivots(emb: DataFrame, init: Seq[(Long, Seq[Double])],
      iters: Int): Seq[(Long, Seq[Double])] = {
    var pivots = init
    (0 until iters).foreach { _ =>
      val cs = centroids(assign(emb, pivots))
        .collect().map(r => (r.getLong(0),
          r.getSeq[Double](1).toSeq)).toMap
      pivots = pivots.map { case (pid, old) => (pid, cs.getOrElse(pid, old)) }
    }
    pivots
  }

  /** Append-only index refresh: assign NEW vectors against the
    * EXISTING pivots (shuffle-free, same literal-unrolled argmax) and
    * write their rows under the (bucket, ingest_batch=`batchId`)
    * partitions of the assign table — no rebuild, no touch of other
    * batches' files. Correct because the assignment of a vector
    * depends only on the (frozen) pivots; IvfKmeansSpec proves
    * append == full rebuild row-for-row.
    *
    * EXACTLY-ONCE under replay: the write is a DYNAMIC partition
    * overwrite scoped to this batch's own `ingest_batch` leaf
    * partitions, so re-delivering a batch (foreachBatch restart, a
    * retried backfill) REPLACES its previous files instead of
    * duplicating rows — the same idempotency contract as the upsert
    * sink, proven in IvfStreamSpec.
    */
  /** Ad-hoc append with an auto-derived batch id (max existing
    * `ingest_batch` + 1) so successive default appends ACCUMULATE.
    * A defaulted fixed id would make the dynamic partition overwrite
    * silently replace the previous ad-hoc batch — callers that manage
    * their own replay-safe ids (foreachBatch) use the explicit
    * overload.
    */
  def appendVectors(spark: SparkSession, path: String, newVecs: DataFrame): Unit = {
    val row = graft.sources.Tables.cachedParquet(spark, s"$path/assign")
      .agg(max(col("ingest_batch").cast("long"))).head()
    val next = (if (row.isNullAt(0)) 0L else row.getLong(0)) + 1L
    appendVectors(spark, path, newVecs, next)
  }

  def appendVectors(spark: SparkSession, path: String, newVecs: DataFrame,
      batchId: Long): Unit = {
    val pivotRows = graft.sources.Tables.cachedParquet(spark, s"$path/pivots")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    assign(newVecs, pivotRows)
      .withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "ingest_batch")
      .parquet(s"$path/assign")
  }

  /** Continuous index maintenance: attach the assign-and-overwrite
    * append as a `foreachBatch` sink on a stream of new (vec_id,
    * label, emb) rows. Batch ids are offset by +1 so replays can
    * never collide with the build's own `ingest_batch = 0` rows.
    * Start/stop/checkpoint belong to the caller (standard streaming
    * lifecycle); every probe sees each appended batch exactly once
    * regardless of restarts.
    */
  def streamingAppend(spark: SparkSession, path: String, newVecs: DataFrame):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newVecs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendVectors(spark, path, batch, batchId + 1)
    }

  /** Ensure the index for (dir, npivots) exists, building it if
    * missing, torn (no `assign/` marker) or built from an embeddings
    * table since regenerated in place ([[StoreProtocol.ensureArtifact]];
    * JVM-synchronized so concurrent suites can't race the write). The
    * corpus is every embedding except the reserved query vector 0.
    * Returns None for an empty corpus — there is nothing to index, and
    * callers return an empty result.
    */
  def ensure(spark: SparkSession, dir: String, npivots: Int): Option[String] = synchronized {
    val path = indexPath(dir, npivots)
    val built = StoreProtocol.ensureArtifact(spark, path, dir, "embeddings", "assign") {
      val corpus = Tables.embeddings(spark, dir)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      // the one driver-side step of the build: materialize the npivots
      // seed rows (deterministic: lowest vec_ids) as literals, then
      // refine them with spherical k-means ([[kmeansPivots]] — each
      // iteration is a shuffle-free assignment + relational centroid
      // agg; only npivots×dim doubles reach the driver)
      val seeds: Seq[(Long, Seq[Double])] = corpus
        .orderBy("vec_id").limit(npivots)
        .select(col("vec_id"), col("emb")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
      seeds.nonEmpty && {
        val pivotRows = kmeansPivots(corpus, seeds, KmeansIters)
        import spark.implicits._
        pivotRows.toDF("p_id", "p_emb")
          .write.mode("overwrite").parquet(s"$path/pivots")
        assign(corpus, pivotRows)
          .withColumn("ingest_batch", lit(0L))
          .write.mode("overwrite").partitionBy("bucket", "ingest_batch")
          .parquet(s"$path/assign")
        true
      }
    }
    if (built) Some(path) else None
  }

  /** BATCH ANN join against a built index — the 100 TB workhorse
    * shape (a whole query SET at once, not one vector):
    *   1. rank pivots per query (queries × broadcast pivots — a
    *      narrow |Q|·P frame; the per-query top-nprobe window
    *      shuffles only that frame, never the corpus);
    *   2. broadcast the (q_id, q_emb, bucket) probe list and join it
    *      to the bucket-partitioned assignment — dynamic partition
    *      pruning scans only the union of probed buckets;
    *   3. exact cosine re-rank, dense rank 1..k per query.
    * For a query set too big to broadcast, the same plan works with a
    * shuffle join on bucket (losing DPP, keeping bucket locality) —
    * the broadcast threshold is the switch, not a rewrite.
    * Output: (q_id, rnk, vec_id, label, cos). Self-matches are
    * excluded (a query vector present in the corpus is not its own
    * neighbor).
    */
  def probeTopkBatch(spark: SparkSession, path: String, queries: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val pivots = graft.sources.Tables.cachedParquet(spark, s"$path/pivots")
    val q = queries.select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
      sqrt(dot(col("emb"), col("emb"))).as("q_norm"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("pcos").desc, col("p_id"))
    val probed = q.crossJoin(broadcast(pivots))
      .withColumn("pcos", cosine(col("q_emb"), col("p_emb")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("p_id").as("bucket"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    // ONE dot per candidate: both norms are precomputed (the corpus
    // side's at index build, the query side's once per query)
    graft.sources.Tables.cachedParquet(spark, s"$path/assign")
      .join(broadcast(probed), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("label"),
        r4(col("cos")).as("cos"))
  }

  /** FILTERED probe-only ANN top-k: the predicate+vector retrieval
    * shape (top-k among only the rows satisfying a metadata
    * predicate — e.g. one label/source/language slice of the corpus).
    *
    * Plan: identical to [[probeTopk]] — rank pivots, DPP-prune to the
    * nprobe bucket partitions — with the metadata predicate applied
    * DIRECTLY to the assignment scan, where it reaches the parquet
    * reader as a pushed data filter (the assign table persists the
    * metadata columns exactly so this works; AnnFilteredSpec pins
    * `PushedFilters` non-empty on the assign FileScan). So the scan
    * reads nprobe/npivots of the partitions AND row-group-skips
    * within them; candidates that fail the predicate never reach the
    * re-rank.
    *
    * Filtering thins each probed bucket by the predicate selectivity
    * s, so for the same recall target nprobe should grow roughly as
    * the candidate budget / (bucket_size · s) — callers pass a wider
    * nprobe than the unfiltered query (the standard filtered-search
    * knob; post-filtering a k/s-deep unfiltered result is the
    * alternative and is strictly worse: it re-ranks candidates the
    * predicate will discard). Degenerately selective predicates
    * (s → 0) are better served by flipping to an exact scan of the
    * predicate slice — that crossover belongs to the caller.
    */
  def probeTopkFiltered(spark: SparkSession, path: String, query: DataFrame,
      predicate: Column, nprobe: Int, k: Int): DataFrame = {
    val q = query.select(col("emb").as("q_emb"),
      sqrt(dot(col("emb"), col("emb"))).as("q_norm"))
    val pivots = graft.sources.Tables.cachedParquet(spark, s"$path/pivots")
    val probed = pivots.crossJoin(broadcast(q))
      .withColumn("pcos", cosine(col("p_emb"), col("q_emb")))
      .orderBy(col("pcos").desc, col("p_id"))
      .limit(nprobe)
      .select(col("p_id").as("bucket"))
    graft.sources.Tables.cachedParquet(spark, s"$path/assign")
      .filter(predicate)
      .join(broadcast(probed), "bucket")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        r4(dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm")))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Probe-only ANN top-k against a built index: pick the query's
    * nprobe max-cosine pivots, scan only those bucket partitions of
    * the assignment table (dynamic partition pruning via the
    * broadcast join on the partition column), exact re-rank, top-k.
    * `query` is a 1-row (vec_id, label, emb) frame.
    */
  def probeTopk(spark: SparkSession, path: String, query: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val q = query.select(col("emb").as("q_emb"),
      sqrt(dot(col("emb"), col("emb"))).as("q_norm"))
    val pivots = graft.sources.Tables.cachedParquet(spark, s"$path/pivots")
    val probed = pivots.crossJoin(broadcast(q))
      .withColumn("pcos", cosine(col("p_emb"), col("q_emb")))
      .orderBy(col("pcos").desc, col("p_id"))
      .limit(nprobe)
      .select(col("p_id").as("bucket"))
    graft.sources.Tables.cachedParquet(spark, s"$path/assign")
      .join(broadcast(probed), "bucket")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        r4(dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm")))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }
}
