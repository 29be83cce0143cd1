package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det.r4
import graft.sources.Tables

/** IVF×PQ composition — the two ANN index planes combined into the
  * standard high-scale layout (coarse inverted lists × product codes):
  * the bucket-PARTITIONED assignment table stores each vector's PQ
  * CODES instead of its raw embedding, so a probe
  *   (a) scans only the `nprobe` pruned bucket partitions (IVF), and
  *   (b) reads only M tinyints + a norm per row in them (PQ),
  * compounding the two reductions: at npivots=8 / nprobe=3 / 64×
  * code compression, a query touches ~0.6% of the bytes the
  * brute-force scan reads, before the shortlist re-rank fetches the
  * few raw vectors it actually needs.
  *
  * BUILD composes the two existing index builds (both idempotent):
  * [[IvfIndex.ensure]] trains pivots and the bucket assignment,
  * [[PqIndex.ensure]] trains the codebooks; this build then re-encodes
  * the assignment rows in one shuffle-free projection and writes them
  * partitioned by bucket. QUERY = IVF probe (pivot ranking + dynamic
  * partition pruning) → PQ approximate shortlist (broadcast-codebook
  * reconstruction + native dot) → exact re-rank. Zero collect, zero
  * shuffle exchange, same as each plane alone.
  */
object IvfPq {

  val FormatVersion = 1

  def indexPath(dir: String, npivots: Int): String =
    StoreProtocol.root("ivfpq", FormatVersion, dir, s"_p${npivots}_m${PqIndex.M}k${PqIndex.K}")

  /** Build the combined index from the two planes' artifacts (each
    * ensured, so each checks its own stamp and marker): read the IVF
    * assignment (vec_id, label, emb, norm, bucket), encode each row's
    * embedding against the PQ codebooks (literal-unrolled projection),
    * drop the raw embedding, write partitioned by bucket. This index's
    * own stamp is checked before its `assign/` marker short-circuits
    * ([[StoreProtocol.ensureArtifact]]). Returns None on an empty corpus.
    */
  def ensure(spark: SparkSession, dir: String, npivots: Int): Option[String] = synchronized {
    val path = indexPath(dir, npivots)
    val built = StoreProtocol.ensureArtifact(spark, path, dir, "embeddings", "assign") {
      val planes = for {
        ivf <- IvfIndex.ensure(spark, dir, npivots)
        pq <- PqIndex.ensure(spark, dir)
      } yield (ivf, pq)
      planes.foreach { case (ivf, pq) =>
        val cb = graft.sources.Tables.cachedParquet(spark, s"$pq/cbook").collect().head
          .getSeq[Any](0).map(_.asInstanceOf[scala.collection.Seq[Any]]
            .map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq).toSeq).toSeq
        // pivots + codebook first; the assignment is written LAST and
        // its marker completes the build
        graft.sources.Tables.cachedParquet(spark, s"$ivf/pivots").write.mode("overwrite").parquet(s"$path/pivots")
        graft.sources.Tables.cachedParquet(spark, s"$pq/cbook").write.mode("overwrite").parquet(s"$path/cbook")
        graft.sources.Tables.cachedParquet(spark, s"$ivf/assign")
          .select(col("vec_id"), col("label"),
            PqIndex.encode(col("emb"), cb).as("codes"),
            col("norm"), col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/assign")
      }
      planes.isDefined
    }
    if (built) Some(path) else None
  }

  private def dot = AnnOps.dot _

  /** Probe-only IVF×PQ top-k for a 1-row query frame: rank pivots by
    * query cosine, keep `nprobe` buckets, scan ONLY those partitions
    * of the codes-carrying assignment (dynamic partition pruning),
    * score the PQ approximation, shortlist, exact re-rank against the
    * raw corpus.
    */
  def probeTopk(spark: SparkSession, path: String, query: DataFrame,
      corpus: DataFrame, nprobe: Int, shortlist: Int, k: Int): DataFrame = {
    val q = query.select(col("emb").as("q_emb"),
      sqrt(dot(col("emb"), col("emb"))).as("q_norm"))
    val pivots = graft.sources.Tables.cachedParquet(spark, s"$path/pivots")
    val probed = pivots.crossJoin(broadcast(q))
      .withColumn("pcos", AnnOps.cosine(col("p_emb"), col("q_emb")))
      .orderBy(col("pcos").desc, col("p_id"))
      .limit(nprobe)
      .select(col("p_id").as("bucket"))
    val cbook = graft.sources.Tables.cachedParquet(spark, s"$path/cbook")
    val short = graft.sources.Tables.cachedParquet(spark, s"$path/assign")
      .join(broadcast(probed), "bucket")
      .crossJoin(broadcast(cbook)).crossJoin(broadcast(q))
      .withColumn("approx_cos",
        dot(col("q_emb"), PqIndex.reconstruct(col("codes"), col("cbook")))
          / (col("norm") * col("q_norm")))
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"))
    corpus.join(broadcast(short), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        r4(dot(col("emb"), col("q_emb"))
          / (sqrt(dot(col("emb"), col("emb"))) * col("q_norm"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Declared query `ivfpq_topk` (rows-only; recall, pruning, and
    * narrow-scan bounds asserted in IvfPqSpec): nprobe 3 of 8 buckets,
    * PQ shortlist 40 within them, exact re-rank top-10 for query
    * vector 0.
    */
  def ivfpqTopk(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    ensure(spark, dir, npivots = 8) match {
      case Some(path) =>
        probeTopk(spark, path, all.filter(col("vec_id") === 0),
          all.filter(col("vec_id") =!= 0), nprobe = 3, shortlist = 40, k = 10)
      case None =>
        all.select(col("vec_id"), col("label"), r4(lit(0.0)).as("cos_sim")).limit(0)
    }
  }
}
