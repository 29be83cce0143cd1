package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det.r4
import graft.sources.Tables

/** Product-quantization (PQ) compressed ANN — the MEMORY-bound scale
  * path, complementing [[IvfIndex]] (the compute/IO-bound one).
  *
  * A 64-dim float64 embedding is 512 bytes; its PQ code is M = 8
  * tinyint codes (one per 8-dim subspace, K = 16 centroids each) plus
  * one stored norm — a 64× footprint cut. At 100 TB of embeddings the
  * codes table is ~1.6 TB and fits the page cache of a modest
  * cluster, so candidate generation runs at memory bandwidth while
  * raw vectors stay on cold storage and are touched only for the
  * shortlist re-rank (fetch-by-id, the standard IVF-PQ serving
  * layout).
  *
  * Lifecycle (same DDL shape as [[IvfIndex]]):
  *   1. BUILD: train per-subspace codebooks with relational Lloyd
  *      iterations (assignment is a literal-unrolled argmin
  *      projection; the update is a posexplode + per-(subspace, code,
  *      dim) mean — only M×K×8 doubles ever reach the driver), then
  *      ENCODE the corpus in one shuffle-free projection and persist
  *      `codes` (vec_id, label, codes, norm) + the 1-row `cbook`.
  *   2. QUERY: approximate cosine from the CODES ALONE — reconstruct
  *      each vector from broadcast codebook entries and take the
  *      native dot with the query (asymmetric distance: exact query
  *      side, quantized corpus side; algebraically identical to the
  *      classic ADC lookup-table sum, PqSpec proves the equivalence)
  *      — shortlist by TakeOrderedAndProject, then exact re-rank of
  *      the shortlist against the raw embeddings. Zero driver-side
  *      collect anywhere in the query path.
  */
object PqIndex {

  /** Bump when codebook training, encoding, or layout changes. */
  val FormatVersion = 1

  val M = 8      // subspaces
  // dims per subspace is DERIVED from the data (embedding dim / M) —
  // the r6 d-scaling row runs the same plane at d=512 (SubDim 64)
  // with no code change; 64-dim corpora keep SubDim 8 as before
  val K = 16     // centroids per subspace (codes fit 4 bits; stored tinyint)
  val TrainIters = 3

  def indexPath(dir: String): String =
    StoreProtocol.root("pq", FormatVersion, dir, s"_m${M}k$K")

  private def dot(a: Column, b: Column): Column = AnnOps.dot(a, b)

  /** Squared L2 distance between two array<double> columns. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Codebook lookup: centroid array for (subspace m, code c) on a
    * nested-literal or 1-row-table codebook column (1-indexed
    * element_at).
    */
  private def cent(cbook: Column, m: Column, c: Column): Column =
    element_at(element_at(cbook, m.cast("int") + 1), c.cast("int") + 1)

  /** Encode an embedding to its M PQ codes (array<tinyint>) — a pure
    * projection: per subspace, argmin squared-L2 over the K codebook
    * literals via `array_min(struct(d, k))` (min distance, then min
    * code — deterministic tie-break, no window, no shuffle).
    */
  def encode(emb: Column, codebook: Seq[Seq[Seq[Double]]]): Column = {
    val cb = typedlit(codebook)
    val subDim = codebook.head.head.length // dim/M, carried by the codebook
    transform(sequence(lit(0), lit(M - 1)), m =>
      array_min(transform(sequence(lit(0), lit(K - 1)), k =>
        struct(l2sq(slice(emb, m * subDim + 1, lit(subDim)), cent(cb, m, k)).as("d"),
          k.as("c"))))
        .getField("c").cast("tinyint"))
  }

  /** Reconstruct the quantized vector from its codes and a codebook
    * COLUMN (the broadcast 1-row cbook table): concat of the M chosen
    * centroids. The asymmetric approximate dot is then just
    * `dot(q, reconstruct(codes))`.
    */
  def reconstruct(codes: Column, cbook: Column): Column =
    flatten(transform(codes, (c, m) => cent(cbook, m, c)))

  /** Classic ADC form: per-query lookup table `lut[m*K + c] =
    * dot(q_m, centroid(m, c))`, approximate dot = sum of M lookups.
    * Algebraically equal to `dot(q, reconstruct(codes))` (dot
    * distributes over the concat); kept for single-query serving
    * where the caller holds the query vector, and as the cross-check
    * PqSpec asserts.
    */
  def adcDot(codes: Column, lut: Seq[Double]): Column =
    aggregate(
      transform(codes, (c, m) => element_at(typedlit(lut), m * K + c.cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x)

  /** Build the per-query ADC lookup table from a codebook. */
  def lutFor(q: Seq[Double], codebook: Seq[Seq[Seq[Double]]]): Seq[Double] = {
    val subDim = codebook.head.head.length
    for (m <- 0 until M; c <- 0 until K)
      yield codebook(m)(c).zip(q.slice(m * subDim, (m + 1) * subDim))
        .map { case (a, b) => a * b }.sum
  }

  /** Train per-subspace codebooks: Lloyd iterations over the exploded
    * (subspace, subvector) frame — assignment is the same
    * literal-unrolled argmin as [[encode]]; the update step is a
    * relational per-(m, code, dim) mean. Empty clusters keep their
    * centroid. Seeds: the first K vectors' subvectors (deterministic).
    */
  def trainCodebooks(emb: DataFrame, iters: Int = TrainIters): Seq[Seq[Seq[Double]]] = {
    val seedRows = emb.orderBy("vec_id").limit(K)
      .select("emb").collect().map(_.getSeq[Double](0).toSeq)
    require(seedRows.nonEmpty, "trainCodebooks on an empty corpus (ensure guards this)")
    // A corpus smaller than K must still yield exactly K centroids per
    // subspace — encode/argmin iterate k in 0..K-1 and element_at is
    // ANSI-strict — so cycle the available seeds (duplicate centroids
    // are harmless: argmin picks the first, empty clusters keep theirs).
    val seeds = Seq.tabulate(K)(i => seedRows(i % seedRows.length))
    val dim = seedRows.head.length
    require(dim % M == 0, s"embedding dim $dim not divisible by M=$M")
    val subDim = dim / M
    var cb: Seq[Seq[Seq[Double]]] = Seq.tabulate(M)(m =>
      seeds.map(_.slice(m * subDim, (m + 1) * subDim)))
    val subs = emb.select(
      posexplode(array((0 until M).map(m =>
        slice(col("emb"), m * subDim + 1, subDim)): _*)).as(Seq("m", "s")))
    (0 until iters).foreach { _ =>
      val cbLit = typedlit(cb)
      val assigned = subs.withColumn("code",
        array_min(transform(sequence(lit(0), lit(K - 1)), k =>
          struct(l2sq(col("s"), cent(cbLit, col("m"), k)).as("d"), k.as("c"))))
          .getField("c"))
      val means = assigned
        .select(col("m"), col("code"), posexplode(col("s")).as(Seq("pos", "v")))
        .groupBy("m", "code", "pos").agg(avg("v").as("mu"))
        .groupBy("m", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
          st => st.getField("mu")).as("c_emb"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq).toMap
      cb = Seq.tabulate(M)(m => Seq.tabulate(K)(k => means.getOrElse((m, k), cb(m)(k))))
    }
    cb
  }

  /** Ensure the PQ index for `dir` exists (same contract as
    * [[IvfIndex.ensure]]; `codes/` is written last). Corpus = every
    * embedding except the reserved query vector 0. None on an empty
    * corpus.
    */
  def ensure(spark: SparkSession, dir: String): Option[String] = synchronized {
    val path = indexPath(dir)
    val built = StoreProtocol.ensureArtifact(spark, path, dir, "embeddings", "codes") {
      val corpus = Tables.embeddings(spark, dir)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      !corpus.isEmpty && {
        val cb = trainCodebooks(corpus)
        import spark.implicits._
        Seq(Tuple1(cb)).toDF("cbook").write.mode("overwrite").parquet(s"$path/cbook")
        corpus.select(col("vec_id"), col("label"),
            encode(col("emb"), cb).as("codes"),
            sqrt(dot(col("emb"), col("emb"))).as("norm"))
          .write.mode("overwrite").parquet(s"$path/codes")
        true
      }
    }
    if (built) Some(path) else None
  }

  /** PQ top-k: approximate-cosine shortlist from the codes table
    * (narrow scan: M tinyints + norm per vector), exact re-rank of
    * the shortlist against the raw embeddings (fetch-by-id broadcast
    * join). `query` is a 1-row (vec_id, label, emb) frame; the whole
    * path is scan → broadcast joins → projections → two
    * TakeOrderedAndProject — zero Exchange on the corpus lineage,
    * zero collect.
    */
  def pqTopk(spark: SparkSession, path: String, query: DataFrame,
      corpus: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val q = query.select(col("emb").as("q_emb"),
      sqrt(dot(col("emb"), col("emb"))).as("q_norm"))
    val cbook = graft.sources.Tables.cachedParquet(spark, s"$path/cbook")
    val short = graft.sources.Tables.cachedParquet(spark, s"$path/codes")
      .crossJoin(broadcast(cbook)).crossJoin(broadcast(q))
      .withColumn("approx_cos",
        dot(col("q_emb"), reconstruct(col("codes"), col("cbook")))
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

  /** Declared query `pq_topk` (rows-only; recall and compression
    * bounds asserted in PqSpec): PQ shortlist (8k = 16% of this
    * corpus; recall@10 0.80 measured — the shortlist/corpus ratio is
    * the recall knob) + exact re-rank top-10 for query vector 0
    * against the persisted index.
    */
  def pqTopkQuery(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    ensure(spark, dir) match {
      case Some(path) =>
        pqTopk(spark, path, all.filter(col("vec_id") === 0),
          all.filter(col("vec_id") =!= 0), shortlist = 80, k = 10)
      case None =>
        all.select(col("vec_id"), col("label"), r4(lit(0.0)).as("cos_sim")).limit(0)
    }
  }
}
