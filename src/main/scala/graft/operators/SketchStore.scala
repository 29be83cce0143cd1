package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

import StoreProtocol.{Pointer, liveIds, readPointer, writePointer}

/** Persisted document-sketch store — the [[EdgeStore]]/IvfIndex
  * pattern applied to the TEXT-DEDUP plane (r8 verdict #3, the last
  * per-query corpus-recompute left in the suite): the MinHash
  * signature + token-hash set that `near_dup_minhash`,
  * `lsh_dedup_clusters`, `curate_corpus_neardup`, `containment_lsh`
  * and `incremental_dedup` all derive from the documents table is
  * computed ONCE per corpus at ingest (the explode + 64-min hash
  * aggregate that dominated those queries: 47.7 s of the sf10
  * lsh_dedup_clusters run was signature recomputation) and persisted
  * as a doc-grain parquet table the queries probe.
  *
  * One row per document (null-text docs keep a row with null
  * signature columns — they fall out of candidate generation at the
  * exact-verify stage exactly as they fell out of the inline build's
  * explode, so probe results are row-identical to the inline path):
  * {{{
  *   doc_id BIGINT, lang STRING,
  *   bag_h  STRING,            -- md5 of the sorted distinct lower-cased
  *                             -- token set: incremental_dedup's
  *                             -- word-order-insensitive fingerprint
  *   m0..m63 BIGINT,           -- MinHash signature (DedupOps.K seeds)
  *   hs ARRAY<BIGINT>, n_tok BIGINT  -- token-hash set + its size, the
  *                             -- exact-Jaccard verify columns
  * }}}
  * The `hs` column is deliberately the token-hash SET, not a second
  * sketch: it is what makes every LSH candidate EXACTLY verifiable
  * without touching document text (precision 1.0 by construction).
  * It costs ~8 bytes per distinct token — index-sized, corpus-shaped,
  * the same trade a search engine's postings make.
  *
  * Maintenance is the [[StoreProtocol]] contract (shared with
  * EdgeStore): per-batch delta partitions + commit markers + an
  * atomically swapped epoch pointer. Because rows are DOC-grain and
  * docs are append-only, a batch's delta needs no merge — the probe
  * frame is base ∪ live deltas (no per-append rewrite of a
  * corpus-sized table), and compaction just folds delta files into
  * the next epoch for file-count hygiene. Batches must not re-send
  * an already-ingested doc_id (the append-only corpus contract; a
  * replay of the SAME batch id is fine — dynamic overwrite).
  *
  * At 100 TB the sketch table is maintained next to the corpus and
  * every dedup/containment query starts from it; nothing re-explodes
  * document text at query time. SketchStoreSpec pins store ≡ inline
  * row-for-row, the no-retokenize plan shape, append ≡ full rebuild,
  * and crash-safe compaction.
  */
object SketchStore {

  /** Bump when the stored FORMAT changes (schema, K, tokenizer). */
  val FormatVersion = 1

  def storePath(dir: String): String = StoreProtocol.root("sketches", FormatVersion, dir)

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Delta/base schema (explicit: an empty ingest batch writes a
    * file-less delta directory that schema inference cannot read).
    */
  private val planeSchema: StructType = StructType(
    Seq(StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("bag_h", StringType)) ++
      (0 until DedupOps.K).map(i => StructField(s"m$i", LongType)) ++
      Seq(StructField("hs", ArrayType(LongType)),
        StructField("n_tok", LongType)))

  private val deltaSchema: StructType =
    StructType(planeSchema.fields :+ StructField("ingest_batch", LongType))

  /** Per-doc sketch rows for a documents slice — the ONE pass that
    * touches document text. The signature aggregate is
    * [[DedupOps.docSketches]]'s (explode → xxhash64 → 64-way min,
    * all inside codegen'd partial aggregation); the doc-grain left
    * join keeps null-text docs present with null signatures, and
    * carries `bag_h` (computed scan-side, pre-explode).
    */
  def sketchRows(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"),
      md5(concat_ws(" ",
        array_sort(array_distinct(split(lower(col("text")), " ")))))
        .as("bag_h"),
      DedupOps.tokensCol.as("toks"))
    val sk = DedupOps.docSketches(base.select(col("doc_id"), col("lang"),
      col("toks")))
    // join on doc_id ALONE (unique per doc): a non-null-text doc with
    // NULL lang never equi-joins on lang (null != null), which would
    // store a null signature the inline docSketches path sketches —
    // a latent store≢inline divergence (r9 ADVICE)
    base.select("doc_id", "lang", "bag_h")
      .join(sk.drop("lang"), Seq("doc_id"), "left")
      .select(planeSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Idempotent build-if-missing: base epoch 1 + pointer, rebuilt on a
    * regenerated documents table, a corrupt pointer or a torn base
    * ([[StoreProtocol.ensureArtifact]] wipes first, so stale deltas
    * never duplicate doc-grain rows in the probe union).
    */
  def ensure(spark: SparkSession, dir: String): String = synchronized {
    val root = storePath(dir)
    StoreProtocol.ensureArtifact(spark, root, dir, "documents", "sketches", epoched = true) {
      sketchRows(Tables.documents(spark, dir))
        .write.mode("overwrite").parquet(s"$root/base/epoch=1/sketches")
      writePointer(fs(spark, root), root, StoreProtocol.Initial)
      true
    }
    root
  }

  /** The probe frame: base ∪ committed, unfolded deltas — one row per
    * ingested document. No publish/rewrite step: the union IS the
    * current state (doc-grain rows never merge), which is what keeps
    * [[appendDocs]] O(batch) on a corpus-sized table.
    */
  def sketches(spark: SparkSession, dir: String): DataFrame = {
    val root = ensure(spark, dir)
    val f = fs(spark, root)
    val p = readPointer(f, root).get
    val base = spark.read.schema(planeSchema)
      .parquet(s"$root/base/epoch=${p.epoch}/sketches")
    val ids = liveIds(f, root, p)
    if (ids.isEmpty || !f.exists(new Path(s"$root/deltas"))) base
    else base.unionByName(
      spark.read.schema(deltaSchema).parquet(s"$root/deltas")
        .filter(col("ingest_batch").isin(ids: _*))
        .select(planeSchema.fieldNames.map(col).toIndexedSeq: _*))
  }

  /** Incremental refresh for an ingest batch of NEW documents:
    * O(batch) sketching + a delta partition (dynamic overwrite ⇒
    * replay-safe) + a commit marker. A `batchId` already folded by
    * [[compact]] is a replay of history — skipped.
    */
  def appendDocs(spark: SparkSession, dir: String, newDocs: DataFrame,
      batchId: Long): Unit = synchronized {
    val root = ensure(spark, dir)
    val f = fs(spark, root)
    val p = readPointer(f, root).get
    if (p.folded(batchId)) return
    sketchRows(newDocs)
      .withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(s"$root/deltas")
    StoreProtocol.commit(f, root, batchId)
  }

  /** Ad-hoc append with an auto-derived batch id in the ad-hoc id
    * space — synchronized, collision-free with streaming ids (the
    * [[StoreProtocol]] contract).
    */
  def appendDocs(spark: SparkSession, dir: String,
      newDocs: DataFrame): Unit = synchronized {
    val root = ensure(spark, dir)
    val f = fs(spark, root)
    val p = readPointer(f, root).get
    appendDocs(spark, dir, newDocs, StoreProtocol.nextAdHocId(f, root, p))
  }

  /** Continuous maintenance: [[appendDocs]] as a `foreachBatch` sink
    * on a stream of new documents. Ids are `batchId + 1`; replays
    * dynamic-overwrite their own delta and folded batches are skipped
    * by watermark — exactly-once across restarts and compactions.
    */
  def streamingAppend(spark: SparkSession, dir: String, newDocs: DataFrame):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendDocs(spark, dir, batch, batchId + 1)
    }

  /** Compaction steps — the [[StoreProtocol]] shape (crash-injection
    * pinned in SketchStoreSpec): write epoch N+1 = base ∪ live
    * deltas, swap the pointer, GC.
    */
  private[graft] def compactPrepare(spark: SparkSession,
      dir: String): Option[Pointer] = {
    val root = storePath(dir)
    val f = fs(spark, root)
    readPointer(f, root).flatMap { p =>
      val ids = liveIds(f, root, p)
      if (ids.isEmpty) None
      else {
        sketches(spark, dir)
          .write.mode("overwrite")
          .parquet(s"$root/base/epoch=${p.epoch + 1}/sketches")
        Some(p.fold(ids))
      }
    }
  }

  private[graft] def compactCommit(spark: SparkSession, dir: String,
      next: Pointer): Unit =
    writePointer(fs(spark, storePath(dir)), storePath(dir), next)

  private[graft] def compactGc(spark: SparkSession, dir: String): Unit = {
    val root = storePath(dir)
    val f = fs(spark, root)
    readPointer(f, root).foreach(p =>
      StoreProtocol.gc(f, root, p, Seq("deltas")))
  }

  /** Fold live deltas into the next base epoch (file-count hygiene;
    * probe results are invariant). Crash-safe at every boundary.
    */
  def compact(spark: SparkSession, dir: String): Unit = synchronized {
    compactPrepare(spark, dir).foreach { next =>
      compactCommit(spark, dir, next)
      compactGc(spark, dir)
    }
  }
}
