package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal column handling for the training-data pipeline:
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, batched feature extraction, and frame sampling.
  *
  * Real codecs are NOT available in this container, so the decode
  * kernel is a clearly-marked DETERMINISTIC FAKE — the Spark-side
  * plumbing (schemas, encoders, partitioning, batched mapPartitions
  * shape) is real and tested (MediaSpec). Swapping `fakeDecode` for a
  * JNI/FFI codec changes no plan shape: mapPartitions with
  * fixed-size batches is exactly the Scala analog of `mapInPandas`
  * (per-batch amortization of decoder setup, bounded memory per
  * task).
  *
  * Scale notes: media blobs are large and must never be shuffled —
  * every operation here is a narrow map over the scan (no
  * repartition, no join on content). Aggregations only ever touch
  * extracted features/metadata (bytes, hashes, small float vectors).
  */
object MediaOps {

  /** Typed metadata carried next to the opaque payload. */
  case class MediaMeta(kind: String, width: Int, height: Int,
    sampleRateHz: Int, durationMs: Long)

  /** One media row: id + opaque content + typed metadata. */
  case class MediaRecord(media_id: Long, kind: String,
    content: Array[Byte], meta: MediaMeta)

  /** Extracted per-media features (what downstream training uses). */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
    content_hash: Long, features: Array[Float])

  /** Batched "decode + featurize": the mapInPandas-shaped kernel.
    * Batches are `batchSize` records; the decoder is invoked once per
    * batch (amortization point), then per record.
    */
  def extractFeatures(ds: Dataset[MediaRecord], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch decoder setup would happen here (codec init, GPU
        // buffer alloc); the fake needs none.
        batch.iterator.map(fakeDecode)
      }
    }
  }

  /** DETERMINISTIC FAKE decode — stands in for image/audio decode
    * (no codec libraries in this environment). Features are byte
    * statistics: mean, variance, min, max of the payload bytes plus
    * 4 coarse histogram buckets — deterministic, content-derived,
    * fixed dimension (8), so tests exercise real data flow.
    */
  private[operators] def fakeDecode(r: MediaRecord): MediaFeatures = {
    val bs = r.content
    val n = math.max(bs.length, 1)
    var sum = 0.0; var sumSq = 0.0
    var min = 255.0; var max = 0.0
    val hist = new Array[Float](4)
    var h = 1125899906842597L // FNV-ish rolling content hash
    bs.foreach { b =>
      val v = (b & 0xFF).toDouble
      sum += v; sumSq += v * v
      if (v < min) min = v
      if (v > max) max = v
      hist((b & 0xFF) >> 6) += 1f
      h = h * 31 + (b & 0xFF)
    }
    val mean = sum / n
    val variance = sumSq / n - mean * mean
    MediaFeatures(r.media_id, r.kind, bs.length.toLong, h,
      Array(mean.toFloat, variance.toFloat, min.toFloat, max.toFloat,
        hist(0) / n, hist(1) / n, hist(2) / n, hist(3) / n))
  }

  /** Frame sampling for "video" payloads: view content as fixed-size
    * frames and keep every `stride`-th, emitting (media_id, frame_idx,
    * frame bytes). Flat-map shape — no shuffle, output rows stay on
    * the input partition.
    */
  def sampleFrames(ds: Dataset[MediaRecord], frameBytes: Int, stride: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      r.content.grouped(frameBytes).zipWithIndex.collect {
        case (frame, idx) if idx % stride == 0 =>
          (r.media_id, idx.toLong, frame)
      }
    }.toDF("media_id", "frame_idx", "frame")
  }

  /** 64-slice average hash (aHash) of an opaque payload — the
    * perceptual-hash SHAPE over the deterministic stand-in "pixels":
    * a real deployment decodes to an 8×8 grayscale grid and hashes
    * pixel-vs-mean; here the grid is the payload's 64 byte-slice
    * means (content-derived, so near-identical payloads get
    * hamming-close hashes — the property the dedup plane needs).
    * Runs in the batched kernel beside [[fakeDecode]]; only the
    * 8-byte hash ever leaves the scan partition.
    */
  private[graft] def aHash(bs: Array[Byte]): Long = {
    if (bs == null || bs.isEmpty) return 0L
    val n = bs.length
    val means = Array.tabulate(64) { i =>
      val from = (i * n) / 64
      val until = math.min(math.max((i + 1) * n / 64, from + 1), n)
      var s = 0.0
      var j = math.min(from, n - 1)
      val end = math.max(until, j + 1)
      while (j < end) { s += (bs(j) & 0xFF); j += 1 }
      s / (end - math.min(from, n - 1))
    }
    val mean = means.sum / 64
    means.zipWithIndex.foldLeft(0L) { case (acc, (m, i)) =>
      if (m > mean) acc | (1L << i) else acc
    }
  }

  /** Near-duplicate media pairs at hamming ≤ `maxHamming`, found by
    * block-COMBINATION banding + exact `bit_count(xor)` verify.
    *
    * r10 reshape (the r9 verdict's worst sf30 cell — 367 s / 167 GB
    * spill): the old 16-bit single-chunk bands put every distinct
    * hash into 4 buckets keyed by only 65k values, so at millions of
    * distinct hashes the dense buckets' in-bucket self-join went
    * Θ(m²). The fix widens the band KEY without giving up exact
    * recall — the generalized pigeonhole of Manku/Jain/Sarma (WWW'07,
    * public knowledge): split the 64-bit hash into 6 blocks; ≤ 3
    * differing bits touch ≤ 3 blocks, so ≥ 3 blocks are untouched and
    * some specific 3-block SUBSET matches exactly. Banding on all
    * C(6,3) = 20 three-block combinations (subset id packed with the
    * three block values into one ≤ 38-bit long) keeps recall 1.0 BY
    * CONSTRUCTION while the per-band key space grows from 2^16 to
    * ~2^33 — bucket occupancy collapses to near-singletons and the
    * self-join is output-linear again. 20 (media_id, long-key) rows
    * per distinct hash cross the candidate shuffle — 5× the old row
    * count, a linear price for removing the quadratic term.
    */
  def phashNearDupPairs(hashed: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"block-combination banding is exact only for hamming <= 3, got $maxHamming")
    // 6 blocks tiling the 64 bits: 11,11,11,11,10,10 (offsets below)
    val offsets = Array(0, 11, 22, 33, 44, 54)
    val widths = Array(11, 11, 11, 11, 10, 10)
    def block(i: Int): Column =
      shiftright(col("phash"), offsets(i))
        .bitwiseAND(lit((1L << widths(i)) - 1L))
    val keys = (0 until 6).combinations(3).toSeq.zipWithIndex.map {
      case (c, s) =>
        c.foldLeft(lit(s.toLong): Column)((acc, b) =>
          shiftleft(acc, 11).bitwiseOR(block(b)))
    }
    val keyed = hashed.select(col("media_id"),
      explode(array(keys: _*)).as("bkey"))
    val cands = keyed.as("l")
      .join(keyed.as("r"),
        col("l.bkey") === col("r.bkey") &&
          col("l.media_id") < col("r.media_id"))
      .select(col("l.media_id").as("a_id"), col("r.media_id").as("b_id"))
      .distinct()
    val a = hashed.select(col("media_id").as("a_id"), col("phash").as("a_h"))
    val b = hashed.select(col("media_id").as("b_id"), col("phash").as("b_h"))
    cands.join(a, "a_id").join(b, "b_id")
      .withColumn("hamming", expr("bit_count(a_h ^ b_h)"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Declared query `phash_dups` (rows-only; hash laws + pigeonhole
    * recall in MediaSpec): perceptual near-dup summary over the
    * stand-in media corpus (documents' payload blobs). The media
    * analog of `srp_near_dup`, with BY-CONSTRUCTION recall instead of
    * probabilistic — and OUTPUT-LINEAR by the round-2 simhash lesson:
    * identical hashes collapse to one representative (+ multiplicity)
    * BEFORE banding, so a template clique of m exact dups costs one
    * row, its C(m,2) pair count computed arithmetically, never
    * enumerated; the banding join runs over DISTINCT hashes only.
    */
  def phashDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // null payloads DROP (a media row with no bytes has nothing to
    // hash — DirtyInputSpec policy); the kernel also null-guards
    val media = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bs) => (id, aHash(bs)) }
      .toDF("media_id", "phash")
    val groups = media.groupBy("phash")
      .agg(count(lit(1)).as("m"), min("media_id").as("media_id"))
    val pairs = phashNearDupPairs(groups.select(col("media_id"), col("phash")))
    groups.agg(
        sum("m").as("n_media"),
        count(lit(1)).as("n_distinct_hashes"),
        sum(col("m") * (col("m") - 1) / 2).cast("long").as("n_exact_pairs"))
      .crossJoin(pairs.agg(
        count(lit(1)).as("n_near_dup_hash_pairs")))
  }

  /** Declared query `media_bytes_stats` (WITH oracle): documents'
    * text payloads viewed as opaque UTF-8 blobs (the stand-in media
    * store), per-lang byte/dedup stats — the metadata-plane
    * aggregation that never touches blob internals beyond length +
    * content hash, exactly what a 100 TB media catalog query should
    * do.
    */
  def mediaBytesStats(spark: SparkSession, dir: String): DataFrame = {
    val blob = col("text").cast("binary")
    Tables.documents(spark, dir)
      .select(col("lang"), length(blob).cast("long").as("n_bytes"),
        md5(blob).as("content_md5"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_media"),
        sum("n_bytes").as("sum_bytes"),
        countDistinct("content_md5").as("n_unique_blobs"))
      .orderBy("lang")
  }
}
