package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.PqIndex

/** Residual product quantization — the IVF×PQ refinement that encodes
  * each vector's RESIDUAL from its coarse centroid (`v − c_bucket`)
  * instead of the vector itself (the classic IVFADC composition).
  * When buckets are genuinely clustered, residuals concentrate near
  * zero with far less variance than raw vectors, so the same M×K code
  * budget quantizes them much more tightly; on an isotropic corpus
  * the coarse centroids explain little variance and the gain is
  * marginal — ResidualPqSpec MEASURES both claims, which is why the
  * declared `ivfpq_topk` keeps plain codes on this isotropic fixture,
  * and why this lives beside that spec rather than in the library.
  *
  * Approximate scoring composes linearly:
  * `dot(q, v̂) = dot(q, c_bucket) + dot(q, recon(codes_r))` — the
  * first term is one dot against the broadcast pivot table, the
  * second the usual codebook reconstruction; everything stays a
  * shuffle-free projection.
  */
object ResidualPq {

  /** Residual frame from an IVF assignment: subtract each row's
    * assigned centroid (broadcast join on bucket). Output keeps the
    * residual under the `emb` name so [[PqIndex.trainCodebooks]] /
    * [[PqIndex.encode]] apply unchanged.
    */
  def residuals(assigned: DataFrame, pivots: Seq[(Long, Seq[Double])]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val p = pivots.toDF("p_id", "p_emb")
    assigned
      .join(broadcast(p), col("bucket") === col("p_id"))
      .select(col("vec_id"), col("bucket"),
        zip_with(col("emb"), col("p_emb"), (x, y) => x - y).as("emb"))
  }

  /** Codebook reconstruction from a LITERAL codebook (the spec-side
    * twin of [[PqIndex.reconstruct]], which takes a codebook column).
    */
  def reconLit(codes: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    flatten(transform(codes, (c, m) =>
      element_at(element_at(typedlit(cb), m.cast("int") + 1), c.cast("int") + 1)))

  /** Mean squared reconstruction error of a PQ codebook over a frame
    * with an `emb` column: avg ‖v − recon(encode(v))‖².
    */
  def reconstructionMse(frame: DataFrame, cb: Seq[Seq[Seq[Double]]]): Double =
    frame
      .withColumn("codes", PqIndex.encode(col("emb"), cb))
      .select(avg(aggregate(
        zip_with(col("emb"), reconLit(col("codes"), cb), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)))
      .collect().head.getDouble(0)
}
