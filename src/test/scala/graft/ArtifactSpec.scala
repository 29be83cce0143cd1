package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** The one artifact path ([[StoreProtocol.ensureArtifact]]) over all
  * eight persisted ingest-time artifacts. For each:
  *   1. a source regenerated IN PLACE with different data is seen and
  *      the artifact rebuilt (no stale rollup, index or store served);
  *   2. a deleted completion marker (a torn build) rebuilds;
  *   3. two corpus dirs that differ only in punctuation resolve to
  *      distinct roots.
  * An artifact's content is read back as the row count of the plane it
  * serves, which each source's half/full pair changes.
  */
class ArtifactSpec extends SparkTestBase {

  private case class Artifact(
      name: String,
      /** The corpus table the artifact derives from, and its halving key. */
      source: String, key: String,
      root: String => String,
      /** The marker of the plane the build writes last, under the root. */
      marker: String,
      ensure: String => Unit,
      /** Rows the artifact serves for a corpus dir. */
      served: String => Long,
      /** Rows it must serve for a given source frame. */
      expected: DataFrame => Long)

  private def read(p: String): Long = spark.read.parquet(p).count()
  private def nonQuery(src: DataFrame): Long = src.filter(col("vec_id") =!= 0).count()

  private def rollup(r: DayRollup, n: String) = Artifact(
    r.getClass.getSimpleName.stripSuffix("$"), "events", "event_id",
    r.tablePath, "_SUCCESS", r.ensure(spark, _),
    d => r.readTable(spark, r.ensure(spark, d)).agg(sum(n)).head().getLong(0),
    _.count())

  private val artifacts = Seq(
    rollup(SketchRollup, "n_events"),
    rollup(QuantileRollup, "n_events"),
    rollup(ReportMaintenance, "n"),
    Artifact("IvfIndex", "embeddings", "vec_id", IvfIndex.indexPath(_, 8), "assign/_SUCCESS",
      IvfIndex.ensure(spark, _, 8), d => read(s"${IvfIndex.ensure(spark, d, 8).get}/assign"),
      nonQuery),
    Artifact("PqIndex", "embeddings", "vec_id", PqIndex.indexPath, "codes/_SUCCESS",
      PqIndex.ensure(spark, _), d => read(s"${PqIndex.ensure(spark, d).get}/codes"), nonQuery),
    Artifact("IvfPq", "embeddings", "vec_id", IvfPq.indexPath(_, 8), "assign/_SUCCESS",
      IvfPq.ensure(spark, _, 8), d => read(s"${IvfPq.ensure(spark, d, 8).get}/assign"),
      nonQuery),
    Artifact("EdgeStore", "lineitem", "l_orderkey", EdgeStore.storePath,
      "base/epoch=1/pairs/_SUCCESS", EdgeStore.ensure(spark, _),
      d => EdgeStore.undirected(spark, d).count(),
      // the symmetric ≥2-support adjacency: both directions of each pair
      EdgeStore.pairCounts(_).filter(col("w") >= 2).count() * 2),
    Artifact("SketchStore", "documents", "doc_id", SketchStore.storePath,
      "base/epoch=1/sketches/_SUCCESS", SketchStore.ensure(spark, _),
      d => SketchStore.sketches(spark, d).count(), _.count()))

  private def sourceOf(a: Artifact): DataFrame = a.source match {
    case "events" => Tables.events(spark, sf)
    case t => Tables.raw(spark, sf, t)
  }

  private def corpus(a: Artifact, tag: String, src: DataFrame): String = {
    val d = Files.createTempDirectory(s"graft_artifact_${a.name}_$tag").toString
    src.write.mode("overwrite").parquet(s"$d/${a.source}.parquet")
    d
  }

  for (a <- artifacts) {
    test(s"${a.name}: source regenerated in place triggers a rebuild (no stale artifact served)") {
      val full = sourceOf(a)
      val half = full.filter(col(a.key) % 2 === 0)
      val d = corpus(a, "regen", half)
      val n1 = a.served(d)
      assert(n1 == a.expected(half))
      // regenerate the SAME dir with different data: the stamp must
      // wipe and rebuild instead of serving the old corpus's state
      full.write.mode("overwrite").parquet(s"$d/${a.source}.parquet")
      val n2 = a.served(d)
      assert(n2 == a.expected(full) && n2 != n1,
        s"regenerated source served a stale ${a.name}: $n2 (old $n1)")
    }

    test(s"${a.name}: a deleted completion marker (torn build) triggers a rebuild") {
      val src = sourceOf(a).filter(col(a.key) % 2 === 1)
      val d = corpus(a, "torn", src)
      a.ensure(d)
      val marker = new File(s"${a.root(d)}/${a.marker}")
      assert(marker.delete(), s"no completion marker at $marker")
      val residue = new File(a.root(d), "residue")
      assert(residue.createNewFile())
      assert(a.served(d) == a.expected(src))
      assert(marker.exists(), s"${a.name} did not rewrite $marker")
      assert(!residue.exists(), s"${a.name} served a torn build without wiping it")
    }

    test(s"${a.name}: corpus dirs differing only in punctuation resolve to distinct roots") {
      assert(a.root("/d/a_b") != a.root("/d/a/b"))
      assert(a.root("/d/sf0.1") != a.root("/d/sf0_1"))
    }
  }
}
