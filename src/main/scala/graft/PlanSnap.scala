package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.ExplainMode

/** Dev harness (not part of the contract): dump `.explain("formatted")`
  * for a set of declared queries to files — the committed evidence for
  * optimization-round plan claims (`plans/rN/<query>_{before,after}.txt`).
  *
  * `sbt "runMain graft.PlanSnap <outDir> <suffix> [queries] [sfDir]"`
  * writes `<outDir>/<query>_<suffix>.txt` per query; `queries` is a
  * comma-separated filter (default: all declared queries). The session
  * comes from [[GraftSession]] with the corpus-derived confs, so the
  * dumped plans are the ones the bench runs at the same
  * `$SPARK_GRAFT_CPUS`. A query that fails to plan is reported on
  * stderr; the run then ends with the list of failed queries and exit
  * status 1.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.create(corpus = Some(dir),
      confs = Seq("spark.sql.maxMetadataStringLength" -> "1000"))
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    val failed = SparkEntry.queries.toSeq
      .filter(kv => only.forall(_.contains(kv._1)))
      .flatMap { case (name, fn) =>
        try {
          val txt = fn(spark, dir).queryExecution.explainString(mode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[plansnap] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plansnap] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
