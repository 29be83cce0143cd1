package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always calls with 2 args)
    val only: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(",").toSet)
    def keep(name: String) = only.forall(_.contains(name))
    val spark = GraftSession.create(corpus = Some(sfDir))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Resolve the {dir} placeholder to the actual sf directory so the
    // dumped SQL is directly runnable by DuckDB with no view setup.
    // Escaped JSON: a tab or CR in an oracle SQL string would otherwise
    // make the consumer's json.load fail and silently drop every
    // correctness comparison.
    val absDir = Paths.get(sfDir).toAbsolutePath.normalize.toString
      .stripSuffix("/")
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v.replace("{dir}", absDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
