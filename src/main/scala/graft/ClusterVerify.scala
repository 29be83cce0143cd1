package graft

import java.nio.file.{Files, Paths}

/** Multi-executor correctness run (r4 verdict #2): execute every
  * declared query on a `local-cluster[2, 4, …]` master — REAL executor
  * JVMs, a real serialized network shuffle, real broadcast transport —
  * instead of `local[*]`'s single-process shortcut where task results,
  * shuffles, and broadcasts never cross a process boundary.
  *
  * What this catches that `local[*]` can't: non-serializable task
  * closures, Kryo/Java-serialization gaps in custom expressions and
  * aggregation buffers (the TypedImperativeAggregate sketch plane
  * serializes for real here), broadcast values that only worked by
  * sharing the driver heap, and partition-placement assumptions.
  *
  * Run by ClusterModeSpec in a forked JVM (two SparkContexts can't
  * share a process); writes each query's result as parquet for the
  * spec's tolerance-compare against the local-mode session, plus a
  * `cluster_info.json` proving >1 executor actually registered.
  */
object ClusterVerify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // 2 executor JVMs x 4 cores: 8 slots, 8 shuffle partitions
    val spark = GraftSession.create(cpus = 8,
      master = Some("local-cluster[2,4,2048]"),
      // executors are fresh JVMs: ship the library jar the way
      // spark-submit --jars would (MutableURLClassLoader on the
      // executor). extraClassPath is NOT enough here — closures
      // capturing graft expressions then fail lambda deserialization
      // (found empirically: 13 queries with custom Expressions /
      // TypedImperativeAggregates broke; spark.jars fixes all 13).
      confs = Seq("spark.jars" -> sys.env.getOrElse("GRAFT_JAR",
        "target/scala-2.13/servicelevelreportingspark_2.13-0.1.0.jar")))
    new java.io.File(outDir).mkdirs()

    // wait for both executor JVMs to register (driver is not an
    // executor in local-cluster mode)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def execs: Int = spark.sparkContext.statusTracker.getExecutorInfos.length - 1
    while (execs < 2 && System.nanoTime() < deadline) Thread.sleep(200)

    var failures = List.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures ::= name
        System.err.println(s"[cluster-verify] $name FAILED: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/cluster_info.json"),
      s"""{"executors":$execs,"queries":${SparkEntry.queries.size},""" +
        s""""failures":[${failures.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
