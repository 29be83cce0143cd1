package graft

/** Ingest-DDL timing for the persisted edge store: time
  * [[graft.operators.EdgeStore.ensure]] itself (the corpus-sized
  * lineitem self-join + support agg + bucketed write) and report its
  * spill — the number that decides whether the BUILD, not the probes,
  * fits a deployment's ingest window. `args(0)` = corpus dir; the
  * existing store is dropped first so the build really runs.
  */
object EdgeStoreBuild {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.create(corpus = Some(dir))
    val counters = TaskCounters.install(spark.sparkContext)
    val path = graft.operators.EdgeStore.storePath(dir)
    val f = new java.io.File(path)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val t0 = System.nanoTime()
    graft.operators.EdgeStore.ensure(spark, dir)
    val sec = (System.nanoTime() - t0) / 1e9
    counters.settle()
    val spillMb = counters.total.spillBytes >> 20
    val edges = spark.read.parquet(s"$path/und").count() / 2
    println(s"""{"metric":"edge_store_build","value":$sec,"unit":"sec",""" +
      s""""spill_mb":$spillMb,"edges":$edges,"dir":"$dir"}""")
    spark.stop()
  }
}
