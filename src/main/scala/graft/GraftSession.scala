package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every graft main builds its session
  * through, so plan snapshots, probes, correctness dumps and the bench
  * all run under the same engine shape. A main passes only what really
  * differs for it (a cluster master, `spark.jars`, a bench-specific
  * conf); everything else lives here:
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`, where
  *    cpus is `$SPARK_GRAFT_CPUS`, else the host's available processors;
  *  - the graft SQL extensions, UTC session time, no UI;
  *  - when the session serves a corpus, the split size and AQE initial
  *    width derived from that corpus ([[derivedConfs]]);
  *  - the sketch-plane perf confs (`Tables.SketchPerfConfs`);
  *  - `$SPARK_GRAFT_EXTRA_CONFS="k=v;k=v"` last, so an A/B run can
  *    override any of the above (including both derived confs).
  */
object GraftSession {

  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Scan split and shuffle width derived from the corpus in `dir`, a
    * pure function of its `*.parquet` byte sizes and `cpus`.
    *
    * Split size (r10): the local fixtures are ONE parquet file per
    * table, so the default 128 MB `maxPartitionBytes` collapses every
    * scan to a single task at bench SF (dq_profile measured 1.9 s of
    * single-threaded agg over a 1-task orders scan) and to 2-3 tasks at
    * sf10/sf30. The split is sized so the largest input file scans at
    * the session's full width: largest-file-bytes / cpus, clamped to
    * [256 KB, 128 MB] (the floor keeps splits at parquet row-group
    * grain — gen_sf writes 16 k-row groups; the cap is the Spark
    * default, and a many-file production layout never reaches either
    * bound).
    *
    * Shuffle width (r11): `spark.sql.shuffle.partitions` stays = cpus,
    * but AQE's pre-coalesce width is total-input-bytes / 32 MB, clamped
    * to [cpus, 8·cpus]. At bench SF (17 MB of input) that IS cpus; at
    * sf30 it widens the first shuffle of fact-sized aggregations/joins
    * from 32 to ~220 partitions so per-task hash-agg state shrinks ~7×
    * and AQE coalesces back wherever stages are small. Measured (sf30,
    * single pass, the A/B that motivated it): dq_profile 130.6→54.1 s,
    * supplier_hhi 111.5→48.1, cheapest_supplier 43.3→14.4,
    * nation_market_share 44.6→30.9.
    */
  def derivedConfs(dir: String, cpus: Int): Map[String, String] = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
      else f.length()
    val parquet = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(bytes)
    val c = cpus.toLong.max(1L)
    val split = math.min(128L << 20, math.max(256L << 10, parquet.foldLeft(0L)(math.max) / c))
    val initialParts = math.min(8L * c, math.max(c, parquet.sum / (32L << 20)))
    Map(
      "spark.sql.files.maxPartitionBytes" -> split.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> initialParts.toString)
  }

  /** `k=v;k=v` → pairs. Malformed segments (no '=', empty key) are
    * skipped with a warning: a stray token must not abort a whole run
    * before any query executes (r9 ADVICE).
    */
  def parseExtraConfs(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ =>
          if (kv.trim.nonEmpty)
            System.err.println(s"SPARK_GRAFT_EXTRA_CONFS: skipping malformed segment '$kv'")
          None
      }
    }

  /** Build (or get) the session. `corpus` turns on [[derivedConfs]];
    * `master` defaults to `local[cpus]`; `confs` are the caller's own
    * differences, applied after the shared shape.
    */
  def create(corpus: Option[String] = None, cpus: Int = defaultCpus,
      master: Option[String] = None,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val derived = corpus.toSeq.flatMap(derivedConfs(_, cpus))
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONFS").toSeq.flatMap(parseExtraConfs)
    val all = shared ++ derived ++ graft.sources.Tables.SketchPerfConfs ++ confs ++ extra
    val spark = all.foldLeft(SparkSession.builder().master(master.getOrElse(s"local[$cpus]"))) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
