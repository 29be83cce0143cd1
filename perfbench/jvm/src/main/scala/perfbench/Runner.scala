package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators.{QuantileRollup, ReportMaintenance, SketchRollup}

/** One timed operation: a declared query, an ingest batch (until all
  * its maintained state commits), a dependent read or a compaction.
  */
final case class OpRecord(op: String, kind: String, pass: Int, traced: Boolean,
    ms: Double, rows: Long, error: Option[String])

/** The benchmark's JVM entry point. Builds the session the way
  * `graft.Bench` does, sets up the workload's stores once (the run's
  * `java.io.tmpdir` is fresh, so every artifact is rebuilt), warms up
  * untimed in the timed passes' shape, then runs closed-loop passes
  * with one client until `--seconds` have elapsed.
  * Writes `result.json` (plus spans and jobs when tracing) under
  * `--out`; the Python side checks outputs and prints the verdict.
  */
object Runner {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  /** The ingest-time artifacts the workloads build, by the name the
    * per-layer metrics use.
    */
  val Stores: ListMap[String, (SparkSession, String) => String] = ListMap(
    "SketchRollup" -> ((s, d) => SketchRollup.ensure(s, d)),
    "QuantileRollup" -> ((s, d) => QuantileRollup.ensure(s, d)),
    "ReportMaintenance" -> ((s, d) => ReportMaintenance.ensure(s, d)))

  def parquetBytes(dir: String): Seq[Long] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(_.getName.endsWith(".parquet")).map(duBytes)

  def duBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(duBytes).sum
    else f.length()

  /** `graft.Bench`'s session shape: split size and AQE's initial
    * partition count derived from the corpus, GraftExtensions, and the
    * sketch confs. Scratch and warehouse dirs live under the run dir.
    */
  def session(corpus: String, cpus: Int, localDir: String, warehouse: String): SparkSession = {
    val files = parquetBytes(corpus)
    val biggest = files.foldLeft(0L)(math.max)
    val total = files.sum
    val ipn = math.min(8L * cpus, math.max(cpus.toLong, total / (32L << 20)))
    val split = math.min(128L << 20, math.max(256L << 10, biggest / cpus))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", ipn.toString)
      .config("spark.sql.files.maxPartitionBytes", split.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.configureSketchPerf(spark)
    spark
  }

  val ConfKeys = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    "spark.sql.files.maxPartitionBytes", "spark.sql.extensions",
    "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.session.timeZone")

  def effectiveConfs(spark: SparkSession): Seq[(String, String)] =
    (ConfKeys ++ graft.sources.Tables.SketchPerfConfs.keys.toSeq.sorted)
      .map(k => k -> spark.conf.getOption(k).getOrElse("")) :+
      ("java.max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)

  /** Bytes the JVM has written through Hadoop's local file system:
    * every parquet write, commit marker and streaming state file.
    */
  def fsBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  /** The JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def firstLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).linesIterator
      .nextOption().getOrElse("").take(300)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.get("mode") match {
      case Some("classify") => Classify.run(a)
      case _ => new Run(a).run()
    }
    // Spark's non-daemon threads must not keep the JVM alive
    System.exit(0)
  }
}

/** One benchmark run: setup, warm-up, timed passes, checks. */
final class Run(a: Runner.Args) {
  import Runner._

  val workload: String = a("workload")
  val corpus: String = new File(a("corpus")).getAbsolutePath
  val out: String = new File(a("out")).getAbsolutePath
  val work: String = new File(a("work")).getAbsolutePath
  val seconds: Double = a("seconds").toDouble
  val traceMode: Boolean = a("trace") == "1"
  val cpus: Int = a.int("cpus", 4)
  val seed: Int = a.int("seed", 0)
  val ops: Seq[String] = a.get("ops").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  val storeNames: Seq[String] = a.get("stores").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  val ingest: Boolean = workload == "slo_ingest"

  val tracer = new Tracer
  val listener = new ExecListener
  var spark: SparkSession = _

  val records = ArrayBuffer.empty[OpRecord]
  val failures = ArrayBuffer.empty[(String, String)]
  val passWalls = ArrayBuffer.empty[(Int, Boolean, Double)]
  /** JVM start to the first timed operation: session, stores, warm-up. */
  var setupS = 0.0
  var sessionMs = 0.0
  val ensureMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val storeBytes = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  var setupWritten = 0L
  var warmupMs = 0.0
  var attempted = 0
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** First-pass results kept for the untimed output check. */
  val kept = scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  var ingestState: Ingest = _

  private def dir(p: String): String = { new File(p).mkdirs(); p }

  /** A new session on the run's fresh scratch dirs, then every store
    * `ensure` (the artifacts are keyed by the corpus path under the
    * run's fresh `java.io.tmpdir`, so each is rebuilt from the source).
    */
  private def setup(): Unit = {
    val t0 = System.nanoTime()
    val w0 = fsBytesWritten()
    spark = tracer.span("setup", "setup", "session") {
      session(corpus, cpus, dir(s"$work/local"), s"$work/warehouse")
    }
    sessionMs = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.addSparkListener(listener)
    for (name <- storeNames) {
      val s0 = System.nanoTime()
      attempted += 1
      try {
        val path = tracer.span("setup", "stores", s"$name.ensure")(Stores(name)(spark, corpus))
        ensureMs(name) = (System.nanoTime() - s0) / 1e6
        progress(f"  $name.ensure ${ensureMs(name) / 1000}%.2f s")
        if (path.nonEmpty) storeBytes(name) = duBytes(new File(path))
      } catch { case NonFatal(e) =>
        failures += (s"ensure:$name" -> firstLine(e))
      }
    }
    if (ingest) {
      ingestState = new Ingest(this, corpus, a("batches"), s"$work/ingest", "pb_alerts")
      ingestState.setup()
    }
    setupWritten = fsBytesWritten() - w0
    progress(f"setup: ${(System.nanoTime() - t0) / 1e9}%.2f s (session ${sessionMs / 1000}%.2f s)")
  }

  private val born = System.nanoTime()
  def progress(msg: String): Unit =
    System.err.println(f"[runner +${(System.nanoTime() - born) / 1e9}%.1f s] $msg")

  /** Build the query, then collect its rows: the result a report
    * consumer reads. Jobs are tagged with the operation id.
    */
  def query(name: String, dir: String, pass: Int, kind: String,
      keep: Boolean, traced: Boolean): OpRecord = {
    val opId = s"p$pass/$name"
    spark.sparkContext.setJobGroup(opId, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val rec = try {
      val (df, rows) = tracer.span(opId, "op", name) {
        val df = tracer.span(opId, "operators", "build")(SparkEntry.queries(name)(spark, dir))
        val rows = tracer.span(opId, "exec", "collect")(df.collect())
        (df, rows)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (traced) planSpans(opId, df)
      if (keep) kept(name) = (df.schema, rows)
      OpRecord(name, kind, pass, traced, ms, rows.length.toLong, None)
    } catch { case NonFatal(e) =>
      OpRecord(name, kind, pass, traced, (System.nanoTime() - t0) / 1e6, 0L, Some(firstLine(e)))
    } finally spark.sparkContext.clearJobGroup()
    rec
  }

  /** Catalyst phases of the collected plan as child spans: analysis
    * ran inside the build, optimization and planning inside the action.
    */
  private def planSpans(opId: String, df: DataFrame): Unit = {
    val phases = df.queryExecution.tracker.phases
    val build = tracer.lastId(opId, "operators")
    val action = tracer.lastId(opId, "exec")
    phases.foreach { case (phase, p) =>
      tracer.addMs(opId, "plans", phase, if (phase == "analysis") build else action,
        p.startTimeMs, p.endTimeMs)
    }
    extra("plans.exchanges") = extra.getOrElse("plans.exchanges", 0.0) + Classify.exchanges(df)
  }

  /** Untimed warm-up in the timed passes' shape, so timing starts with
    * every plan compiled and the JIT settled: two serial passes of the
    * query list (after one, the next pass still ran ~10 % slower than
    * the ones after it), or for `slo_ingest` one ingest cycle of its own
    * (each cycle consumes a generated batch).
    */
  private def warmup(): Unit = {
    val t0 = System.nanoTime()
    tracer.enabled = false
    if (ingest) {
      ingestState.startStream()
      ingestState.cycle(pass = -1, traced = false)
    } else for (_ <- 1 to 2; q <- ops) query(q, corpus, -1, "warmup", keep = false, traced = false)
    warmupMs = (System.nanoTime() - t0) / 1e6
    progress(f"warm-up: ${warmupMs / 1000}%.2f s")
  }

  def run(): Unit = {
    new File(out).mkdirs()
    tracer.enabled = traceMode
    listener.enabled = false
    setup()
    warmup()
    // timed phase: closed loop, one client, whole passes only. A traced
    // run times untraced and traced passes in groups of four, ABBA (the
    // seed's parity picks which kind is A), so one process yields both
    // walls and their difference, the tracing overhead, is free of a
    // steady drift from pass to pass.
    tracer.clear()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    progress(f"setup_s (JVM start to first timed operation): $setupS%.2f s")
    val start = System.nanoTime()
    var pass = 0
    val minPasses = if (traceMode) 4 else 1
    def more: Boolean = (ingest && ingestState.cyclesLeft > 0 || !ingest) &&
      (pass < minPasses || (System.nanoTime() - start) / 1e9 < seconds)
    while (more) {
      val inner = pass % 4 == 1 || pass % 4 == 2
      val traced = traceMode && inner != (Math.floorMod(seed, 2) == 1)
      tracer.enabled = traced
      listener.enabled = traced
      val p0 = System.nanoTime()
      if (ingest) records ++= ingestState.cycle(pass, traced)
      else ops.foreach(q => records += query(q, corpus, pass, "query", keep = pass == 0, traced))
      passWalls += ((pass, traced, (System.nanoTime() - p0) / 1e9))
      progress(f"pass $pass${if (traced) " (traced)" else ""}: ${passWalls.last._3}%.2f s")
      pass += 1
    }
    tracer.enabled = false
    listener.enabled = false
    listener.drain()
    attempted += records.size
    records.filter(_.error.isDefined).foreach(r => failures += (s"${r.kind}:${r.op}" -> r.error.get))
    val rss = peakRssMb()
    val checks = if (ingest) ingestState.check() else writeResults()
    progress("checks done")
    if (ingestState != null) ingestState.stop()
    Report.write(this, checks, rss)
    spark.stop()
  }

  /** Untimed: first-pass rows of oracle-backed queries go to parquet
    * for the DuckDB comparison; rows-only queries must be non-empty.
    */
  private def writeResults(): Seq[(String, String, String)] = {
    val oracle = SparkEntry.oracleSql
    val absDir = Paths.get(corpus).toAbsolutePath.normalize.toString.stripSuffix("/")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    val checks = ArrayBuffer.empty[(String, String, String)]
    val futures = kept.toSeq.map { case (name, (schema, rows)) =>
      if (oracle.contains(name)) {
        checks += ((name, "oracle", oracle(name).replace("{dir}", absDir)))
        pool.submit(new Runnable {
          def run(): Unit = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$out/results/$name")
        })
      } else {
        checks += ((name, "rows", rows.length.toString))
        null
      }
    }
    futures.filter(_ != null).foreach(_.get())
    pool.shutdown()
    checks.toSeq
  }
}
