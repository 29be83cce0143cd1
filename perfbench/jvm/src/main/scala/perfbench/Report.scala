package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Turns one run's records, spans and job totals into `result.json`
  * (end-to-end metrics from untraced passes, per-layer metrics from
  * traced passes) and, when tracing, `spans.jsonl` and `jobs.jsonl`.
  */
object Report {
  import Runner.median


  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString

  /** Highest whole percentile with at least ten samples above it
    * (nearest rank). Below 20 samples that percentile is under the
    * median, so the tail is the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0)
    else if (n < 20) (s.last, 100)
    else {
      val pct = math.floor(100.0 * (n - 10) / n).toInt
      val rank = math.max(1, math.ceil(pct / 100.0 * n).toInt)
      (s(rank - 1), pct)
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def write(r: Run, checks: Seq[(String, String, String)], rssMb: Double): Unit = {
    val untimed = r.records.filter(x => !x.traced)
    val ok = untimed.filter(_.error.isEmpty)
    val lat = ok.map(_.ms).toSeq
    val reads = ok.filter(x => x.kind == "read" || x.kind == "query").map(_.ms).toSeq
    val (tailMs, tailPct) = tail(lat)
    val walls = r.passWalls.filter(!_._2).map(_._3).toSeq
    val corpusBytes = Runner.parquetBytes(r.corpus).sum.toDouble
    val writeAmp =
      if (r.ingest) r.ingestState.timedWritten.toDouble / math.max(1L, r.ingestState.timedInput)
      else r.setupWritten / math.max(1.0, corpusBytes)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (r.setupS, "s"),
      "wall_s" -> (median(walls), "s"),
      "op_p50_ms" -> (median(lat), "ms"),
      "op_tail_ms" -> (tailMs, "ms"),
      "read_p50_ms" -> (median(reads), "ms"),
      "write_amp" -> (writeAmp, "B/B"),
      "peak_rss_mb" -> (rssMb, "MB"))

    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val tracedWalls = r.passWalls.filter(_._2).map(_._3).toSeq
    val t = math.max(1, tracedWalls.size).toDouble
    val spans = r.tracer.spans.toSeq
    val jobs = r.listener.all
    val byParent = spans.groupBy(_.parent)
    def sumMs(f: Span => Boolean): Double = spans.filter(f).map(_.ms).sum
    def jobSum(f: JobAcc => Long): Double = jobs.map(f).sum.toDouble
    // job intervals in the spans' clock (epoch ms → nanoTime ms)
    val off = (System.nanoTime() - System.currentTimeMillis() * 1000000L) / 1e6
    val jobIv = jobs.filter(_.endMs >= 0).map(j => (j.startMs + off, j.endMs + off))
    def within(s: Span) = {
      val (a, b) = (s.startNs / 1e6, s.endNs / 1e6)
      jobIv.filter { case (js, je) => je > a && js < b }.map { case (js, je) => (math.max(js, a), math.min(je, b)) }
    }
    val builds = spans.filter(_.layer == "operators")
    val actionLayers = Set("exec", "sources", "stores", "streaming")
    val actions = spans.filter(s => actionLayers(s.layer) &&
      !byParent.getOrElse(s.id, Nil).exists(c => actionLayers(c.layer)))
    val opWall = sumMs(_.layer == "op")
    val runMs = jobSum(_.runMs.get)
    def put(k: String, v: Double, unit: String): Unit = layer(k) = (v, unit)
    put("operators.build_ms", sumMs(_.layer == "operators") / t, "ms")
    put("operators.build_jobs", builds.map(s => within(s).size).sum / t, "count")
    put("plans.planning_ms", sumMs(_.layer == "plans") / t, "ms")
    put("plans.exchanges", r.extra.getOrElse("plans.exchanges", 0.0) / t, "count")
    put("exec.jobs", jobs.size / t, "count")
    put("exec.stages", jobSum(_.stages.get) / t, "count")
    put("exec.tasks", jobSum(_.tasks.get) / t, "count")
    put("exec.driver_gap_ms", actions.map(s => s.ms - covered(within(s))).sum / t, "ms")
    put("exec.task_run_ms", runMs / t, "ms")
    put("exec.task_cpu_ms", jobSum(_.cpuNs.get) / 1e6 / t, "ms")
    put("exec.busy_cores", if (opWall > 0) runMs / opWall else 0.0, "cores")
    put("exec.gc_ms", jobSum(_.gcMs.get) / t, "ms")
    put("exec.spill_bytes", jobSum(_.spill.get) / t, "B")
    put("exec.shuffle_read_bytes", jobSum(_.shuffleRead.get) / t, "B")
    put("exec.shuffle_write_bytes", jobSum(_.shuffleWrite.get) / t, "B")
    put("exec.peak_exec_mem_bytes", jobs.map(_.peakExecMem.get).foldLeft(0L)(math.max).toDouble, "B")
    put("exec.failed_tasks", jobSum(_.failedTasks.get) / t, "count")
    put("sources.scan_bytes", jobSum(_.inputBytes.get) / t, "B")
    put("sources.scan_rows", jobSum(_.inputRows.get) / t, "count")
    def named(layerName: String, name: String) = sumMs(s => s.layer == layerName && s.name == name) / t
    val ing = Option(r.ingestState)
    put("sources.upsert_ms", named("sources", "upsert"), "ms")
    put("sources.sink_compact_ms", named("sources", "sink_compact"), "ms")
    put("sources.bytes_written", ing.map(_.layerBytes("sources") / t).getOrElse(0.0), "B")
    // every workload reports every layer metric, 0 where it does not run
    for (s <- Runner.Stores.keys) {
      put(s"stores.$s.ensure_ms", r.ensureMs.getOrElse(s, 0.0), "ms")
      put(s"stores.$s.bytes", r.storeBytes.getOrElse(s, 0L).toDouble, "B")
    }
    put("stores.ReportMaintenance.refresh_ms", named("stores", "ReportMaintenance.refresh"), "ms")
    put("stores.SketchRollup.append_ms", named("stores", "SketchRollup.append"), "ms")
    put("stores.bytes_written", ing.map(_.layerBytes("stores") / t).getOrElse(0.0), "B")
    put("streaming.alerts_batch_ms", named("streaming", "alerts_batch"), "ms")
    put("streaming.state_rows", ing.map(_.stateRows.toDouble).getOrElse(0.0), "count")
    put("setup.session_ms", r.sessionMs, "ms")
    put("setup.warmup_ms", r.warmupMs, "ms")
    // self time: a span minus the time its children cover
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    for (s <- spans) {
      val kids = byParent.getOrElse(s.id, Nil).map(c => (c.startNs / 1e6, c.endNs / 1e6))
      self(s.layer) += s.ms - covered(kids)
    }
    for (l <- Seq("op", "operators", "plans", "exec", "sources", "stores", "streaming"))
      put(s"self.$l" + "_ms", self(l) / t, "ms")
    val tracedWall = median(tracedWalls)
    val untracedWall = median(walls)
    put("trace.wall_s", tracedWall, "s")
    put("trace.untraced_wall_s", untracedWall, "s")
    put("trace.overhead_s", tracedWall - untracedWall, "s")
    put("trace.self_share", if (tracedWall > 0) self.values.sum / t / 1000.0 / tracedWall else 0.0, "fraction")

    val sb = new StringBuilder
    def obj(m: collection.Map[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${q(k)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}" }
        .mkString("{", ", ", "}")
    sb ++= "{\n"
    sb ++= s"""  "workload": ${q(r.workload)},\n"""
    sb ++= s"""  "attempted": ${r.attempted},\n"""
    sb ++= s"""  "passes": ${walls.size}, "traced_passes": ${tracedWalls.size},\n"""
    sb ++= s"""  "samples": {"ops": ${lat.size}, "reads": ${reads.size}, "tail_pct": $tailPct},\n"""
    sb ++= s"""  "end_to_end": ${obj(e2e)},\n"""
    sb ++= s"""  "per_layer": ${obj(layer)},\n"""
    sb ++= "  \"failures\": " + r.failures.map { case (k, v) => s"[${q(k)}, ${q(v)}]" }
      .mkString("[", ", ", "]") + ",\n"
    sb ++= "  \"checks\": " + checks.map { case (n, k, d) => s"[${q(n)}, ${q(k)}, ${q(d)}]" }
      .mkString("[\n    ", ",\n    ", "]") + ",\n"
    sb ++= "  \"confs\": " + Runner.effectiveConfs(r.spark).map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ", ", "}") + ",\n"
    sb ++= "  \"ops\": " + untimed.filter(_.pass == 0).map(x =>
      s"[${q(x.op)}, ${q(x.kind)}, ${num(x.ms)}, ${x.rows}]").mkString("[", ", ", "]") + "\n"
    sb ++= "}\n"
    Files.write(Paths.get(r.out, "result.json"), sb.toString.getBytes(UTF_8))

    if (spans.nonEmpty) {
      val t0 = spans.map(_.startNs).min
      val spanLines = spans.sortBy(_.startNs).map { s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${q(s.op)}, "layer": ${q(s.layer)}, "name": ${q(s.name)}, "start_ms": ${num((s.startNs - t0) / 1e6)}, "dur_ms": ${num(s.ms)}}"""
      }
      Files.write(Paths.get(r.out, "spans.jsonl"), (spanLines.mkString("\n") + "\n").getBytes(UTF_8))
      val jobLines = jobs.map { j =>
        s"""{"job": ${j.jobId}, "op": ${q(j.group)}, "start_ms": ${num(j.startMs + off - t0 / 1e6)}, "dur_ms": ${j.endMs - j.startMs}, "stages": ${j.stages.get}, "tasks": ${j.tasks.get}, "run_ms": ${j.runMs.get}, "cpu_ms": ${j.cpuNs.get / 1000000}, "gc_ms": ${j.gcMs.get}, "shuffle_read": ${j.shuffleRead.get}, "shuffle_write": ${j.shuffleWrite.get}, "scan_bytes": ${j.inputBytes.get}, "failed_tasks": ${j.failedTasks.get}}"""
      }
      Files.write(Paths.get(r.out, "jobs.jsonl"), (jobLines.mkString("\n") + "\n").getBytes(UTF_8))
    }
  }
}
