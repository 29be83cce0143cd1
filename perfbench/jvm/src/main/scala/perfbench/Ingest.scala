package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.operators.{ReportMaintenance, SketchRollup}
import graft.sources.{EventSink, Tables, Upsert}
import graft.streaming.BurnRateStream

/** The `slo_ingest` loop over one base corpus: the reference's poll →
  * upsert → refresh updater, with the burn-rate alert stream. Batches
  * come from the generator's `bNNN/` dirs; `meta.properties` states the
  * first batch's current day, the day the alert stream starts at and
  * the dependent reads.
  */
final class Ingest(run: Run, base: String, batchesDir: String, root: String,
    streamName: String) {
  import Runner.{firstLine, fsBytesWritten}

  private def spark = run.spark
  private val tracer = run.tracer

  val meta: java.util.Properties = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(batchesDir, "meta.properties"))
    try p.load(in) finally in.close()
    p
  }
  val firstDay: LocalDate = LocalDate.parse(meta.getProperty("first_day"))
  val streamStart: LocalDate = LocalDate.parse(meta.getProperty("stream_start"))
  val reads: Seq[String] = meta.getProperty("reads").split(",").toSeq
  val batches: Seq[File] = Option(new File(batchesDir).listFiles()).getOrElse(Array.empty[File])
    .filter(f => f.isDirectory && f.getName.startsWith("b")).sortBy(_.getName).toSeq

  val sink = s"$root/sink"
  val streamIn = s"$root/stream_in"
  private var next = 0
  private var lastFed: LocalDate = streamStart.minusDays(1)
  private var stream: StreamingQuery = _

  /** Bytes written by each layer's calls in traced passes; sink and
    * store bytes of the untraced timed operations, and the batch input
    * they ingested.
    */
  val layerBytes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  var timedWritten = 0L
  var timedInput = 0L
  var stateRows = 0L
  private var counting = false

  def cyclesLeft: Int = batches.size - next

  /** The date-partitioned sink, written from the base events. */
  def setup(): Unit = {
    new File(root).mkdirs()
    tracer.span("setup", "sources", "sink_write")(
      EventSink.writeDatePartitioned(Tables.events(spark, base), sink))
  }

  /** Start the alert stream: a file source over days fed from the
    * sink, into a memory sink. It starts at the one base day no batch
    * touches; the first feed brings it up to date.
    */
  def startStream(): Unit = {
    new File(streamIn).mkdirs()
    val in = spark.readStream.schema("event_type string, ts timestamp, value double")
      .parquet(streamIn)
    stream = BurnRateStream.dedupForDelivery(BurnRateStream.alertWindows(in))
      .writeStream.format("memory").queryName(streamName).outputMode("append")
      .option("checkpointLocation", s"$root/stream_checkpoint")
      .start()
  }

  def stop(): Unit = if (stream != null) { stream.stop(); stream = null }

  private def io[T](op: String, layer: String, name: String)(body: => T): T = {
    val w0 = fsBytesWritten()
    try tracer.span(op, layer, name)(body)
    finally {
      val w = fsBytesWritten() - w0
      if (tracer.enabled) layerBytes(layer) += w
      if (counting && layer != "streaming") timedWritten += w
    }
  }

  private def sinkDf: DataFrame = EventSink.readDatePartitioned(spark, sink)

  /** Feed the alert stream every day up to `upTo` not fed yet, read back
    * from the sink (a day is final once the next day's batch is in:
    * late events and re-sent keys reach back one day only).
    */
  private def feed(upTo: LocalDate): Unit = {
    val days = Iterator.iterate(lastFed.plusDays(1))(_.plusDays(1))
      .takeWhile(!_.isAfter(upTo)).map(java.sql.Date.valueOf).toSeq
    if (days.nonEmpty) {
      sinkDf.filter(col("event_date").isInCollection(days))
        .select("event_type", "ts", "value")
        .write.mode("append").parquet(streamIn)
      stream.processAllAvailable()
      lastFed = upTo
      Option(stream.lastProgress).foreach(p =>
        stateRows = p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  /** A timed ingest operation, its jobs tagged with its id. */
  private def timedOp(pass: Int, traced: Boolean, name: String, kind: String)(
      body: String => Unit): OpRecord = {
    val op = s"p$pass/$name"
    spark.sparkContext.setJobGroup(op, name, interruptOnCancel = false)
    counting = !traced && pass >= 0
    val t0 = System.nanoTime()
    val err = try { tracer.span(op, "op", name)(body(op)); None }
      catch { case NonFatal(e) => Some(firstLine(e)) }
      finally { spark.sparkContext.clearJobGroup(); counting = false }
    OpRecord(name, kind, pass, traced, (System.nanoTime() - t0) / 1e6, 0L, err)
  }

  /** One batch, counted until all the state it maintains commits: the
    * sink, the report, the sketch rollup, the alert stream (fed up to
    * the day before the batch's current day, now final) and the
    * compaction of the sink days the batch touched.
    */
  private def applyBatch(pass: Int, traced: Boolean): OpRecord = {
    val i = next
    next += 1
    val b = batches(i).getAbsolutePath
    val days = new String(Files.readAllBytes(Paths.get(b, "days.txt"))).split("\\s+")
      .toSeq.filter(_.nonEmpty)
    val rec = timedOp(pass, traced, s"batch-$i", "batch") { op =>
      io(op, "sources", "upsert")(
        Upsert.upsertDatePartitioned(spark, sink, Tables.events(spark, b), Seq("event_id")))
      io(op, "stores", "ReportMaintenance.refresh")(
        ReportMaintenance.refreshDays(spark, sinkDf, days, ReportMaintenance.tablePath(base)))
      io(op, "stores", "SketchRollup.append")(days.foreach(d =>
        SketchRollup.appendDayFrom(spark, sinkDf, d, SketchRollup.tablePath(base))))
      io(op, "streaming", "alerts_batch")(feed(firstDay.plusDays(i - 1L)))
      io(op, "sources", "sink_compact")(EventSink.compactDates(spark, sink, days))
    }
    if (!traced && pass >= 0) timedInput += Runner.duBytes(new File(b, "events.parquet"))
    rec
  }

  /** One pass: one batch, then the dependent reads. */
  def cycle(pass: Int, traced: Boolean): Seq[OpRecord] =
    applyBatch(pass, traced) +: reads.map(q => run.query(q, base, pass, "read", keep = false, traced))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(rowString).toSeq.sorted

  private def rowString(r: Row): String = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")

  /** Untimed, concurrently: compare the alert stream with its batch
    * twin over the final sink, and every dependent read with a
    * one-shot rebuild from the final inputs.
    */
  def check(): Seq[(String, String, String)] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    def verdict(name: String)(body: => Option[String]): Future[(String, String, String)] =
      Future((name, "ingest", try body.getOrElse("ok") catch {
        case NonFatal(e) => "error: " + firstLine(e)
      }))
    val alertCheck = verdict("burn_rate_alerts_stream") {
      // windows that ended a day before the last fed day are final in
      // the stream (its watermark trails the newest event by an hour);
      // there, and only there, it must equal the batch twin exactly
      val horizon = java.sql.Timestamp.valueOf(lastFed.atStartOfDay().minusHours(6))
      def alerts(df: DataFrame) =
        rows(df.select("event_type", "alert_hour", "fast", "slow").filter(col("alert_hour") < horizon))
      val streamed = alerts(spark.table(streamName))
      val batch = alerts(BurnRateStream.alerts(sinkDf
        .filter(col("event_date") >= java.sql.Date.valueOf(streamStart))
        .select("event_type", "ts", "value")))
      if (batch.isEmpty) Some("no final alert window to compare")
      else if (streamed == batch) None
      else Some(s"stream ${streamed.size} final alerts != batch ${batch.size}")
    }
    val rebuilt = s"$root/rebuild"
    val rebuild = verdict("rebuild_inputs") {
      new File(rebuilt).mkdirs()
      sinkDf.drop("event_date").coalesce(1).write.mode("overwrite").parquet(s"$rebuilt/events.parquet")
      for (f <- Option(new File(base).listFiles()).getOrElse(Array.empty[File])
           if f.isFile && f.getName.endsWith(".parquet") && !new File(rebuilt, f.getName).exists())
        Files.copy(f.toPath, Paths.get(rebuilt, f.getName), StandardCopyOption.REPLACE_EXISTING)
      None
    }
    val readChecks = reads.map(q => rebuild.flatMap(_ => verdict(s"rebuild:$q") {
      val incremental = rows(SparkEntry.queries(q)(spark, base))
      val oneShot = rows(SparkEntry.queries(q)(spark, rebuilt))
      if (incremental == oneShot) None
      else Some(s"incremental ${incremental.size} rows != rebuild ${oneShot.size} rows" +
        incremental.diff(oneShot).headOption.map(r => s"; first differing: $r").getOrElse(""))
    }))
    Await.result(Future.sequence(alertCheck +: rebuild +: readChecks), Duration.Inf)
  }
}
