package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkEntry

/** Workload membership: which files each declared query reads. Every
  * SQL execution a query starts (its action and any eager build job)
  * names its scan locations in the plan description; executions map to
  * the query through the job group. Writes `classify.json` as
  * `{"query": ["path", ...]}` with paths relative to the corpus or to
  * the temp dir that holds the ingest-time artifacts.
  */
object Classify {

  /** Exchanges in the executed plan, AQE stages and subqueries included. */
  def exchanges(df: DataFrame): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        (if (other.isInstanceOf[Exchange]) 1 else 0) +
          other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  def run(a: Runner.Args): Unit = {
    val corpus = new File(a("corpus")).getAbsolutePath
    val out = new File(a("out")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    new File(out).mkdirs()
    val tmp = s"$work/tmp"
    new File(tmp).mkdirs()
    System.setProperty("java.io.tmpdir", tmp)
    val spark = Runner.session(corpus, a.int("cpus", 4), s"$work/local", s"$work/warehouse")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    val plans = new ConcurrentHashMap[Long, String]()
    val groups = new ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); ex <- Option(p.getProperty("spark.sql.execution.id"));
             g <- Option(p.getProperty("spark.jobGroup.id")))
          groups.putIfAbsent(ex.toLong, g)
    })
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for ((name, fn) <- SparkEntry.queries) {
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
      try fn(spark, corpus).collect()
      catch { case NonFatal(e) => failed(name) = Runner.firstLine(e) }
      spark.sparkContext.clearJobGroup()
    }
    Thread.sleep(2000)
    val path = "file:([^,\\]\\s]+)".r
    val reads = groups.asScala.toSeq.groupBy(_._2).map { case (q, exs) =>
      q -> exs.flatMap { case (ex, _) => Option(plans.get(ex)).toSeq }
        .flatMap(p => path.findAllMatchIn(p).map(_.group(1)))
        .map(p => p.replace(corpus, "{corpus}").replace(tmp, "{tmp}"))
        .map(_.replaceAll("/(part-|epoch=|ingest_batch=|event_date=).*$", ""))
        .distinct.sorted
    }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = SparkEntry.queries.keys.map { k =>
      s"  ${q(k)}: [" + reads.getOrElse(k, Nil).map(q).mkString(", ") + "]"
    }.mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(out, "classify.json"), json.getBytes(UTF_8))
    failed.foreach { case (k, v) => System.err.println(s"[classify] $k failed: $v") }
    spark.stop()
  }
}
