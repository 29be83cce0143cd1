package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Jobs, stages, tasks and their task metrics, summed. */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, gcMs: Long, spillBytes: Long)

/** The one job/stage/task counting listener the mains share. It keeps
  * a session-wide total and, per tag, the counts of the jobs started
  * while the submitting thread carried that tag (see [[tagged]]) — so
  * a query's jobs, stages and tasks are attributed exactly even though
  * listener events arrive asynchronously, after the action returned.
  * Spill counts memory + disk bytes spilled; run and GC time are the
  * executors' task metrics.
  */
final class TaskCounters extends SparkListener {
  private final class Cell {
    val jobs, stages, tasks, runMs, gcMs, spill = new AtomicLong
    def counts: Counts =
      Counts(jobs.get, stages.get, tasks.get, runMs.get, gcMs.get, spill.get)
  }
  private val all = new Cell
  private val byTag = new ConcurrentHashMap[String, Cell]
  private val stageTag = new ConcurrentHashMap[Int, String]

  private def cells(tag: String): Seq[Cell] =
    if (tag == null) Seq(all) else Seq(all, byTag.computeIfAbsent(tag, _ => new Cell))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(TaskCounters.TagKey)).orNull
    if (tag != null) e.stageIds.foreach(stageTag.put(_, tag))
    cells(tag).foreach(_.jobs.incrementAndGet())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    cells(stageTag.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    cells(stageTag.get(e.stageId)).foreach { c =>
      c.tasks.incrementAndGet()
      if (m != null) {
        c.runMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  def total: Counts = all.counts
  def of(tag: String): Counts =
    Option(byTag.get(tag)).map(_.counts).getOrElse(Counts(0, 0, 0, 0, 0, 0))

  /** Block (at most 10 s) until no new event has been counted for
    * 250 ms — call once before reading the counts, so the events of the
    * last jobs have drained through the listener bus.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = total
    var stable = false
    while (!stable && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = total
      stable = now == last
      last = now
    }
  }
}

object TaskCounters {
  val TagKey = "graft.query"

  def install(sc: SparkContext): TaskCounters = {
    val l = new TaskCounters
    sc.addSparkListener(l)
    l
  }

  /** Run `f` with every job it submits tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, prev)
  }
}
