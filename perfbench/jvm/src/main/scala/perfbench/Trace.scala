package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. `op` is the
  * operation it belongs to (the query name, or `batch-N`); `parent`
  * is the enclosing span's id (0 at the top). Times are
  * `System.nanoTime` readings.
  */
final case class Span(id: Long, parent: Long, op: String, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for one client thread. Disabled, `span`
  * only runs its body: the untraced run records nothing.
  */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val stack = new java.util.ArrayDeque[Long]()
  val spans = ArrayBuffer.empty[Span]
  /** nanoTime minus epoch-ms, to place Spark's ms-stamped phases. */
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def span[T](op: String, layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = if (stack.isEmpty) 0L else stack.peek()
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans.synchronized(spans += Span(id, parent, op, layer, name, t0, System.nanoTime()))
      }
    }

  /** A span known only by its epoch-ms bounds (Catalyst's tracker). */
  def addMs(op: String, layer: String, name: String, parent: Long,
      startMs: Long, endMs: Long): Unit =
    if (enabled) spans.synchronized(spans += Span(ids.incrementAndGet(), parent, op, layer,
      name, startMs * 1000000L + nanoOffset, endMs * 1000000L + nanoOffset))

  def lastId(op: String, layer: String): Long =
    spans.synchronized(spans.reverseIterator.find(s => s.op == op && s.layer == layer)
      .map(_.id).getOrElse(0L))

  def clear(): Unit = spans.synchronized(spans.clear())
}

/** Per-job task totals, as the listener saw them. */
final class JobAcc(val jobId: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val stages = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val failedTasks = new AtomicLong(0)
  val runMs = new AtomicLong(0)
  val cpuNs = new AtomicLong(0)
  val gcMs = new AtomicLong(0)
  val spill = new AtomicLong(0)
  val shuffleRead = new AtomicLong(0)
  val shuffleWrite = new AtomicLong(0)
  val inputBytes = new AtomicLong(0)
  val inputRows = new AtomicLong(0)
  val peakExecMem = new AtomicLong(0)
}

/** The one task listener of the traced run: every job is keyed by the
  * job group the client set (the operation id), and task metrics add
  * up per job. While `enabled` is false it ignores every event.
  */
final class ExecListener extends SparkListener {
  @volatile var enabled = false
  val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, JobAcc]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val acc = new JobAcc(e.jobId, group, e.time)
    jobs.put(e.jobId, acc)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, acc))
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val acc = jobs.get(e.jobId)
    if (acc != null) { acc.endMs = e.time; ended.incrementAndGet() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val acc = stageJob.get(e.stageInfo.stageId)
    if (acc != null) acc.stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageJob.get(e.stageId)
    if (acc != null) {
      acc.tasks.incrementAndGet()
      if (e.reason != TaskSuccess) acc.failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs.addAndGet(m.executorRunTime)
        acc.cpuNs.addAndGet(m.executorCpuTime)
        acc.gcMs.addAndGet(m.jvmGCTime)
        acc.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        acc.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        acc.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        acc.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        acc.inputRows.addAndGet(m.inputMetrics.recordsRead)
        acc.peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
      }
    }
  }

  /** Wait (bounded) until every started job's end event has arrived:
    * the bus delivers a job's task events before its end event.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(50)
    while (ended.get() < started.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  def all: Seq[JobAcc] = jobs.values().asScala.toSeq.sortBy(_.jobId)
}
