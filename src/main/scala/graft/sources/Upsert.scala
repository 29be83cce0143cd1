package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Idempotent upsert/backfill into the date-partitioned event sink —
  * the reference's `IndicatorValue` bulk-upsert semantics (unique
  * content key, re-ingestion can never double-count) re-expressed as
  * partition-scoped merge over plain parquet.
  *
  * Shape (write-audit-publish, the no-table-format MERGE):
  *   1. Dedup the incoming batch on the content key (latest
  *      `versionCol` wins) — a batch is allowed to carry its own dups.
  *   2. Compute the AFFECTED partitions (distinct event_date of the
  *      batch — a driver-side list of partition VALUES, metadata-scale
  *      by construction: a backfill touches bounded dates).
  *   3. Read ONLY those partitions of the sink (partition-pruned scan)
  *      and anti-join away rows whose key the batch replaces.
  *   4. Stage survivors ∪ batch to a scratch dir, then publish with
  *      DYNAMIC partition overwrite — untouched partitions are never
  *      listed, read, or rewritten (UpsertSpec proves their files
  *      don't change).
  *
  * The staging hop exists because Spark (correctly) refuses to
  * overwrite a path it is simultaneously reading; staging also gives
  * the production property that a failed merge leaves the sink intact.
  * Cost at 100 TB: two scans + two writes of the affected days only —
  * independent of total corpus size.
  *
  * Idempotency: re-running any batch (or replaying a failed one) is a
  * no-op by construction — every batch row replaces itself. That is
  * exactly the contract `foreachBatch` needs ([[streamingUpsert]]):
  * structured streaming guarantees at-least-once batch delivery, so
  * the sink function must tolerate replays.
  *
  * Concurrent writers: plain parquet has no optimistic concurrency,
  * so two simultaneous merges into one sink (say a streaming ingest
  * plus an ad-hoc backfill) could interleave between the read and the
  * publish and lose one side's rows. [[upsertDatePartitioned]] guards
  * the window at two layers: same-JVM writers serialize on a
  * process-local lock per sink, and cross-process writers on a
  * per-sink LOCK FILE acquired by atomic create-exclusive — atomic on
  * HDFS natively, and on local filesystems via NIO O_EXCL (Hadoop's
  * own local `create(overwrite=false)` is check-then-create and NOT
  * race-safe — see [[atomicCreate]]; object stores without atomic
  * create need an external lock; a
  * production deployment on Iceberg/Delta gets this from the format's
  * own optimistic-concurrency commit and drops the lock entirely —
  * that swap is a writer-config change, not a code change). A waiter
  * retries briefly then fails LOUDLY with the holder's identity;
  * stale locks (a crashed writer) are detected by age and broken.
  * UpsertSpec proves serialized concurrent merges lose nothing.
  */
object Upsert {

  /** How long a waiter retries before giving up. */
  private val LockWaitMs = 60000L
  /** A lock older than this is presumed crashed and is broken. */
  private val LockStaleMs = 600000L

  /** Same-JVM writers (two threads of one driver, e.g. a streaming
    * ingest plus an ad-hoc backfill) serialize on a process-local
    * lock per sink path — polling a lock FILE against yourself is
    * wasteful and, on the local filesystem, unsound (see
    * [[atomicCreate]]). The file lock below remains the cross-process
    * guard.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** Create-exclusive of the lock file. On HDFS/object-store schemes
    * `fs.create(overwrite = false)` is atomic (NameNode-arbitrated).
    * On `file://`, Hadoop's RawLocalFileSystem implements it as
    * check-THEN-create — two processes can both pass the check — so
    * the local scheme goes through NIO `Files.createFile`, which is a
    * real O_CREAT|O_EXCL and throws FileAlreadyExistsException (an
    * IOException) when it loses the race.
    */
  private def atomicCreate(fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path, holder: String): Unit = {
    if (fs.getUri.getScheme == "file") {
      val p = java.nio.file.Paths.get(lock.toUri.getPath)
      java.nio.file.Files.createFile(p)
      java.nio.file.Files.write(p, holder.getBytes("UTF-8"))
    } else {
      val out = fs.create(lock, false)
      out.write(holder.getBytes("UTF-8"))
      out.close()
    }
  }

  /** Run `body` holding the sink's merge lock. The lock is a SIBLING
    * of the sink directory (not inside it) so the first-load
    * whole-path overwrite can never clobber a held lock.
    */
  private[graft] def withSinkLock[T](
      fs: org.apache.hadoop.fs.FileSystem, path: String)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(
      s"${path.stripSuffix("/")}__merge_lock")
    val jvmLock = jvmLocks.computeIfAbsent(lock.toString,
      _ => new java.util.concurrent.locks.ReentrantLock())
    jvmLock.lock()
    try withFileLock(fs, lock)(body)
    finally jvmLock.unlock()
  }

  private def withFileLock[T](fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path)(body: => T): T = {
    val holder =
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}"
    val deadline = System.currentTimeMillis() + LockWaitMs
    var acquired = false
    while (!acquired) {
      try {
        atomicCreate(fs, lock, holder)
        acquired = true
      } catch {
        case _: java.io.IOException =>
          val age = try {
            System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
          } catch { case _: java.io.IOException => 0L } // vanished — retry
          if (age > LockStaleMs) {
            fs.delete(lock, false) // break the stale lock, retry acquire
          } else if (System.currentTimeMillis() > deadline) {
            val who = try {
              new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
                fs.open(lock)), "UTF-8")
            } catch { case _: java.io.IOException => "<unknown>" }
            throw new IllegalStateException(
              s"upsert at $lock: merge lock held by $who for > ${LockWaitMs} ms; " +
                "concurrent writer or crashed merge (stale locks break after " +
                s"${LockStaleMs} ms)")
          } else Thread.sleep(200L)
      }
    }
    try body finally fs.delete(lock, false)
  }

  /** Merge `batch` (schema of `Tables.events`: must contain `ts` plus
    * the key columns) into the date-partitioned sink at `path`.
    * Rows match on `keys`; among matches the batch row wins, and
    * within-batch dups resolve to the highest `versionCol`
    * (deterministic tie-break on the key itself being unique).
    */
  def upsertDatePartitioned(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String], versionCol: String = "ts"): Unit = {
    val lockFs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withSinkLock(lockFs, path) {
      upsertLocked(spark, path, batch, keys, versionCol)
    }
  }

  private def upsertLocked(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String], versionCol: String): Unit = {
    val withDate = batch.withColumn("event_date", to_date(col("ts")))
    // deterministic even on version ties: fall back to a content hash
    // so the surviving row never depends on partitioning or task order
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc,
        xxhash64(struct(batch.columns.map(col).toIndexedSeq: _*)))
    val deduped = withDate
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")

    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_SUCCESS"))) {
      // first load: nothing to merge
      deduped.repartition(col("event_date"))
        .write.partitionBy("event_date").mode("overwrite").parquet(path)
      return
    }

    // partition VALUES only — the one driver-side step (metadata-scale)
    val affected = deduped.select("event_date").distinct()
      .collect().map(_.getDate(0))
    if (affected.isEmpty) return

    val existing = spark.read.parquet(path)
      .filter(col("event_date").isin(affected.toSeq: _*))
    val merged = existing
      .join(deduped.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(deduped)

    val staging = s"${path}__staging"
    merged.repartition(col("event_date"))
      .write.partitionBy("event_date").mode("overwrite").parquet(staging)

    // the overwrite mode is a per-write option: a session-wide setting
    // would leak into concurrent writes on the same session
    try {
      spark.read.parquet(staging)
        .repartition(col("event_date"))
        .write.partitionBy("event_date").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(path)
    } finally fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  /** Streaming twin: every micro-batch merges through
    * [[upsertDatePartitioned]], making the sink idempotent under
    * batch replay (at-least-once delivery → exactly-once effect on
    * the keyed contents).
    */
  def streamingUpsert(stream: DataFrame, path: String, keys: Seq[String],
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        upsertDatePartitioned(df.sparkSession, path, df, keys)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
