package graft

import org.apache.spark.sql.functions._

import graft.sources.{EventSink, Tables}

/** Small-file compaction of the date-partitioned sink
  * ([[graft.sources.EventSink.compactDates]], the parquet stand-in for
  * Iceberg `rewrite_data_files` / Delta `OPTIMIZE`): content identity,
  * per-date file-count cap, untouched-partition stability,
  * idempotency, and the (event_type, ts) clustering that makes
  * row-group stats selective.
  */
class CompactionSpec extends SparkTestBase {

  private def partFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .toSeq

  private def dateDirs(root: String): Map[String, java.io.File] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      .map(f => f.getName.stripPrefix("event_date=") -> f).toMap

  test("compaction: identical content, capped files, untouched partitions stable") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val sink = s"$root/sink"
    val ev = Tables.events(spark, sf)
    // fragment every date into up to 4 files (the post-ingest state)
    EventSink.writeDatePartitioned(ev, sink, filesPerDate = 4)
    val before = spark.read.parquet(sink)
    val days = dateDirs(sink).keys.toSeq.sorted
    assert(days.size > 2)
    val fragmented = days.map(d => partFiles(dateDirs(sink)(d)).size)
    assert(fragmented.exists(_ > 1), s"fixture too small to fragment: $fragmented")
    val beforeRows = before.collect().toSet

    // compact all but the last date; remember the untouched date's files
    val (toCompact, untouched) = (days.init, days.last)
    val untouchedBefore = partFiles(dateDirs(sink)(untouched))
      .map(f => f.getName -> f.lastModified()).toSet
    EventSink.compactDates(spark, sink, toCompact)

    // per-date cap: every compacted date now has exactly 1 file
    toCompact.foreach { d =>
      assert(partFiles(dateDirs(sink)(d)).size == 1, s"$d not compacted to 1 file")
    }
    // untouched partition: same files, same mtimes
    val untouchedAfter = partFiles(dateDirs(sink)(untouched))
      .map(f => f.getName -> f.lastModified()).toSet
    assert(untouchedAfter == untouchedBefore, "untouched partition was rewritten")
    // content identity
    val afterRows = spark.read.parquet(sink).collect().toSet
    assert(afterRows == beforeRows, "compaction changed the sink's contents")

    // idempotency: re-running compacts to the same logical state
    EventSink.compactDates(spark, sink, toCompact)
    assert(spark.read.parquet(sink).collect().toSet == beforeRows)
  }

  test("compacted files are clustered by (event_type, ts) for row-group stats") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact_sort").toString
    val sink = s"$root/sink"
    EventSink.writeDatePartitioned(Tables.events(spark, sf), sink, filesPerDate = 4)
    val day = dateDirs(sink).keys.toSeq.sorted.head
    EventSink.compactDates(spark, sink, Seq(day))
    val file = partFiles(dateDirs(sink)(day)) match {
      case Seq(single) => single
      case other => fail(s"expected 1 compacted file, got ${other.size}")
    }
    // physical row order inside the file must be (event_type, ts)
    val rows = spark.read.parquet(file.getAbsolutePath)
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime))
    assert(rows.length > 1)
    val sorted = rows.sortBy(identity)
    assert(rows.sameElements(sorted), "file is not clustered by (event_type, ts)")
  }
}
