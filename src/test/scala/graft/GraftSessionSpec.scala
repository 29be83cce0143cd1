package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The session factory's pure parts, checked without a session (the
  * suite shares one TestSpark session; [[GraftSession.create]] is never
  * called here), plus the source-scan guards that keep every main on
  * the factory and fix the set of mains and `spark.graft.*` conf keys.
  */
class GraftSessionSpec extends SparkTestBase {
  private val Split = "spark.sql.files.maxPartitionBytes"
  private val Initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
  private val sf01 = new File(new File(sf).getParentFile, "sf0.1").getPath

  private def derived(dir: String, cpus: Int): (Long, Long) = {
    val c = GraftSession.derivedConfs(dir, cpus)
    (c(Split).toLong, c(Initial).toLong)
  }

  test("derived confs on the fixtures: split = largest file / cpus, floor 256 KB; width = cpus") {
    // sf0.001's largest file (embeddings, 193646 B) is under the floor
    // at any width; sf0.1's (lineitem, 10818932 B) splits per cpu.
    // Both corpora are under 32 MB in total, so AQE's initial width
    // stays at the clamp's low end: cpus.
    assert(derived(sf, 4) == ((256L << 10, 4L)))
    assert(derived(sf, 32) == ((256L << 10, 32L)))
    assert(derived(sf01, 4) == ((10818932L / 4, 4L)))
    assert(derived(sf01, 32) == ((10818932L / 32, 32L)))
  }

  test("derived confs clamp at 128 MB and 8·cpus; nested parquet dirs count, other files do not") {
    val dir = Files.createTempDirectory("graft-session-spec").toFile
    def sparse(f: File, bytes: Long): Unit = {
      f.getParentFile.mkdirs()
      val raf = new RandomAccessFile(f, "rw")
      try raf.setLength(bytes) finally raf.close()
    }
    try {
      sparse(new File(dir, "big.parquet"), 1L << 30)
      sparse(new File(dir, "events.parquet/part-0.parquet"), 256L << 20)
      sparse(new File(dir, "events.parquet/part-1.parquet"), 256L << 20)
      sparse(new File(dir, "notes.csv"), 8L << 30)
      // total 1.5 GB / 32 MB = 48 initial partitions
      assert(derived(dir.getPath, 4) == ((128L << 20, 32L)))
      assert(derived(dir.getPath, 16) == ((1L << 26, 48L)))
      assert(derived(new File(dir, "missing").getPath, 4) == ((256L << 10, 4L)))
    } finally {
      Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  test("SPARK_GRAFT_EXTRA_CONFS parsing skips malformed segments") {
    assert(GraftSession.parseExtraConfs(
        "a.b=1; bogus ;=novalue;;  c = two ; d=x=y; ") ==
      Seq("a.b" -> "1", "c" -> "two", "d" -> "x=y"))
    assert(GraftSession.parseExtraConfs("").isEmpty)
  }

  test("every main builds its session through GraftSession; one counting listener") {
    val sources = Files.walk(new File("src/main/scala").toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def filesWith(needle: String): Map[String, Int] = sources.flatMap { p =>
      val n = java.util.regex.Pattern.quote(needle).r.findAllIn(Files.readString(p)).size
      if (n > 0) Some(p.getFileName.toString -> n) else None
    }.toMap
    assert(sources.nonEmpty, "run from the project root")
    assert(filesWith("SparkSession.builder()") == Map("GraftSession.scala" -> 1))
    // ChaosVerify's executor-loss listener is a correctness check, not
    // a counter
    assert(filesWith("extends SparkListener").keySet ++
      filesWith("new SparkListener").keySet == Set("TaskCounters.scala", "ChaosVerify.scala"))
    // the five mains; one-off benchmark mains are not regrown (their
    // measurements live in BASELINE.md, per-query A/B runs through
    // Bench's SPARK_GRAFT_ONLY / SPARK_GRAFT_EXTRA_CONFS). The full
    // signature: ReportMaintenance.maintainOnIngest matches a bare
    // `def main`.
    assert(filesWith("def main(args: Array[String])").keySet == Set("Bench.scala",
      "Verify.scala", "PlanSnap.scala", "ClusterVerify.scala", "ChaosVerify.scala"))
    // every `spark.graft.*` conf key main code names, in one list
    val confKeys = sources.flatMap { p =>
      "\"spark\\.graft\\.([^\"]*)\"".r.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    assert(confKeys == Set("checkpointDir", "nativeDotRewrite.enabled",
      "nanosPushdown.enabled", "graph.localBytesMax", "graph.localEdgeMax",
      "graph.pagerankMidMax", "graph.pagerankBroadcastNodeMax"))
  }

  test("every persisted artifact derives its root and checks completion in StoreProtocol") {
    val sources = Files.walk(new File("src/main/scala/graft/operators").toPath)
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    def filesWith(needle: String): Set[String] = sources
      .filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet
    assert(sources.nonEmpty, "run from the project root")
    assert(filesWith("java.io.tmpdir") == Set("StoreProtocol.scala"))
    // a `_SUCCESS` inside a string literal is a path built to check it
    assert(filesWith("_SUCCESS\"") == Set("StoreProtocol.scala"))
  }
}
