package graft

import java.io.{File, FileInputStream, FileOutputStream}
import java.util.jar.{JarEntry, JarOutputStream}

import scala.sys.process._

/** r5 verdict #2 — executor-loss resilience: fork
  * [[graft.ChaosVerify]] (two SparkContexts can't share a JVM),
  * which SIGKILLs an executor process mid-query on a
  * `local-cluster[2,4]` master and compares each of five
  * representative queries (shuffle-heavy / iterative-checkpointed /
  * TypedImperativeAggregate sketch / the Affine2Compose recurrence
  * plane / an edge-store probe — the last two added per the r6
  * verdict) against its healthy-cluster baseline. The spec asserts
  * the child's JSON proves the chaos was REAL (kills ≥ 5,
  * executor-removed events observed, task failures recorded — a run
  * where nothing died would pass vacuously) and that no query result
  * changed.
  */
class ChaosSpec extends SparkTestBase {

  private def buildJar(classesDir: File, out: File): Unit = {
    val jos = new JarOutputStream(new FileOutputStream(out))
    def walk(f: File, prefix: String): Unit =
      f.listFiles().foreach { c =>
        val name = prefix + c.getName
        if (c.isDirectory) walk(c, name + "/")
        else {
          jos.putNextEntry(new JarEntry(name))
          val in = new FileInputStream(c)
          try in.transferTo(jos) finally in.close()
          jos.closeEntry()
        }
      }
    walk(classesDir, "")
    jos.close()
  }

  test("queries survive a SIGKILLed executor with identical results (local-cluster[2,4])") {
    val outDir = new File("/tmp/graft-chaos-verify")
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)

    val classesDir = System.getProperty("java.class.path")
      .split(File.pathSeparator)
      .find(_.endsWith(s"target${File.separator}scala-2.13${File.separator}classes"))
      .map(new File(_))
      .getOrElse(fail("main classes dir not on test classpath"))
    val jar = new File("/tmp/graft-chaos-lib.jar")
    buildJar(classesDir, jar)

    val javaBin = new File(new File(System.getProperty("java.home"), "bin"), "java")
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").filter(_.nonEmpty)
    val cmd = Seq(javaBin.getAbsolutePath) ++ moduleOpts ++ Seq(
      "-Xmx4g", "-cp", System.getProperty("java.class.path"),
      "graft.ChaosVerify", sf, outDir.getAbsolutePath)
    val log = new StringBuilder
    val rc = Process(cmd, None,
      "SPARK_SCALA_VERSION" -> "2.13",
      "GRAFT_JAR" -> jar.getAbsolutePath)
      .!(ProcessLogger(l => log.append(l).append('\n')))
    val info = new File(outDir, "chaos_info.json")
    val infoStr = if (info.exists())
      new String(java.nio.file.Files.readAllBytes(info.toPath)) else "(missing)"
    assert(rc == 0, s"ChaosVerify exited $rc: $infoStr\n${log.takeRight(4000)}")

    // the chaos must have been real, not a lucky no-op run
    assert(infoStr.contains("\"problems\":[]"), s"chaos problems: $infoStr")
    assert("\"kills\":(\\d+)".r.findFirstMatchIn(infoStr)
      .exists(_.group(1).toInt >= 5), s"expected >=5 executor kills: $infoStr")
    assert("\"removed\":(\\d+)".r.findFirstMatchIn(infoStr)
      .exists(_.group(1).toInt >= 5), s"expected >=5 executor-removed events: $infoStr")
    assert("\"task_failures\":(\\d+)".r.findFirstMatchIn(infoStr)
      .exists(_.group(1).toInt >= 1), s"expected task failures under SIGKILL: $infoStr")
    // r8: the streaming phase's kill (RocksDB-stateful
    // transformWithState, mid-micro-batch) must also have landed
    assert("\"stream_kills\":(\\d+)".r.findFirstMatchIn(infoStr)
      .exists(_.group(1).toInt >= 1), s"expected a streaming-phase kill: $infoStr")
  }
}
