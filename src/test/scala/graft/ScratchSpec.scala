package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one-module rule and the lifetime of `graft.Scratch`: only
  * Scratch.scala builds scratch paths, and a JVM that ran scratch-writing
  * gates leaves nothing under the scratch root once it has exited.
  */
class ScratchSpec extends AnyFunSuite with SparkSpec {
  import PostureSpec.{mainRoot, mainSources}

  private val scratchFile = mainRoot.resolve("graft/Scratch.scala")

  test("only Scratch.scala names the scratch root, the pid or a temp directory") {
    // comments do not count: scaladoc lines, and the tail after `//`
    val pathBuild = "Scratch\\.root|ProcessHandle\\.current\\(\\)\\.pid\\(\\)|createTempDirectory".r
    val sites = mainSources.filter(_ != scratchFile).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("/*") &&
            pathBuild.findFirstIn(line.replaceAll("//.*", "")).isDefined =>
          s"${mainRoot.relativize(p)}:${i + 1}: ${line.trim}"
      }
    }
    assert(sites.isEmpty, sites.mkString("\n", "\n", ""))
  }

  test("dir is stable per (name, source); fresh is new per call; both live in the JVM's dir") {
    assert(Scratch.dir("a", sfDir) === Scratch.dir("a", sfDir + "/"))
    assert(Scratch.dir("a", sfDir) !== Scratch.dir("b", sfDir))
    assert(Scratch.dir("a", sfDir) !== Scratch.dir("a", "/root/testdata/sf0.01"))
    assert(Scratch.fresh("a") !== Scratch.fresh("a"))
    Seq(Scratch.dir("a", sfDir), Scratch.fresh("a")).foreach { p =>
      assert(new File(p).getParentFile === Scratch.jvmDir)
    }
  }

  test("a Verify JVM over scratch-writing gates leaves the scratch root empty at exit") {
    val scratch = Files.createTempDirectory("graft-scratch-root").toFile
    val out = Files.createTempDirectory("graft-scratch-verify").toString
    // the child's working directory, where its warehouse dir resolves
    val work = Files.createTempDirectory("graft-scratch-work").toFile
    val gates = Seq("k1_write_roundtrip", "k3_catalog_write", "stream_sink_parquet",
      "stream_cdc_apply", "stream_session_windows", "j3_bucketed_join")
    // inherit the test JVM's --add-opens set (Spark 4 on JDK 17 needs it)
    // and classpath, as MetastorePersistenceSpec does
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false", "-cp", System.getProperty("java.class.path"),
      "graft.Verify", sfDir, out, gates.mkString(","))
    val pb = new ProcessBuilder(cmd: _*).directory(work).redirectErrorStream(true)
    pb.environment().put("GRAFT_SCRATCH_DIR", scratch.getPath)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val p = pb.start()
    val log = new String(p.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    assert(p.waitFor() === 0, log.takeRight(4000))
    assert(!log.contains("[verify]"), log.takeRight(4000))
    gates.foreach(g => assert(new File(out, g).isDirectory, s"$g wrote no result"))
    assert(scratch.list().toSeq === Seq.empty)
    assert(!new File(work, "spark-warehouse/bkt_gate.db").exists(),
      "the bucketed pair was written under the warehouse dir")
  }
}
