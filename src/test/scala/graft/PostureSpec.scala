package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one-reader rule: the environment is read in `graft/Posture.scala`
  * only, and only for the deployment settings and the settings
  * PRODUCTION.md cites as workload-dependent. Every other session setting
  * is a constant there, and a conf changed after start-up goes through its
  * one scoped primitive, `Posture.withConfs`.
  */
class PostureSpec extends AnyFunSuite {
  import PostureSpec._

  private val posture = mainRoot.resolve("graft/Posture.scala")

  test("only graft/Posture.scala reads the environment") {
    val envRead = "sys\\.env|System\\.getenv".r
    val readers = mainSources.filter(p => envRead.findFirstIn(Files.readString(p)).isDefined)
    assert(readers === Seq(posture))
  }

  test("only Posture.withConfs changes a session conf after start-up") {
    // the one exception: the parquet reader reads nanosAsLong at execution,
    // so Tables.events sets it session-wide rather than in a scope
    val confWrite = "conf\\.(set|unset)\\(".r
    val sites = mainSources.filter(_ != posture).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if confWrite.findFirstIn(line).isDefined &&
            !(p.endsWith("graft/Tables.scala") && line.contains("\"spark.sql.legacy.parquet.nanosAsLong\"")) =>
          s"${mainRoot.relativize(p)}:${i + 1}: ${line.trim}"
      }
    }
    assert(sites.isEmpty, sites.mkString("\n", "\n", ""))
  }

  test("Posture reads exactly the ten deployment and workload-dependent names") {
    val names = "\"((?:SPARK_)?GRAFT_[A-Z_]+)\"".r
      .findAllMatchIn(Files.readString(posture)).map(_.group(1)).toSet
    assert(names === Set(
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "GRAFT_SCRATCH_DIR",
      "SPARK_GRAFT_AQE", "SPARK_GRAFT_AQE_MIN_PART", "SPARK_GRAFT_SHUFFLE_PARTS",
      "SPARK_GRAFT_ROCKSDB_CHANGELOG", "SPARK_GRAFT_LOCAL_FS",
      "SPARK_GRAFT_CKPT_FM", "SPARK_GRAFT_COMMITTER_V"))
  }
}

object PostureSpec {
  val mainRoot: Path = Paths.get("src/main/scala")

  /** Every Scala source under `src/main/scala`, for the one-module rules. */
  def mainSources: Seq[Path] = {
    assert(Files.isDirectory(mainRoot), s"run from the repository root (no $mainRoot)")
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }
}
