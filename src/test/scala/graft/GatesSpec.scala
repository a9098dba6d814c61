package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Freeze, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-runner rule and the behaviour of [[Gates]] on fake gates: `pick`
  * fails on unknown names before any work, `time` turns every failure into
  * an error result and frees the gate's blocks, and `warm` swallows
  * non-fatal failures.
  */
class GatesSpec extends AnyFunSuite with SparkSpec {
  import PostureSpec.{mainRoot, mainSources}

  private val ok: Gates.Gate = (s, _) => s.range(7).toDF("id")
  private val boom: Gates.Gate = (_, _) => throw new IllegalStateException("boom")
  private val among = Seq("a" -> ok, "b" -> ok, "c" -> ok)

  test("only Gates.scala and SparkEntry.scala reach the registry or materialize a gate") {
    // comments do not count: scaladoc lines, and the tail after `//`
    val runnerCall = "SparkEntry\\.queries|toRdd\\.count\\(\\)".r
    val allowed = Set(mainRoot.resolve("graft/Gates.scala"), mainRoot.resolve("graft/SparkEntry.scala"))
    val sites = mainSources.filterNot(allowed).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("/*") &&
            runnerCall.findFirstIn(line.replaceAll("//.*", "")).isDefined =>
          s"${mainRoot.relativize(p)}:${i + 1}: ${line.trim}"
      }
    }
    assert(sites.isEmpty, sites.mkString("\n", "\n", ""))
  }

  test("pick fails on an unknown name, listing the known ones") {
    val e = intercept[RuntimeException](Gates.pick(Seq("a", "nope"), among))
    assert(e.getMessage.contains("'nope'"), e.getMessage)
    assert(e.getMessage.contains("known: a, b, c"), e.getMessage)
  }

  test("pick takes all of among for no names, else the names in order without duplicates") {
    assert(Gates.pick(Nil, among).map(_._1) === Seq("a", "b", "c"))
    assert(Gates.pick(Seq("c", "a", "c"), among).map(_._1) === Seq("c", "a"))
  }

  test("time records a failing gate as an error with no rows, and does not throw") {
    val failing: Gates.Gate = (s, _) =>
      s.range(3).select(udf((x: Long) => if (x == 2) sys.error("task boom") else x).apply(col("id")))
    for ((gate, msg) <- Seq(boom -> "IllegalStateException: boom", failing -> "task boom")) {
      val r = Gates.time(spark, "bad", gate, sfDir, isolate = false)
      assert(r.name === "bad" && r.rows === 0L)
      assert(r.error.exists(_.contains(msg)), r.error)
    }
  }

  test("time returns a good gate's row count") {
    val r = Gates.time(spark, "ok", ok, sfDir, isolate = false)
    assert(r === Gates.Result("ok", r.sec, 7L, None))
    assert(r.sec >= 0.0)
  }

  test("time frees a freezing gate's blocks, isolated or not") {
    val freezing: Gates.Gate = (s: SparkSession, _) => Freeze(s.range(10).toDF("id")).filter(col("id") > 4)
    for (isolate <- Seq(false, true)) {
      val r = Gates.time(spark, "freezing", freezing, sfDir, isolate)
      assert(r.rows === 5L && r.error.isEmpty)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"isolate=$isolate")
    }
  }

  test("warm swallows a non-fatal failure and still runs the gates after it") {
    var ran = 0
    val counting: Gates.Gate = (s, _) => { ran += 1; s.range(1).toDF("id") }
    Gates.warm(spark, Seq("bad" -> boom, "counting" -> counting), sfDir)
    assert(ran === 1)
  }
}
