package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Freeze}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-primitive rule and the behaviour of `org.apache.spark.sql.Freeze`:
  * a freeze reads the same rows on every action, a release frees exactly the
  * frozen blocks under a frame, and an escalation frees the fast result
  * before it builds the safe one.
  */
class FreezeSpec extends AnyFunSuite with SparkSpec {
  import PostureSpec.{mainRoot, mainSources}

  private val freezeFile = mainRoot.resolve("org/apache/spark/sql/Freeze.scala")

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("only Freeze.scala freezes or frees blocks") {
    // comments do not count: scaladoc lines, and the tail after `//`
    val freezeCall = "localCheckpoint|unpersist\\(|getPersistentRDDs".r
    val sites = mainSources.filter(_ != freezeFile).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("/*") &&
            freezeCall.findFirstIn(line.replaceAll("//.*", "")).isDefined =>
          s"${mainRoot.relativize(p)}:${i + 1}: ${line.trim}"
      }
    }
    assert(sites.isEmpty, sites.mkString("\n", "\n", ""))
  }

  test("counted returns the row count, and a frozen frame reads the same rows on every action") {
    val noise = udf(() => scala.util.Random.nextDouble()).asNondeterministic()
    val df = spark.range(0, 500, 1, 4).select(col("id"), rand().as("r"), noise().as("u"))
    def read(f: DataFrame): Seq[(Long, Double, Double)] =
      f.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq
    // the unfrozen input disagrees with itself between actions
    assert(read(df) !== read(df))
    val (frozen, n) = Freeze.counted(df)
    assert(n === 500L)
    assert(read(frozen) === read(frozen))
    assert(frozen.count() === 500L)
    Freeze.release(frozen, blocking = true)
  }

  test("release frees every frozen leaf under a frame, and is a no-op on an unfrozen frame") {
    val before = persisted
    val a = Freeze(spark.range(10).toDF("id"))
    val b = Freeze(spark.range(5, 15).toDF("id"))
    val frozenIds = persisted -- before
    assert(frozenIds.size === 2)
    val joined = a.join(b, "id")
    assert(joined.count() === 5L)
    Freeze.release(joined, blocking = true)
    assert((persisted intersect frozenIds).isEmpty)

    val kept = Freeze(spark.range(3).toDF("id"))
    val snapshot = persisted
    Freeze.release(spark.range(3).toDF("id").filter(col("id") > 0), blocking = true)
    assert(persisted === snapshot)
    Freeze.release(kept, blocking = true)
  }

  test("releaseAll empties the session's persistent RDDs") {
    Freeze(spark.range(10).toDF("id"))
    Freeze(spark.range(20).toDF("id"))
    assert(persisted.nonEmpty)
    Freeze.releaseAll(spark, blocking = true)
    assert(persisted.isEmpty)
  }

  test("escalating with a false predicate never builds the safe frame") {
    var built = false
    val (out, escalated) = Freeze.escalating(spark.range(5).toDF("id")) { (f, n) =>
      assert(f.count() === n)
      false
    } {
      built = true
      spark.range(1).toDF("id")
    }
    assert(!escalated)
    assert(!built)
    assert(out.count() === 5L)
    Freeze.release(out, blocking = true)
  }

  test("escalating with a true predicate frees the fast blocks before the safe frame runs") {
    val before = persisted
    var fastIds = Set.empty[Int]
    var atSafe = Set.empty[Int]
    val (out, escalated) = Freeze.escalating(spark.range(5).toDF("id")) { (_, n) =>
      fastIds = persisted -- before
      n == 5L
    } {
      atSafe = persisted
      spark.range(3).toDF("id")
    }
    assert(escalated)
    assert(fastIds.size === 1)
    assert((atSafe intersect fastIds).isEmpty)
    // the safe result is frozen too
    assert((persisted -- before).size === 1)
    assert(out.count() === 3L)
    Freeze.release(out, blocking = true)
  }
}
