package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.Posture.withConfs
import graft.streaming.StreamOps

/** [[Posture.withConfs]] puts every pinned key back as it found it, and the
  * stream run helpers pin the stream partition count whatever the caller's
  * session holds.
  */
class WithConfsSpec extends AnyFunSuite with SparkSpec {

  private val parts = "spark.sql.shuffle.partitions"

  test("prior values come back after a normal return and after a throw") {
    val before = spark.conf.get(parts)
    assert(withConfs(spark, parts -> "7")(spark.conf.get(parts)) === "7")
    assert(spark.conf.get(parts) === before)
    intercept[IllegalStateException] {
      withConfs(spark, parts -> "7")(throw new IllegalStateException("boom"))
    }
    assert(spark.conf.get(parts) === before)
  }

  test("a key absent before the scope is unset after it") {
    val key = "graft.test.pin"
    assert(spark.conf.getOption(key).isEmpty)
    withConfs(spark, key -> "on")(assert(spark.conf.get(key) === "on"))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("nested scopes on one key restore the outer value") {
    val before = spark.conf.get(parts)
    withConfs(spark, parts -> "5") {
      withConfs(spark, parts -> "3")(assert(spark.conf.get(parts) === "3"))
      assert(spark.conf.get(parts) === "5")
    }
    assert(spark.conf.get(parts) === before)
  }

  test("runToMemory runs a stateful stream at streamShuffleParts under a wider session count") {
    val stateParts = new ConcurrentLinkedQueue[Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == "withconfs_pin")
          e.progress.stateOperators.foreach(op => stateParts.add(op.numShufflePartitions.toInt))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val wholeStage = "spark.sql.codegen.wholeStage"
    val (partsBefore, codegenBefore) = (spark.conf.get(parts), spark.conf.get(wholeStage))
    spark.streams.addListener(listener)
    try {
      withConfs(spark, parts -> "16") {
        val stream = StreamOps.readEventStream(spark, StreamOps.eventsLanding(spark, sfDir))
        StreamOps.runToMemory(StreamOps.windowedCounts(stream, 3600, 3600),
          "withconfs_pin", OutputMode.Complete())
        assert(spark.conf.get(parts) === "16")
        assert(spark.conf.get(wholeStage) === codegenBefore)
      }
      // progress events reach listeners asynchronously
      eventually(timeout(30.seconds), interval(100.millis))(assert(!stateParts.isEmpty))
    } finally spark.streams.removeListener(listener)
    assert(stateParts.asScala.toSet === Set(StreamOps.streamShuffleParts.toInt))
    assert(spark.conf.get(parts) === partsBefore)
    assert(spark.conf.get(wholeStage) === codegenBefore)
  }
}
