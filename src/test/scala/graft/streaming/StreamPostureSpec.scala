package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.{Posture, SparkEntry, SparkSpec}

/** The bench's streaming confs trade restart history and idle-source
  * watermark batches for fewer triggers; neither may change a finite
  * replay's output. Every `stream_*` gate must return the same rows under
  * [[Posture.benchConfs]]' streaming confs as under engine defaults.
  */
class StreamPostureSpec extends AnyFunSuite with SparkSpec {

  private val streamConfs =
    Posture.benchConfs.filter(_._1.startsWith("spark.sql.streaming."))

  test("the bench stream confs are the ones this spec checks") {
    val m = streamConfs.toMap
    assert(m("spark.sql.streaming.noDataMicroBatches.enabled") === "false")
    assert(m("spark.sql.streaming.minBatchesToRetain") === "1")
    assert(m("spark.sql.streaming.stateStore.providerClass") ===
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    assert(m.contains("spark.sql.streaming.checkpointFileManagerClass"))
  }

  test("every stream gate returns the same rows under bench confs and engine defaults") {
    val gates = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted
    assert(gates.nonEmpty)
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).toSeq.sorted
    val saved = streamConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val (engine, bench) =
      try {
        streamConfs.foreach { case (k, _) => spark.conf.unset(k) }
        val e = gates.map(g => g -> rows(g)).toMap
        streamConfs.foreach { case (k, v) => spark.conf.set(k, v) }
        val b = gates.map(g => g -> rows(g)).toMap
        (e, b)
      } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    gates.foreach { g =>
      assert(engine(g).nonEmpty, s"$g returned no rows under engine defaults")
      val same = bench(g) == engine(g)
      assert(same, s"$g differs under the bench stream confs: ${bench(g).size} rows " +
        s"vs ${engine(g).size} under engine defaults")
    }
  }
}
