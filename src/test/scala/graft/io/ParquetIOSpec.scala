package graft.io

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** S4 reads: `ParquetIO.readPartitioned` with and without a known schema. */
class ParquetIOSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-parquetio").toString + "/t"
  private lazy val written: Unit =
    ParquetIO.writePartitioned(
      Seq((1L, "a", "20240501"), (2L, "b", "20240502"), (3L, "c", "20240502"))
        .toDF("id", "v", "dataproc"), root, Seq("dataproc"))

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType), StructField("dataproc", StringType)))

  /** `body`'s result and the number of Spark jobs it started. Jobs are told
    * apart by job group; a marker job run afterwards, seen by the listener,
    * means every earlier job start has been delivered too. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val id = java.util.UUID.randomUUID().toString
      sc.setJobGroup(s"body-$id", "readPartitioned", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"marker-$id", "marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(20.millis))(assert(groups.contains(s"marker-$id")))
      (out, groups.asScala.count(_ == s"body-$id"))
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  test("readPartitioned with a schema: one partition's rows, STRING dataproc, no job before the action") {
    written
    val (df, jobs) = jobsDuring {
      val d = ParquetIO.readPartitioned(spark, root, Map("dataproc" -> "20240502"), Some(schema))
      d.queryExecution.executedPlan
      d
    }
    assert(jobs === 0, "no footer-inference job")
    assert(df.schema === schema)
    assert(rows(df) === Set("[2,b,20240502]", "[3,c,20240502]"))
  }

  test("readPartitioned without a schema keeps the infer-from-footers path") {
    written
    val (df, jobs) = jobsDuring(ParquetIO.readPartitioned(spark, root, Map("dataproc" -> "20240502")))
    assert(jobs >= 1, "footer inference runs a job")
    val plain = spark.read.option("basePath", root).parquet(root).filter($"dataproc" === "20240502")
    assert(df.schema === plain.schema)
    assert(df.schema("dataproc").dataType === IntegerType, "partition type inferred")
    assert(rows(df) === rows(plain))
    assert(rows(df) === Set("[2,b,20240502]", "[3,c,20240502]"))
  }
}
