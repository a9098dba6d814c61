package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}
import graft.Posture.withConfs

/** Co-located bucketed join: same bucketing on both sides ⇒ the join plans
  * with NO exchange (the write-once-join-many trade at 100 TB).
  */
class BucketingSpec extends AnyFunSuite with SparkSpec {

  test("bucketed-bucketed equi-join has zero shuffles and matches plain join") {
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt_db")
    // external tables in a fresh temp dir: nothing lands in the warehouse dir
    val loc = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    ParquetIO.writeBucketed(li, "bkt_db", "li_b", s"$loc/li_b", Seq("l_orderkey"), 8)
    ParquetIO.writeBucketed(
      o.withColumnRenamed("o_orderkey", "l_orderkey"), "bkt_db", "o_b", s"$loc/o_b",
      Seq("l_orderkey"), 8)

    // force the non-broadcast path: at real fact-fact scale neither side
    // broadcasts, which is exactly when bucketing pays
    withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("bkt_db.li_b").join(spark.table("bkt_db.o_b"), "l_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scan not used:\n$plan")

      val expected = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
      assert(joined.count() === expected)
    }
  }
}
