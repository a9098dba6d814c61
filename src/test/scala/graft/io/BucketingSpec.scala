package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}
import graft.Posture.withConfs

/** Co-located bucketed join: same bucketing on both sides ⇒ the join plans
  * with NO exchange (the write-once-join-many trade at 100 TB).
  */
class BucketingSpec extends AnyFunSuite with SparkSpec {

  test("writeSized bounds files per partition value regardless of task count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sized").toString
    // 32 upstream partitions × 3 flag values would emit up to 96 files naive
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_returnflag").repartition(32)
    ParquetIO.writeSized(li, dir, Seq("l_returnflag"), maxRecordsPerFile = 100000)
    val filesPerValue = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("l_returnflag="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(filesPerValue.nonEmpty)
    filesPerValue.foreach { case (part, n) =>
      assert(n === 1, s"$part has $n files; expected exactly 1 (fits maxRecordsPerFile)")
    }
    assert(spark.read.parquet(dir).count() === li.count(), "no rows lost")
  }

  test("bucketed-bucketed equi-join has zero shuffles and matches plain join") {
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt_db")
    // clear any stale table AND its managed location (a crashed earlier run
    // can leave the directory without the catalog entry)
    Seq("li_b", "o_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS bkt_db.$t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        s"bkt_db.db/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    ParquetIO.writeBucketed(li, "bkt_db", "li_b", Seq("l_orderkey"), 8)
    ParquetIO.writeBucketed(
      o.withColumnRenamed("o_orderkey", "l_orderkey"), "bkt_db", "o_b",
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
