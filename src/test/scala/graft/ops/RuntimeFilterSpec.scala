package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}
import graft.Posture.withConfs

/** Runtime bloom-filter join pruning — Catalyst injects a bloom filter
  * built from the SELECTIVE side of a shuffle join into the probe side's
  * scan, so most probe rows die before the exchange. At 100 TB this is the
  * difference between shuffling the whole fact table and shuffling the
  * ~fraction that can possibly match; the thresholds below exist because
  * the optimizer's defaults target real cluster sizes (10 GB probe scans),
  * not test fixtures.
  */
class RuntimeFilterSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("selective dim filter injects a bloom filter into the fact scan") {
    // fixture-sized thresholds: any probe scan qualifies; broadcast off so
    // the join actually shuffles (a broadcast join needs no runtime filter)
    withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
      val sel = Tables.orders(spark, sfDir)
        .filter($"o_orderpriority" === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(sel, $"l_orderkey" === $"o_orderkey")
        .agg(org.apache.spark.sql.functions.sum($"l_quantity"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected an injected runtime bloom filter on the probe side:\n$p")
    }
  }
}
