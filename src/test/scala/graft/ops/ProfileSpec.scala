package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class ProfileSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("one-scan profile: nulls, distincts, extrema per column") {
    val df = Seq(
      (1L, Some("a"), Some(2.5)),
      (2L, None, Some(1.0)),
      (3L, Some("c"), None),
      (4L, Some("a"), Some(9.75)),
    ).toDF("id", "s", "v")
    val out = Profile.summarize(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(out("id") === ((4L, 0L, 4L, "1", "4")))
    assert(out("s") === ((4L, 1L, 2L, "a", "c")), "null excluded from distinct + extrema")
    assert(out("v") === ((4L, 1L, 3L, "1.0", "9.75")))
  }

  test("no Expand in the plan — distincts go through grouped partial aggs") {
    val df = Seq((1L, "x")).toDF("a", "b")
    val prof = Profile.summarize(df, Seq("a", "b"))
    prof.collect()
    val plan = prof.queryExecution.executedPlan.toString
    // Catalyst plans k count(DISTINCT)s in one Aggregate via Expand, which
    // multiplies every input row (k+1)x before the exchange — the exact
    // shape summarize exists to avoid. Each per-column branch must instead
    // partial-aggregate its groupBy(v) map-side.
    assert(!plan.contains("Expand"), s"multi-distinct Expand crept back in:\n$plan")
    assert(plan.contains("Union"), s"expected per-column union of one-row stats:\n$plan")
  }

  test("empty input: zero rows, zero nulls, zero distinct per column") {
    val df = Seq.empty[(Long, String)].toDF("a", "b")
    val out = Profile.summarize(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("a") === ((0L, 0L, 0L)))
    assert(out("b") === ((0L, 0L, 0L)))
  }

  test("equiDepthHistogram: ~equal counts on uniform AND on skewed data") {
    val uniform = (1 to 100).map(_.toDouble).toDF("v")
    val u = Profile.equiDepthHistogram(uniform, "v", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(u === Map(0L -> 25L, 1L -> 25L, 2L -> 25L, 3L -> 25L))
    // heavy skew: one hot value occupies whole buckets instead of emptying
    // the others (ties at a fence collapse LEFT, so the hot value's mass
    // lands in one bucket; an equi-WIDTH histogram would put 91% in 1 bin)
    val skewed = ((1 to 91).map(_ => 1.0) ++ (2 to 10).map(_.toDouble)).toDF("v")
    val s = Profile.equiDepthHistogram(skewed, "v", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(0L) === 91L && s.values.sum === 100L)
    // NULLs are excluded, not binned at 0
    val withNull = uniform.unionByName(Seq(Option.empty[Double]).toDF("v"))
    assert(Profile.equiDepthHistogram(withNull, "v", 4)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) === 100L)
  }
}
