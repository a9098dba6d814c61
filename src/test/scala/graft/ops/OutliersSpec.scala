package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class OutliersSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("flags only the spike; other rows and other groups stay clean") {
    // group a: nine ~10s and one 1000 → only the 1000 exceeds |z| > 2
    val rows = (1 to 9).map(i => ("a", i.toLong, 10.0 + i * 0.1)) :+ ("a", 10L, 1000.0)
    val df = (rows ++ Seq(("b", 11L, 5.0), ("b", 12L, 6.0))).toDF("g", "id", "v")
    val out = Outliers.outliers(df, Seq("g"), "v", k = 2.0)
      .select("g", "id").as[(String, Long)].collect().toSet
    assert(out === Set(("a", 10L)))
  }

  test("single-member group: sigma undefined, never flagged") {
    val df = Seq(("solo", 1L, 42.0)).toDF("g", "id", "v")
    assert(Outliers.outliers(df, Seq("g"), "v", k = 2.0).count() === 0L)
    val z = Outliers.withZscore(df, Seq("g"), "v").select("z").head()
    assert(z.isNullAt(0), "z must be NULL when stddev is undefined")
  }

  test("zero-variance group: constant values never flag") {
    val df = Seq(("c", 1L, 7.0), ("c", 2L, 7.0), ("c", 3L, 7.0)).toDF("g", "id", "v")
    assert(Outliers.outliers(df, Seq("g"), "v", k = 2.0).count() === 0L)
  }

  test("MAD outliers: the spike cannot mask itself (z-score CAN be masked)") {
    // values 8..12 and one 10000: the spike inflates stddev so much its own
    // z ≈ 2.04 — UNDER a k=3 z-score gate. The median/MAD gate is unmoved
    // by the spike (MAD = 1.5 from the inlier spread) and flags it.
    val df = ((1 to 5).map(i => ("a", i.toLong, 7.0 + i)) :+ ("a", 6L, 10000.0)).toDF("g", "id", "v")
    assert(Outliers.outliers(df, Seq("g"), "v", k = 3.0).count() === 0L,
      "sanity: the classical z-score misses a self-masking spike at k=3")
    val out = Outliers.madOutliers(df, Seq("g"), "v", k = 3.0)
      .select("id").as[Long].collect().toSet
    assert(out === Set(6L), "MAD flags exactly the spike")
  }

  test("MAD outliers: zero-MAD (majority-constant) group never flags, never divides by zero") {
    val df = Seq(("c", 1L, 7.0), ("c", 2L, 7.0), ("c", 3L, 7.0), ("c", 4L, 9.0)).toDF("g", "id", "v")
    assert(Outliers.madOutliers(df, Seq("g"), "v", k = 3.0).count() === 0L)
  }

  test("winsorize: tails pin to the exact-percentile fences, interior untouched") {
    // v = 1..5 in group a: p25 = 2.0, p75 = 4.0 (linear interpolation on
    // exact quarter points) → 1 pins to 2, 5 pins to 4, 2..4 unchanged.
    val df = (1 to 5).map(i => ("a", i.toLong, i.toDouble)).toDF("g", "id", "v")
    val out = Outliers.winsorize(df, Seq("g"), "v", 0.25, 0.75)
      .select($"id", $"v_w").as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 2.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0, 5L -> 4.0))
    // groups are independent: a one-member group clamps to itself
    val two = df.unionByName(Seq(("b", 9L, 100.0)).toDF("g", "id", "v"))
    val b = Outliers.winsorize(two, Seq("g"), "v", 0.25, 0.75)
      .filter($"g" === "b").select($"v_w").as[Double].head()
    assert(b === 100.0)
  }
}
