package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2a A1–A5 + §2b approx cardinality).
  *
  * All group-bys compile to Spark `HashAggregate` with map-side partial
  * aggregation — at 100 TB the shuffle carries one row per (partition, key),
  * not per input row.
  */
object AggOps {

  /** A1 — group-by hash aggregate (`transform_stocks_job.py:177-180`):
    * per-sector avg(close) + sum(volume), generalized to any key/agg list.
    */
  def groupAgg(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** A4 — full-row dedup (`transform_news_job.py:121`). */
  def distinctRows(df: DataFrame): DataFrame = df.dropDuplicates()

  /** A5 — keyed dedup with a deterministic survivor: first row per key
    * under an explicit total order, via `row_number` (SURVEY.md §2a A5
    * note; the reference keeps an arbitrary survivor). The `orderBy` must be a
    * total order (include a unique tie-break column) for determinism.
    *
    * Scale note: one shuffle on `keys` + in-partition sort; equivalent cost
    * to `dropDuplicates(keys)` but reproducible, so oracle-comparable.
    */
  def dedupByKeyOrdered(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** §2b — distinct cardinality at scale: HLL++ sketch, no exact-distinct
    * shuffle of every value. `rsd` = relative standard deviation.
    */
  def approxDistinct(df: DataFrame, keys: Seq[String], target: String, rsd: Double = 0.05): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(approx_count_distinct(col(target), rsd).alias(s"approx_${target}_count"))

  /** §2b — MERGEABLE cardinality sketches (Apache DataSketches HLL via
    * `hll_sketch_agg`): one binary sketch per fine-grained group, stored as
    * an ordinary column.
    *
    * This is the incremental pattern `approx_count_distinct` can't give
    * you: at 100 TB you sketch each day/partition ONCE at ingest (one scan
    * of the new data only), persist the kilobyte-sized sketches, and answer
    * any coarser rollup later by unioning sketches — never rescanning the
    * raw data. Union is exact over the sketch state, so a rollup of daily
    * sketches equals the sketch of the union (asserted in AggWindowSpec).
    */
  def hllSketches(df: DataFrame, keys: Seq[String], target: String,
                  lgConfigK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(target), lit(lgConfigK)).as("hll_sketch"))

  /** Roll fine sketches up to `rollupKeys`: union-merge + estimate. */
  def hllMergeEstimate(sketches: DataFrame, rollupKeys: Seq[String]): DataFrame =
    sketches.groupBy(rollupKeys.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("hll_sketch"))).as("approx_distinct"))

  /** §2b — MERGEABLE quantile sketches (DataSketches KLL via
    * [[graft.functions.QuantileSketchKll]]): the quantile analogue of
    * [[hllSketches]]. Spark has no storable/mergeable quantile state
    * (`approx_percentile` keeps its sketch internal), so at 100 TB a
    * latency-percentile rollup either rescans raw data or keeps these
    * kilobyte KLL sketches per fine group and merges upward. Rank error is
    * ε ≈ 1.65 % at the default k=200 regardless of n.
    */
  def kllSketches(df: DataFrame, keys: Seq[String], target: String,
                  k: Int = 200): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(graft.functions.QuantileSketchKll
        .kllSketchAgg(col(target), k).as("kll_sketch"))

  /** Roll fine KLL sketches up to `rollupKeys` and extract quantile values
    * at the given normalized ranks (one `array<double>` per group).
    */
  def kllRollupQuantiles(sketches: DataFrame, rollupKeys: Seq[String],
                         ranks: Seq[Double], k: Int = 200): DataFrame = {
    import graft.functions.QuantileSketchKll._
    sketches.groupBy(rollupKeys.map(col): _*)
      .agg(kllQuantiles(kllMergeAgg(col("kll_sketch"), k), ranks).as("quantiles"))
  }

  /** §2b — theta sketches over an integral id column: mergeable
    * distinct-count state that also supports set INTERSECTION / DIFFERENCE
    * (see [[graft.functions.ThetaSketchOps]] for why HLL can't answer
    * overlap questions). One binary sketch per group.
    */
  def thetaSketches(df: DataFrame, keys: Seq[String], target: String,
                    lgNomEntries: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(graft.functions.ThetaSketchOps
        .thetaSketchAgg(col(target), lgNomEntries).as("theta_sketch"))

  /** Trailing-window distinct counts from per-bucket theta sketches: the
    * dashboard query plain SQL cannot slide — COUNT(DISTINCT) is
    * NON-additive, so "distinct users in the trailing k days" classically
    * recounts every window from raw events (k× the scan) — while sketch
    * union IS additive: sketch each bucket once from one scan of the raw
    * data, then a RANGE window over the tiny bucket relation unions k
    * sketches per row. The window is unpartitioned by design: its input is
    * one row per bucket (days, not events), trivially safe at any corpus
    * scale — the same justified-SinglePartition posture as the ANN recall
    * gates. Estimates are exact under `lgNomEntries` saturation.
    *
    * Input: (bucketCol ascending-comparable numeric, idCol long-castable).
    * Output: (bucket, trailing_distinct) — one row per bucket,
    * RANGE frame [bucket − trailing + 1, bucket] (calendar semantics:
    * bucket GAPS count toward the trailing span).
    */
  def thetaTrailingDistinct(df: DataFrame, bucketCol: String, idCol: String,
                            trailing: Int, lgNomEntries: Int = 12): DataFrame = {
    import graft.functions.ThetaSketchOps._
    require(trailing >= 1, "trailing must be >= 1")
    val buckets = df.groupBy(col(bucketCol).as("bucket"))
      .agg(thetaSketchAgg(col(idCol), lgNomEntries).as("__sk"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket")).rangeBetween(-(trailing - 1), 0)
    buckets
      .withColumn("trailing_distinct",
        round(thetaEstimate(thetaUnionAgg(col("__sk"), lgNomEntries).over(w)))
          .cast("long"))
      .drop("__sk")
  }

  /** Pairwise audience overlap from per-group theta sketches: for every
    * unordered group pair (a < b), |A∩B|, |A\B| and |A∪B| estimates —
    * EXACT while sketches stay under their nominal entries, bounded-error
    * beyond. The self-join is over the tiny sketch table (one row per
    * group), broadcast by AQE/stats; the raw data is never rescanned —
    * that is the entire point of sketch-typed state.
    */
  def thetaOverlaps(sketches: DataFrame, keyCol: String): DataFrame = {
    import graft.functions.ThetaSketchOps._
    val a = sketches.select(col(keyCol).as("key_a"), col("theta_sketch").as("sk_a"))
    val b = sketches.select(col(keyCol).as("key_b"), col("theta_sketch").as("sk_b"))
    a.join(b, col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"),
        round(thetaIntersectEstimate(col("sk_a"), col("sk_b")))
          .cast("long").as("overlap"),
        round(thetaANotBEstimate(col("sk_a"), col("sk_b")))
          .cast("long").as("only_a"),
        round(thetaEstimate(col("sk_a")) +
          thetaANotBEstimate(col("sk_b"), col("sk_a")))
          .cast("long").as("union_n"))
  }

  /** Top-k rows per group under (score desc, id asc) via the
    * [[graft.functions.TopKPairs]] bounded-heap aggregate — the scale form
    * of `WindowOps.topNPerGroup`: the window form sorts EVERY row of every
    * group through the exchange; this carries at most k entries per group
    * per mapper and never sorts the full input. Output: group keys +
    * (idCol, scoreCol, rn), rn 1-based, same (score desc, id asc) order as
    * the window form.
    *
    * Contract limits (enforced): ids must be an INTEGRAL type (they ride
    * the heap as longs and are cast back; strings/decimals would corrupt
    * silently) and scores must be numeric — scores are RANKED AND RETURNED
    * as double, so float/double inputs round-trip exactly while a
    * decimal score column comes back as double (beyond 2^53 of decimal
    * precision, use the window form). Rows with NULL score are dropped
    * (never top-k material).
    */
  def topKByScore(df: DataFrame, groupKeys: Seq[String], scoreCol: String,
                  idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"topKByScore requires an integral id column, got ${idType.sql} for '$idCol'")
    require(df.schema(scoreCol).dataType.isInstanceOf[NumericType],
      s"topKByScore requires a numeric score column, got ${df.schema(scoreCol).dataType.sql} for '$scoreCol'")
    df.groupBy(groupKeys.map(col): _*)
      .agg(graft.functions.TopKPairs.topKPairs(
        col(scoreCol).cast("double"), col(idCol).cast("long"), k).as("__graft_tk"))
      .select(groupKeys.map(col) :+
        posexplode(col("__graft_tk")).as(Seq("__graft_pos", "__graft_e")): _*)
      .select(groupKeys.map(col) ++ Seq(
        col("__graft_e.id").cast(idType).as(idCol),
        col("__graft_e.score").as(scoreCol),
        (col("__graft_pos") + 1).as("rn")): _*)
  }

  /** Incremental aggregate maintenance: per-key mergeable state
    * (n, sum, min, max — avg derives as sum/n) built once per batch and
    * MERGED into the standing state, so a daily delta updates a 100 TB
    * rollup at delta cost instead of a full recompute. The same
    * sketch-once-merge-forever contract as [[hllSketches]], realized with
    * plain algebraic aggregates.
    */
  def buildAggState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(col(valueCol)).as("n"), sum(col(valueCol)).as("s"),
        min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))

  /** Merge two states built by [[buildAggState]] over the same keys —
    * associative and commutative, so states chain across any number of
    * delta batches. Keys present in only one side pass through unchanged
    * (count/sum of the absent side contribute nothing).
    */
  def mergeAggState(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b).groupBy(keys.map(col): _*)
      .agg(sum(col("n")).cast("long").as("n"), sum(col("s")).as("s"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))
}
