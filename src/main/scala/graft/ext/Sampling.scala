package graft.ext

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training pipelines (SURVEY.md §2b extension
  * surface). Like [[Splits]], determinism is the point: `df.sample()` is
  * partitioning-dependent, so a rerun or a repartition changes the sample;
  * here the sample is a pure function of the data.
  */
object Sampling {

  /** Up to `perStratum` rows per stratum, chosen by md5-order of the key
    * (uniform, engine-portable) with the key itself as the tie-break —
    * the deterministic form of stratified subsampling. One shuffle on the
    * stratum key; stratum skew is bounded by the same AQE skew handling as
    * any window.
    *
    * CONTRACT: `keyCol` must be unique within each stratum. Rows sharing
    * (stratum, key) have identical sort keys, so which one ranks first is
    * partition-arrival order — exactly the instability this operator
    * exists to prevent. Dedup on the key first (A4/A5) if unsure.
    */
  def stratifiedByHash(df: DataFrame, strataCol: String, keyCol: String,
                       perStratum: Int): DataFrame = {
    require(perStratum >= 1)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(keyCol).cast("string").cast("binary")).asc, col(keyCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perStratum)
      .drop("__rn")
  }

  /** Per-group TOKEN-BUDGET subsample: take rows in md5-order of the key
    * until each group's cumulative `weightCol` reaches `budget` — the
    * "N tokens per source" knob of a data recipe, where document counts
    * mean nothing and token counts are what the trainer consumes.
    *
    * A row is kept while the budget is not yet exhausted BEFORE it
    * (`cum − w < budget`), so the budget may be overshot by at most one
    * document — the standard greedy contract (taking partial documents
    * would change their content). Same determinism + uniqueness contract
    * on `keyCol` as [[stratifiedByHash]]; one shuffle on the group key.
    */
  def tokenBudgetPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                          weightCol: String, budget: Long): DataFrame = {
    require(budget > 0)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(keyCol).cast("string").cast("binary")).asc, col(keyCol).asc)
    df.withColumn("__cum", sum(col(weightCol)).over(w))
      .filter(col("__cum") - col(weightCol) < budget)
      .drop("__cum")
  }

  /** CCNet-style quality-tier subsampling (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * LREC 2020): tier the corpus into `rates.length` equal-population
    * buckets by ascending `scoreCol` (CCNet's head/middle/tail by LM
    * perplexity), then keep each tier at its own rate — the standard
    * "keep the best tier whole, thin the worst" recipe knob.
    *
    * Determinism and portability use the exact machinery of the sibling
    * ops: tier fences are EXACT percentiles at j/k via the bounded-state
    * two-round selection ([[graft.ops.QuantileSelect]] — never the
    * whole-column value-histogram state), a row's tier is the number of
    * fences strictly below its score (fence-equal rows take the LOWER
    * tier, tied fences skip labels — [[graft.ops.Profile.equiDepthHistogram]]'s
    * rule exactly), and the keep coin is the [[Splits]] md5-hex-threshold
    * compare on `keyCol`, so a rerun, a repartition, or another engine
    * keeps byte-identical rows. Rate ≥ 1.0 is literal keep-all (the
    * [[Splits.weightedKeep]] boundary rule). Rows with NULL score are
    * outside every percentile band and are dropped.
    *
    * Shape at 100 TB: the fence selection's two bounded-state actions
    * over `df`, then ONE shuffle-free scan (binary-search tier + digest
    * compare, both codegen'd). Same multi-action determinism contract as
    * `equiDepthHistogram` — a caller with a nondeterministic upstream runs
    * `Freeze(df)` on it first.
    *
    * @return surviving rows of `df` plus a `bucket` column (0 = lowest
    *         scores), in the `rates` tier order
    */
  def qualityBucketSample(df: DataFrame, scoreCol: String, keyCol: String,
                          rates: Seq[Double], salt: String = ""): DataFrame = {
    require(rates.nonEmpty && rates.forall(r => r >= 0.0),
      "rates must be non-negative, one per tier")
    val k = rates.length
    val probs = (1 until k).map(j => j.toDouble / k)
    val fences =
      if (probs.isEmpty) Seq.empty
      else graft.ops.QuantileSelect.exactPercentiles(df, scoreCol, probs)
    val distinctF = fences.distinct.sorted
    // distinct-fence index → label counting ALL fences (tie multiplicity)
    val cums = distinctF.scanLeft(0L)((acc, d) => acc + fences.count(_ == d))
    val idx = graft.functions.SortedLowerBound.bucket(
      col(scoreCol).cast("double"), distinctF)
    val bucket =
      if (distinctF.isEmpty) lit(0L)
      else element_at(array(cums.map(lit): _*), idx + 1)
    // per-tier hex thresholds; "g" > every hex digit = keep-all sentinel
    // (a "ffffffff" compare would drop the 1-in-2^32 exact-match keys)
    val thresholds = array(rates.map(r =>
      lit(if (r >= 1.0) "g" else Splits.hexThreshold(r))): _*)
    val h = Splits.hexDigest(col(keyCol), salt)
    df.filter(col(scoreCol).isNotNull)
      .withColumn("bucket", bucket)
      .filter(h < element_at(thresholds, (col("bucket") + 1).cast("int")))
  }

  /** DuckDB render of [[qualityBucketSample]] (same probs, same digest,
    * same thresholds — kept next to the implementation so they cannot
    * drift): emits `SELECT $keyExpr AS $keyAlias, bucket FROM $table`
    * for the surviving rows. `percentile_cont` pairs bit-exactly with the
    * selection's interpolation (the a9/profile_equidepth-proven pairing).
    */
  def qualityBucketSampleOracleSql(table: String, scoreExpr: String,
                                   keyExpr: String, keyAlias: String,
                                   rates: Seq[Double], salt: String = ""): String = {
    val k = rates.length
    val probs = (1 until k).map(j => j.toDouble / k).mkString("[", ",", "]")
    val th = rates.map(r =>
      if (r >= 1.0) "'g'" else s"'${Splits.hexThreshold(r)}'").mkString("[", ",", "]")
    s"""WITH q AS (SELECT percentile_cont($probs)
       |             WITHIN GROUP (ORDER BY CAST($scoreExpr AS DOUBLE)) AS qs FROM $table),
       |b AS (SELECT $keyExpr AS key,
       |        CAST(len(list_filter(q.qs, f -> f < CAST($scoreExpr AS DOUBLE))) AS BIGINT) AS bucket
       |      FROM $table CROSS JOIN q WHERE $scoreExpr IS NOT NULL)
       |SELECT key AS $keyAlias, bucket FROM b
       |WHERE substr(md5(CAST(key AS VARCHAR) || '$salt'), 1, 8) < ($th)[CAST(bucket AS INT) + 1]""".stripMargin
  }
}
