package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Freeze}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling — the hashed-n-gram importance
  * scoring of DSIR (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", NeurIPS 2023): featurize every document as
  * hashed word-bigram counts, estimate bucket distributions over a SOURCE
  * corpus (what you have) and a TARGET corpus (what you want more of), and
  * score each source document by how target-like its n-grams are; training
  * data is then resampled by that score.
  *
  * Two scoring variants:
  *   - [[importanceLogWeights]] — classic DSIR: per-doc sum of per-bucket
  *     log likelihood ratios (≡ the log importance weight of the product
  *     model). Library path; double-valued, so not oracle-gateable (libm
  *     `ln` may differ in the last ulp across engines).
  *   - [[importanceScores]] — the gate-verifiable variant: per-bucket
  *     Laplace-smoothed likelihood ratio scaled to an INTEGER
  *     (`round(1e9·r)`, the lm_bigram_score trick), summed per doc. Sums
  *     of integers are association-order-exact, so the whole pipeline
  *     hash-matches DuckDB. A monotone-per-bucket scoring family, not the
  *     exact log-product ranking — documented trade for verifiability.
  *
  * Bucket hash is the PORTABLE md5 form ([[SimHashPortable]] pattern):
  * first 8 hex digits of `md5(gram)` as a uint32, mod `numBuckets` — both
  * engines compute it identically. A production deployment would swap in
  * `xxhash64(gram) pmod B` (cheaper, same distribution); the plan shape is
  * unchanged.
  *
  * Shape at 100 TB: bucket counts are corpus-wide aggregates keyed by
  * bucket (output bounded by `numBuckets`, never corpus-sized); the ratio
  * table is a B-row join of those two aggregates plus two one-row totals
  * (broadcast); scoring is the corpus n-gram explode broadcast-joined to
  * the B-row table and summed per document — ONE corpus shuffle (doc key),
  * everything else bounded.
  */
object Dsir {

  /** Hashed bucket of a gram string: uint32(md5[0:8]) mod B, portable. */
  private def bucketOf(gram: Column, numBuckets: Int): Column =
    conv(substring(md5(gram.cast("binary")), 1, 8), 16, 10)
      .cast("long") % numBuckets

  /** The ONE scaled-ratio expression (`round(1e9·((ct+1)·(ns+B)) /
    * ((cs+1)·(nt+B)))`) — shared by both scoring paths because it must
    * stay bit-identical to the DuckDB oracle render.
    */
  private def rScaled(cs: Column, ct: Column, ns: Column, nt: Column,
                      numBuckets: Int): Column = {
    val bd = lit(numBuckets.toDouble)
    round(lit(1e9) * ((ct + lit(1.0)) * (ns + bd)) /
      ((cs + lit(1.0)) * (nt + bd))).cast("long")
  }

  /** (doc id, bucket) of every word-bigram instance — the exploded
    * hashed-feature relation both distributions and the scorer derive
    * from.
    */
  private def hashedBigrams(df: DataFrame, idCol: String, textCol: String,
                            numBuckets: Int): DataFrame = {
    val toks = graft.functions.FastTokens.fastTokens(col(textCol))
    val grams = graft.functions.ShingleStrings.shingleStrings(toks, 2)
    df.select(col(idCol).as("id"), explode(grams).as("g"))
      .select(col("id"), bucketOf(col("g"), numBuckets).as("b"))
  }

  /** Scaled-integer likelihood-ratio table: (b, r_scaled) for every bucket
    * seen in the source, where
    * `r = ((ct+1)·(Ns+B)) / ((cs+1)·(Nt+B))` (Laplace-smoothed target /
    * source bucket probabilities) and `r_scaled = round(1e9·r)` — one
    * single-expression double computation from exact integer counts,
    * rendered identically in both dialects.
    */
  def ratioTable(source: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, numBuckets: Int): DataFrame = {
    val s = hashedBigrams(source, idCol, textCol, numBuckets)
    val t = hashedBigrams(target, idCol, textCol, numBuckets)
    // each corpus is EXPLODED and scanned exactly once: the totals come
    // from summing the B-row count relations, not a second corpus pass,
    // and the B-row relations are materialized because both the join and
    // the total read them (a Freeze of ≤B rows)
    val scnt = Freeze(s.groupBy("b").agg(count(lit(1)).as("cs")))
    val tcnt = Freeze(t.groupBy("b").agg(count(lit(1)).as("ct")))
    val stot = scnt.agg(sum(col("cs")).as("ns"))
    val ttot = tcnt.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    scnt
      .join(tcnt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(stot)).crossJoin(broadcast(ttot))
      .select(col("b"), rScaled(col("cs"), col("ct"), col("ns"), col("nt"),
        numBuckets).as("r_scaled"))
  }

  /** Per-document integer importance score over `corpus`:
    * (id, n_grams, w_sum_scaled) — the sum of its bigrams' scaled
    * likelihood ratios. Docs with no bigram (single-token) drop out, like
    * every bigram-family op. The ratio table is bucket-complete for the
    * corpus whenever `corpus ⊆ source` (DSIR's own setting — you score the
    * corpus you estimated the source distribution from); the inner join
    * encodes that contract.
    */
  def importanceScores(corpus: DataFrame, target: DataFrame, idCol: String,
                       textCol: String, numBuckets: Int): DataFrame = {
    val rt = ratioTable(corpus, target, idCol, textCol, numBuckets)
    hashedBigrams(corpus, idCol, textCol, numBuckets)
      .join(broadcast(rt), Seq("b"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(col("r_scaled")).as("w_sum_scaled"))
  }

  /** [[importanceScores]] for DSIR's own setting — the target is a SUBSET
    * of the corpus being scored (`isTarget` a row predicate, e.g. a
    * language or domain flag): the corpus is exploded and hashed ONCE
    * (materialized — three consumers), both bucket distributions come out
    * of a single aggregate (`ct` is the conditional count), the totals
    * from summing its B rows, and scoring re-reads the same frozen
    * relation. One corpus scan + one B-row aggregate + one doc-key
    * shuffle; the general two-corpus form pays three scans.
    */
  def importanceScoresWithin(corpus: DataFrame, isTarget: Column, idCol: String,
                             textCol: String, numBuckets: Int): DataFrame = {
    val toks = graft.functions.FastTokens.fastTokens(col(textCol))
    val grams = graft.functions.ShingleStrings.shingleStrings(toks, 2)
    val hb = Freeze(corpus.select(col(idCol).as("id"), isTarget.as("is_t"), explode(grams).as("g"))
      .select(col("id"), col("is_t"), bucketOf(col("g"), numBuckets).as("b")))
    val cnt = Freeze( // ≤B rows; read by the ratio join AND the totals
      hb.groupBy("b").agg(count(lit(1)).as("cs"),
        count(when(col("is_t"), lit(1))).as("ct")))
    val tot = cnt.agg(sum(col("cs")).as("ns"), sum(col("ct")).as("nt"))
    val rt = cnt.crossJoin(broadcast(tot))
      .select(col("b"), rScaled(col("cs"), col("ct"), col("ns"), col("nt"),
        numBuckets).as("r_scaled"))
    hb.join(broadcast(rt), Seq("b"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(col("r_scaled")).as("w_sum_scaled"))
  }

  /** Classic DSIR log importance weights (double): per-doc sum of
    * `ln(r_b)` over its bigrams. The production scoring path; float sums
    * re-associate across partitions, so rankings are stable but bit-level
    * cross-engine comparison is not meaningful — use
    * [[importanceScores]] for verification.
    */
  def importanceLogWeights(corpus: DataFrame, target: DataFrame, idCol: String,
                           textCol: String, numBuckets: Int): DataFrame = {
    val rt = ratioTable(corpus, target, idCol, textCol, numBuckets)
      .select(col("b"), log(col("r_scaled").cast("double") / lit(1e9)).as("lr"))
    hashedBigrams(corpus, idCol, textCol, numBuckets)
      .join(broadcast(rt), Seq("b"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(col("lr")).as("log_w"))
  }

  /** Deterministic resample: the `m` most target-like documents by scaled
    * score, id as the total-order tie-break (TakeOrderedAndProject shape —
    * never a global sort of the corpus).
    */
  def resampleTop(scores: DataFrame, m: Int): DataFrame =
    scores.orderBy(col("w_sum_scaled").desc, col("id").asc).limit(m)

  /** DuckDB render of [[importanceScores]] over a `documents(doc_id,
    * text)` table with `targetPred` selecting the target rows (same
    * tokenization, same md5 bucket, same single-expression ratio
    * arithmetic — kept beside the implementation so the dialects cannot
    * drift).
    */
  def importanceScoresOracleSql(numBuckets: Int, targetPred: String): String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
       |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-1),
       |         i -> ts[i] || ' ' || ts[i+1])) AS g FROM tok),
       |hb AS (SELECT doc_id, CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % $numBuckets AS BIGINT) AS b FROM bi),
       |tg AS (SELECT doc_id FROM documents WHERE $targetPred),
       |scnt AS (SELECT b, CAST(count(*) AS BIGINT) AS cs FROM hb GROUP BY 1),
       |tcnt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM hb JOIN tg USING (doc_id) GROUP BY 1),
       |stot AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM hb),
       |ttot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM hb JOIN tg USING (doc_id)),
       |rt AS (SELECT b, CAST(round(1e9 * ((coalesce(ct, 0) + 1.0) * (ns + $numBuckets.0)) /
       |         ((cs + 1.0) * (nt + $numBuckets.0))) AS BIGINT) AS r_scaled
       |       FROM scnt LEFT JOIN tcnt USING (b) CROSS JOIN stot CROSS JOIN ttot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |       CAST(sum(r_scaled) AS BIGINT) AS w_sum_scaled
       |FROM hb JOIN rt USING (b) GROUP BY doc_id""".stripMargin
}
