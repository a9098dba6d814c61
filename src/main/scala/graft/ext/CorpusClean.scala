package graft.ext

import org.apache.spark.sql.{DataFrame, Freeze}
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning for training data — the composed pipeline a
  * reference user actually runs, built from the individually-gated
  * operators: quality gate → language keep-list → near-dup removal.
  *
  * Stage order matters at 100 TB: the per-row quality/language predicates
  * are shuffle-free scans that shrink the corpus BEFORE the only expensive
  * stage (the near-dup pair join) sees it. Near-dup detection runs among
  * the survivors — removing a low-quality doc must not also remove its
  * high-quality near-duplicate's canonical status.
  */
object CorpusClean {

  /** @param minTokens   keep docs with at least this many whitespace tokens
    * @param maxPunct    keep docs with punctuation ratio at most this
    * @param langs       keep docs whose predicted language is in this set
    * @param n           shingle width for near-dup detection
    * @param threshold   Jaccard near-dup threshold
    * @return the surviving rows of `df` (original columns)
    */
  def run(df: DataFrame, idCol: String, textCol: String,
          minTokens: Int, maxPunct: Double,
          langs: Seq[String], n: Int, threshold: Double): DataFrame = {
    val t = col(textCol)
    // materialize the (much smaller) surviving corpus once: the near-dup
    // stage consumes it three times (both sides of the pair self-join +
    // the survivor join), and each re-read would re-run the full
    // quality/language scoring scan. At production scale this is the
    // stage boundary you'd write to a table; [[Freeze]] is the
    // single-job equivalent.
    val kept = Freeze(df
      .filter(TextOps.tokenCount(t) >= minTokens)
      // punctRatio is NULL for empty text, and NULL <= maxPunct filters out
      .filter(TextOps.punctRatio(t) <= maxPunct)
      .filter(TextOps.languageId(t, TextOps.defaultLexicons).isin(langs: _*)))
    Dedup.dropNearDups(kept, idCol, textCol, n, threshold)
  }

  /** Rejection funnel — the "why did my corpus shrink" report every
    * production cleaning pipeline logs: label each document with the
    * FIRST rule that rejects it, in [[run]]'s own stage order (empty →
    * token floor → punctuation cap → language allow-list), and count per
    * reason. `kept` counts the cleaning survivors BEFORE near-dup removal
    * (dedup kills are pair-dependent, not a per-row reason). The first
    * branch claims NULL text as well as empty: every [[run]] filter
    * rejects NULL (a NULL comparison is never TRUE), so without it a NULL
    * document would fall through every when() to `kept` while the
    * pipeline it explains drops the row. With NULL and empty settled
    * first, [[TextOps.punctRatio]]'s NULL case (empty text) is covered
    * too, every later comparison is non-NULL, and the CASE is total. One
    * shuffle-free scan + a reason-cardinality aggregate at any scale.
    */
  def rejectionFunnel(df: DataFrame, textCol: String,
                      minTokens: Int, maxPunct: Double,
                      langs: Seq[String]): DataFrame = {
    val t = col(textCol)
    val reason = when(t.isNull || length(t) === 0, "empty")
      .when(TextOps.tokenCount(t) < minTokens, "too_short")
      .when(TextOps.punctRatio(t) > maxPunct, "too_punctuated")
      .when(!TextOps.languageId(t, TextOps.defaultLexicons).isin(langs: _*),
        "lang_blocked")
      .otherwise("kept")
    df.select(reason.as("reason"))
      .groupBy("reason").agg(count(lit(1)).as("n"))
  }

  /** Gopher-style rule battery (Rae et al. 2021 §A1.1, the subset
    * expressible without line structure): token-count window, mean-token-
    * length window, and the repeated-2-gram cap. Every rule is a per-row
    * column predicate — one shuffle-free scan at any scale. Docs with < 2
    * tokens fail the token window before the (NULL) repetition rule can
    * bite, so the conjunction is total.
    */
  def gopherQualityFilter(df: DataFrame, textCol: String,
                          minTokens: Int = 50, maxTokens: Int = 100000,
                          minAvgTokLen: Double = 3.0, maxAvgTokLen: Double = 10.0,
                          maxDup2Frac: Double = 0.2): DataFrame = {
    val t = col(textCol)
    val nTok = TextOps.tokenCount(t)
    // same mean-token-length definition as qualityMetrics: separators are
    // single spaces, so total token chars = chars - (n_tokens - 1)
    val avgLen = (length(t) - (nTok - lit(1))).cast("double") / nTok
    df.filter(nTok >= minTokens && nTok <= maxTokens)
      .filter(avgLen >= minAvgTokLen && avgLen <= maxAvgTokLen)
      .filter(TextOps.repeatedNgramFrac(t, 2) <= maxDup2Frac)
  }
}
