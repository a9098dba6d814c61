package graft.ext

import org.apache.spark.sql.{DataFrame, Freeze, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich et al. 2016's subword
  * algorithm, the tokenizer-training half the [[Vocab]] word-level build
  * doesn't cover): greedy loop of (count adjacent symbol pairs over the
  * word-frequency relation, weighted by word count) → (merge the most
  * frequent pair everywhere). The corpus is touched ONCE (the word-count
  * scan): at 100 TB the word-frequency table is the already-reduced output
  * of that scan (millions of rows, not the corpus), which is exactly why
  * real BPE trainers operate on it — and why the merge loop itself runs
  * driver-side when the vocabulary fits (`driverMaxVocab`), falling back
  * to a distributed round of ONE aggregation + a 1-row argmax collect per
  * merge when it doesn't.
  *
  * Symbol sequences are carried as `(tok)(tok)…` strings: each token is
  * wrapped in its own delimiters, so merging pair (a,b) is a plain
  * substring replace of `(a)(b)` → `(ab)` in which ADJACENT occurrences
  * share no characters — `(a)(b)(a)(b)` merges both in one left-to-right
  * pass, the greedy non-overlapping semantics BPE specifies and BOTH
  * engines' non-regex `replace` implement identically (a space-separated
  * rendering loses the shared boundary space to the first match, silently
  * skipping every second adjacent occurrence; regex lookarounds would fix
  * that but DuckDB's RE2 has none — this encoding needs neither).
  * Tie-break on equal pair counts: lexicographic, total order, both
  * dialects.
  */
object Bpe {

  /** Lowercased alphabetic word frequencies — the trainer's input relation. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .select(lower(col("w")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** The character-wrapped initial sequence: "low" → "(l)(o)(w)" — the
    * [[graft.functions.WrapChars]] kernel (one pass; the split/transform/
    * array_join chain allocated per char and cost ~0.7 s of the encode
    * scan at sf0.1).
    */
  private val seq0 = graft.functions.WrapChars.wrapChars(col("word"))

  /** Adjacent symbol pairs of a wrapped sequence, as "a b" strings. */
  private def pairsOf(seqCol: String) = {
    val toks = split(expr(s"substring($seqCol, 2, length($seqCol) - 2)"), "\\)\\(")
    graft.functions.ShingleStrings.shingleStrings(toks, 2)
  }

  /** Learn `numMerges` merge rules from the corpus: (rank, pair) with
    * pair as "a b" in merge order.
    */
  def trainMerges(spark: SparkSession, df: DataFrame, textCol: String,
                  numMerges: Int, driverMaxVocab: Long = 1L << 21): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    var words = Freeze(wordCounts(df, textCol)
      .select(col("word"), col("cnt"), seq0.as("seq")))
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    // The corpus scan is done — `words` is the REDUCED word-frequency
    // relation (vocabulary-sized regardless of corpus size). When it fits
    // the driver, run the merge loop in memory: k distributed rounds of
    // (tiny aggregate + argmax collect + checkpoint) are pure per-iteration
    // machinery — same size-gated-driver-with-distributed-fallback shape as
    // the dedup union-find. Bit-identical to the distributed loop: integer
    // pair counts, the same left-to-right non-overlapping String.replace
    // semantics as Spark's replace(), and the lexicographic tie-break is
    // byte order either way (pairs are ASCII by the wordCounts filter).
    if (words.count() <= driverMaxVocab) {
      val vocab = words.select("cnt", "seq").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      var seqs = vocab.map(_._2)
      var exhausted = false
      for (i <- 1 to numMerges if !exhausted) {
        val totals = scala.collection.mutable.HashMap.empty[String, Long]
        var w = 0
        while (w < seqs.length) {
          val toks = seqs(w).substring(1, seqs(w).length - 1).split("\\)\\(")
          val cnt = vocab(w)._1
          var k = 0
          while (k < toks.length - 1) { // overlapping bigrams, like pairsOf
            val pg = toks(k) + " " + toks(k + 1)
            totals.update(pg, totals.getOrElse(pg, 0L) + cnt)
            k += 1
          }
          w += 1
        }
        if (totals.isEmpty) exhausted = true // every word fully merged
        else {
          val best = totals.minBy { case (pg, total) => (-total, pg) }._1
          rules += (i -> best)
          val Array(a, b) = best.split(" ", 2)
          seqs = seqs.map(_.replace(s"($a)($b)", s"($a$b)"))
        }
      }
    } else {
      var exhausted = false
      for (i <- 1 to numMerges if !exhausted) {
        val top = words
          .select(col("cnt"), explode(pairsOf("seq")).as("pg"))
          .groupBy("pg").agg(sum(col("cnt")).as("total"))
          .orderBy(desc("total"), asc("pg")).limit(1)
          .collect()
        if (top.isEmpty) exhausted = true // every word fully merged: stop early
        else {
          val best = top(0).getString(0)
          rules += (i -> best)
          val Array(a, b) = best.split(" ", 2)
          // tokens are alphabetic by construction — safe to inline in the expr
          words = Freeze(words
            .withColumn("seq", expr(s"replace(seq, '($a)($b)', '($a$b)')")))
        }
      }
    }
    import spark.implicits._
    rules.toSeq.toDF("rank", "pair")
  }

  /** The inference half: apply learned merge rules to every document and
    * count resulting subword units — entirely SCAN-SIDE (the rules are
    * literals baked into a replace chain; no shuffle until the per-doc
    * sum), which is the deployment shape: a trained tokenizer is a
    * constant, encoding is a map. Alphabetic words (the trainer's domain)
    * go through the merge chain; any other token counts as one unit.
    * Output: (doc_id, n_subwords).
    */
  def encodeCounts(df: DataFrame, idCol: String, textCol: String,
                   rules: Seq[String]): DataFrame = {
    val w = lower(col("w"))
    val wrapped = graft.functions.WrapChars.wrapChars(w)
    val mergedSeq = rules.foldLeft[org.apache.spark.sql.Column](wrapped) {
      (seq, rule) =>
        val Array(a, b) = rule.split(" ", 2)
        org.apache.spark.sql.functions.replace(
          seq, lit(s"($a)($b)"), lit(s"($a$b)"))
    }
    val units = when(w.rlike("^[a-z]+$"),
      length(mergedSeq) - length(
        org.apache.spark.sql.functions.replace(mergedSeq, lit("("), lit(""))))
      .otherwise(lit(1))
    df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("w"))
      .select(col(idCol), units.as("n"))
      .groupBy(idCol).agg(sum(col("n")).as("n_subwords"))
  }

  /** DuckDB render of [[encodeCounts]] chained onto the training CTEs:
    * the merge rules come from the SAME unrolled b1..bK scalar subqueries,
    * so one SQL statement trains and encodes — gate-ready.
    */
  def encodeCountsOracleSql(numMerges: Int): String = {
    val train = trainMergesOracleSql(numMerges)
    val withCtes = train.substring(0, train.lastIndexOf("SELECT 1 AS rank"))
      .trim.stripSuffix(",")
    def bestRef(i: Int) = s"(SELECT pg FROM b$i)"
    val wrapped =
      "array_to_string(list_transform(string_split(lower(w), ''), c -> '(' || c || ')'), '')"
    val mergedSeq = (1 to numMerges).foldLeft(wrapped) { (seq, i) =>
      s"""replace($seq,
         |  '(' || split_part(${bestRef(i)}, ' ', 1) || ')(' || split_part(${bestRef(i)}, ' ', 2) || ')',
         |  '(' || replace(${bestRef(i)}, ' ', '') || ')')""".stripMargin
    }
    s"""$withCtes,
       |tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |        FROM documents),
       |enc AS (SELECT doc_id,
       |  CASE WHEN regexp_matches(lower(w), '^[a-z]+$$') THEN
       |    length($mergedSeq) - length(replace($mergedSeq, '(', ''))
       |  ELSE 1 END AS n FROM tok)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_subwords FROM enc GROUP BY doc_id
       |""".stripMargin
  }

  /** DuckDB render of the SAME training loop (iterations unrolled), over a
    * `documents(text)` table; emits (rank, pair) like [[trainMerges]].
    * Every iteration CTE is `AS MATERIALIZED`: each w_i is referenced by
    * three downstream CTEs, and DuckDB's default inlining re-executes the
    * whole chain per reference — exponential in iterations (measured 103 s
    * for 6 merges at sf0.1; materialized: sub-second).
    */
  def trainMergesOracleSql(numMerges: Int): String = {
    def bestRef(i: Int) = s"(SELECT pg FROM b$i)"
    val iters = (1 to numMerges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS MATERIALIZED (SELECT pg, CAST(sum(cnt) AS BIGINT) AS total FROM (
         |  SELECT cnt, unnest(list_transform(generate_series(1, len(ts) - 1),
         |           k -> ts[k] || ' ' || ts[k + 1])) AS pg
         |  FROM (SELECT cnt, regexp_split_to_array(substr(seq, 2, length(seq) - 2), '\\)\\(') AS ts
         |        FROM $prev) x) y GROUP BY 1),
         |b$i AS MATERIALIZED (SELECT pg FROM p$i ORDER BY total DESC, pg LIMIT 1),
         |w$i AS MATERIALIZED (SELECT word, cnt, replace(seq,
         |    '(' || split_part(${bestRef(i)}, ' ', 1) || ')(' || split_part(${bestRef(i)}, ' ', 2) || ')',
         |    '(' || replace(${bestRef(i)}, ' ', '') || ')') AS seq FROM $prev)""".stripMargin
    }.mkString(",\n")
    val out = (1 to numMerges)
      .map(i => s"SELECT $i AS rank, ${bestRef(i)} AS pair")
      .mkString(" UNION ALL ")
    s"""WITH words AS (
       |  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS w
       |    FROM documents) t
       |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT word, cnt,
       |  array_to_string(list_transform(string_split(word, ''), c -> '(' || c || ')'), '') AS seq
       |  FROM words),
       |$iters
       |$out
       |""".stripMargin
  }
}
