package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (SURVEY.md §2b):
  * tokenization, n-gram shingling, quality scoring, language-ID heuristic,
  * and document fingerprinting.
  *
  * Everything is a column expression over built-ins (`split`, `transform`,
  * `sequence`, `concat_ws`, `md5`) — no UDFs, so plans stay codegen-friendly
  * and distribute trivially: per-row work, no shuffle, scales linearly with
  * input splits at 100 TB.
  */
object TextOps {

  /** Whitespace tokenization (leading/trailing space trimmed first so no
    * empty edge tokens).
    */
  def tokens(text: Column): Column = graft.functions.FastTokens.fastTokens(text)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-unit pattern: letter runs | digit runs | non-space
    * punctuation runs — the RE2-safe skeleton of GPT-2's pre-tokenizer
    * (which needs lookahead, unavailable in RE2, so the oracle-comparable
    * approximation drops it). Counting these units tracks BPE token counts
    * far better than whitespace words on code/punctuated text.
    */
  val BpeishPattern = "[A-Za-zÀ-ÿ]+|[0-9]+|[^A-Za-z0-9À-ÿ\\s]+"

  /** Sub-word unit count under [[BpeishPattern]]. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Contiguous word n-grams ("shingles"), space-joined. Empty array when
    * the document has fewer than `n` tokens (or NULL text). Native one-pass
    * kernel — see [[graft.functions.ShingleStrings]] for why not the
    * interpreted `transform`/`slice`/`concat_ws` HOF chain.
    */
  def shingles(text: Column, n: Int): Column =
    coalesce(graft.functions.ShingleStrings.shingleStrings(tokens(text), n),
      array().cast("array<string>"))

  /** Punctuation-character ratio, NULL for empty text (the ANSI
    * DIVIDE_BY_ZERO guard). One definition shared by [[qualityMetrics]] and
    * [[CorpusClean]] so the two gates cannot de-sync on the character
    * class.
    */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double")
        / length(text))

  /** Simple quality metrics: char/token counts, mean token length, and the
    * ratio of punctuation chars. All integer-derived single divisions —
    * bit-exact across engines for oracle comparison.
    */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.withColumn("n_chars_m", length(t))
      .withColumn("n_tokens", size(toks))
      .withColumn("avg_token_len",
        (length(t) - (size(toks) - lit(1))).cast("double") / size(toks))
      .withColumn("punct_ratio", punctRatio(t))
  }

  /** Stopword-ratio score against a lexicon: fraction of tokens that are
    * lexicon members. Membership via the native
    * [[graft.functions.LexiconHits]] kernel (hash probe per token, not an
    * interpreted per-token array scan) — no join, no shuffle.
    */
  def lexiconRatio(text: Column, lexicon: Seq[String]): Column = {
    val ts = tokens(text)
    graft.functions.LexiconHits.hits(ts, lexicon).cast("double") / size(ts)
  }

  /** Language-ID n-gram/stopword heuristic: score each candidate language by
    * its marker-token hit count; winner = highest score, ties broken by the
    * declaration order of `lexicons` (deterministic, oracle-reproducible).
    * A real pipeline would plug a trained model here; the operator shape
    * (per-row scoring, no shuffle) is what matters at scale.
    */
  def languageId(text: Column, lexicons: Seq[(String, Seq[String])]): Column = {
    val ts = tokens(text)
    val scores = lexicons.map { case (lang, words) =>
      lang -> graft.functions.LexiconHits.hits(ts, words)
    }
    // fold right-to-left so earlier languages win ties
    scores.reverse.tail.foldLeft(
      (lit(scores.reverse.head._1), scores.reverse.head._2)) {
      case ((langAcc, scoreAcc), (lang, score)) =>
        (when(score >= scoreAcc, lit(lang)).otherwise(langAcc),
         when(score >= scoreAcc, score).otherwise(scoreAcc))
    }._1
  }

  /** Default marker lexicons for the five testdata languages. */
  val defaultLexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和"),
  )

  /** PII scrub patterns — deliberately RE2-safe (no backrefs, no
    * lookaround) so Java regex and DuckDB's RE2 agree byte-for-byte; the
    * oracle gate depends on that agreement.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?\\d[\\d()\\- ]{6,}\\d"

  /** PII redaction for training corpora: emails then phone-number spans
    * replaced with stable tags. Pure per-row regexp_replace — codegen'd,
    * no shuffle, linear at 100 TB.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  /** First http(s) URL in the document ('' when none) — the scalar probe
    * for URL-based dedup/filtering. `regexp_extract_all` is the list form;
    * the scalar keeps oracle comparison engine-safe.
    */
  def firstUrl(text: Column): Column =
    regexp_extract(text, "https?://[^ \\t\\n]+", 0)

  /** Fraction of repeated word n-grams in the document:
    * `1 - distinct(n-grams) / total(n-grams)`, NULL when the doc has fewer
    * than `n` tokens. The Gopher/MassiveText repetition signal (Rae et al.
    * 2021, §A1.1): high values flag boilerplate and degenerate generations.
    * Pure per-row column expression — no shuffle, linear at 100 TB.
    */
  def repeatedNgramFrac(text: Column, n: Int): Column = {
    val sh = shingles(text, n)
    when(size(sh) > 0,
      lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh))
  }

  /** Per-document top-`k` terms by TF-IDF (smooth-free idf = ln(N/df)).
    *
    * Shape at scale: one shuffle to (doc, term) counts, one term-keyed
    * aggregate for document frequency (computed from the tf relation, which
    * is already deduped — never re-shuffles the raw token stream), corpus
    * size joined in as a broadcast scalar, and a per-doc top-k AGGREGATE:
    * each doc's scored terms are collected, comparator-sorted and sliced
    * in-group — a window row_number here would shuffle AND globally sort
    * every scored term; the aggregate's state is one doc's own terms
    * (bounded by document length) and there is no sort node in the plan.
    * Ranking uses the ROUNDED score (6 dp) so a 1-ulp `ln` difference
    * between engines cannot flip the order.
    *
    * Output: (doc_id, term, tfidf, rank), rank 1-based.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // One explicit exchange on the term carries the whole pipeline:
    // hash-partitioning on `term` already co-locates every (doc_id, term)
    // group, so the tf aggregate, the document-frequency aggregate, AND the
    // tf ⋈ dfreq join all plan with zero further exchanges (the former
    // shape shuffled the tf relation three times — once on (doc, term),
    // once re-keyed on term for dfreq, once more for the join).
    val stream = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .repartition(col("term"))
    val tf = stream.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    // shuffle_hash (build = dfreq, vocab-granularity): a broadcast here
    // would execute the dfreq subtree as a separate job and re-run the
    // stream exchange; a sort-merge would sort the full tf relation
    val scored = tf.join(dfreq.hint("shuffle_hash"), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
    // per-doc top-k via the bounded TopKTerms heap aggregate: O(k) state
    // per group with map-side partials (the former collect_list form held
    // every scored term per doc and array_sorted the lot to slice 3);
    // (tfidf desc, term asc) is the heap's own total order, binary UTF-8
    // term comparison = Spark's string sort, so ranks are unchanged.
    scored.groupBy("doc_id")
      .agg(graft.functions.TopKTerms.topKTerms(
        col("tfidf"), col("term"), k).as("__ts"))
      .select(col("doc_id"), posexplode(col("__ts")))
      .select(col("doc_id"), col("col.term").as("term"),
        col("col.score").as("tfidf"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Chunk documents into fixed-width token windows with stride — the
    * context-window slicer of a training-data pipeline. Chunk k covers
    * tokens [1 + k*stride, 1 + k*stride + width); the tail chunk may be
    * short; a chunk starts at every stride step while its start is within
    * the document. Pure generator + codegen'd `slice` per row — no shuffle,
    * output rows ≈ len/stride per doc, linear at 100 TB.
    *
    * Output: (doc_id, chunk_idx, chunk, n_tokens), chunk_idx 0-based.
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0, "width and stride must be positive")
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
      .select(col("doc_id"), col("ts"),
        posexplode(sequence(lit(1), size(col("ts")), lit(stride))).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("ts"), col("start"), lit(width))).as("chunk"),
        size(slice(col("ts"), col("start"), lit(width))).cast("long").as("n_tokens"))
  }

  /** Fraction of the document's characters covered by its most frequent
    * word 2..n-gram (count × gram length / total chars) — the other half of
    * the Gopher/MassiveText repetition battery ([[repeatedNgramFrac]] is the
    * duplicate-fraction half). Ties broken to the lexicographically smallest
    * gram so the winner is deterministic cross-engine. NULL when the doc has
    * no n-grams.
    *
    * Shape: ZERO shuffles. The top gram is per-row arithmetic — sort the
    * doc's own shingle array and take the longest equal-run (first run wins
    * a tie, which IS the smallest gram in a sorted array). The previous
    * explode → (doc, gram) count aggregate → per-doc top-1 window shuffled
    * the whole exploded n-gram relation twice and sorted it; a document's
    * mode n-gram never needed to leave the document's row.
    */
  def topNgramCharFrac(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sorted = sort_array(shingles(col(textCol), n))
    val zero = struct(
      lit(null).cast("string").as("prev"), lit(0L).as("run"),
      lit(null).cast("string").as("best"), lit(0L).as("best_run"))
    val walk = aggregate(sorted, zero, (acc, g) => {
      // run length of the current gram; prev is NULL on the first element,
      // so the equality is NULL → otherwise(1) starts the first run
      val run = when(acc.getField("prev") === g, acc.getField("run") + 1L)
        .otherwise(1L)
      struct(g.as("prev"), run.as("run"),
        when(run > acc.getField("best_run"), g)
          .otherwise(acc.getField("best")).as("best"),
        when(run > acc.getField("best_run"), run)
          .otherwise(acc.getField("best_run")).as("best_run"))
    })
    df.select(col(idCol).as("doc_id"), length(col(textCol)).as("n_chars"),
        walk.as("__w"))
      .select(col("doc_id"),
        round((col("__w.best_run") * length(col("__w.best"))).cast("double")
          / col("n_chars"), 6).as("top_gram_char_frac"))
  }

  /** Document fingerprint: digest of the whitespace-normalized, lowercased
    * text. Whitespace runs collapse to single spaces so trivial reflows map
    * to the same fingerprint (the rolling-hash idea, realized with a
    * codegen'd digest every engine reproduces).
    */
  /** Corpus-level repeated-line removal — the C4/RefinedWeb boilerplate
    * step: a line occurring in ≥ `maxDocFreq` DISTINCT documents
    * (navigation, cookie banners, copyright footers) is deleted from every
    * document; surviving lines are reassembled in original order. Documents
    * whose every line was boilerplate stay as rows with `text_clean = ""`
    * (dropping them is a separate policy decision — compose with a filter).
    *
    * Shape at 100 TB: explode to (doc, pos, line), one distinct+count
    * aggregate keyed on the line to find hot lines (partial-aggregated,
    * and the hot set is tiny — boilerplate by definition repeats), an
    * anti-join against it, and one per-doc reassembly aggregate. Shuffles
    * are keyed on line then doc id; nothing driver-side.
    */
  def removeRepeatedLines(df: DataFrame, idCol: String, textCol: String,
                          maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 2, "maxDocFreq < 2 would delete every line")
    val lines = df.select(col(idCol).as(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val hot = lines.select(col(idCol), col("line")).distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") >= maxDocFreq)
      .select(col("line").as("__hot_line"))
    // Mark hot lines with a LEFT join and let collect_list's skip-null
    // contract drop them inside the per-doc aggregate. A doc whose EVERY
    // line is hot still keeps its group row (empty array → ""), so no join
    // back onto `df` to resurrect all-boilerplate docs — one exchange fewer
    // than the former anti-join + left-join-back shape. The hot relation is
    // tiny BY CONSTRUCTION (boilerplate repeated across ≥maxDocFreq docs)
    // but hangs off aggregates whose size estimate is derived from the
    // scan, so the broadcast is pinned explicitly rather than left to the
    // estimate — an SMJ here would sort the full line relation.
    lines.join(broadcast(hot), col("line") === col("__hot_line"), "left")
      .groupBy(col(idCol))
      // collect_list order is partition-arbitrary: sort by the carried
      // position before joining back into text
      .agg(array_join(expr(
        "transform(array_sort(collect_list(CASE WHEN __hot_line IS NULL" +
          " THEN struct(pos, line) END)), x -> x.line)"),
        "\n").as("text_clean"))
  }

  def fingerprint(text: Column): Column =
    md5(graft.functions.CollapseWhitespace.collapseWs(lower(trim(text))).cast("binary"))

  /** Per-document token (Shannon) entropy in bits — the low-entropy screen
    * that catches keyword-stuffed / template / gibberish pages that length
    * and punctuation ratios miss. For token counts c_t over n total tokens:
    *
    *   H = -Σ p_t log2 p_t  =  log2(n) - Σ c_t·log2(c_t) / n
    *
    * A document's entropy depends on that one document only, so the whole
    * computation is a scan-side projection through the
    * [[graft.functions.TokenEntropy]] kernel — zero shuffles, linear in
    * corpus size, embarrassingly parallel at any scale. (The former
    * formulation exploded the token stream and paid two keyed shuffles —
    * (doc, token) counts, then a per-doc rollup — for a per-row value.)
    * Output column `entropy`, rounded to 4 (the Σ is re-associated float
    * addition, engine sum order differs).
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      round(graft.functions.TokenEntropy.entropy(tokens(col(textCol))), 4)
        .as("entropy"))

  /** BM25 relevance ranking of a document corpus against a fixed term set —
    * the retrieval-quality scorer pipelines use to mine topical subsets.
    * Standard Okapi BM25 with the Lucene +1 idf form:
    *
    *   score(D) = Σ_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
    *                · tf_t·(k1+1) / (tf_t + k1·(1 - b + b·|D|/avgdl))
    *
    * Shape at 100 TB: per-term tf via `size(filter(tokens, = t))` — a scan
    * expression, NO token explode/shuffle (|terms| is query-sized, not
    * corpus-sized); corpus stats (N, Σ|D|, df_t) from ONE single-row
    * aggregate broadcast back via cross join; top-k through
    * TakeOrderedAndProject. The only wide exchange is the k-row limit.
    *
    * Scores are rounded to 4 before ranking (ln/division are libm-adjacent
    * across engines); ties break by `idCol`.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val toks = tokens(col(textCol))
    def tfCol(t: String) = size(filter(toks, x => x === lit(t)))
    val perDocCols = col(idCol).as("doc_id") +: size(toks).as("dl") +:
      terms.zipWithIndex.map { case (t, i) => tfCol(t).as(s"tf_$i") }
    val perDoc = df.select(perDocCols: _*)
    val statCols = sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i => sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), statCols: _*)
    val scored = perDoc.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val dfT = col(s"df_$i").cast("double")
      val idf = log(lit(1.0) + (col("n_docs") - dfT + lit(0.5)) / (dfT + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / (col("sum_dl").cast("double") / col("n_docs"))))
    }.reduce(_ + _)
    scored.select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }
}
