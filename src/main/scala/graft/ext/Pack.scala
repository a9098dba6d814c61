package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Freeze}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-batch assembly operators (SURVEY.md §2b extension surface):
  * sequence packing and corpus-LM document scoring — the steps between a
  * cleaned corpus and a tokenized training run.
  */
object Pack {

  /** Sequence-packing manifest: documents are concatenated in `idCol` order
    * WITHIN A SHARD and sliced into consecutive `seqLen`-token training
    * sequences (the standard concat-and-chunk regime); each doc's row says
    * which sequences its tokens land in —
    * (id, shard, n_tokens, start_seq, end_seq, n_seqs).
    *
    * Sharding is the scale contract: a single global packing order would
    * funnel 100 TB through ONE window partition (a one-reducer sort). Each
    * shard packs independently — exactly how a multi-worker tokenizer run
    * behaves — so the window parallelism equals the shard count; pick
    * shards ≫ executors (e.g. `hash(id) % 10_000`). Sequence ids are
    * per-shard; (shard, seq) is the global sequence key.
    *
    * Token counting is the whitespace tokenizer of [[TextOps.tokens]] —
    * one contract for every token-count consumer in the library.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    seqLen: Long, shardCol: Column): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shardCol)
      .withColumn("n_tokens", TextOps.tokenCount(col(textCol)).cast("long"))
      .withColumn("__graft_cum", sum(col("n_tokens")).over(w))
      // integer div (not /): long division on token offsets must truncate
      .withColumn("start_seq", expr(s"(__graft_cum - n_tokens) div $seqLen"))
      .withColumn("end_seq", expr(s"(__graft_cum - 1) div $seqLen"))
      .withColumn("n_seqs", col("end_seq") - col("start_seq") + lit(1))
      .select(col(idCol), col("shard"), col("n_tokens"),
        col("start_seq"), col("end_seq"), col("n_seqs"))
  }

  /** Corpus-bigram LM score per document: mean MLE probability of the doc's
    * POSITIONAL bigrams (duplicates count — this is a language-model
    * statistic, not set similarity) under the corpus itself,
    * p(w2 | w1) = count(w1 w2) / count(w1), with count(w1) the token's
    * total corpus occurrences. High score = the doc's word transitions are
    * corpus-typical; boilerplate and keyword-stuffed docs score low. The
    * fluency cousin of the Gopher frequency rules.
    *
    * Cross-engine determinism: each probability is scaled to an integer
    * (`round(p * 1e9)`) BEFORE summing, so the aggregate is an exact
    * integer sum — a float sum's result would depend on partition
    * association order. Output: (id, n_bigrams, p_sum_scaled,
    * lm_avg_scaled = p_sum_scaled div n_bigrams). Docs with < 2 tokens
    * have no bigrams and no row.
    *
    * Shape at 100 TB: the full positional-bigram stream is NEVER shuffled
    * on the bigram. The corpus bigram counts are a partial-combined
    * aggregate of the exploded stream (the exchange carries per-partition
    * DISTINCT bigrams, not positions), the probability table built from
    * them is bigram-type-granularity, and when that table fits the
    * broadcast budget (`maxBroadcastTypes`, the common case — bigram types
    * grow sub-linearly in corpus size) it is broadcast back onto a fresh
    * explode of the stream, whose per-doc rollup then partial-aggregates
    * map-side so the only full-stream-derived exchange carries
    * docs×partitions rows. Above the budget the stream falls back to one
    * explicit bigram repartition + checkpoint with a shuffle-hash
    * probability join — the unbounded-vocabulary shape. Per-positional-
    * bigram integer rounding (`round(p·1e9)` BEFORE the sum) is identical
    * on both paths. No driver-side model in either path; the broadcast is
    * executor-side and size-gated.
    */
  def bigramLmScores(df: DataFrame, idCol: String, textCol: String,
                     maxBroadcastTypes: Long = 10000000L): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("ts"))
    def exploded = toks.select(col("id"),
      explode(graft.functions.ShingleStrings.shingleStrings(col("ts"), 2)).as("bg"))
    // ONE corpus pass yields BOTH count relations: shingle over the token
    // array with an empty-string sentinel appended, so each document also
    // emits one "lastToken " sentinel bigram. The sentinel is tagged
    // STRUCTURALLY — it is always the LAST shingle position of its doc —
    // not by string shape: the tokenizer keeps a trailing empty token for
    // text ending in non-0x20 whitespace (FastTokens' Pattern.split(-1)
    // parity), so a trailing-space bigram CAN be a real positional bigram.
    // Then cu(w) — w's total corpus occurrences — is the sum of ALL-row
    // counts over bigrams STARTING with w (every occurrence of w starts
    // exactly one appended bigram: a real one, or its doc's sentinel), and
    // the real-bigram counts ride the same rows as a second counter.
    // Materialize only this vocabulary-sized table: the unigram rollup,
    // probability table, and size probe all derive from it without
    // touching the corpus again.
    // checkpoint fused with the size probe: ONE action materializes the
    // count table and yields the bigram-type cardinality the broadcast
    // gate needs (a separate .count() re-paid a job for a number the
    // eager checkpoint had already computed and discarded)
    val (bcAll, nTypes) = Freeze.counted(
      toks.select(col("id"), size(col("ts")).as("n"),
          posexplode(graft.functions.ShingleStrings.shingleStrings(
            concat(col("ts"), array(lit(""))), 2)).as(Seq("p", "bg")))
        // appended array has n+1 tokens → n shingles at positions
        // 0..n-1; position n-1 is the sentinel, the rest are real
        .groupBy("bg").agg(count(lit(1)).as("cb"),
          count(when(col("p") < col("n") - 1, lit(1))).as("cbr")))
    val uni = bcAll
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cb")).as("cu"))
    def pTab(uniJoinSide: DataFrame) = bcAll
      .filter(col("cbr") > 0)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uniJoinSide, Seq("w1"))
      .select(col("bg"),
        round(col("cbr").cast("double") / col("cu").cast("double") * lit(1e9))
          .cast("long").as("ps"))
    val joined =
      if (nTypes <= maxBroadcastTypes) {
        // common case: the count tables fit executors — the bigram stream
        // is joined where it was produced, zero stream shuffles. Explicit
        // broadcasts: checkpointed relations carry no stats, so the
        // planner cannot see how small these sides are.
        exploded.join(broadcast(pTab(broadcast(uni))), Seq("bg"))
      } else {
        // unbounded-vocabulary fallback: one explicit stream shuffle on
        // the bigram; build side = pTab (a sort-merge would sort the
        // full stream)
        val stream = Freeze(exploded.repartition(col("bg")))
        stream.join(pTab(uni).hint("shuffle_hash"), Seq("bg"))
      }
    joined
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("ps")).as("p_sum_scaled"))
      .withColumn("lm_avg_scaled", expr("p_sum_scaled div n_bigrams"))
  }
}
