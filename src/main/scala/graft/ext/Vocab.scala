package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus vocabulary construction + document-to-id encoding — the
  * "tokenize to integer ids" step every LM training pipeline runs before
  * sequence packing.
  *
  * [[build]] assigns ids by global frequency (1 = most frequent; ties break
  * on the term string) — the conventional layout, so frequent tokens get
  * small ids. The term-count aggregate shuffles once (map-side combined
  * over the exploded tokens); the ranking runs over the VOCAB relation (one
  * row per distinct term), never over the corpus, via
  * [[graft.ops.IndexOps.globalIndexBy]]'s range-bucketed two-phase
  * numbering — NOT a global `row_number` window, whose
  * `Exchange SinglePartition` would sort an open-web-scale term universe
  * (~10⁸ distinct terms at 100 TB) on ONE task. The bucketed form numbers
  * each ~1/64 slice independently and offsets by exact earlier-bucket
  * counts, producing the identical dense ids (1 = most frequent, ties on
  * the term string) with no data-shaped single-partition stage.
  *
  * [[encode]] joins each token position against the vocab on the term and
  * reassembles ids in document order. The join is a plain shuffle
  * equi-join on the term — the safe shape for an unbounded term universe.
  * A broadcast vocab (a trained tokenizer's is bounded, 32k–256k entries)
  * would spare the token stream its term-keyed exchange at cluster scale,
  * but at single-node scale it lost, 1.48 vs 1.07 s at sf0.1: the
  * driver-side vocab collect + broadcast build cost more than the small
  * shuffle it saved. Out-of-vocabulary tokens take `unkId`, the
  * id-sequence is emitted as a comma-joined STRING (`ids_csv`) because the
  * gate's comparison layer cannot sort array columns — and a training
  * exporter wants a flat packed column anyway.
  */
object Vocab {

  /** (term, n, id) — id dense by (n desc, term asc), starting at 1. */
  def build(df: DataFrame, textCol: String): DataFrame =
    graft.ops.IndexOps.globalIndexBy(
      df.select(explode(TextOps.tokens(col(textCol))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n")),
      Seq(col("n").desc, col("term").asc), outName = "id")

  /** (idCol, n_tokens, ids_csv): every token of every doc mapped to its
    * vocab id (or `unkId`), positions reassembled in order.
    */
  def encode(df: DataFrame, idCol: String, textCol: String, vocab: DataFrame,
             unkId: Long = -1L): DataFrame = {
    val pos = df.select(col(idCol).as("__doc"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("__pos", "term")))
    pos.join(vocab.select(col("term"), col("id")), Seq("term"), "left")
      .select(col("__doc"), col("__pos"),
        coalesce(col("id"), lit(unkId)).as("__id"))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_tokens"),
        // collect_list order is partitioning-dependent: sort by position
        // explicitly, then strip the carrier struct
        array_join(transform(
          sort_array(collect_list(struct(col("__pos"), col("__id")))),
          x => x.getField("__id").cast("string")), ",").as("ids_csv"))
      .withColumnRenamed("__doc", idCol)
  }
}
