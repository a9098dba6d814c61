package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext._
import graft.ops._

/** Zero-row inputs must produce zero-row (not crashing) outputs with the
  * right schema — batch boundaries, fresh partitions, and filtered-out
  * upstreams all hand operators empty frames in production.
  */
class EmptyInputSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyEvents = Seq.empty[(Long, java.sql.Timestamp, Double)]
    .toDF("user_id", "ts", "value")

  test("clean/agg/window ops pass empty frames through") {
    val e = Seq.empty[(String, Double, Long)].toDF("ticker", "close", "volume")
    assert(CleanOps.nanSafeCast(e, Seq("ticker" -> StringType,
      "close" -> DoubleType, "volume" -> LongType)).count() === 0)
    assert(CleanOps.filterValid(e, Seq($"close" > 0)).count() === 0)
    assert(AggOps.distinctRows(e).count() === 0)
    assert(AggOps.dedupByKeyOrdered(e, Seq("ticker"), Seq($"close".asc)).count() === 0)
    assert(WindowOps.lagDelta(e, Seq("ticker"), Seq($"close".asc), "close", "d").count() === 0)
    assert(JoinOps.withGroupAggregates(e, Seq("ticker"),
      Seq("m" -> avg($"close"))).count() === 0)
    assert(SchemaOps.normalizeColumns(e.select("ticker"),
      Seq("ticker", "missing").map(_ -> StringType)).columns.toSeq === Seq("ticker", "missing"))
  }

  test("dedup family survives empty corpora") {
    assert(Dedup.exactCanonical(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text", 3, 0.4).count() === 0)
    assert(Dedup.minhashLshPairs(emptyDocs, "doc_id", "text", 3, 0.4).count() === 0)
    assert(Dedup.simhashPairs(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() === 0)
    assert(Dedup.canonicalizeNearDups(emptyDocs, "doc_id", "text", 3, 0.4).count() === 0)
  }

  test("sessionize/windows survive empty event streams") {
    assert(Sessionize.sessionize(emptyEvents, "user_id", "ts", 1800).count() === 0)
    assert(Sessionize.sessionStats(emptyEvents, "user_id", "ts", "value", 1800).count() === 0)
    assert(Sessionize.tumbling(emptyEvents, "ts", 3600,
      Seq(count(lit(1)).as("n"))).count() === 0)
  }

  test("round-2 operators survive empty inputs") {
    assert(Dedup.dropNearDups(emptyDocs, "doc_id", "text", 3, 0.4).count() === 0)
    assert(Dedup.exactSubstringSpans(emptyDocs, "doc_id", "text", 4).count() === 0)
    // docs shorter than k produce no grams, hence no spans — even when the
    // short docs are identical to each other
    assert(Dedup.exactSubstringSpans(
      Seq((1L, "too short"), (2L, "too short")).toDF("doc_id", "text"),
      "doc_id", "text", 4).count() === 0)
    assert(ext.Splits.byHash(emptyDocs, "doc_id",
      Seq("train" -> 0.9, "test" -> 0.1)).count() === 0)
    assert(emptyDocs.select(ext.TextOps.redactPii(col("text")),
      ext.TextOps.firstUrl(col("text")),
      ext.TextOps.bpeishTokenCount(col("text"))).count() === 0)
    val noPoints = Seq.empty[Long].toDF("p")
    val noIntervals = Seq.empty[(Long, Long, Long)].toDF("iid", "lo", "hi")
    assert(ops.RangeJoin.pointInInterval(noPoints, noIntervals,
      "p", "lo", "hi", width = 4).count() === 0)
    assert(ops.RangeJoin.pointInInterval(
      Seq(5L).toDF("p"), noIntervals, "p", "lo", "hi", width = 4).count() === 0)
    assert(ext.Multimodal.resize(spark,
      ext.Multimodal.asMediaTable(emptyDocs, "doc_id", "text"), 64, 64).count() === 0)
  }

  test("round-3 operators survive empty inputs") {
    assert(TextOps.chunkWindows(emptyDocs, "doc_id", "text", 32, 16).count() === 0)
    assert(TextOps.tfidfTopTerms(emptyDocs, "doc_id", "text", 3).count() === 0)
    assert(TextOps.topNgramCharFrac(emptyDocs, "doc_id", "text", 2).count() === 0)
    assert(emptyDocs.select(TextOps.repeatedNgramFrac(col("text"), 2)).count() === 0)
    assert(Sessionize.nativeSessionStats(emptyEvents, "user_id", "ts", "value", 1800)
      .count() === 0)
    assert(CorpusClean.gopherQualityFilter(emptyDocs, "text").count() === 0)
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(Decontaminate.decontaminate(emptyDocs, "doc_id", "text",
      docs, "text", 3, 5L).count() === 0)
    // empty BENCHMARK: nothing is contaminated, corpus passes through
    assert(Decontaminate.decontaminate(docs, "doc_id", "text",
      emptyDocs, "text", 3, 5L).count() === 1)
    val emptyFps = emptyDocs.select(TextOps.fingerprint(col("text")).as("fp"))
    assert(Dedup.dedupIncremental(emptyDocs, "doc_id", "text", emptyFps).count() === 0)
    assert(Dedup.dedupIncremental(docs, "doc_id", "text", emptyFps).count() === 1)
  }

  test("similarity search survives empty corpus and empty probes") {
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(SimSearch.bruteForceTopK(emptyVecs, emptyVecs, "vec_id", "embedding", 5).count() === 0)
    assert(Dedup.embeddingCosinePairs(emptyVecs, "vec_id", "embedding", 0.4).count() === 0)
    // ivfTopK requires a non-empty corpus to sample centroids from — a
    // configuration error, not a data edge; document via exception type
    intercept[Exception] {
      SimSearch.ivfTopK(emptyVecs, emptyVecs, "vec_id", "embedding", 5, 4, 2).count()
    }
  }

  test("round-4 operators survive empty inputs") {
    assert(Dedup.ngramJaccardPairsPrefix(emptyDocs, "doc_id", "text", 3, 0.4).count() === 0)
    assert(Pack.packSequences(emptyDocs, "doc_id", "text", 1024, lit(0L)).count() === 0)
    assert(Pack.bigramLmScores(emptyDocs, "doc_id", "text").count() === 0)
    assert(Splits.weightedKeep(emptyDocs.withColumn("source", lit("s")),
      "doc_id", "source", Map("s" -> 0.5)).count() === 0)
    assert(TextOps.removeRepeatedLines(emptyDocs, "doc_id", "text", 10).count() === 0)
    val e = Seq.empty[(Long, Double)].toDF("k", "v")
    assert(Merge.applyChanges(e, e.withColumn("op", lit("U")), "k", "op").count() === 0)
    assert(Merge.scd2Versions(e, "k", "v").count() === 0)
    assert(WindowOps.resampleFfill(
      Seq.empty[(Long, Long, Double)].toDF("k", "s", "v"), "k", "s", "v", 100).count() === 0)
  }

  test("round-5 operators survive empty inputs") {
    val emptyKV = Seq.empty[(String, Long, Double)].toDF("g", "id", "v")
    assert(Outliers.outliers(emptyKV, Seq("g"), "v", 2.0).count() === 0)
    assert(ZOrder.layout(
      Seq.empty[(Long, Long)].toDF("qa", "qb").withColumn("zv", ZOrder.zvalue("qa", "qb", 4)),
      col("zv"), 4).count() === 0)
    assert(Vocab.build(emptyDocs, "text").count() === 0)
    // encoding a corpus against an EMPTY vocab: every token goes to unk
    val enc = Vocab.encode(Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text",
      Vocab.build(emptyDocs, "text"))
    assert(enc.select("ids_csv").as[String].head() === "-1,-1")
    assert(JoinOps.semiJoin(emptyKV, emptyKV.select(col("g")), Seq("g")).count() === 0)
    assert(JoinOps.antiJoin(emptyKV, emptyKV.select(col("g")), Seq("g")).count() === 0)
    assert(WindowOps.resampleInterp(
      Seq.empty[(Long, Long, Double)].toDF("k", "s", "v"), "k", "s", "v", 100).count() === 0)
    assert(IndexOps.globalIndex(emptyKV, "id").count() === 0)
    assert(TextOps.tokenEntropy(emptyDocs, "doc_id", "text").count() === 0)
    assert(TextOps.bm25TopK(emptyDocs, "doc_id", "text", Seq("x"), k = 5).count() === 0)
    assert(Outliers.winsorize(emptyKV, Seq("g"), "v", 0.05, 0.95).count() === 0)
    // funnel over an empty stream: every step row present, all counts 0
    val emptyEv = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type")
    assert(Sessionize.funnel(emptyEv, "user_id", "ts", "event_type", Seq("a", "b"))
      .select("users").as[Long].collect().toSeq === Seq(0L, 0L))
    assert(Sessionize.cohortRetention(emptyEv.drop("event_type")
      .withColumn("ts", col("ts")), "user_id", "ts").count() === 0)
    assert(Dedup.fuzzyPairsBlocked(emptyDocs, "doc_id", "text", 3).count() === 0)
    assert(graft.ops.Merge.snapshotDiff(emptyKV, emptyKV, "id", Seq("v")).count() === 0)
    assert(graft.ops.Profile.equiDepthHistogram(emptyKV, "v", 4).count() === 0)
    assert(AggOps.mergeAggState(
      AggOps.buildAggState(emptyKV, Seq("g"), "v"),
      AggOps.buildAggState(emptyKV, Seq("g"), "v"), Seq("g")).count() === 0)
    // custom physical operator: empty left side, empty right side
    val tl = Seq((1L, 2L, 3L)).toDF("k", "t", "q")
    val tr = Seq((1L, 2L, 3L)).toDF("k", "t", "w")
    assert(graft.plans.AsOfMergeJoin.asOf(tl.filter(col("k") < 0), tr,
      "k", "k", "t", "t", Seq("w")).count() === 0)
    assert(graft.plans.AsOfMergeJoin.asOf(tl, tr.filter(col("k") < 0),
      "k", "k", "t", "t", Seq("w")).select("w").as[Option[Long]].head().isEmpty)
  }

  test("round-6 operators survive empty inputs") {
    val emptyKV = Seq.empty[(String, Long, Double)].toDF("g", "id", "v")
    assert(graft.ops.QuantileSelect.exactPercentiles(
      emptyKV, "v", Seq(0.5)) === Seq.empty)
    assert(graft.ops.QuantileSelect.groupPercentile(
      emptyKV, Seq("g"), col("v"), 0.5, "med").count() === 0)
    assert(Outliers.madOutliers(emptyKV, Seq("g"), "v", 3.0).count() === 0)
    assert(ext.Multimodal.syntheticImageTable(spark,
      emptyDocs, "doc_id").count() === 0)
    assert(ext.Multimodal.decodeMeta(spark,
      ext.Multimodal.asMediaTable(emptyDocs, "doc_id", "text"),
      ext.Multimodal.ImageIoCodec).count() === 0)
    // dual-block fuzzy join: empty input reaches both the exact and the
    // deletion-variant branches
    assert(Dedup.fuzzyPairsBlocked(emptyDocs, "doc_id", "text", 3).count() === 0)
  }

  test("round-9 curation operators survive empty inputs") {
    val emptyScored = Seq.empty[(Long, Double)].toDF("doc_id", "score")
    assert(Sampling.qualityBucketSample(emptyScored, "score", "doc_id",
      Seq(0.5, 1.0)).count() === 0)
    assert(Dsir.importanceScoresWithin(emptyDocs, lit(false), "doc_id", "text",
      64).count() === 0)
    assert(Dsir.importanceScores(emptyDocs, emptyDocs, "doc_id", "text",
      64).count() === 0)
    // non-empty corpus, EMPTY target: every bucket's ct is 0 — scores
    // must still compute (Laplace smoothing keeps the ratio finite)
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    assert(Dsir.importanceScoresWithin(docs, lit(false), "doc_id", "text",
      64).count() === 2)
  }
}
