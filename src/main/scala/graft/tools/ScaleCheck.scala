package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling harness: derives a 10× corpus (sf1) from the driver's sf0.1
  * testdata and times the heavy operator families on both, to falsify (or
  * confirm) the claim that their plans scale ~linearly in corpus size with
  * bounded driver-side state.
  *
  * Derivation is TILING WITH CONTENT ISOLATION, not naive duplication
  * (key strides = source max key + 1, computed per table):
  *   - `documents`: 10 tiles; ids offset by the id stride per tile; every
  *     TOKEN in tiles 1..9 gets a tile-unique suffix (`…z3`). Within a tile the
  *     shingle/gram/bigram structure — and therefore the near-duplicate
  *     pair relation — is EXACTLY the sf0.1 one (an injective token remap
  *     preserves set equality and Jaccard); across tiles no gram ever
  *     matches. So the true pair count scales exactly 10× and measured
  *     wall-time growth is attributable to the engine, not to a
  *     pathological everything-matches-everything corpus (naive tiling
  *     gives every doc 9 perfect near-dups and inflates candidate pairs
  *     ~100×, which no real 10× corpus does).
  *   - `embeddings`: 10 tiles; ids offset by the id stride; first
  *     coordinate perturbed by +0.001·tile so tiles aren't bit-identical
  *     point sets (k-means/IVF still see the same cluster geometry).
  *   - `orders`/`lineitem`: 10 tiles with consistent per-key strides
  *     (orderkey stride shared across both tables) — the bipartite
  *     cust↔supp graph becomes 10 disjoint copies: 10× nodes, 10× edges,
  *     fair linear-scaling input for PageRank.
  *
  * `gen <srcDir> <dstDir> [tiles]` writes the derived tables;
  * `run <sfDir> [csvNames]` times the heavy families once each (same
  * forcing as Bench: `queryExecution.toRdd.count()`) and prints one JSON
  * line per family — every family, PageRank included, runs the REGISTRY
  * gate verbatim (the gate derives its supplier offset from
  * max(o_custkey) and data-sizes its shuffle partitions, so tiled key
  * ranges are safe since round 15).
  */
object ScaleCheck {

  /** Plan-compile warm-pass dir for [[run]]'s untimed first pass. */
  private val warmDir = "/root/testdata/sf0.001"

  /** The bench posture ([[graft.Posture.benchConfs]]) with the shuffle
    * partitions sized for the scale under test, so the 1x/10x absolutes
    * compare with the bench's. The driver heap comes from the launcher
    * (build.sbt javaOptions -Xmx / SPARK_DRIVER_MEM) — a
    * spark.driver.memory conf is a no-op in an already-running local JVM. */
  private[tools] def session(parts: Int): SparkSession = {
    val s = graft.Posture.session(graft.Posture.cpus(32), graft.Posture.benchConfs ++ Seq(
      "spark.app.name" -> "graft-scalecheck",
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.session.timeZone" -> "UTC"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") => gen(args(1), args(2), if (args.length > 3) args(3).toInt else 10)
    case Some("run") => run(args(1), if (args.length > 2) Some(args(2).split(",").toSeq) else None)
    case _ => System.err.println("usage: ScaleCheck gen <src> <dst> [tiles] | run <dir> [names]")
  }

  /** Injective-token-remap tiling (see class doc). Tile 0 is byte-identical
    * to the source so sf1 strictly contains sf0.1. Key strides are derived
    * from the SOURCE's actual maxima (max key + 1), not constants: run
    * against a larger source, hardcoded sf0.1 strides would silently
    * overlap ids across tiles — duplicate keys would corrupt the very
    * pair/graph relations whose 10× growth this tool exists to measure.
    */
  def gen(src: String, dst: String, tiles: Int): Unit = {
    val spark = session(32)
    def load(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def keyStride(df: DataFrame, c: String): Long = {
      val row = df.agg(max(col(c)).cast("long")).head
      // max over an empty table is NULL — fail with the actual problem
      // instead of a bare NullPointerException from getLong
      if (row.isNullAt(0)) sys.error(s"scalecheck: empty source table (no rows for key '$c')")
      row.getLong(0) + 1L
    }
    def tiled(name: String, base: DataFrame, tile: (DataFrame, Int) => DataFrame): Unit = {
      val out = (0 until tiles).map(i => tile(base, i)).reduce(_ unionByName _)
      out.repartition(32).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalecheck] wrote $name x$tiles")
    }
    val docs = load("documents")
    val docStride = keyStride(docs, "doc_id")
    tiled("documents", docs, (df, i) => {
      val base = df.withColumn("doc_id", col("doc_id") + lit(docStride * i))
      if (i == 0) base
      else base
        .withColumn("text",
          when(col("text").isNull || length(trim(col("text"))) === 0, col("text"))
            .otherwise(array_join(
              transform(split(trim(col("text")), "\\s+"), t => concat(t, lit(s"z$i"))),
              " ")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    val emb = load("embeddings")
    val vecStride = keyStride(emb, "vec_id")
    tiled("embeddings", emb, (df, i) => {
      val base = df.withColumn("vec_id", col("vec_id") + lit(vecStride * i))
      if (i == 0) base
      else base.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          when(j === 0, x + lit(0.001f * i)).otherwise(x)))
    })
    val ord = load("orders")
    val li = load("lineitem")
    // the orderkey stride must be consistent ACROSS orders and lineitem so
    // each tile's join graph stays a disjoint copy — take the max over both
    val orderStride = math.max(keyStride(ord, "o_orderkey"), keyStride(li, "l_orderkey"))
    val custStride = keyStride(ord, "o_custkey")
    val suppStride = keyStride(li, "l_suppkey")
    tiled("orders", ord, (df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(orderStride * i))
      .withColumn("o_custkey", col("o_custkey") + lit(custStride * i)))
    tiled("lineitem", li, (df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(orderStride * i))
      .withColumn("l_suppkey", col("l_suppkey") + lit(suppStride * i)))
    spark.stop()
  }

  /** The heavy families VERDICT r9 asked to scale-test. Each is EXACTLY
    * the code path its bench gate runs — including `graph_pagerank` since
    * the gate went tiled-safe (offset derived from max(o_custkey), shuffle
    * partitions sized from the lineitem parquet footprint via driver-side
    * FS metadata: sf0.1/10× → 8 = the historical pin, 30× → 24, 100× →
    * one task wave). The partition SIZING adds no Spark job to the timed
    * body; the offset DERIVATION adds one single-column max over orders
    * (≲0.5 s at 100×, proportionally less below) — a cost the r13/r14
    * series did not pay, bounded well inside the weather noise band, and
    * measured-inclusive by the round-15 GateTwice points.
    */
  private def families: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val gates = graft.SparkEntry.queries
    Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_substring_spans",
      "corpus_clean", "ann_topk_ivf_persist", "graph_pagerank")
      .map(n => n -> gates(n))
  }

  def run(dir: String, only: Option[Seq[String]]): Unit = {
    val spark = session(32)
    val picked = families.filter { case (n, _) => only.forall(_.contains(n)) }
    // one untimed warm pass per family at sf0.001 compiles the plans so the
    // timed numbers measure execution, as Bench's registry warm pass does
    picked.foreach { case (name, fn) =>
      try fn(spark, warmDir).queryExecution.toRdd.count(): Unit
      catch { case scala.util.control.NonFatal(_) => () }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    val results = picked.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val (rows, err) =
        try (fn(spark, dir).queryExecution.toRdd.count(), None)
        catch { case scala.util.control.NonFatal(e) =>
          (0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      val sec = (System.nanoTime() - t0) / 1e9
      // BLOCKING unpersist + GC between families: non-blocking returns
      // before the blocks are actually freed, so a later family runs under
      // the earlier family's storage pressure — at 10x data this inflated
      // in-sequence pagerank 3x vs the same query isolated (34.4 s vs
      // 11.8 s, measured round 12); the timed number must be the family's
      // own cost, as Bench's per-query unpersist established suite-wide
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      System.err.println(f"[scalecheck] $name%-24s ${sec}%8.2f s  $rows rows ${err.getOrElse("")}")
      (name, sec, rows, err)
    }
    val json = results.map { case (n, s, r, e) =>
      s""""$n":{"sec":${f"$s%.2f"},"rows":$r${e.fold("")(m => s""","error":"$m"""")}}"""
    }.mkString(",")
    println(s"""{"dir":"$dir",$json}""")
    spark.stop()
  }
}
