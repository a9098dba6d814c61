package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** `s` as a JSON string literal: quotes, backslashes and control
    * characters escaped. The program's one JSON escaper. */
  private[graft] def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x") // tabs/CRs in Spark error messages would break the JSON line
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }

  /** Unpersist every persisted RDD of the session, checkpoint blocks
    * included. As Bench's per-query policy (non-blocking) an early 138-gate
    * measurement read ~neutral (124.1 vs 121.4 s same-weather), but the
    * round-7/8 registry added several localCheckpoint-heavy gates (prefix
    * index, substring spans, components) and the verdict flipped hard: the
    * 8-query dedup subset measures 25.9 s with blocks accumulating vs 8.1 s
    * unpersisting (dedup_simhash 3.9→0.5, _prefix 8.5→1.1, substring_spans
    * 6.2→1.2 — same weather, warm, second round). Leaked blocks squeeze
    * execution memory and the suite pays in shuffle spills, exactly what a
    * long-lived cluster session would see; eager cleanup after each query's
    * materialization mirrors what ContextCleaner does lazily on GC, just
    * deterministically. Safe here because no gate re-executes another
    * gate's plan: each builds fresh from Tables (unpersisting a
    * localCheckpointed RDD makes RE-execution impossible — lineage is
    * truncated — so this stays a harness policy, not a library default).
    * `blocking = true` waits until the blocks are actually freed; callers
    * that time one gate after another at scale need it (see ScaleCheck). */
  private[graft] def unpersistAll(spark: SparkSession, blocking: Boolean): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))

  /** One timed gate: wall seconds, and the error text if it threw. */
  final case class GateResult(name: String, sec: Double, error: Option[String])

  /** The two artifact lines, full then compact. The compact line is printed
    * LAST: the driver keeps only the final ~2000 chars of stdout, and the
    * full line (~4 KB at 184 queries) gets truncated mid-object there. It
    * carries the headline numbers plus only the slowest queries, and it
    * reaches that window unprefixed as the literal last stdout line
    * (build.sbt: run/outputStrategy = CustomOutput(System.out) +
    * showSuccess := false — under sbt's default LoggedOutput every forked
    * line was re-logged as "[info] {…}" with a "[success]" trailer, so no
    * stdout line ever started with '{'). Any errored gate poisons `value`
    * to -1 on both lines: a failure must never read as a fast total. */
  def artifactLines(sfDir: String, results: Seq[GateResult], warmupSec: Double,
                    cgN: Long, cgTimed: Long, cgMs: Long): (String, String) = {
    def r3(v: Double): String = (math.rint(v * 1000) / 1000).toString
    val qs = results.map { r =>
      jsonStr(r.name) + ":" + r.error.fold(r3(r.sec))(e => jsonStr("ERROR " + e.take(120)))
    }.mkString("{", ",", "}")
    val nErrors = results.count(_.error.nonEmpty)
    val total = if (nErrors > 0) -1.0 else results.map(_.sec).sum
    val fullLine = s"""{"metric":"total_full","unit":"sec","sf":${jsonStr(sfDir)},"queries":$qs,"errors":$nErrors,"warmup_sec":${r3(warmupSec)},"codegen_compiles":$cgN,"codegen_compiles_timed":$cgTimed,"codegen_ms_est":$cgMs,"value":${r3(total)}}"""
    val slowJson = results.filter(_.error.isEmpty).sortBy(-_.sec).take(15)
      .map(r => jsonStr(r.name) + ":" + r3(r.sec)).mkString("{", ",", "}")
    val errJson = results.filter(_.error.nonEmpty).take(3)
      .map(r => jsonStr(r.name) + ":" + jsonStr(r.error.get.take(80))).mkString("{", ",", "}")
    // HARD fit guard: a compact line that overflows the tail window loses
    // its HEAD (opening brace included) and parses as nothing. Budget 1900
    // leaves margin for the trailing newline and tail-boundary jitter; past
    // it, fall back to a headline-only line (~200 chars, unconditionally
    // under budget) so that even a pathological slowest-15 + error_detail
    // combination can never decapitate the artifact.
    val totalLine =
      s"""{"metric":"total","unit":"sec","sf":${jsonStr(sfDir)},"n_queries":${results.size},"queries":$slowJson,"queries_note":"slowest 15 of ${results.size}; full map on the total_full line above","errors":$nErrors,"error_detail":$errJson,"warmup_sec":${r3(warmupSec)},"value":${r3(total)}}"""
    def minimalLine =
      s"""{"metric":"total","unit":"sec","sf":${jsonStr(sfDir)},"n_queries":${results.size},"errors":$nErrors,"warmup_sec":${r3(warmupSec)},"value":${r3(total)}}"""
    (fullLine, if (totalLine.length <= 1900) totalLine else minimalLine)
  }

  def main(args: Array[String]): Unit = {
    // optional CLI args = exact query names to run (iteration aid); no args
    // = full suite. Checked BEFORE the session is built, so a typo fails in
    // milliseconds instead of after the whole warm-up.
    val wanted = args.toSet
    val unknown = wanted.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, // a typo must not yield a silently-empty "successful" bench
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}" +
        " — positional args are exact query-name filters; the SF dir is" +
        " env-only: SPARK_GRAFT_SF_DIR=/path/to/sfN (a path passed as an" +
        " arg lands here)")
    val sfDir = Posture.sfDir
    val spark = Posture.session(Posture.cpus(4), Posture.benchConfs)
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up OUTSIDE the timed loop; time spent is reported as warmup_sec.
    val w0 = System.nanoTime()
    // Resolve every testdata relation through the SAME Tables entry points
    // the gates use (footer read, file listing, schema conform, session
    // relation-cache fill) and open one reader per table: these are
    // per-JVM one-time costs that otherwise land on whichever gate touches
    // a table first (a10_corr_stats was absorbing ~1 s as the
    // alphabetically-first lineitem reader). limit(1) keeps it a
    // metadata-plus-one-row touch, not a data pass.
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings", "events").foreach { t =>
      graft.Tables.byName(spark, sfDir, t).limit(1).collect()
    }
    // Build the streaming landing zones here too: they simulate an EXTERNAL
    // file drop (in production the files already exist — a source's landing
    // is not query work), but are constructed lazily per JVM, so whichever
    // stream gate ran first was silently charged ~1-2 s of parquet rewrite.
    // Building them in warm-up makes stream timings measure the streaming
    // query, and the cost stays visible in warmup_sec.
    graft.streaming.StreamOps.eventsLanding(spark, sfDir)
    graft.streaming.StreamOps.eventsLandingWithSentinel(spark, sfDir)
    graft.streaming.StreamOps.eventsLandingWithDuplicates(spark, sfDir)
    graft.streaming.StreamOps.ordersChangesLanding(spark, sfDir)
    // Same discipline for j3's co-bucketed table pair: bucketing is a
    // write-once-join-many layout paid at INGEST time (in production the
    // bucketed tables already exist) — pre-building here makes the timed
    // gate measure the exchange-free join, and the write cost stays
    // visible in warmup_sec.
    graft.queries.CoreQueries.ensureBucketedPair(spark, sfDir)
    // Run the WHOLE registry once against the smallest testdata scale
    // (sibling sf0.001 dir). Whole-stage-codegen sources never embed file
    // paths — only schemas and expression trees — so every stage compiled
    // here is a byte-identical janino-cache HIT for the measured sf run;
    // likewise C2 JIT, aggregate/class loading, the streaming engine's
    // state machinery, and catalog/scratch machinery get their one-time
    // costs paid outside the timed loop. Nothing transfers BUT compiled
    // code: there is no df.cache() anywhere, and parquet footer/listing
    // caches are per-path. (Measured: in-suite a9_percentiles 1.29 s →
    // 0.29 s warm floor, a8_grouping_sets 1.18 → 0.24, a9b 1.07 → 0.29.)
    // codegen_compiles_timed on the artifact reports how much compiling
    // the timed loop still pays. A missing sibling dir skips silently
    // (warmup_sec stays honest).
    val warmSf = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warmSf.isDirectory && warmSf.getAbsolutePath != new java.io.File(sfDir).getAbsolutePath) {
      // Sequentially, on the measured session itself. Jobs that a gate
      // launches through Dataset actions (eager localCheckpoint, sizing
      // collects) carry the session's job-artifact state, so the executor
      // side compiles their code under a per-session class loader and the
      // janino cache key differs per session: a pass on newSession()s left
      // ~65 such compiles (dedup, corpus, ANN, BPE families) to the timed
      // loop (measured at sf0.1 on 4 cores: codegen_compiles_timed 519-523
      // vs 242-246 on the measured session). Query failures stay swallowed — a
      // warm-up failure must never mask the measured run — but only
      // NON-fatal ones: an OutOfMemoryError or other VirtualMachineError
      // here means the heap entering the timed loop is hosed.
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark, warmSf.getAbsolutePath).queryExecution.toRdd.count(): Unit
        catch { case scala.util.control.NonFatal(_) => () }
        unpersistAll(spark, blocking = false)
      }
    }
    // ONE full GC at the warm/measure boundary (distinct from the rejected
    // per-query GC, which evicted hot code between timed queries): the
    // registry warm pass leaves a heap of short-lived plan/result garbage
    // that otherwise forces the first collections INSIDE the timed loop.
    System.gc()
    val warmupSec = (System.nanoTime() - w0) / 1e9
    // deterministic (sorted) execution order so JVM warm-up lands on the
    // same first query every round and per-query numbers compare across runs
    val selected =
      if (wanted.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.filter(q => wanted(q._1)).toSeq
    // compiles inside the timed loop: with the registry warm pass on, only
    // the stream gates (watermark literals, ~200 at sf0.1) and a few
    // data-sized plans should compile here — a bigger number means
    // warm-pass plans and timed plans diverge (suite tax)
    val cgSrc = org.apache.spark.metrics.source.CodegenMetrics
    val cgBefore = cgSrc.METRIC_COMPILATION_TIME.getCount
    val results = selected.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // a failure must be VISIBLE, never a fast fake timing: record the
      // error message per query and poison the total.
      // Materialize via the compiled plan's own RDD, NOT .count(): a count
      // on top lets Catalyst prune every unreferenced projection, so
      // map-only queries (p1, p2, txt_redact_pii, emb_quantize_int8, …)
      // were being timed as bare scans while the DuckDB oracle pays for a
      // full fetchall. toRdd evaluates every output column of the plan as
      // declared — the same work Verify pays — without adding hash overhead.
      val err = try {
        fn(spark, sfDir).queryExecution.toRdd.count(): Unit
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // No per-query System.gc(): the same-weather A/B measured 121.4 s
      // without vs 137.7 s with — full collections evict JIT-hot code and
      // cached blocks that later queries re-pay for.
      unpersistAll(spark, blocking = false)
      GateResult(name, elapsed, err)
    }
    // Janino-compile telemetry: compile count and cumulative ms over the
    // whole JVM (warm-up included) — the deterministic counterpart to the
    // wall clock for judging codegen-reuse changes. Histogram values are
    // milliseconds (CodeGenerator.doCompile); the reservoir mean x count
    // is an estimate of total compile ms.
    val cgN = cgSrc.METRIC_COMPILATION_TIME.getCount
    val cgMs = (cgSrc.METRIC_COMPILATION_TIME.getSnapshot.getMean * cgN).toLong
    val (fullLine, compactLine) =
      artifactLines(sfDir, results, warmupSec, cgN, cgN - cgBefore, cgMs)
    // Both artifact lines print AFTER spark.stop(): log4j2.properties routes
    // Spark's log events to SYSTEM_OUT, so a WARN logged during stop()
    // (state-store/executor shutdown) would otherwise land on stdout AFTER
    // the compact line and break the "compact line is the literal last
    // stdout line" invariant the driver's parse depends on. After stop()
    // returns, the SparkContext shutdown hook is a no-op and log4j's own
    // shutdown hook emits nothing at WARN, so no further stdout can follow.
    spark.stop()
    println(fullLine)
    println(compactLine)
    if (results.exists(_.error.nonEmpty)) sys.exit(1)
  }
}
