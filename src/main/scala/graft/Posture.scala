package graft

import org.apache.spark.sql.SparkSession

/** The program's session posture in one place, and its only reader of the
  * environment.
  *
  * Ten environment names are read, nothing else:
  *   - deployment: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`,
  *     `GRAFT_SCRATCH_DIR`;
  *   - settings PRODUCTION.md cites as workload-dependent:
  *     `SPARK_GRAFT_AQE`, `SPARK_GRAFT_AQE_MIN_PART`,
  *     `SPARK_GRAFT_SHUFFLE_PARTS`, `SPARK_GRAFT_ROCKSDB_CHANGELOG`,
  *     `SPARK_GRAFT_LOCAL_FS`, `SPARK_GRAFT_CKPT_FM`,
  *     `SPARK_GRAFT_COMMITTER_V`.
  *
  * Every other setting is a constant below, with the measurement that
  * decided it. Per-layer timing (planning, codegen, stream trigger phases)
  * comes from `python3 perfbench/run.py --trace 1`, not from switches here.
  */
object Posture {

  private def env(name: String): Option[String] = sys.env.get(name)

  /** Testdata scale directory the bench reads. */
  def sfDir: String = env("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.1")

  /** Local-mode core count; each entry point keeps its own default. */
  def cpus(default: Int): String = env("SPARK_GRAFT_CPUS").getOrElse(default.toString)

  /** Scratch root override (see [[Scratch.root]]). */
  def scratchDir: Option[String] = env("GRAFT_SCRATCH_DIR")

  // Every checkpoint this program writes lives under Scratch.root (a local
  // tmpfs): route WAL/commit/state-delta writes through the java.nio
  // manager instead of FileContext's ~42 ms-per-rename local fallback (see
  // LocalCheckpointFileManager's doc and COVERAGE "Rounds 10–13 change
  // notes", Round 12).
  private def checkpointFileManager: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      env("SPARK_GRAFT_CKPT_FM").getOrElse(graft.streaming.LocalCheckpointFileManager.confValue)

  // file:// via the nio-permission RawLocalFileSystem subclass: the default
  // LocalFileSystem pays a fork/exec chmod per created file/dir (no native
  // Hadoop lib) plus CRC sidecar files — ~2x the committer's metadata ops on
  // every local write (438 -> 294 ms median for a 16-file write; the write
  // gates ran ~25 % faster, COVERAGE "Rounds 10–13 change notes", Round 12).
  // Local-scratch-only posture, like the checkpoint manager above.
  private def localFs: (String, String) =
    "spark.hadoop.fs.file.impl" -> env("SPARK_GRAFT_LOCAL_FS").getOrElse("graft.io.NioLocalFileSystem")

  /** Session confs of the timed bench (`graft.Bench`), of `graft.Explain`
    * and of the scale tools, in the order they are applied. */
  def benchConfs: Seq[(String, String)] = Seq(
    // AQE OFF at bench scale: adaptive execution re-plans and re-codegens
    // per materialized stage — pure overhead on sf0.1 single-node shuffles
    // (measured: 10 cheap gates 6.9 s -> 5.0 s, 12 heavy gates 24.1 -> 20.6;
    // only 2 of 22 regressed, <0.3 s). Its benefits (runtime coalesce, skew
    // splits, join demotion) need cluster-scale shuffles — a 100 TB
    // deployment keeps the default ON; operators never depend on it for
    // correctness (Verify runs AQE-on). The daily pipeline's two transform
    // jobs pin it back on under every posture ([[pipelineConfs]]).
    "spark.sql.adaptive.enabled" -> env("SPARK_GRAFT_AQE").getOrElse("false"),
    // whole-stage codegen stays ON: a 12-query subset suggested compile time
    // dominates at one-shot sf0.1, but the full suite measured the opposite
    // (138.5 s vs 124.6 s same-weather) — the pair-join conditions (Myers
    // guard, banded DP, jaccard verify) are exactly where interpreted
    // evaluation loses more than compile saves
    "spark.sql.codegen.wholeStage" -> "true",
    // 16, not cpus(32): with AQE off, every post-exchange stage runs exactly
    // this many tasks, and at sf0.1 the pair-join/merge stages are
    // overhead-bound — measured same-code back-to-back, the dedup/ts/pair
    // family costs 21.0 s at 32 vs 17.1 (16) / 15.4-17.6 (8) with no
    // consistent loser at 16 (COVERAGE "ScaleCheck: measured 10× scaling",
    // Measured-and-TAKEN). A 100 TB deployment sizes this to data-scale (and
    // keeps AQE on). Narrower counts are scoped with [[withConfs]]: the
    // graph_pagerank gate sizes its own from the data (8 at sf0.1), the two
    // HLL gates and lm_bigram_score pin 8, and every stream runs at
    // `StreamOps.streamShuffleParts` (4), pinned by the stream run helpers.
    "spark.sql.shuffle.partitions" -> env("SPARK_GRAFT_SHUFFLE_PARTS").getOrElse("16"),
    // state-store maintenance (snapshot/cleanup of loaded providers) defaults
    // to every 60s — with six stream gates spread across the suite it fires
    // DURING later queries' timed sections, working on stores of
    // already-finished queries. Push it past the bench window (pure overhead
    // for a minutes-long batch process; host-noise band ±10% prevented
    // pinning a number on it). A long-running production stream keeps the
    // default.
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
    // Micro-batch fixed-cost floor: no-data batches exist to advance
    // watermarks with idle sources — every finite replay here is a
    // drain-and-terminate AvailableNow run, so they are a pure extra trigger
    // per gate (measured on the 6 stream gates: 24.7 → 17.8 s together with
    // minBatchesToRetain). The gates whose Append-mode emission NEEDS the
    // trailing no-data batch (stream_session_windows, stream_session_tws,
    // stream_stream_left_outer) pin the conf back on around their own runs;
    // StreamPostureSpec checks every stream gate returns the same rows under
    // these confs as under engine defaults.
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    // 1 (default 100): keeps only the latest committed batch's offset/commit/
    // state history — exactly what a restart needs (stream_sink_parquet's
    // re-invocation restart works against the latest commit), and these
    // replays' checkpoints are deleted right after the run anyway.
    // Steady-state block A/B: 18.05 s at 2 → 17.12 s at 1 (13 gates, inside
    // the noise band but consistently signed). Production keeps the default
    // 100 for its restart window.
    "spark.sql.streaming.minBatchesToRetain" -> "1",
    // RocksDB commit path (TWS gates): changelog checkpointing writes the
    // per-commit delta instead of uploading a full snapshot per trigger —
    // the production posture for large state, ~0.4 s slower per stream block
    // at gate scale (PRODUCTION.md).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      env("SPARK_GRAFT_ROCKSDB_CHANGELOG").getOrElse("false"),
    // State-store backend for the NON-TWS stateful gates (the TWS gates pin
    // RocksDB themselves — the API requires it): the engine default
    // HDFS-backed in-memory map. RocksDB loses at gate-scale state, 5.89/5.81
    // vs 10.24/9.93 s (OPTIMIZATION_r19.md, ask 3); at 100 TB state sizes
    // RocksDB is the standard posture.
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    checkpointFileManager,
    // Cross-query codegen reuse: the suite compiles ~142 distinct plans, and
    // with stage IDs baked into generated class names (engine default, a
    // debuggability aid) otherwise byte-identical stages cache-miss across
    // queries — the janino cache is keyed on the source string. Stable names
    // + a cache sized for the whole suite turn repeated scan/agg/exchange
    // stages into cache hits (interleaved same-weather A/B, 4 runs each way:
    // every stable-name run beat its default neighbor, median delta ~5 s /
    // ~6%). Semantics unaffected; Verify keeps engine defaults.
    // 4000: the round-8 registry compiles ~1800 distinct sources across
    // warm-up + timed run — at the old 2000 cap, LRU eviction was one
    // registry growth spurt away from re-compiling early-warmed classes
    // inside the timed loop
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.codegen.useIdInClassName" -> "false",
    // Optimizer constraint propagation is O(plan-width^2) per node, paid at
    // every (re)plan — including each micro-batch's incremental plan. Its
    // execution payoff (inferred IsNotNull / join-key filters) is negligible
    // on these already-explicit gates: interleaved A/B, min-of-2-runs per
    // config, measured 64.2 s on → 60.4 s off with the largest per-query
    // regression 0.15 s (noise band). Correctness never depends on it and
    // Verify keeps the engine default (on).
    "spark.sql.constraintPropagation.enabled" -> "false",
    // lz4 on local-mode shuffles kept: OFF vs ON flipped sign between
    // interleaved full-suite pairs (OPTIMIZATION_r18.md §5)
    "spark.shuffle.compress" -> "true",
    "spark.shuffle.spill.compress" -> "true",
    // NOTE: adaptive.coalescePartitions.parallelismFirst=false was measured
    // and REVERTED: it coalesces the CPU-bound pair-join probes to one
    // partition (serializing them) — the default's parallelism-preserving
    // coalesce is the right trade.
    //
    // AQE-on coalesce floor (only read with AQE on): the coalescer's target
    // is max(totalBytes/parallelism, minPartitionSize) — the pair-join
    // family's shuffles carry FEW BYTES but heavy per-row compute (candidate
    // intersects), so the default 1 MB floor coalesces them to a handful of
    // tasks and serializes CPU-bound work. A smaller floor restores
    // task-wave parallelism for exactly those stages; measured A/B in
    // COVERAGE.md round 14.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      env("SPARK_GRAFT_AQE_MIN_PART").getOrElse("1m"),
    "spark.ui.enabled" -> "false",
    // committer v2: task commit renames straight to the destination, job
    // commit is O(1) — on the forked-chmod local FS the v1 double-rename
    // costs ~4 ms/file extra across the write gates. Standard tradeoff
    // (partial output visible on job failure) — these writes are all
    // scratch.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" ->
      env("SPARK_GRAFT_COMMITTER_V").getOrElse("2"),
    localFs)

  /** Scoped confs of the daily pipeline's two transform jobs
    * (`graft.pipeline.Jobs`), pinned with [[withConfs]] whatever the session
    * posture. AQE ON there, unlike the gates: a gate's shuffles lose to its
    * re-planning, but one date's ~1 MB shuffles coalesce from 16 partitions
    * to 1, which is also the Glue 4 (Spark 3.3) default the reference runs
    * under. Measured on perfbench `etl_backfill`, together with one
    * exchange per job and the known-schema raw read: 94 → 31 tasks and
    * 26 → 6 refined files per steady date, and `cpu_s` 13.0 → 9.4 s
    * (median of 10 interleaved pairs, 4 cores). */
  val pipelineConfs: Seq[(String, String)] = Seq("spark.sql.adaptive.enabled" -> "true")

  /** Session confs of the correctness dump (`graft.Verify`): engine
    * defaults apart from the partition count, the time zone and the local
    * I/O classes. Those classes are library I/O code, so the oracle compare
    * is exactly where they must prove themselves — every gate's local read
    * and write, and every stream gate's checkpoint, runs through them. */
  def verifyConfs(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    checkpointFileManager,
    localFs)

  /** A `local[cpus]` session with `confs` applied in order (a later pair
    * overrides an earlier one with the same key). */
  def session(cpus: String, confs: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    confs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Run `body` with `pins` set on the session conf, in order, then put
    * every pinned key back: its old value, or unset if it had none — also
    * when `body` throws. The one place the program changes a session conf
    * after start-up.
    *
    * A conf binds when a plan is built, when a stream starts (the stream
    * clones the session's conf) or when an action runs, so a pin reaches
    * only the work done inside the scope: a gate that wants a pin on its
    * result must plan or materialize that result inside it. The session
    * conf is shared, so two scopes on one session must not overlap in time.
    */
  def withConfs[T](spark: SparkSession, pins: (String, String)*)(body: => T): T = {
    val saved = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
