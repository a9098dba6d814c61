package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch event-time operators
  * (SURVEY.md §2b): tumbling/sliding windows, session windows, and custom
  * per-key state via `mapGroupsWithState`.
  *
  * The reference has no streaming surface (its daily cron IS the stream,
  * SURVEY.md §2a "Streaming: none"); these exist for the pipeline-extension
  * surface and reuse the exact event schema of the batch `events` table, so
  * a batch backfill and the live stream share transform code — the
  * kappa-architecture posture that matters at 100 TB (same code, same
  * semantics, watermark-bounded state).
  */
object StreamOps {

  /** Shuffle-partition count every stream runs at (see [[streamPins]]). A
    * production stream sizes this to key-cardinality × executor count, not
    * to a constant.
    */
  val streamShuffleParts: String = "4"

  /** Session confs the run helpers pin around `start()` only: the stream
    * clones the session's conf when it starts, so a pin there reaches every
    * trigger — the `foreachBatch` body of [[applyChangesStream]] included —
    * and nothing outside the stream. Batch-side rollups and every non-stream
    * gate keep the session's values.
    *
    *   - Shuffle partitions at [[streamShuffleParts]]: the count is frozen
    *     into the state store at the first start, state-store instances and
    *     their per-trigger commit machinery scale with it, and gate-scale
    *     micro-batches are overhead-bound, not compute-bound — at the bench's
    *     16 a 10k-row stream pays 16 state tasks per micro-batch, a file
    *     sink behind a shuffle commits 16 near-empty files per trigger, and
    *     the CDC merge runs 16 tasks for a broadcast anti-join over a small
    *     snapshot. A 1/2/4/8 A/B was flat (session windows: 8 → 2.3 s,
    *     4 → 2.0 s, 2 → 2.0 s, 1 → 2.4 s; COVERAGE "ScaleCheck: measured
    *     10× scaling", Measured-and-declined).
    *   - Whole-stage codegen OFF: the incremental planner re-plans every
    *     trigger and bakes per-batch literals (watermark timestamps, batch
    *     metadata) into the generated sources, so janino's source-keyed cache
    *     can never hit across triggers or runs — measured on the 14-gate
    *     stream block at sf0.1, ~190 fresh compiles per suite run land INSIDE
    *     the timed loop even with every batch plan already seen, and
    *     interpreted evaluation over the tiny per-trigger batches beats
    *     compile+run in every interleaved A/B pair (12.19→11.35, 14.60→8.70,
    *     10.50→9.26 s); it also wins with 3M rows in one trigger
    *     (OPTIMIZATION_r19.md, ask 2). Expression-level codegen
    *     (`codegen.factoryMode`) stays at the engine default: NO_CODEGEN read
    *     sign-inconsistent against it (OPTIMIZATION_r19.md, ask 3).
    */
  private val streamPins = Seq(
    "spark.sql.shuffle.partitions" -> streamShuffleParts,
    "spark.sql.codegen.wholeStage" -> "false")

  /** Events schema of the LANDING drops: the landing is written from
    * `graft.Tables.events` (which normalizes whatever physical timestamp
    * the source parquet carries — see its doc), so `ts` here is always
    * plain TimestampType micros.
    */
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-based event stream over a directory of parquet drops — each new
    * file becomes a micro-batch (the standard landing-zone pattern).
    * `maxFilesPerTrigger` caps files per micro-batch (Some(1) = one batch
    * per file — the multi-batch harness shape).
    */
  def readEventStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "*.parquet")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** Tumbling (or sliding, when `slideSeconds` differs) windowed aggregate
    * with a watermark bounding state: late events beyond `watermark` are
    * dropped and closed windows are evicted — state stays O(open windows),
    * not O(stream length).
    */
  def windowedCounts(events: DataFrame, widthSeconds: Long, slideSeconds: Long,
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        window(col("ts"), s"$widthSeconds seconds", s"$slideSeconds seconds").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(unix_timestamp(col("w.start")).as("window_start_s"),
        col("event_type"), col("n"), col("value_sum"))

  /** Session windows per user: the streaming-native form of
    * `graft.ext.Sessionize.sessionize` — `session_window` merges events
    * whose gaps are below `gapSeconds`, watermark evicts closed sessions.
    */
  def sessionCounts(events: DataFrame, gapSeconds: Long,
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), s"$gapSeconds seconds").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("start_s"),
        unix_timestamp(col("w.end")).as("end_s"),
        col("n_events"), col("value_sum"))

  case class UserEvent(user_id: Long, value: Double)
  case class UserStat(user_id: Long, n_events: Long, value_sum: Double)

  /** Custom per-key running state (`mapGroupsWithState`): cumulative event
    * count + value sum per user, emitted every micro-batch. The shape for
    * state Spark's built-in aggregates can't express (reference point for
    * fraud counters, per-user quotas, etc.).
    */
  def runningUserStats(spark: SparkSession, events: DataFrame): Dataset[UserStat] = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(user, 0L, 0.0))
          val (n, s) = batch.foldLeft((prev.n_events, prev.value_sum)) {
            case ((cnt, acc), e) => (cnt + 1, acc + e.value)
          }
          val next = UserStat(user, n, s)
          state.update(next)
          next
      }
  }

  /** The landing `name` over source dir `dir`: built by `build` into its
    * [[graft.Scratch.dir]] directory once per JVM, then reused. */
  private val landings = scala.collection.concurrent.TrieMap.empty[String, String]
  private def landing(name: String, dir: String)(build: String => Unit): String = {
    val path = graft.Scratch.dir(name, dir)
    landings.getOrElseUpdate(path, { build(path); path })
  }

  /** A multi-file parquet landing zone built from the batch events table,
    * for replaying it as a file-drop stream. Hash-split into `files` drops.
    */
  def eventsLanding(spark: SparkSession, dir: String, files: Int = 2): String =
    landing(s"stream_landing$files", dir) { path =>
      graft.Tables.events(spark, dir) // ts normalized to TimestampType
        .repartition(files, org.apache.spark.sql.functions.col("event_id"))
        .write.mode("overwrite").parquet(path)
    }

  /** Landing zone plus one SENTINEL drop: a single far-future event for the
    * reserved user [[SentinelUser]], written LAST (newest mtime, so the
    * file source processes it in the final micro-batch). Its event time
    * drags the watermark past every real session's close, which is what
    * lets an APPEND-mode stateful query (session windows) emit its complete
    * results in a finite run — the standard end-of-stream flush pattern for
    * replay harnesses. Consumers filter the sentinel's own row out.
    */
  val SentinelUser: Long = -1L
  def eventsLandingWithSentinel(spark: SparkSession, dir: String): String =
    landing("stream_sentinel", dir) { base =>
      // reuse the plain landing's parquet via hard links (same inodes, same
      // mtimes — still older than the sentinel written below) instead of
      // re-writing the whole events table a second time per JVM
      val src = new java.io.File(eventsLanding(spark, dir))
      val dst = new java.io.File(base)
      dst.mkdirs()
      src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.createLink(dst.toPath.resolve(f.getName), f.toPath)
      }
      val events = graft.Tables.events(spark, dir) // ts as TimestampType
      import org.apache.spark.sql.functions._
      // +100 days: far beyond any session end + watermark delay
      val sentinel = events.agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("event_id"),
          (col("mx") + expr("INTERVAL 100 DAYS")).as("ts"),
          lit(SentinelUser).as("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
      sentinel.coalesce(1).write.mode("append").parquet(base)
    }

  /** Landing zone where every base drop is REPLAYED a second time (byte-
    * identical `dup_*` copies with later mtimes, so the file source
    * delivers them in later micro-batches — a hard link would share the
    * base inode's mtime and break trigger ordering): the at-least-once
    * ingest shape that makes streaming dedup state observable — a correct
    * `dropDuplicates` must absorb a 100% duplicate tail.
    */
  def eventsLandingWithDuplicates(spark: SparkSession, dir: String): String =
    landing("stream_dups", dir) { base =>
      val src = new java.io.File(eventsLanding(spark, dir))
      val dst = new java.io.File(base)
      dst.mkdirs()
      val files = src.listFiles().filter(_.getName.endsWith(".parquet"))
      files.foreach { f =>
        java.nio.file.Files.createLink(dst.toPath.resolve(f.getName), f.toPath)
      }
      files.foreach { f =>
        val copy = dst.toPath.resolve(s"dup_${f.getName}")
        java.nio.file.Files.copy(f.toPath, copy)
        // later mtime than every base file -> delivered in later triggers
        java.nio.file.Files.setLastModifiedTime(copy,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
      }
    }

  /** Stream-stream INNER join: per-user pairs of events where the right
    * event lands strictly after the left and within `withinSeconds` — the
    * "what happened in the 5 minutes after X" correlation, computed as the
    * events flow.
    *
    * BOTH sides carry a watermark and the join condition bounds the
    * event-time range, which is what lets Spark evict each side's buffered
    * rows once the other side's watermark passes them — state is
    * O(events per window), not O(stream length): the only viable
    * stream-stream join shape on an unbounded stream. Inner-join results
    * emit as soon as both rows have arrived; the watermark exists for
    * eviction, not output latency.
    */
  def pairsWithin(left: DataFrame, right: DataFrame, withinSeconds: Long,
                  watermark: String = "10 minutes"): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("event_id").as("a_id"),
        col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("event_id").as("b_id"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r, expr(
        s"l_user = r_user AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL $withinSeconds SECONDS"))
      .select(col("l_user").as("user_id"), col("a_id"), col("b_id"))
  }

  /** LEFT-OUTER stream-stream join, same pairing as [[pairsWithin]] but
    * unmatched left events surface with `b_id = -1` (coalesced, not NULL:
    * a NULL join key would reorder differently across engines' NULL-sort
    * conventions in the gate).
    *
    * The outer side is where watermarks stop being just eviction: Spark can
    * only emit a left row as UNMATCHED once the right watermark has passed
    * its join window — before that, a match could still arrive. A finite
    * replay therefore needs an end-of-stream flush (the far-future sentinel
    * landing) to drag the watermark past every real event, exactly the
    * session-window gate's pattern.
    */
  def pairsWithinLeftOuter(left: DataFrame, right: DataFrame, withinSeconds: Long,
                           watermark: String = "10 minutes"): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("event_id").as("a_id"),
        col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("event_id").as("b_id"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r, expr(
        s"l_user = r_user AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL $withinSeconds SECONDS"),
        "leftOuter")
      .select(col("l_user").as("user_id"), col("a_id"),
        coalesce(col("b_id"), lit(-1L)).as("b_id"))
  }

  case class TypedEvent(user_id: Long, event_type: String)
  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user per-event-type running counts on `transformWithState` with
    * `MapState` — the third state shape of the Spark 4 API (ValueState:
    * [[RunningUserStatsProcessor]]; ListState + timers: [[SessionizerTWS]]).
    * MapState is the right container when the per-key state is itself
    * keyed (here: type → count): point lookups and single-entry updates
    * against the store instead of rewriting one monolithic blob per event
    * — the difference between O(touched types) and O(all types) state I/O
    * per micro-batch at 100 TB.
    */
  class TypeCountsProcessor
      extends StatefulProcessor[Long, TypedEvent, TypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[TypedEvent],
                                 timers: TimerValues): Iterator[TypeCount] = {
      // fold the batch locally, then ONE store update per touched type
      val delta = scala.collection.mutable.Map.empty[String, Long]
      rows.foreach(e => delta(e.event_type) = delta.getOrElse(e.event_type, 0L) + 1L)
      delta.iterator.map { case (t, d) =>
        val next = (if (counts.containsKey(t)) counts.getValue(t) else 0L) + d
        counts.updateValue(t, next)
        TypeCount(user, t, next)
      }
    }
  }

  def typeCountsTWS(spark: SparkSession, events: DataFrame): Dataset[TypeCount] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type")).as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessInterval(start_us: Long, end_us: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, n_events: Long, value_sum: Double,
                        start_s: Long, end_s: Long)

  /** Gap-based sessionization on `transformWithState` with EVENT-TIME
    * TIMERS — the full arbitrary-state surface: per-user `ListState` of
    * open session intervals, merged incrementally as (possibly unordered)
    * events arrive, and a registered timer per open interval whose expiry
    * (`end + gap + 1 ms`) firing proves the watermark has passed any event
    * that could still extend it — only then does the session emit. This is
    * what `session_window` does internally, hand-built on the new API; the
    * gate pins it to the SAME gaps-and-islands oracle as the native form
    * and the batch operator, so all three session definitions stay one
    * truth.
    *
    * Semantics: events `delta <= gap` apart merge ('>' splits — the
    * island oracle's rule); `start_s`/`end_s` and the interval arithmetic
    * run in microseconds (the events table's precision), timers in the
    * engine's milliseconds. Requires an upstream `withWatermark` (enforced
    * by the API for `TimeMode.EventTime`) and the RocksDB provider.
    */
  class SessionizerTWS(gapUs: Long)
      extends StatefulProcessor[Long, SessEvent, SessionOut] {
    @transient private var open: ListState[SessInterval] = _
    private def gapMs = gapUs / 1000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getListState[SessInterval]("open",
        org.apache.spark.sql.Encoders.product[SessInterval], TTLConfig.NONE)

    private def micros(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

    override def handleInputRows(user: Long, rows: Iterator[SessEvent],
                                 timers: TimerValues): Iterator[SessionOut] = {
      val incoming = rows.map(e => SessInterval(micros(e.ts), micros(e.ts), 1L, e.value))
      val all = (if (open.exists()) open.get().toBuffer else
        scala.collection.mutable.Buffer.empty[SessInterval]) ++ incoming
      // interval merge under the `delta <= gap` rule, robust to unordered
      // arrival: sort by start, fold neighbors whose gap is within bound
      val merged = scala.collection.mutable.ArrayBuffer.empty[SessInterval]
      all.sortBy(i => (i.start_us, i.end_us)).foreach { iv =>
        if (merged.nonEmpty && iv.start_us - merged.last.end_us <= gapUs) {
          val p = merged.remove(merged.length - 1)
          merged += SessInterval(p.start_us, math.max(p.end_us, iv.end_us),
            p.n + iv.n, p.sum + iv.sum)
        } else merged += iv
      }
      open.put(merged.toArray)
      // ONE timer per user — at the EARLIEST open close point. A
      // per-interval timer is the obvious spelling but quadratic in state
      // I/O: k timers each re-read/rewrite the k-interval list (measured
      // 3.3 s at sf0.1's ~64 sessions/user; single-timer: the expiry
      // handler closes everything the watermark allows in one list pass
      // and re-arms for the next-earliest survivor). A stale (early)
      // expiry is harmless: nothing closes, the handler re-arms.
      getHandle.registerTimer(
        merged.map(_.end_us).min / 1000L + gapMs + 1L)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[SessionOut] = {
      val wmMs = timers.getCurrentWatermarkInMs()
      val current = if (open.exists()) open.get().toArray else Array.empty[SessInterval]
      val (closed, still) = current.partition(iv => iv.end_us / 1000L + gapMs < wmMs)
      if (still.isEmpty) open.clear()
      else {
        open.put(still)
        // re-arm strictly past the current watermark or the engine would
        // fire it again within this very batch
        getHandle.registerTimer(math.max(
          still.map(_.end_us).min / 1000L + gapMs + 1L, wmMs + 1L))
      }
      closed.iterator.map(iv => SessionOut(user, iv.n, iv.sum,
        iv.start_us / 1000000L, iv.end_us / 1000000L + gapUs / 1000000L))
    }
  }

  /** [[SessionizerTWS]] wired to an event stream: watermark (required by
    * `TimeMode.EventTime`), key by user, Append emission on timer expiry.
    */
  def sessionizeTWS(spark: SparkSession, events: DataFrame, gapSeconds: Long,
                    watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("value")).as[SessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionizerTWS(gapSeconds * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream-STATIC join: enrich a stream against a batch dimension table,
    * broadcast to every task — the standard streaming-enrichment shape
    * (every micro-batch joins against the same static relation; no state,
    * no watermark, the dim snapshot is read per batch). At cluster scale
    * the broadcast hint keeps each micro-batch shuffle-free on the stream
    * side — exactly the J1 batch posture, carried into the stream.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    streamKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey))

  /** Streaming exact dedup on an id column: `dropDuplicates` keeps the
    * FIRST arrival of each key across micro-batches (state = seen keys).
    * The un-watermarked form is the finite-replay/backfill shape; a
    * 24×7 production stream bounds state with
    * `withWatermark(...).dropDuplicatesWithinWatermark(...)` instead —
    * same operator, eviction added.
    */
  def dedupByKey(events: DataFrame, keyCols: String*): DataFrame =
    events.dropDuplicates(keyCols)

  /** The 24×7 production form of [[dedupByKey]]: state is BOUNDED — a key
    * is only remembered until the watermark on `tsCol` passes its event
    * time plus `watermark`, then evicted. The guarantee weakens accordingly
    * (duplicates arriving further apart than the watermark delay are NOT
    * absorbed), which is the honest contract of at-least-once ingest with
    * finite state: size the delay to the source's maximum redelivery
    * window, not to the stream's lifetime.
    */
  def dedupByKeyWithinWatermark(events: DataFrame, tsCol: String,
                                watermark: String, keyCols: String*): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Run any of the above to a named in-memory sink and block until the
    * source is drained — the hermetic local harness (and the pattern for
    * tests); production would swap `format("parquet").option("path", ...)`.
    */
  def runToMemory(df: Dataset[_], name: String, mode: OutputMode): Unit = {
    // explicit checkpoint in fast scratch (the engine's default temp
    // checkpoint lands under java.io.tmpdir — a real disk on most hosts;
    // offsets/commits/state deltas are the per-trigger floor), removed
    // after the run like the engine removes its temp checkpoints
    val ckpt = graft.Scratch.fresh(s"ckpt_$name")
    // Trigger.AvailableNow: the finite-replay trigger — snapshots the
    // available input at start, runs exactly the micro-batches that drain
    // it (plus any watermark-advance no-data batch the session enables),
    // then terminates itself. processAllAvailable-style polling paid an
    // extra idle-confirmation source round per gate; AvailableNow knows
    // its end. Same batches, same state transitions, same sink contents —
    // every gate's oracle hash pins that.
    val q = graft.Posture.withConfs(df.sparkSession, streamPins: _*) {
      df.writeStream.outputMode(mode).format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
    }
    try {
      q.awaitTermination()
      q.stop()
    }
    finally graft.Scratch.delete(ckpt)
  }

  /** The production sink shape: parquet files + checkpointed offsets.
    * Drains everything currently available, then stops. Invoking again
    * with the SAME checkpoint dir is a RESTART: the run resumes from the
    * recorded offsets — already-committed source files are never
    * re-emitted (the file sink's transaction log makes the output
    * exactly-once), new files are picked up where the stopped run left
    * off. StreamOpsSpec drives the restart/no-duplication contract.
    */
  def runToParquet(df: Dataset[_], path: String, checkpoint: String): Unit = {
    val q = graft.Posture.withConfs(df.sparkSession, streamPins: _*) {
      df.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    q.stop()
  }

  /** Streaming CDC apply — the continuous-MERGE pattern: every micro-batch
    * of change rows (key, attrs…, op) is merged into the parquet snapshot
    * at `snapshotPath` via [[graft.ops.Merge.applyChanges]], written to a
    * temp dir and atomically swapped in. Later triggers see earlier
    * triggers' merges (read-inside-foreachBatch), so a key updated in
    * batch 1 and deleted in batch 3 ends deleted — the cross-trigger
    * sequencing a one-shot batch MERGE can't express.
    *
    * Replayed batches (restart after a crash between commit and swap)
    * re-merge the same changes — applyChanges is idempotent per change-set
    * (re-upsert = same row, re-delete = no-op), so the swap converges.
    *
    * The swap itself is rename-aside, never delete-first: the live
    * snapshot moves to `_old`, the fresh one renames in, then `_old` is
    * dropped. Every rename's return value is REQUIRED — a failed swap
    * aborts the batch before the checkpoint commits its offsets — and a
    * crash inside the swap window (snapshot aside, fresh not yet in) is
    * healed at the next trigger by the aside-restore guard. The filesystem
    * is resolved from the SNAPSHOT PATH, not the default FS, so an
    * s3a://-style snapshot works under a file:// default.
    *
    * This gate-scale form rewrites the WHOLE snapshot per trigger. At
    * 100 TB the snapshot is key-partitioned and each batch rewrites only
    * the partitions its change keys touch (semi-join the partition list,
    * swap per partition) — same merge, bounded I/O. `outFiles` right-sizes
    * the rewrite (shuffle-partition-many tiny files triple the per-trigger
    * cost at bench scale).
    */
  def applyChangesStream(changes: DataFrame, snapshotPath: String,
                         checkpoint: String, keyCol: String, opCol: String,
                         outFiles: Int = 4): Unit = {
    val q = graft.Posture.withConfs(changes.sparkSession, streamPins: _*) { changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val dst = new org.apache.hadoop.fs.Path(snapshotPath)
        val aside = new org.apache.hadoop.fs.Path(snapshotPath + "_old")
        val tmp = new org.apache.hadoop.fs.Path(snapshotPath + "_tmp")
        val fs = dst.getFileSystem(ss.sparkContext.hadoopConfiguration)
        // heal a crash that landed inside a previous swap window: the old
        // snapshot sits aside and dst is gone — put it back before reading
        if (!fs.exists(dst) && fs.exists(aside))
          require(fs.rename(aside, dst),
            s"snapshot recovery failed: cannot restore $aside to $dst")
        // snapshot columns = change columns minus the op marker; declaring
        // the schema skips per-trigger footer inference on the re-read
        val snapSchema = StructType(batch.schema.filterNot(_.name == opCol))
        val merged = graft.ops.Merge.applyChanges(
          ss.read.schema(snapSchema).parquet(snapshotPath), batch, keyCol, opCol)
        merged.coalesce(outFiles).write.mode("overwrite").parquet(tmp.toString)
        fs.delete(aside, true) // leftover from a completed earlier swap
        require(fs.rename(dst, aside),
          s"snapshot swap failed: cannot move live $dst aside")
        if (!fs.rename(tmp, dst)) {
          // restore the live snapshot, then abort the batch BEFORE the
          // checkpoint commits — state stays consistent, the batch replays
          require(fs.rename(aside, dst),
            s"snapshot swap failed AND restore failed — manual recovery at $snapshotPath")
          throw new IllegalStateException(
            s"snapshot swap failed: cannot move fresh $tmp into $dst (restored old)")
        }
        fs.delete(aside, true)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    }
    q.awaitTermination()
    q.stop()
  }

  /** [[runningUserStats]]' state machine on the `transformWithState` API
    * (Spark 4's arbitrary-state successor to mapGroupsWithState): named
    * `ValueState` obtained from the processor handle, per-key update +
    * emit each micro-batch. Functionally identical output — the point is
    * engine-surface coverage of the NEW state API, whose state is
    * schema-evolvable and multi-variable where GroupState is one opaque
    * blob. Requires the RocksDB state-store provider (the API rejects the
    * HDFS-backed one); callers set
    * `spark.sql.streaming.stateStore.providerClass` before starting.
    */
  class RunningUserStatsProcessor
      extends StatefulProcessor[Long, UserEvent, UserStat] {
    @transient private var stat: ValueState[UserStat] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stat = getHandle.getValueState[UserStat]("stat",
        org.apache.spark.sql.Encoders.product[UserStat], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
                                 timers: TimerValues): Iterator[UserStat] = {
      val prev = if (stat.exists()) stat.get() else UserStat(user, 0L, 0.0)
      val (n, s) = rows.foldLeft((prev.n_events, prev.value_sum)) {
        case ((cnt, acc), e) => (cnt + 1, acc + e.value)
      }
      val next = UserStat(user, n, s)
      stat.update(next)
      Iterator.single(next)
    }
  }

  def runningUserStatsTWS(spark: SparkSession, events: DataFrame): Dataset[UserStat] = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningUserStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** CDC change landing over orders: three single-file drops (updates,
    * deletes, inserts — the cdc_merge %10 slices) written in mtime order,
    * so `maxFilesPerTrigger=1` delivers each change class in its own
    * micro-batch and the apply stream exercises cross-trigger merging.
    */
  def ordersChangesLanding(spark: SparkSession, dir: String): String =
    landing("stream_cdc", dir) { path =>
      import org.apache.spark.sql.functions._
      val o = graft.Tables.orders(spark, dir)
      val u = o.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1000).as("price"),
          lit("U").as("op"))
      val d = o.filter(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"), lit(null).cast("double").as("price"),
          lit("D").as("op"))
      val i = o.filter(col("o_orderkey") % 10 === 2)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit(1.0).as("price"), lit("I").as("op"))
      Seq(u, d, i).foreach(_.coalesce(1).write.mode("append").parquet(path))
    }
}
