package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}
import graft.Posture.withConfs

/** Streaming ops driven by the batch events parquet as a one-file stream
  * (memory sink + processAllAvailable = synchronous micro-batch).
  * Cross-checks streaming window results against the batch twins.
  */
class StreamOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val rocksDbState = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // stage the normalized events as a one-file drop (the landing-zone
  // layout — landings are written from Tables.events, ts as TimestampType)
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-stream")
    Tables.events(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }

  test("windowedCounts (streaming) ≡ batch tumbling per (window, type)") {
    val stream = StreamOps.readEventStream(spark, streamDir)
    StreamOps.runToMemory(
      StreamOps.windowedCounts(stream, 3600, 3600), "tumb", OutputMode.Complete())
    val streamed = spark.table("tumb")
      .select("window_start_s", "event_type", "n")
      .as[(Long, String, Long)].collect().toSet

    val batch = Tables.events(spark, sfDir)
      .groupBy(org.apache.spark.sql.functions.window($"ts", "3600 seconds"), $"event_type")
      .count()
      .select(org.apache.spark.sql.functions.unix_timestamp($"window.start").as("s"),
        $"event_type", $"count")
      .as[(Long, String, Long)].collect().toSet

    // Complete mode re-emits every window each trigger (Append would hold
    // back windows still inside the watermark on a finite stream)
    assert(streamed === batch)
  }

  test("sessionCounts produces gap-merged sessions per user") {
    val stream = StreamOps.readEventStream(spark, streamDir)
    StreamOps.runToMemory(
      StreamOps.sessionCounts(stream, gapSeconds = 1800), "sess", OutputMode.Complete())
    val rows = spark.table("sess")
      .select("user_id", "start_s", "end_s", "n_events")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, s, e, n) => assert(e >= s && n >= 1) }
    // session count per user matches the batch sessionizer
    val batchSessions = graft.ext.Sessionize
      .sessionStats(Tables.events(spark, sfDir), "user_id", "ts", "value", 1800)
      .groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    val streamSessions = rows.groupBy(_._1).map { case (u, rs) => u -> rs.length.toLong }
    assert(streamSessions === batchSessions)
  }

  test("pairsWithinLeftOuter ≡ batch left join: unmatched rows flush at end-of-stream") {
    import org.apache.spark.sql.functions.{col, expr, coalesce, lit}
    // sentinel landing: the far-future drop drags the watermark past every
    // real event, which is what lets the outer join emit its UNMATCHED rows
    // (Spark must prove no match can still arrive before NULL-extending)
    val landing = StreamOps.eventsLandingWithSentinel(spark, sfDir)
    def side() = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(2))
    StreamOps.runToMemory(
      StreamOps.pairsWithinLeftOuter(side(), side(), withinSeconds = 300),
      "outer_join_sink", OutputMode.Append())
    val streamed = spark.table("outer_join_sink")
      .filter(col("user_id") =!= StreamOps.SentinelUser)
      .as[(Long, Long, Long)].collect().toSet
    val e = Tables.events(spark, sfDir).select("user_id", "event_id", "ts")
    val l = e.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("l_ts"))
    val r = e.select(col("user_id").as("r_user"), col("event_id").as("b_id"), col("ts").as("r_ts"))
    val batch = l.join(r, expr(
        "user_id = r_user AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL 300 SECONDS"), "leftOuter")
      .select(col("user_id"), col("a_id"), coalesce(col("b_id"), lit(-1L)).as("b_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.exists(_._3 == -1L), "unmatched rows must flush (else vacuous)")
    assert(streamed.exists(_._3 != -1L), "matched pairs present (else vacuous)")
  }

  test("multi-batch: per-file micro-batches accumulate; watermark drops late data") {
    import org.apache.spark.sql.functions.{col, lit}
    // batch 1: on-time events at 10:00-10:30; batch 2: one event a full day
    // EARLIER than batch 1's max — far beyond the 10-minute watermark
    val dir = Files.createTempDirectory("graft-late")
    def write(name: String, rows: Seq[(Long, String, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "tss", "user_id", "event_type", "value", "props")
        .withColumn("ts", org.apache.spark.sql.functions
          .to_timestamp(col("tss"))).drop("tss")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/$name")

    write("b1", Seq(
      (1L, "2024-06-01 10:00:00", 1L, "click", 1.0, "{}"),
      (2L, "2024-06-01 10:30:00", 1L, "click", 1.0, "{}")))

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/b1").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val agg = StreamOps.windowedCounts(stream, 3600, 3600, watermark = "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_test").start()
    q.processAllAvailable()

    write("b2", Seq((3L, "2024-05-31 09:00:00", 1L, "click", 5.0, "{}")))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("late_test")
      .select("window_start_s", "n").as[(Long, Long)].collect().toMap
    // the late 05-31 event must NOT appear: its window closed before the
    // watermark (10:30 - 10min) when batch 2 arrived
    val lateWindow = java.time.Instant.parse("2024-05-31T09:00:00Z").getEpochSecond / 3600 * 3600
    assert(!rows.contains(lateWindow), s"late event leaked into $rows")
  }

  test("parquet sink + checkpoint: restart resumes offsets, output exactly-once") {
    val landing = Files.createTempDirectory("graft-ck-landing")
    val sink = Files.createTempDirectory("graft-ck-sink").toString
    val ckpt = Files.createTempDirectory("graft-ck-state").toString
    def drop(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$landing/$name")
    def landed(name: String): Unit = {
      // move the part file up into the landing root, as a single drop
      val part = Files.list(Paths.get(s"$landing/$name")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(part), Paths.get(s"$landing/$name.parquet"))
    }
    val ns = 1717200000L * 1000000000L // epoch nanos base (raw-nanos schema)
    drop("f1", Seq((1L, ns, 10L, "click", 1.0, "{}"))); landed("f1")

    def run(): Unit = StreamOps.runToParquet(
      StreamOps.readEventStream(spark, landing.toString).select("event_id", "user_id"),
      sink, ckpt)
    run() // drains f1
    assert(spark.read.parquet(sink).count() === 1)

    drop("f2", Seq((2L, ns + 1000000000L, 11L, "view", 2.0, "{}"))); landed("f2")
    run() // RESTART from checkpoint: picks up only f2
    val after = spark.read.parquet(sink).select("event_id").as[Long].collect().sorted
    assert(after.toSeq === Seq(1L, 2L), "f1 must not be re-emitted on restart")

    run() // restart with nothing new: no duplicates, no new files
    assert(spark.read.parquet(sink).count() === 2, "idle restart re-emitted rows")
  }

  test("applyChangesStream: cross-trigger merge — update in batch 1, delete of the SAME key in batch 2") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-cdc-spec").toString
    val snap = s"$base/snapshot"
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(snap)
    val landing = s"$base/changes"
    // file 1: update k=1; file 2 (later mtime → later trigger): delete k=1,
    // insert k=3. A one-shot applyChanges can't take two ops on one key —
    // the stream applies them in trigger order.
    Seq((1L, Some(11.0), "U")).toDF("k", "v", "op")
      .coalesce(1).write.mode("append").parquet(landing)
    Seq((1L, Option.empty[Double], "D"), (3L, Some(30.0), "I")).toDF("k", "v", "op")
      .coalesce(1).write.mode("append").parquet(landing)
    val changes = spark.readStream.schema("k BIGINT, v DOUBLE, op STRING")
      .option("maxFilesPerTrigger", 1).parquet(landing)
    StreamOps.applyChangesStream(changes, snap, s"$base/ckpt", "k", "op")
    val got = spark.read.parquet(snap).as[(Long, Double)].collect().toMap
    assert(got === Map(2L -> 20.0, 3L -> 30.0),
      "k=1 updated then deleted must END deleted; k=3 inserted; k=2 untouched")

    // RESTART with the same checkpoint and no new files: committed batches
    // must not re-apply, the snapshot is byte-for-byte the same state
    val changes2 = spark.readStream.schema("k BIGINT, v DOUBLE, op STRING")
      .option("maxFilesPerTrigger", 1).parquet(landing)
    StreamOps.applyChangesStream(changes2, snap, s"$base/ckpt", "k", "op")
    assert(spark.read.parquet(snap).as[(Long, Double)].collect().toMap ===
      Map(2L -> 20.0, 3L -> 30.0), "idle restart must not re-merge committed changes")
  }

  test("dedupByKeyWithinWatermark absorbs replayed duplicates; bounded state") {
    // duplicate landing: originals then byte-identical copies one trigger
    // later — a delay covering the table's span must absorb every copy
    val landing = StreamOps.eventsLandingWithDuplicates(spark, sfDir)
    val stream = StreamOps.readEventStream(spark, landing, maxFilesPerTrigger = Some(2))
    StreamOps.runToMemory(
      StreamOps.dedupByKeyWithinWatermark(stream, "ts", "35 days", "event_id")
        .groupBy("user_id").count(),
      "wm_dedup", OutputMode.Complete())
    val got = spark.table("wm_dedup").as[(Long, Long)].collect().toMap
    val want = Tables.events(spark, sfDir)
      .groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(got === want, "every replayed duplicate inside the delay absorbed")
  }

  test("RocksDB state store provider: streaming agg ≡ batch under the " +
    "production state backend") {
    withConfs(spark, rocksDbState) {
      val stream = StreamOps.readEventStream(spark, streamDir)
      StreamOps.runToMemory(
        StreamOps.windowedCounts(stream, 3600, 3600), "rocks_tumb",
        OutputMode.Complete())
      val got = spark.table("rocks_tumb")
        .select("window_start_s", "event_type", "n")
        .as[(Long, String, Long)].collect().toSet
      val want = Tables.events(spark, sfDir)
        .groupBy(org.apache.spark.sql.functions.window($"ts", "3600 seconds"),
          $"event_type")
        .count()
        .select(org.apache.spark.sql.functions.unix_timestamp($"window.start"),
          $"event_type", $"count")
        .as[(Long, String, Long)].collect().toSet
      assert(got === want, "RocksDB-backed state must be result-identical")
    }
  }

  test("runningUserStats accumulates per-key state across a batch") {
    val stream = StreamOps.readEventStream(spark, streamDir)
    StreamOps.runToMemory(
      StreamOps.runningUserStats(spark, stream), "running", OutputMode.Update())
    val got = spark.table("running")
      .select("user_id", "n_events")
      .as[(Long, Long)].collect().toMap
    val want = Tables.events(spark, sfDir)
      .groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("sessionizeTWS (event-time timers) ≡ batch gaps-and-islands sessions") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // timers fire in the trailing batch AFTER the sentinel advances the
    // watermark — that batch carries no data
    withConfs(spark, rocksDbState,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") {
      val landing = StreamOps.eventsLandingWithSentinel(spark, sfDir)
      val stream = StreamOps.readEventStream(spark, landing)
      StreamOps.runToMemory(
        StreamOps.sessionizeTWS(spark, stream, gapSeconds = 1800),
        "sess_tws", OutputMode.Append())
      val got = spark.table("sess_tws")
        .filter($"user_id" =!= StreamOps.SentinelUser)
        .select($"user_id", $"n_events", round($"value_sum", 4).as("v"),
          $"start_s", $"end_s")
        .as[(Long, Long, Double, Long, Long)].collect().toSet

      val byUser = Window.partitionBy($"user_id").orderBy($"us")
      val want = Tables.events(spark, sfDir)
        .select($"user_id", unix_micros($"ts").as("us"), $"value")
        .withColumn("prev", lag($"us", 1).over(byUser))
        .withColumn("new", when($"prev".isNull || $"us" - $"prev" > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("seq", sum($"new").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"user_id", $"seq")
        .agg(count(lit(1)).as("n_events"), round(sum($"value"), 4).as("v"),
          (min($"us") / 1000000L).cast("long").as("start_s"),
          (max($"us") / 1000000L + 1800L).cast("long").as("end_s"))
        .select($"user_id", $"n_events", $"v", $"start_s", $"end_s")
        .as[(Long, Long, Double, Long, Long)].collect().toSet
      assert(got === want && got.nonEmpty)
    }
  }

  test("typeCountsTWS (MapState) final counts ≡ batch groupBy(user, type)") {
    withConfs(spark, rocksDbState) {
      val stream = StreamOps.readEventStream(spark, streamDir)
      StreamOps.runToMemory(StreamOps.typeCountsTWS(spark, stream),
        "type_counts_tws", OutputMode.Update())
      val got = graft.ops.AggOps.dedupByKeyOrdered(
          spark.table("type_counts_tws"), Seq("user_id", "event_type"),
          Seq($"n".desc))
        .select("user_id", "event_type", "n")
        .as[(Long, String, Long)].collect().toSet
      val want = Tables.events(spark, sfDir)
        .groupBy("user_id", "event_type").count()
        .as[(Long, String, Long)].collect().toSet
      assert(got === want && got.nonEmpty)
    }
  }

  test("stream-static enrich ≡ batch broadcast join") {
    val stream = StreamOps.readEventStream(spark, streamDir)
    val dim = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
    StreamOps.runToMemory(
      StreamOps.enrichWithDim(stream, dim, "user_id", "c_custkey")
        .select("event_id", "c_mktsegment"),
      "enrich_sink", OutputMode.Append())
    val got = spark.table("enrich_sink")
      .as[(Long, String)].collect().toSet
    val want = Tables.events(spark, sfDir)
      .join(dim, $"user_id" === $"c_custkey")
      .select("event_id", "c_mktsegment")
      .as[(Long, String)].collect().toSet
    assert(got === want && got.nonEmpty)
  }

  test("transformWithState running stats ≡ mapGroupsWithState ≡ batch " +
    "(new arbitrary-state API, RocksDB-backed)") {
    // transformWithState requires the RocksDB provider
    withConfs(spark, rocksDbState) {
      val stream = StreamOps.readEventStream(spark, streamDir)
      StreamOps.runToMemory(
        StreamOps.runningUserStatsTWS(spark, stream), "running_tws",
        OutputMode.Update())
      // Update mode re-emits a user's row per micro-batch; final state =
      // the max-n_events emission per user (n strictly increases)
      val got = graft.ops.AggOps.dedupByKeyOrdered(spark.table("running_tws"),
          Seq("user_id"), Seq($"n_events".desc))
        .select("user_id", "n_events")
        .as[(Long, Long)].collect().toMap
      val want = Tables.events(spark, sfDir)
        .groupBy("user_id").count().as[(Long, Long)].collect().toMap
      assert(got === want)
    }
  }
}
