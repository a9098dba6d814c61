package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark client. One JVM per run, one client thread, closed loop.
  *
  * usage:
  *   Main run <runDir> <cores> <out> <workload> <seed> <seconds> <trace>
  *            <sfDir> <gateFile> <coldOnly>
  *                                            run the workload; with coldOnly
  *                                            = 1 only its cold pass
  *
  * The run record (JSON) goes to `<out>`; stdout carries Spark's log.
  */
object Main {
  val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def epochSeconds(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: runDir :: cores :: out :: workload :: seed :: seconds :: trace ::
        sfDir :: gateFile :: coldOnly :: Nil =>
      val spark = Session.start(cores.toInt, runDir, trace == "1")
      val ready = epochSeconds()
      val rec = new Runner(spark, runDir, cores.toInt, workload, seed.toLong, seconds.toDouble,
        trace == "1", sfDir, gateFile).run(coldOnly == "1")
      Files.writeString(Paths.get(out), json.writeValueAsString(
        rec ++ Map("ready_epoch_s" -> ready,
          "confs" -> Session.confs(cores.toInt, runDir, trace == "1").toMap)))
      spark.stop()
    case _ =>
      System.err.println("usage: see perfbench/README.md")
      sys.exit(2)
  }
}

final class Runner(spark: SparkSession, runDir: String, cores: Int, workloadName: String,
                   seed: Long, seconds: Double, traced: Boolean, sfDir: String,
                   gateFile: String) {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tracer = if (traced) Some(new Tracer) else None
  private var tracing = false

  private val gates: Seq[(String, Long)] =
    if (gateFile == "-") Nil
    else Files.readAllLines(Paths.get(gateFile)).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(n, c) = l.split("\t"); n -> c.toLong
    }

  // The steady work is fixed by `seconds`, never by the clock, so every run
  // of a workload does the same operations whatever the program's speed:
  // one ETL date per two seconds of run time, at least three; one gate pass
  // per four seconds, at least two, and three in a traced run so its traced
  // pass has untraced passes on both sides.
  private val steadyDates = math.max(3, math.ceil(seconds / 2.0).toInt)
  private val steadyGatePasses = math.max(if (traced) 3 else 2, math.ceil(seconds / 4.0).toInt)
  private val workload: Workload = workloadName match {
    case "etl_backfill" =>
      new EtlWorkload(spark, runDir, seed, steadyDates, if (tracing) tracer else None)
    case _ => new GateWorkload(spark, sfDir, seed, gates, steadyGatePasses)
  }
  private val isEtl = workload.isInstanceOf[EtlWorkload]

  final case class OpRec(name: String, family: String, pass: Int, traced: Boolean,
                         start: Long, end: Long, wall: Double, cpu: Double,
                         error: Option[String], metrics: Map[String, Double],
                         self: Map[String, Double])

  private val recs = mutable.ArrayBuffer.empty[OpRec]
  /** Every traced operation's span tree, written out when the run ends. */
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def fsStats(): (Long, Long) =
    (CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get)

  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1000.0)
  }

  private def runOp(op: Op, pass: Int): Unit = {
    op.prepare()
    val t = tracer.filter(_ => tracing)
    val fs0 = fsStats(); val cg0 = codegen()
    val cpu0 = os.getProcessCpuTime
    val s0 = t.map(_.now()).getOrElse(0L)
    val n0 = System.nanoTime()
    val result = try {
      Right(t match {
        case Some(tr) =>
          tr.span(s"req-${recs.size}", "bench")(tr.span(op.name, Gates.layer(op.family))(op.run()))
        case None => op.run()
      })
    } catch { case scala.util.control.NonFatal(e) => Left(s"${op.name}: ${e.toString.take(500)}") }
    val n1 = System.nanoTime()
    val cpu1 = os.getProcessCpuTime
    val s1 = t.map(_.now()).getOrElse(0L)
    val fs1 = fsStats(); val cg1 = codegen()
    val error = result.fold(Some(_), r => op.check(r))
    val wall = (n1 - n0) / 1e9
    val (metrics, self) = t match {
      case Some(tr) =>
        tr.settle(spark)
        val m = mutable.Map[String, Double](
          "io.fs_read_ops" -> (fs1._1 - fs0._1).toDouble,
          "io.fs_write_ops" -> (fs1._2 - fs0._2).toDouble,
          "spark.codegen_compiles" -> (cg1._1 - cg0._1).toDouble,
          "spark.codegen_s" -> (cg1._2 - cg0._2))
        val self = traceOp(tr, op, s0, s1, wall, m)
        (m.toMap, self)
      case None => (Map.empty[String, Double], Map.empty[String, Double])
    }
    recs += OpRec(op.name, op.family, pass, t.isDefined, s0, s1, wall, (cpu1 - cpu0) / 1e9,
      error, metrics, self)
  }

  /** Builds the operation's span tree from the client spans and the listener
    * records that started inside it, and derives its per-layer metrics.
    */
  private def traceOp(tr: Tracer, op: Op, s0: Long, s1: Long, wall: Double,
                      m: mutable.Map[String, Double]): Map[String, Double] = {
    val inOp = (t: Long) => t >= s0 && t <= s1
    val client = tr.clientSpans.filter(s => s.start >= s0 && s.end <= s1).toSeq
    tr.clientSpans.clear()
    val root = client.find(_.parent == 0L).get
    def innermost(t: Long): Long = client.filter(s => s.start <= t && t <= s.end)
      .maxByOption(s => (s.start, -s.dur)).getOrElse(root).id
    val execs = tr.sqlExecs.values.asScala.filter(e => inOp(e.start)).toSeq.sortBy(_.start)
    val execSpans = execs.map { e =>
      val end = if (e.end < e.start) e.start else e.end
      val outer = execs.filter(o => o.id != e.id && o.start <= e.start &&
        (o.end < 0 || o.end >= end) && (o.start < e.start || o.id < e.id))
      val parent = outer.lastOption.map(o => 1000000000L + o.id).getOrElse(innermost(e.start))
      Span(1000000000L + e.id, parent, s"sql ${e.kind}", Trace.sqlLayer(e.kind), e.start, end)
    }
    val execIds = execs.map(_.id).toSet
    val jobs = tr.jobs.values.asScala.filter(j => inOp(j.start)).toSeq
    val jobSpans = jobs.map { j =>
      val parent = j.execId.filter(execIds).map(1000000000L + _).getOrElse(innermost(j.start))
      Span(2000000000L + j.id, parent, s"job ${j.id}", "spark", j.start, math.max(j.start, j.end))
    }
    val self = Trace.layerSelf(client ++ execSpans ++ jobSpans, root.id)
    spans ++= client ++ execSpans ++ jobSpans

    def secs(us: Long) = us / 1e6
    def durOf(p: Span => Boolean) = secs((client ++ execSpans).filter(p).map(_.dur).sum)
    Seq("extract_stocks", "extract_news", "transform_stocks", "transform_news").foreach { n =>
      m(s"pipeline.${n}_s") = durOf(s => s.name == n && s.layer == "pipeline")
    }
    m("pipeline.fetch_s") = durOf(_.name.startsWith("fetch_"))
    val planned = tr.planned.asScala.filter(p => inOp(p.start)).toSeq
    tr.planned.removeIf(p => p.start <= s1)
    val extractSpans = client.filter(s => s.name.startsWith("extract_"))
    val fetchedRows = planned.filter(p => extractSpans.exists(s => s.start <= p.start && p.start <= s.end))
      .flatMap(_.writes).map(_._3).sum
    workload match {
      case etl: EtlWorkload =>
        m("pipeline.fetch_bytes") = etl.transport.bytes.toDouble
        m("pipeline.rows_fetched") = fetchedRows.toDouble
        m("io.partitions") = etl.partitions().toDouble
      case _ =>
    }
    val writes = planned.flatMap(_.writes)
    m("io.write_s") = durOf(_.name == "sql write")
    m("io.catalog_s") = durOf(_.name == "sql catalog")
    m("io.files_written") = writes.map(_._1).sum.toDouble
    m("io.bytes_written") = writes.map(_._2).sum.toDouble
    m("io.rows_written") = writes.map(_._3).sum.toDouble
    // the gate's own materialization runs outside any SQL execution, so its
    // planning phases are read from its query execution directly
    val ownPlanMs = workload match {
      case g: GateWorkload if g.lastDf != null => tr.plannedOf(g.lastDf.queryExecution).planMs
      case _ => 0L
    }
    m("spark.plan_s") = (planned.map(_.planMs).sum + ownPlanMs) / 1000.0
    m("spark.driver_s") = wall - secs(Trace.union(jobSpans.map(j => (j.start, j.end))))
    m("spark.jobs") = jobs.size.toDouble
    val tasks = tr.tasks.asScala.filter(t => inOp(t.launch)).toSeq
    tr.tasks.removeIf(t => t.launch <= s1)
    m("spark.tasks") = tasks.size.toDouble
    m("spark.task_wait_s") = secs(tasks.map(t => math.max(0L, t.launch - t.stageSubmit)).sum)
    m("spark.task_run_s") = tasks.map(_.runMs).sum / 1000.0
    m("spark.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    m("spark.gc_s") = tasks.map(_.gcMs).sum / 1000.0
    m("spark.shuffle_bytes") = tasks.map(_.shuffleBytes).sum.toDouble
    m("spark.spill_bytes") = tasks.map(_.spillBytes).sum.toDouble
    val trig = tr.triggers.asScala.filter(t => inOp(t.start)).toSeq
    tr.triggers.removeIf(t => t.start <= s1)
    def phase(k: String) = trig.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    m("streaming.triggers") = trig.size.toDouble
    m("streaming.add_batch_s") = phase("addBatch")
    m("streaming.query_planning_s") = phase("queryPlanning")
    m("streaming.wal_commit_s") = phase("walCommit")
    m("streaming.trigger_s") = phase("triggerExecution")
    execs.foreach(e => tr.sqlExecs.remove(e.id))
    jobs.foreach(j => tr.jobs.remove(j.id))
    self.map { case (k, v) => k -> secs(v) }
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (numpy's default). */
  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest whole percentile of `n` samples with at least ten samples
    * beyond it, or the maximum (p100) when there is none.
    */
  private def tailPct(n: Int): Double =
    (0 to 100).findLast(p => n - 1 - math.floor((n - 1) * p / 100.0) >= 10).getOrElse(100).toDouble

  def run(coldOnly: Boolean): Map[String, Any] = {
    // pass 0 is the cold pass, then come the untimed warm-up passes, then
    // the steady passes, alternating untraced and traced ones in a traced
    // run so the tracing overhead is measured in the same JVM
    setTracing(traced)
    workload.pass(0).foreach(runOp(_, 0))
    setTracing(false)
    if (coldOnly) return Map("attempted" -> recs.size, "failed" -> recs.count(_.error.nonEmpty),
      "errors" -> recs.flatMap(_.error), "cold_s" -> recs.map(_.wall).sum)
    (1 to workload.warmupPasses).foreach(p => workload.pass(p).foreach(runOp(_, p)))
    (1 to workload.steadyPasses).foreach { k =>
      val p = workload.warmupPasses + k
      workload.pass(p).zipWithIndex.foreach { case (op, i) =>
        // traced run: ETL alternates per date, gate passes alternate whole
        setTracing(traced && (if (isEtl) i % 2 == 1 else k % 2 == 0))
        runOp(op, p)
      }
    }
    setTracing(false)
    // the last gate's DataFrame would keep whatever that gate cached or
    // broadcast alive through live_mb, so live_mb would follow the seed's
    // gate order
    workload match { case g: GateWorkload => g.lastDf = null; case _ => }
    if (traced) Files.write(Paths.get(runDir, "spans.jsonl"), spans.map(Main.json.writeValueAsString).asJava)
    summarize()
  }

  /** Listeners are attached only while an operation is traced, so the
    * untraced operations of a traced run pay nothing for them.
    */
  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    tracer.foreach(t => if (on) t.attach(spark) else { t.settle(spark); t.detach(spark) })
    tracing = on
  }

  /** Memory the program still holds once its work is done: heap in use after
    * full collections plus non-heap in use (metaspace with the generated
    * classes, code cache), in MB. Unlike the resident set it does not follow
    * the fixed heap size.
    */
  private def liveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc(); Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed.toDouble
    }
    // each collection lets Spark's cleaner drop shuffle and broadcast state
    // it tracked through weak references, which frees more on the next one:
    // collect until the heap stops shrinking
    var last = collect(); var heap = collect(); var rounds = 2
    while (heap < last * 0.99 && rounds < 8) { last = heap; heap = collect(); rounds += 1 }
    (heap + mem.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  private def summarize(): Map[String, Any] = {
    val steady = recs.filter(_.pass > workload.warmupPasses).toSeq
    val steadyPlain = steady.filter(!_.traced)
    val passes = steady.groupBy(_.pass).toSeq.sortBy(_._1)
    // untraced figures come from the untraced operations only
    val plainPassWalls = passes.map(_._2.filterNot(_.traced)).filter(_.nonEmpty)
      .map(_.map(_.wall).sum)
    val opWalls = steadyPlain.map(_.wall)
    val tail = tailPct(opWalls.size)
    val e2e = Map(
      "cold_s" -> recs.filter(_.pass == 0).map(_.wall).sum,
      "pass_s" -> median(plainPassWalls),
      "op_p50_s" -> median(opWalls),
      "op_tail_s" -> percentile(opWalls, tail),
      "cpu_s" -> steadyPlain.map(_.cpu).sum / math.max(1, plainPassWalls.size),
      "live_mb" -> liveMb())
    val base = Map[String, Any](
      "attempted" -> recs.size, "failed" -> recs.count(_.error.nonEmpty),
      "errors" -> recs.flatMap(_.error).take(20),
      "steady_ops" -> opWalls.size, "steady_passes" -> plainPassWalls.size,
      "tail_pct" -> tail, "e2e" -> e2e,
      "shares" -> (if (isEtl) EtlInputs.shares.toMap else Map.empty[String, Any]),
      "ops" -> recs.map(r => Map("name" -> r.name, "pass" -> r.pass, "traced" -> r.traced,
        "wall_s" -> r.wall, "cpu_s" -> r.cpu, "ok" -> r.error.isEmpty)))
    if (!traced) base else base ++ Map("trace" -> traceSummary(steady))
  }

  private def traceSummary(steady: Seq[OpRec]): Map[String, Any] = {
    val tr = steady.filter(_.traced)
    val cold = recs.filter(_.pass == 0)
    // ETL reports per steady date; gate workloads per steady pass
    val units = if (isEtl) tr.size.toDouble else tr.map(_.pass).distinct.size.toDouble
    def sum(k: String) = tr.map(_.metrics.getOrElse(k, 0.0)).sum
    val keys = tr.flatMap(_.metrics.keys).distinct
    val layer = mutable.LinkedHashMap.empty[String, Double]
    keys.foreach(k => layer(k) = sum(k) / units)
    layer("spark.codegen_compiles") = cold.map(_.metrics.getOrElse("spark.codegen_compiles", 0.0)).sum
    layer("spark.codegen_s") = cold.map(_.metrics.getOrElse("spark.codegen_s", 0.0)).sum
    if (isEtl) layer("io.partitions") = sum("io.partitions") / tr.size
    val fetched = sum("pipeline.rows_fetched")
    layer("io.write_amp") = if (fetched > 0) sum("io.rows_written") / fetched else 0.0
    layer("spark.core_busy") = sum("spark.task_run_s") / (tr.map(_.wall).sum * cores)
    def fam(f: String*) = tr.filter(r => f.contains(r.family)).map(_.wall).sum / units
    layer("io.roundtrip_s") = fam("roundtrip")
    layer("queries.core_s") = fam("core", "roundtrip")
    layer("plans.asof_s") = fam("asof")
    layer("streaming.gates_s") = fam("streaming")
    layer("ext.dedup_s") = fam("dedup")
    layer("ext.simsearch_s") = fam("simsearch")
    layer("ext.pagerank_s") = fam("pagerank")
    layer("ext.corpus_s") = fam("corpus")
    val layers = Seq("bench", "pipeline", "io", "queries", "plans", "streaming", "ext", "spark")
    val self = layers.map(l => l -> tr.map(_.self.getOrElse(l, 0.0)).sum / units).toMap
    // reconciliation: the layer self times of an operation against its wall
    // time, measured outside the spans
    val worst = tr.map(r => math.abs(r.wall - r.self.values.sum) / r.wall).maxOption.getOrElse(0.0)
    // overhead: each traced unit against the mean of its untraced neighbours;
    // the steady units still speed up a little from one to the next; a traced
    // unit between two untraced ones cancels that trend
    val unitWalls: Seq[(Boolean, Double)] =
      if (isEtl) steady.map(r => (r.traced, r.wall))
      else steady.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, rs) => (rs.head.traced, rs.map(_.wall).sum) }
    val ratios = unitWalls.indices.filter(unitWalls(_)._1).flatMap { i =>
      val nb = Seq(i - 1, i + 1).filter(j => j >= 0 && j < unitWalls.size && !unitWalls(j)._1)
        .map(unitWalls(_)._2)
      if (nb.isEmpty) None else Some(unitWalls(i)._2 / (nb.sum / nb.size))
    }
    val untracedUnit = unitWalls.filter(!_._1).map(_._2)
    val tracedUnit = unitWalls.filter(_._1).map(_._2)
    Map("per_layer" -> layer.toMap,
      "self_s" -> self,
      "unit" -> (if (isEtl) "per steady date" else "per steady pass"),
      "reconcile_worst_frac" -> worst,
      "overhead_frac" -> (if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size - 1.0),
      "untraced_unit_s" -> median(untracedUnit),
      "traced_unit_s" -> median(tracedUnit),
      "traced_ops" -> tr.size)
  }
}
