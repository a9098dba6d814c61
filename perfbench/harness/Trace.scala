package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recording for the traced run.
  *
  * Spans form the tree operation (root, carrying the request id) → pipeline
  * stage or gate → SQL execution → job. The client thread opens the first
  * two levels itself; SQL executions and jobs come from listener events and
  * are attached to their parent afterwards (a job through its
  * `spark.sql.execution.id`, a SQL execution or an orphan job through the
  * innermost client span that was open when it started). Everything stays
  * in memory until the run ends.
  *
  * Times are epoch microseconds. Listener events carry epoch milliseconds,
  * so nesting is exact to about a millisecond; the run reconciles each
  * operation's per-layer self times with its wall time.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long) {
  def dur: Long = math.max(0L, end - start)
}

final class Tracer {
  private val wall0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def now(): Long = wall0 + (System.nanoTime() - nano0) / 1000L

  private var nextId = 1L
  private val open = mutable.Stack.empty[(Long, String, String, Long)]
  val clientSpans = mutable.ArrayBuffer.empty[Span]

  /** Opens a span on the client thread around `body`. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = if (open.isEmpty) 0L else open.top._1
    open.push((id, name, layer, now()))
    try body
    finally {
      val (_, n, l, s) = open.pop()
      clientSpans += Span(id, parent, n, l, s, now())
    }
  }

  // ---- listener-side records (appended from the listener bus threads) ----
  final case class SqlExec(id: Long, kind: String, start: Long, var end: Long)
  final case class Job(id: Int, execId: Option[Long], start: Long, var end: Long)
  final case class Task(launch: Long, stageSubmit: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleBytes: Long, spillBytes: Long)
  final case class Planned(start: Long, planMs: Long, writes: Seq[(Long, Long, Long)])
  final case class Trigger(start: Long, durations: Map[String, Long])

  val sqlExecs = new java.util.concurrent.ConcurrentHashMap[Long, SqlExec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val planned = new ConcurrentLinkedQueue[Planned]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def ms(t: Long): Long = t * 1000L

  /** SQL executions that write files or change the catalog belong to `io`. */
  private def kindOf(info: SparkPlanInfo): String = {
    val names = mutable.ArrayBuffer.empty[String]
    def walk(p: SparkPlanInfo): Unit = { names += p.nodeName + " " + p.simpleString; p.children.foreach(walk) }
    walk(info)
    val all = names.mkString(" ")
    if (all.contains("InsertIntoHadoopFsRelationCommand") || all.contains("WriteFiles")) "write"
    else if (Seq("CreateTable", "CreateDataSourceTable", "CreateDatabase", "CreateNamespace",
        "DropTable", "RepairTable", "AlterTable").exists(all.contains)) "catalog"
    else "query"
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlExecs.put(s.executionId, SqlExec(s.executionId, kindOf(s.sparkPlanInfo), ms(s.time), -1L))
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlExecs.get(s.executionId)).foreach(_.end = ms(s.time))
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobs.put(j.jobId, Job(j.jobId, exec, ms(j.time), -1L))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.end = ms(j.time))
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      s.stageInfo.submissionTime.foreach(t => stageSubmit.put(s.stageInfo.stageId, ms(t)))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        val launch = ms(t.taskInfo.launchTime)
        tasks.add(Task(launch, stageSubmit.getOrDefault(t.stageId, launch), m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  /** Planning phases and write-command metrics of every finished action. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned.add(plannedOf(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def plannedOf(qe: QueryExecution): Planned = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val writes = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: DataWritingCommandExec =>
          def v(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
          writes += ((v("numFiles"), v("numOutputBytes"), v("numOutputRows")))
        case _ =>
      }
      (p.children ++ p.subqueries).foreach(walk)
      p match {
        case c: org.apache.spark.sql.execution.CommandResultExec => walk(c.commandPhysicalPlan)
        case _ =>
      }
    }
    try walk(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => }
    Planned(ms(start), planMs, writes.toSeq)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val ts = java.time.Instant.parse(e.progress.timestamp)
      triggers.add(Trigger(ts.toEpochMilli * 1000L,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Lets the listener bus drain so an operation's last events are in. */
  def settle(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  }
}

object Trace {
  /** Layer of a SQL execution span by what it runs. */
  def sqlLayer(kind: String): String = if (kind == "query") "spark" else "io"

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer for one operation's span tree: each span's duration
    * minus the union of its children clipped to it. Sibling jobs that run
    * concurrently (broadcast builds) count once. Child time outside its
    * parent, or overlapping siblings that are not leaf jobs, make the
    * per-layer sum differ from the operation's wall time; the run checks it.
    */
  def layerSelf(spans: Seq[Span], rootId: Long): Map[String, Long] = {
    val byParent = spans.groupBy(_.parent)
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def visit(s: Span): Unit = {
      val kids = byParent.getOrElse(s.id, Nil)
      val clipped = kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      out(s.layer) += s.dur - union(clipped)
      // concurrent leaf jobs of one parent: count their union once
      val (leaves, inner) = kids.partition(k => !byParent.contains(k.id) && k.layer == "spark" && k.name.startsWith("job"))
      inner.foreach(visit)
      if (leaves.nonEmpty) out("spark") += union(leaves.map(k => (k.start, k.end)))
    }
    visit(spans.find(_.id == rootId).get)
    out.toMap
  }
}
