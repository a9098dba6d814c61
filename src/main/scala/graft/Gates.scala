package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Freeze, SparkSession}

/** The one place that knows how a registry gate is picked, materialized,
  * timed and released. `Bench`, `Verify`, `Explain` and `ScaleCheck` run
  * their gates through it; `SparkEntry` only holds the registry. */
object Gates {

  type Gate = (SparkSession, String) => DataFrame

  /** One timed gate: wall seconds, rows, and the error text if it threw
    * (0 rows then). */
  final case class Result(name: String, sec: Double, rows: Long, error: Option[String])

  /** Every registry gate in name order, so warm-up lands on the same first
    * gate every run and per-gate numbers compare across runs. */
  def registry: Seq[(String, Gate)] = SparkEntry.queries.toSeq.sortBy(_._1)

  /** The gates `names` names, in order and without duplicates; all of
    * `among` when `names` is empty. An unknown name fails listing the known
    * ones, so a typo fails before any session starts and never yields a
    * silently empty "successful" run. */
  def pick(names: Seq[String], among: Seq[(String, Gate)] = registry): Seq[(String, Gate)] = {
    val known = among.toMap
    val unknown = names.distinct.filterNot(known.contains)
    if (unknown.nonEmpty)
      sys.error(s"unknown gate(s) ${unknown.mkString("'", "', '", "'")}; known: ${among.map(_._1).mkString(", ")}")
    if (names.isEmpty) among else names.distinct.map(n => n -> known(n))
  }

  // Through the compiled plan's own RDD, NOT .count(): a count on top lets
  // Catalyst prune every unreferenced projection, so map-only gates (p1, p2,
  // txt_redact_pii, emb_quantize_int8, …) were timed as bare scans while the
  // DuckDB oracle pays for a full fetchall. toRdd evaluates every output
  // column as declared — the work Verify pays — without hash overhead.
  private def materialize(spark: SparkSession, gate: Gate, dir: String): Long =
    gate(spark, dir).queryExecution.toRdd.count()

  /** Run `gates` once each on `dir`, untimed. Only NON-fatal failures are
    * swallowed: a warm-up failure must never mask the measured run, but an
    * OutOfMemoryError here means the heap entering it is hosed. */
  def warm(spark: SparkSession, gates: Seq[(String, Gate)], dir: String): Unit =
    gates.foreach { case (_, gate) =>
      try materialize(spark, gate, dir): Unit catch { case NonFatal(_) => () }
      Freeze.releaseAll(spark, blocking = false)
    }

  /** Time one gate on `dir`; every Throwable lands in `error`, so a failure
    * is visible and never a fast fake timing. Then free the session's
    * blocks. `isolate = false` (Bench) neither waits nor collects: the suite
    * measured 121.4 s without a per-gate System.gc() vs 137.7 s with, which
    * evicts JIT-hot code. `isolate = true` (ScaleCheck) blocks until the
    * blocks are freed, then collects: otherwise the next gate runs under
    * this one's storage pressure (in-sequence pagerank at 10x data: 34.4 s
    * vs 11.8 s isolated, round 12). */
  def time(spark: SparkSession, name: String, gate: Gate, dir: String, isolate: Boolean): Result = {
    val t0 = System.nanoTime()
    val (rows, error) =
      try (materialize(spark, gate, dir), None)
      catch { case e: Throwable => (0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val sec = (System.nanoTime() - t0) / 1e9
    Freeze.releaseAll(spark, blocking = isolate)
    if (isolate) System.gc()
    Result(name, sec, rows, error)
  }
}
