package graft.tools

import org.apache.spark.sql.Freeze

/** Generic cold/warm split for ANY registry gate: runs
  * `SparkEntry.queries(name)` twice in one JVM against `dir`, with the
  * standard blocking cleanup between passes — the decomposition that
  * closed the 100× pagerank question in round 13 (262 s cold → 73.4 s
  * warm). Pass 1 carries cold-start (page cache for the scale tiles,
  * JIT, parquet footers) plus whatever sustained-exposure throttling the
  * window dealt; pass 2 is the number comparable across scales.
  *
  * Covers ALL six heavy families since round 15: `graph_pagerank`'s
  * registry gate derives its supplier offset from max(o_custkey) and
  * data-sizes its own shuffle partitions, so tiled key ranges are safe
  * (it overrides the [parts] arg for its own body, as the stream run
  * helpers do for every stream).
  *
  * usage: GateTwice <gateName> <dir> [shuffleParts=32] [passes=2]
  */
object GateTwice {
  private val usage = "usage: GateTwice <gate> <dir> [shuffleParts=32] [passes=2]"
  // numeric-arg validation matches the known-names discipline on the gate
  // arg: a typo'd value must fail at the usage line, not as a raw
  // NumberFormatException or later inside Spark conf parsing. Positivity
  // included: parts=0 dies deep inside Spark, and passes=0 would print the
  // header, measure nothing, and exit 0 — an automation wrapper would read
  // that as a completed measurement
  private def numArg(v: String, what: String): Int = {
    val n = try v.toInt catch { case _: NumberFormatException =>
      sys.error(s"$what must be a positive integer (got '$v'); $usage") }
    if (n <= 0) sys.error(s"$what must be a positive integer (got '$v'); $usage")
    n
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error(usage))
    val dir = args.lift(1).getOrElse("/tmp/scale100x")
    val parts = args.lift(2).map(numArg(_, "shuffleParts")).getOrElse(32)
    val passes = args.lift(3).map(numArg(_, "passes")).getOrElse(2)
    // resolve the gate BEFORE paying session startup, with the known names
    val gate = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown gate '$name'; known: " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    // ScaleCheck's session, so the two tools' readings stay comparable in
    // one COVERAGE table
    val spark = ScaleCheck.session(parts)
    println(f"[gatetwice] gate=$name dir=$dir parts=$parts heap=${Runtime.getRuntime.maxMemory() / (1L << 30)}%dg")
    for (pass <- 1 to passes) {
      val t0 = System.nanoTime()
      val rows = gate(spark, dir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // BLOCKING release + GC between passes: non-blocking returns before
      // the blocks are freed, so the next pass would run under this pass's
      // storage pressure (at 10x data in-sequence pagerank read 34.4 s vs
      // 11.8 s isolated, measured round 12 — see ScaleCheck.run)
      Freeze.releaseAll(spark, blocking = true)
      System.gc()
      println(f"[gatetwice] pass_$pass $sec%.2f s ($rows rows)")
    }
    spark.stop()
  }
}
