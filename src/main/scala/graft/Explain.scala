package graft

/** Plan-inspection tool: print the formatted physical plan of one or more
  * registry queries. The final action never runs, but queries built on
  * eager materialization (localCheckpoint in the dedup/corpus-clean family,
  * connectedComponents' iteration) DO execute those intermediate jobs at
  * construction, and their checkpoints print as lineage-truncated
  * `Scan ExistingRDD` nodes — prefer the cheap scan/join/agg queries (or
  * sf0.001) when auditing those.
  *
  * Usage: runMain graft.Explain <queryName>[,<queryName>...] [sfDir]
  *
  * The session is built from [[Posture.benchConfs]], so the printed plans
  * are the plans the bench runs (AQE off, 16 shuffle partitions,
  * constraint propagation off, stable codegen class names).
  *
  * This is the feedback loop the 100 TB posture demands: after a query is
  * correct, read its plan — pushed filters, exchange count, reused
  * exchanges, whole-stage codegen spans — and iterate until it's the plan
  * you'd want on a 1000-executor cluster.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(sys.error("usage: Explain <queryName>[,<name>...] [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = Posture.session(Posture.cpus(4), Posture.benchConfs)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      println(s"===== $name =====")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
