package org.apache.spark.sql

/** The one place that materializes an intermediate inside a query, and
  * frees it again. A freeze is a local checkpoint: the rows are computed
  * once into executor blocks, and the plan above reads them through a
  * [[execution.LogicalRDD]] leaf with its lineage cut, so two consumers of
  * one subtree stop re-running it and an iterative plan stops growing. A
  * lost executor takes its blocks, and every query reading them, with it;
  * the policy is decided here only. Lives in `org.apache.spark.sql` for
  * the `private[sql]` seams — no Spark behavior is modified.
  */
object Freeze {

  /** Freeze `df` and return it with its row count. The eager checkpoint
    * already runs a counting action to force materialization, so callers
    * that size-gate on the frozen relation's cardinality (broadcast vs
    * shuffle path choices) would otherwise pay a SECOND job for a number
    * the first one discarded. Same incantation as Dataset.checkpoint —
    * row-copy, localCheckpoint, count, LogicalRDD.fromDataset — returning
    * the count alongside the frozen frame.
    */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val n = rdd.count()
    val logical = execution.LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    (classic.Dataset.ofRows(ds.sparkSession, logical), n)
  }

  /** Freeze `df` eagerly: one job, like `Dataset.localCheckpoint()`, but
    * outside a SQL execution (no SQL-tab entry, no QueryExecutionListener).
    */
  def apply(df: DataFrame): DataFrame = counted(df)._1

  /** Freeze `df` lazily: the blocks are written by the first job that
    * computes the frame, so the freeze adds no job of its own.
    */
  def deferred(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Free the storage blocks of every frozen leaf under `df`.
    * `Dataset.unpersist` only talks to the cache manager, which never sees
    * a checkpointed RDD — the blocks live on the RDD itself, reachable
    * through the plan's [[execution.LogicalRDD]] leaves, so a frame built
    * on several frozen relations frees them all. No-op on a frame with no
    * frozen leaf. A freed frame can no longer be read: its lineage is cut.
    *
    * `blocking = true` when the caller immediately re-allocates (e.g. an
    * escalation rerun): non-blocking frees may not land before the next
    * job's blocks arrive, and the transient double-occupancy pressures
    * execution memory (the same effect that inflated ScaleCheck's
    * in-sequence timings 3×).
    */
  def release(df: DataFrame, blocking: Boolean): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking): Unit
      case _ => ()
    }

  /** Unpersist every persisted RDD of the session, checkpoint blocks
    * included. As Bench's per-query policy (non-blocking) an early 138-gate
    * measurement read ~neutral (124.1 vs 121.4 s same-weather), but the
    * round-7/8 registry added several freeze-heavy gates (prefix index,
    * substring spans, components) and the verdict flipped hard: the
    * 8-query dedup subset measures 25.9 s with blocks accumulating vs 8.1 s
    * unpersisting (dedup_simhash 3.9→0.5, _prefix 8.5→1.1, substring_spans
    * 6.2→1.2 — same weather, warm, second round). Leaked blocks squeeze
    * execution memory and the suite pays in shuffle spills, exactly what a
    * long-lived cluster session would see; eager cleanup after each query's
    * materialization mirrors what ContextCleaner does lazily on GC, just
    * deterministically. Safe between gates because no gate re-executes
    * another gate's plan: each builds fresh from Tables (a released frozen
    * frame cannot be re-executed — lineage is truncated — so this stays a
    * harness policy, not a library default). `blocking = true` waits until
    * the blocks are actually freed; callers that time one gate after
    * another at scale need it (see ScaleCheck).
    */
  def releaseAll(spark: SparkSession, blocking: Boolean): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))

  /** Freeze `fast`; if `escalate(frozen, rowCount)`, release it and freeze
    * `safe` (by-name: built only then) instead. Returns the frozen result —
    * a frame whose pipeline has already run either way — and whether
    * escalation fired. The release blocks, because the safe rerun
    * allocates at once (see [[release]]; ADVICE r12).
    */
  def escalating(fast: DataFrame)(escalate: (DataFrame, Long) => Boolean)(
      safe: => DataFrame): (DataFrame, Boolean) = {
    val (frozen, n) = counted(fast)
    if (!escalate(frozen, n)) (frozen, false)
    else {
      release(frozen, blocking = true)
      (apply(safe), true)
    }
  }
}
