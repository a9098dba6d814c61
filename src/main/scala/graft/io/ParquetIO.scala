package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, spark_partition_id, xxhash64}
import org.apache.spark.sql.types.StructType

/** Partitioned parquet sources/sinks (SURVEY.md §2a S4, K1–K2).
  *
  * Reads go through the table ROOT plus partition-column predicates —
  * Catalyst's file-index pruning then skips non-matching `dataproc=`/`setor=`
  * directories, which is the scalable form of the reference's manual path
  * construction (`transform_stocks_job.py:32`): same IO, but the pruning is
  * visible to the optimizer and composes with further pushed filters.
  */
object ParquetIO {

  /** S4 — read one (or any) Hive partition by predicate, pruning at the
    * file index. `partitionFilters` e.g. Map("dataproc" -> "20240501").
    *
    * A caller that knows the table's schema passes it, data and partition
    * columns both: the read then types the partition columns as given (no
    * inference: `dataproc` stays a STRING) and runs no footer-inference job.
    * None keeps the generic infer-from-footers path.
    */
  def readPartitioned(spark: SparkSession, root: String,
                      partitionFilters: Map[String, String] = Map.empty,
                      schema: Option[StructType] = None): DataFrame = {
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    val base = reader.option("basePath", root).parquet(root)
    partitionFilters.foldLeft(base) { case (df, (k, v)) => df.filter(col(k) === v) }
  }

  /** Shared writer chain so the sibling sinks can't silently diverge on
    * mode/compression/writer options.
    */
  private def writer(df: DataFrame, disableDictionary: Boolean, overwrite: Boolean,
                     maxRecordsPerFile: Option[Long]) = {
    val w0 = df.write.mode(if (overwrite) "overwrite" else "append")
      .option("compression", "snappy")
    val w1 = if (disableDictionary)
      w0.option("parquet.enable.dictionary", "false")
        .option("parquet.bloom.filter.enabled", "false")
    else w0
    maxRecordsPerFile.fold(w1)(m => w1.option("maxRecordsPerFile", m.toString))
  }

  /** K1/K2 — partitioned snappy-parquet write, mirroring the reference's
    * writer chain (`extract_stocks_job.py:386-393`) including its explicit
    * dictionary/bloom-filter opt-out on raw stocks. Append by default (the
    * reference's mode); `overwrite` for idempotent scratch outputs.
    */
  def writePartitioned(df: DataFrame, path: String, partitions: Seq[String],
                       disableDictionary: Boolean = false,
                       overwrite: Boolean = false): Unit =
    writer(df, disableDictionary, overwrite, None)
      .partitionBy(partitions: _*).parquet(path)

  /** Size-controlled partitioned write — the small-files guard.
    *
    * A naive `df.write.partitionBy(p)` emits one file per (task ×
    * partition-value): with T tasks and P partition values that is up to
    * T×P files — the classic metadata/NameNode killer at 100 TB.
    * Repartitioning on (partition columns + a salt of
    * `tasksPerPartition` buckets) routes each partition value to a bounded
    * number of tasks, and `maxRecordsPerFile` splits oversized outputs.
    * Result: ≤ tasksPerPartition × ceil(rows/maxRec) files per value,
    * independent of upstream parallelism.
    *
    * `tasksPerPartition` trades file count for write parallelism: 1 gives
    * exactly one writer per value (fewest files, but a 40%-hot value
    * funnels through one core); size it to ≈ hot-value rows /
    * maxRecordsPerFile so each output file gets its own task.
    */
  def writeSized(df: DataFrame, path: String, partitions: Seq[String],
                 maxRecordsPerFile: Long, tasksPerPartition: Int = 1): Unit = {
    val salted = df.withColumn("__wsalt",
      pmod(xxhash64(spark_partition_id()), lit(tasksPerPartition.toLong)))
    writer(salted.repartition((partitions :+ "__wsalt").map(col): _*).drop("__wsalt"),
      disableDictionary = false, overwrite = false, Some(maxRecordsPerFile))
      .partitionBy(partitions: _*)
      .parquet(path)
  }

  /** Small-file COMPACTION (the lakehouse OPTIMIZE): rewrite a parquet
    * directory into ~`targetBytes` files, sized from the directory's actual
    * on-disk bytes rather than a guessed row count. Reads the whole input
    * once, writes once to `outPath` (a same-path rewrite would corrupt the
    * source it is still reading — callers atomically swap directories after
    * the rewrite lands, the standard compact-then-swap protocol).
    *
    * This exists because a streaming sink or a per-trigger append quietly
    * accumulates thousands of KB-scale files: every later scan then pays
    * one task + one footer read per file, and the file listing itself
    * dominates planning. Compaction restores the 100 MB–1 GB rowgroup band
    * scans want. Coalesce (no shuffle) is deliberate: output order within
    * files is irrelevant here, and a full exchange of the data to round out
    * file sizes would cost more than the skew it removes — callers wanting
    * clustered output compose `ZOrder.layout` BEFORE the write instead.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long = 256L * 1024 * 1024,
              schema: Option[StructType] = None): Unit = {
    require(targetBytes > 0)
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // callers that know the table's schema pass it and skip footer
    // inference — at object-store scale that is a listing + ranged GET
    // per compaction run; None keeps the generic infer-from-footers path
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    reader.parquet(inPath).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(outPath)
  }

  /** Bucketed catalog table: rows hash-clustered into `buckets` files by
    * `bucketCols`, sorted within each bucket.
    *
    * The 100 TB co-location primitive: two tables bucketed the same way on
    * the join key join with ZERO exchange — each task zips bucket i with
    * bucket i (verified by `BucketingSpec`: no Exchange in the plan). The
    * shuffle is paid once at write time instead of on every join, which is
    * the right trade for fact tables joined repeatedly on the same key.
    * Bucket pruning also serves point lookups on the bucket key.
    */
  def writeBucketed(df: DataFrame, db: String, table: String,
                    bucketCols: Seq[String], buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(s"`$db`.`$table`")

  /** Local recursive delete for scratch table directories — the one shared
    * copy (bucketed-gate pre-clean, scratch-table teardown).
    */
  def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
