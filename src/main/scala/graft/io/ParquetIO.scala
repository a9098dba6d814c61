package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Partitioned parquet writes by path (SURVEY.md §2a K1–K2). The daily
  * pipeline reads and writes its tables through the catalog instead
  * ([[Catalog]]), where a partition-filtered read lists only the matching
  * partitions.
  */
object ParquetIO {

  /** K1/K2 — partitioned snappy-parquet write by path, mirroring the
    * reference's writer chain (`extract_stocks_job.py:386-393`).
    *
    * Not the reference's append: mode `overwrite` with the writer option
    * `partitionOverwriteMode=dynamic` replaces exactly the partition
    * directories the rows produce and leaves every other one alone. A
    * write with no rows replaces nothing.
    */
  def writePartitioned(df: DataFrame, path: String, partitions: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .partitionBy(partitions: _*).parquet(path)

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
    *
    * External: the files live at `location`, not under the warehouse dir,
    * so the caller decides how long they last.
    */
  def writeBucketed(df: DataFrame, db: String, table: String, location: String,
                    bucketCols: Seq[String], buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", location)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(s"`$db`.`$table`")
}
