package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Text-format sources/sinks (CSV, JSON lines) alongside the parquet
  * default — interchange formats every ingestion boundary eventually needs.
  *
  * Reads take an EXPLICIT schema: at 100 TB, `inferSchema` is a full extra
  * pass over the data before the real scan, and a sampled inference can
  * flip a column's type between runs. Schema-on-read through a declared
  * `StructType` is one pass and deterministic. Distribution is inherited
  * from Spark's file sources: both formats split into per-file (and, for
  * uncompressed CSV/JSON, per-block) partitions with predicate/projection
  * handled after parse — columnar pruning is parquet's edge, which is why
  * these are interchange formats, not the storage layout.
  */
object FormatIO {

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC — the other columnar interchange format Spark ships natively
    * (vectorized reader, predicate pushdown, same splittable-stripe
    * distribution model as parquet). Declared schema on read for the same
    * one-pass discipline as the text formats.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Write `df` out as `format`, read it straight back with the SAME schema
    * — the round-trip proves value fidelity through the text encoding and
    * is what the format gates run.
    */
  def roundTrip(df: DataFrame, path: String, format: String): DataFrame = {
    val spark = df.sparkSession
    format match {
      case "csv" => writeCsv(df, path); readCsv(spark, path, df.schema)
      case "json" => writeJsonl(df, path); readJsonl(spark, path, df.schema)
      case "orc" => writeOrc(df, path); readOrc(spark, path, df.schema)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }
}
