package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Catalog / DDL operators (SURVEY.md §2a D1–D8, K3), against Spark's
  * built-in session catalog. The reference's three-tier Glue/Athena/boto3
  * fallbacks collapse to plain `spark.sql` DDL here — same observable
  * semantics (database/table/partition lifecycle), one code path.
  */
object Catalog {

  // All DDL is assembled by string interpolation, so embedded quote
  // characters must be escaped or a name/path containing one breaks (or
  // redirects) the generated SQL.
  /** Quoted identifier: backticks doubled. */
  private def qi(ident: String): String = "`" + ident.replace("`", "``") + "`"
  /** Quoted string literal: single quotes doubled. */
  private def qs(v: String): String = "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"

  /** D1 — CREATE DATABASE IF NOT EXISTS (`extract_news_job.py:324`). */
  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${qi(db)}")

  /** D2 — partitioned external parquet table at an explicit location
    * (`transform_stocks_job.py:66-84`). `schema` covers DATA columns only;
    * `partitions` are (name, sqlType) appended as PARTITIONED BY. The
    * location is created first (empty), so a table made before its first
    * write reads as no rows.
    *
    * Datasource syntax (`USING parquet`), not Hive's `STORED AS`: identical
    * externally-located Hive-layout table, but it works on the built-in
    * in-memory catalog (no Hive metastore in this environment) and reads
    * through Spark's native vectorized parquet source.
    *
    * The table stores its writer settings as table options: snappy,
    * dynamic partition overwrite (an overwriting insert into a partitioned
    * table replaces only the partitions its rows produce, and replaces
    * nothing when it has no rows), plus the caller's `options`.
    */
  def createExternalTable(spark: SparkSession, db: String, table: String,
                          schema: StructType, partitions: Seq[(String, String)],
                          location: String, options: Map[String, String] = Map.empty): Unit = {
    val path = new Path(location)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(path): Unit
    val cols = (schema.fields.map(f => s"${qi(f.name)} ${f.dataType.sql}") ++
      partitions.map { case (n, t) => s"${qi(n)} $t" }).mkString(", ")
    // PARTITIONED BY () is a parse error — omit the clause for unpartitioned tables
    val parts =
      if (partitions.isEmpty) ""
      else partitions.map { case (n, _) => qi(n) }.mkString("\nPARTITIONED BY (", ", ", ")")
    // table options, not writer options: `insertInto` silently drops the latter
    val opts = (Map("compression" -> "snappy", "partitionOverwriteMode" -> "dynamic") ++ options)
      .map { case (k, v) => s"${qs(k)} ${qs(v)}" }.mkString("\nOPTIONS (", ", ", ")")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${qi(db)}.${qi(table)} ($cols)
         |USING parquet$opts$parts
         |LOCATION ${qs(location)}""".stripMargin)
  }

  /** D4 — DROP TABLE IF EXISTS (`extract_news_job.py:326`). */
  def dropTable(spark: SparkSession, db: String, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${qi(db)}.${qi(table)}")

  /** D5 — existence probe; `spark.catalog.tableExists` instead of the
    * reference's DESCRIBE-in-try/except (`transform_stocks_job.py:37-52`).
    */
  def tableExists(spark: SparkSession, db: String, table: String): Boolean =
    spark.catalog.tableExists(s"${qi(db)}.${qi(table)}")

  /** D6 — MSCK REPAIR TABLE: discover Hive-layout partition directories
    * written outside the catalog (`extract_stocks_job.py:318-349`).
    */
  def repairTable(spark: SparkSession, db: String, table: String): Unit =
    spark.sql(s"MSCK REPAIR TABLE ${qi(db)}.${qi(table)}")

  /** D7 — SHOW PARTITIONS (`extract_stocks_job.py:330-338`). */
  def showPartitions(spark: SparkSession, db: String, table: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS ${qi(db)}.${qi(table)}")
      .collect().map(_.getString(0)).toSeq

  /** D8 — idempotent ADD PARTITION with explicit location, the reference's
    * boto3 get/create-partition fallback (`extract_stocks_job.py:274-316`).
    */
  def addPartition(spark: SparkSession, db: String, table: String,
                   spec: Map[String, String], location: String): Unit = {
    val specSql = spec.map { case (k, v) => s"${qi(k)}=${qs(v)}" }.mkString(", ")
    spark.sql(s"ALTER TABLE ${qi(db)}.${qi(table)} ADD IF NOT EXISTS " +
      s"PARTITION ($specSql) LOCATION ${qs(location)}")
  }

  /** K3 — catalog-mediated partitioned write (`transform_news_job.py:158-164`
    * wrote through the Glue catalog): insert into a registered table,
    * matching columns BY POSITION. The insert registers the partitions it
    * creates. Mode overwrite: on a table from [[createExternalTable]]
    * (dynamic partition overwrite) the rows' partitions are appended, or
    * replaced where the table already has them, and every other partition
    * is left as it is. A table without that option is replaced whole.
    */
  def appendToTable(df: DataFrame, db: String, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).insertInto(s"${qi(db)}.${qi(table)}")

  /** S5 — catalog table scan (`transform_news_job.py:320-323`). */
  def readTable(spark: SparkSession, db: String, table: String): DataFrame =
    spark.table(s"${qi(db)}.${qi(table)}")
}
