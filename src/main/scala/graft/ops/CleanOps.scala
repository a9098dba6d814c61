package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Projection / filter / scalar-expression operators (SURVEY.md §2a P1–P13).
  *
  * Pure `DataFrame => DataFrame` functions, composable via `df.transform(...)`.
  * All are thin declarative layers over `org.apache.spark.sql.functions` so
  * Catalyst can push filters into the scan and prune columns — nothing here
  * breaks whole-stage codegen.
  *
  * Reference semantics: LucasTechAI/StockPy `scripts/extract_stocks_job.py`,
  * `scripts/transform_stocks_job.py`, `scripts/transform_news_job.py` (see
  * each member's Scaladoc for file:line).
  */
object CleanOps {

  /** P1 — conditional projection + cast with NaN→NULL collapse.
    *
    * Mirrors `extract_stocks_job.py:105-142`: for each (column, targetType),
    * keep the value only when it is non-null and (for fractional types) not
    * NaN, else NULL. NaN and NULL are distinct in Spark; the reference
    * deliberately collapses them at ingest.
    */
  def nanSafeCast(df: DataFrame, casts: Seq[(String, DataType)]): DataFrame = {
    val projected = casts.map { case (name, dt) =>
      val c = col(name)
      val guarded = dt match {
        case DoubleType | FloatType =>
          when(c.isNotNull && !isnan(c.cast(DoubleType)), c.cast(dt))
        case _ =>
          when(c.isNotNull, c.cast(dt))
      }
      guarded.otherwise(lit(null).cast(dt)).alias(name)
    }
    df.select(projected: _*)
  }

  /** P2 — bulk column rename (`extract_stocks_job.py:145-156`,
    * `transform_stocks_job.py:154-164`). Spark 3.4+ `withColumnsRenamed`
    * is a single Project, not N stacked ones.
    */
  def renameAll(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.withColumnsRenamed(renames)

  /** P3 — literal partition-tag column (`extract_stocks_job.py:97,158`). */
  def withProcessDate(df: DataFrame, processDate: String, colName: String = "dataproc"): DataFrame =
    df.withColumn(colName, lit(processDate).cast(StringType))

  /** P4 — type-cast cleanup: string date → DATE + numeric casts
    * (`transform_stocks_job.py:131-137`).
    */
  def castColumns(df: DataFrame, casts: Map[String, DataType]): DataFrame =
    casts.foldLeft(df) { case (d, (name, dt)) =>
      dt match {
        case DateType => d.withColumn(name, to_date(col(name)))
        case other    => d.withColumn(name, col(name).cast(other))
      }
    }

  /** P5 — conjunctive predicate filter (`transform_stocks_job.py:138-140`).
    * One `filter` with `&&` so Catalyst pushes the whole conjunction to the
    * parquet scan as separate `PushedFilters`.
    */
  def filterValid(df: DataFrame, predicates: Seq[Column]): DataFrame =
    if (predicates.isEmpty) df else df.filter(predicates.reduce(_ && _))

  /** P6 — same-day validity filter (`transform_news_job.py:112-116`): both
    * parsed dates non-null AND equal.
    */
  def sameDayFilter(df: DataFrame, left: Column, right: Column): DataFrame =
    df.filter(left.isNotNull && right.isNotNull && left === right)

  /** P7 — column drop (`transform_news_job.py:118-120`). */
  def dropColumns(df: DataFrame, names: String*): DataFrame = df.drop(names: _*)

  /** P8 — regex truncation of ISO timestamps to their date part
    * (`transform_news_job.py:104-106`).
    */
  def truncateIsoToDate(df: DataFrame, colName: String, outName: String): DataFrame =
    df.withColumn(outName, regexp_replace(col(colName), "T.*", ""))

  /** P9 — date parse (`transform_news_job.py:108-110`). `try_to_date`, not
    * `to_date`: the reference runs ANSI-off Spark 3 where unparseable
    * strings yield NULL; Spark 4's ANSI `to_date` would throw instead.
    */
  def parseDate(df: DataFrame, colName: String, outName: String, fmt: String = "yyyy-MM-dd"): DataFrame =
    df.withColumn(outName, try_to_date(col(colName), fmt))

  /** P10 — null-drop on a subset of columns, intersected with the columns
    * that actually exist (`transform_news_job.py:126-129`).
    */
  def dropNullsIn(df: DataFrame, subset: Seq[String]): DataFrame = {
    val present = subset.filter(df.columns.contains)
    if (present.isEmpty) df else df.na.drop(present)
  }

  /** P13 — string sanitize: the reference UTF-8-encodes with errors="ignore"
    * then strips (`extract_news_job.py:142-155`), driver-side before
    * `createDataFrame`. Same here: [[sanitizeString]] is the ingest-time
    * Scala port (drops unpaired surrogates — they can't survive the JVM→
    * UTF8String boundary anyway). The column op handles the in-flight part:
    * trim + strip control/replacement characters. No UDF, codegen-friendly.
    */
  def sanitize(df: DataFrame, colName: String): DataFrame =
    df.withColumn(colName,
      trim(regexp_replace(col(colName), "[\\p{Cntrl}�]", "")))

  /** Driver-side twin of the reference's `encode("utf-8","ignore")`+strip:
    * removes code units UTF-8 can't represent (unpaired surrogates), trims.
    */
  def sanitizeString(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
        sb.append(c).append(s.charAt(i + 1)); i += 2
      } else if (!Character.isSurrogate(c)) {
        sb.append(c); i += 1
      } else i += 1 // unpaired surrogate: drop, like errors="ignore"
    }
    sb.result().trim
  }
}
