package graft.ops

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** P11 dynamic schema normalization: misnamed/missing columns per
  * FIXTURES.md §A4 (`news_misnamed`).
  */
class SchemaOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("fuzzy-matches case/underscore variants, adds missing as typed null") {
    val messy = Seq(("t1", "2024-05-01T00:00:00", "term1"))
      .toDF("Title ", "Published_Time", "SEARCHTERM")
    val out = SchemaOps.normalizeColumns(messy,
      Seq("title", "published_time", "search_term", "source").map(_ -> StringType))
    assert(out.columns.toSeq === Seq("title", "published_time", "search_term", "source"))
    val r = out.head()
    assert(r.getString(0) === "t1")
    assert(r.getString(1) === "2024-05-01T00:00:00")
    assert(r.getString(2) === "term1")
    assert(r.get(3) === null, "missing expected column becomes typed null")
    assert(out.schema("source").dataType === StringType)
  }

  test("substring containment fallback: published_time_utc -> published_time") {
    // the reference's rule (transform_news_job.py:66-71): de-underscored
    // expected name CONTAINED in the de-underscored incoming name
    val messy = Seq(("2024-05-01T00:00:00Z", "t1"))
      .toDF("Published_Time_UTC", "title_text")
    val out = SchemaOps.normalizeColumns(messy,
      Seq("title", "published_time").map(_ -> StringType))
    assert(out.columns.toSeq === Seq("title", "published_time"))
    val r = out.head()
    assert(r.getString(0) === "t1", "title matched by containment in title_text")
    assert(r.getString(1) === "2024-05-01T00:00:00Z")
  }

  test("exact matches resolve before any containment claim") {
    // a fuzzy-eligible earlier expected must not steal a later expected's
    // exact hit: 'title' could contain-match 'subtitle', but 'subtitle' is
    // someone's exact match
    val messy = Seq(("sub", "t1")).toDF("subtitle", "title")
    val out = SchemaOps.normalizeColumns(messy, Seq("title", "subtitle").map(_ -> StringType))
    val r = out.head()
    assert(r.getString(0) === "t1" && r.getString(1) === "sub")
  }

  test("each incoming column claimed once; first expected wins") {
    val messy = Seq(("a", "b")).toDF("search_term", "searchterm")
    val out = SchemaOps.normalizeColumns(messy, Seq("search_term", "extra").map(_ -> StringType))
    assert(out.head().getString(0) === "a")
  }

  test("idempotent on already-canonical schema") {
    val clean = Seq(("x", "y")).toDF("title", "link")
    val out = SchemaOps.normalizeColumns(clean, Seq("title", "link").map(_ -> StringType))
    assert(out.collect().map(_.toSeq).toSeq === Seq(Seq("x", "y")))
  }

  test("conformTypes is the identity when nothing drifted") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val out = SchemaOps.conformTypes(df,
      Seq("id" -> LongType, "name" -> StringType))
    assert(out eq df, "no-drift pass must not rebuild the plan")
  }

  test("conformTypes casts only the drifted columns, preserves values") {
    val df = Seq((7, "a", 1.5f)).toDF("id", "name", "score")
    val out = SchemaOps.conformTypes(df,
      Seq("id" -> LongType, "name" -> StringType, "score" -> DoubleType))
    assert(out.schema("id").dataType === LongType)
    assert(out.schema("name").dataType === StringType)
    assert(out.schema("score").dataType === DoubleType)
    val r = out.head()
    assert(r.getLong(0) === 7L)
    assert(r.getDouble(2) === 1.5)
  }

  test("conformTypes NTZ->LTZ timestamp drift is wall-clock-preserving under UTC") {
    val df = spark.sql(
      "SELECT TIMESTAMP_NTZ '2024-05-01 12:34:56.789' AS ts")
    val out = SchemaOps.conformTypes(df, Seq("ts" -> TimestampType))
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.selectExpr("CAST(ts AS STRING)").head().getString(0)
      === "2024-05-01 12:34:56.789")
  }

  test("conformTypes leaves missing expected columns missing (loud downstream)") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val out = SchemaOps.conformTypes(df,
      Seq("id" -> LongType, "gone" -> StringType))
    assert(out.columns.toSeq === Seq("id", "name"),
      "no invented NULL column — resolution must fail loudly downstream")
  }
}
