package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** P11 — dynamic schema normalization (SURVEY.md §2a), re-expressing the
  * reference's `normalize_column_names` (`transform_news_job.py:42-84`):
  *
  *  1. lowercase + strip every incoming column name;
  *  2. match each *expected* column against the incoming ones: exact
  *     (underscores optional: `Published_Time` ≡ `publishedtime`) first,
  *     else the reference's SUBSTRING-CONTAINMENT rule
  *     (`transform_news_job.py:66-71`): the de-underscored expected name
  *     contained in the de-underscored incoming name, first match in the
  *     incoming schema's order — so `published_time_utc` normalizes to
  *     `published_time`;
  *  3. rename matches to the canonical expected name;
  *  4. add missing expected columns as typed NULL literals.
  *
  * Resolution is deterministic: all exact matches resolve before any
  * containment match (so a fuzzy claim can never steal a later expected
  * column's exact hit — the one ordering the reference's sequential loop
  * leaves ambiguous), each pass walks expected names in declaration order,
  * and each incoming column is claimable once.
  */
object SchemaOps {

  /** Normalize `df` to exactly `expected` (name → type), in that order. */
  def normalizeColumns(df: DataFrame, expected: Seq[(String, DataType)]): DataFrame = {
    def canon(s: String): String = s.toLowerCase.trim.replace("_", "")

    val incoming = df.columns.toSeq
    // withColumnsRenamed would collide if two raw names canon-match the same
    // expected name; claiming each raw column at most once avoids that.
    val claimed = scala.collection.mutable.Set.empty[String]
    val exact: Seq[(String, Option[String])] = expected.map { case (name, _) =>
      val hit = incoming.find(c => !claimed.contains(c) && canon(c) == canon(name))
      hit.foreach(claimed += _)
      name -> hit
    }
    val resolved: Seq[(String, Option[String])] = exact.map {
      case (name, None) =>
        val hit = incoming.find(c => !claimed.contains(c) && canon(c).contains(canon(name)))
        hit.foreach(claimed += _)
        name -> hit
      case hit => hit
    }

    val renames = resolved.collect { case (want, Some(have)) if have != want => have -> want }.toMap
    val renamed = if (renames.isEmpty) df else df.withColumnsRenamed(renames)

    val columns = expected.map { case (name, dt) =>
      if (renamed.columns.contains(name)) col(name).cast(dt).alias(name)
      else lit(null).cast(dt).alias(name)
    }
    renamed.select(columns: _*)
  }

  /** Physical-type drift guard: cast ONLY the columns whose actual type
    * differs from the expected logical type, leaving conforming columns
    * (and any extra columns) untouched. The common case — nothing drifted —
    * returns `df` itself, so scans keep exact predicate pushdown and
    * column pruning; a cast is introduced only where the source really
    * changed under us (upstream regeneration flipping a timestamp's
    * physical unit, an id narrowing int64→int32, a float→double promotion).
    * Unlike [[normalizeColumns]] this never renames, reorders, or invents
    * columns: a MISSING expected column is left missing so downstream
    * resolution fails loudly instead of silently computing on NULLs.
    *
    * Timestamp drift caveat: casts are wall-clock-preserving only under a
    * pinned session timezone (sessions here run UTC); a raw integer column
    * standing in for a timestamp needs a unit-aware conversion, not a cast
    * — callers own that case (see `graft.Tables.events`).
    */
  def conformTypes(df: DataFrame, expected: Seq[(String, DataType)]): DataFrame = {
    val actual = df.schema.map(f => f.name -> f.dataType).toMap
    val drifted = expected.filter { case (n, dt) => actual.get(n).exists(_ != dt) }
    if (drifted.isEmpty) df
    else df.withColumns(drifted.map { case (n, dt) => n -> col(n).cast(dt) }.toMap)
  }
}
