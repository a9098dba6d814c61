package graft.tools

import java.nio.file.{Files, Paths}

/** Dump the FULL `SparkEntry.oracleSql` map as `<outDir>/oracle_sql.json`
  * without running any query (no Spark session — the map is static).
  *
  * Exists for `perfbench/oracle_counts.py`, which runs the oracle SQL in
  * DuckDB to regenerate the benchmark's expected row counts; without this
  * tool the only producer is a full `graft.Verify` run (minutes), and a
  * subset Verify filters the dump to the subset. One JVM start, <1 s.
  *
  * usage: DumpOracle <outDir>
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error("usage: DumpOracle <outDir>"))
    new java.io.File(outDir).mkdirs()
    // the ONE renderer, shared with Verify's dump — the two producers of
    // oracle_sql.json must stay format-identical (escape AND assembly)
    val json = graft.Verify.oracleJson(graft.SparkEntry.oracleSql)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[dumporacle] wrote ${graft.SparkEntry.oracleSql.size} oracle entries to $outDir/oracle_sql.json")
  }
}
