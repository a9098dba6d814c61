package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with [[graft.tools.DumpOracle]] so the gauge's oracle dump
    * can never drift from the driver-facing one. */
  private[graft] def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The ONE renderer of an oracle_sql.json payload, shared with
    * [[graft.tools.DumpOracle]]. Hoisting only the escape left the
    * object-assembly line duplicated in both producers, where a format
    * tweak to one would silently diverge the gauge's dump from the
    * driver-facing one — the whole map→JSON step lives here instead. */
  private[graft] def oracleJson(entries: Map[String, String]): String =
    entries.map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for fast local
    // iteration (the driver always passes exactly two args → full run)
    val wanted: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    wanted.foreach { w =>
      val unknown = w.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    val cpus = Posture.cpus(4)
    val spark = Posture.session(cpus, Posture.verifyConfs(cpus))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => wanted.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = oracleJson(SparkEntry.oracleSql
      .filter { case (k, _) => wanted.forall(_.contains(k)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
