package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Freeze

/** Driver-run correctness dump: each registry gate's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The ONE renderer of an oracle_sql.json payload, shared with
    * [[graft.tools.DumpOracle]] so the dump `perfbench/oracle_counts.py`
    * reads can never drift from the one Verify writes. */
  private[graft] def oracleJson(entries: Map[String, String]): String =
    entries.map { case (k, v) => s"${Bench.jsonStr(k)}: ${Bench.jsonStr(v)}" }
      .mkString("{", ",", "}")
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated gate-name filter for fast local
    // iteration (the driver always passes exactly two args → full run)
    val picked = Gates.pick(args.lift(2).fold(Seq.empty[String])(_.split(",").toSeq))
    val cpus = Posture.cpus(4)
    val spark = Posture.session(cpus, Posture.verifyConfs(cpus))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, gate) =>
      try gate(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // one long-lived session runs every gate: free each gate's frozen
      // blocks (see Freeze.releaseAll) instead of leaving them to a GC
      Freeze.releaseAll(spark, blocking = false)
    }
    val names = picked.map(_._1).toSet
    val json = oracleJson(SparkEntry.oracleSql.filter { case (k, _) => names(k) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
