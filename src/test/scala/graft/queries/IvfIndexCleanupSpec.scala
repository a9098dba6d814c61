package graft.queries

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.{Posture, Scratch, SparkSpec}

/** `ann_topk_ivf_persist` writes a full corpus copy under `Scratch.root`
  * (possibly RAM-backed /dev/shm) and must delete it whether the gate
  * succeeds or throws between the write and the frozen answer.
  */
class IvfIndexCleanupSpec extends AnyFunSuite with SparkSpec {

  // the gate names its index dir by this JVM's pid
  private def leftover: Boolean =
    new File(Scratch.root, s"graft_ivf_index_${ProcessHandle.current().pid()}").exists()

  private def gate = graft.SparkEntry.queries("ann_topk_ivf_persist")

  test("ann_topk_ivf_persist leaves no on-disk index behind at sf0.001") {
    assert(gate(spark, sfDir).count() > 0L)
    assert(!leftover)
  }

  test("ann_topk_ivf_persist deletes its on-disk index when the index write fails") {
    // the brotli parquet codec is not on Spark's classpath, so the index
    // write fails in its tasks, after the output directory exists
    val e = intercept[Exception] {
      Posture.withConfs(spark, "spark.sql.parquet.compression.codec" -> "brotli") {
        gate(spark, sfDir).count()
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.toString.contains("BrotliCodec")), e.toString)
    assert(!leftover)
  }
}
