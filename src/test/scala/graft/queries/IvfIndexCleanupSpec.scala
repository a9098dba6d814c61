package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{Posture, Scratch, SparkSpec}

/** `ann_topk_ivf_persist` writes a full corpus copy into a fresh scratch
  * directory (possibly RAM-backed /dev/shm) and must delete it whether the
  * gate succeeds or throws between the write and the frozen answer.
  */
class IvfIndexCleanupSpec extends AnyFunSuite with SparkSpec {

  // the gate takes its index dir from Scratch.fresh("ivf_index")
  private def leftover: Boolean =
    Option(Scratch.jvmDir.list()).exists(_.exists(_.startsWith("ivf_index_")))

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
