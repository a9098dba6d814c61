package graft

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.GraftPlanShim

/** The one owner of scratch space: where every directory a gate writes
  * lives, and how long it lasts. Write-roundtrip outputs, stream landing
  * zones, sink and memory-sink checkpoints, snapshot swap dirs and the
  * persisted IVF index all get their path here.
  *
  * Micro-batch progress and partitioned writes are MANY tiny files, each
  * behind a create/rename barrier — on a spinning or virtualized disk that
  * metadata churn dominates the measured time. The root is the RAM-backed
  * tmpfs when present (the local-mode analogue of pointing state-store,
  * checkpoint, and spill dirs at executor-local NVMe — how you'd deploy on
  * a real cluster); `GRAFT_SCRATCH_DIR` overrides, `java.io.tmpdir` is the
  * fallback.
  *
  * Lifetime: everything lives under ONE per-JVM directory,
  * `<root>/graft_<pid>-<uuid>`, made on first use and deleted with its
  * contents when the JVM exits, after the SparkContext stops (Spark's own
  * temp-dir shutdown hook). A RAM-backed root therefore holds no files of
  * a JVM that has exited; only a killed JVM leaves its directory behind.
  */
object Scratch {
  private lazy val root: String = Posture.scratchDir.getOrElse {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  }

  /** This JVM's scratch directory (see the lifetime note above). */
  private[graft] lazy val jvmDir: File =
    GraftPlanShim.tempDirDeletedAtExit(root, s"graft_${ProcessHandle.current().pid()}")

  /** The directory for `name` over the source directory `source`: the same
    * path for the JVM's whole life, so a caller may overwrite it, memoize
    * what it wrote there, or restart a stream from a checkpoint in it. Not
    * created here. */
  def dir(name: String, source: String): String =
    new File(jvmDir, s"${name}_${pathTag(source)}").getPath

  private val serial = new AtomicLong

  /** A new directory path for `name` on every call (not created here). It
    * lasts until the JVM exits; a caller whose copy is large removes it
    * sooner with [[delete]]. */
  def fresh(name: String): String =
    new File(jvmDir, s"${name}_${serial.incrementAndGet()}").getPath

  /** Remove a scratch directory and everything under it now. */
  def delete(path: String): Unit = GraftPlanShim.deleteRecursively(new File(path))

  /** Collision-resistant path tag for a source directory: md5 prefix of
    * the canonical path (String.hashCode is 32-bit — two dirs colliding
    * would silently share a scratch/checkpoint dir). */
  def pathTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new File(dir).getCanonicalPath.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
}
