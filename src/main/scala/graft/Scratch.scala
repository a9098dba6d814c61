package graft

/** Scratch-space root for gates and benchmarks that materialize
  * intermediate files: write-roundtrip gates, stream landing zones,
  * memory-sink checkpoints, snapshot swap dirs.
  *
  * Micro-batch progress and partitioned writes are MANY tiny files, each
  * behind a create/rename barrier — on a spinning or virtualized disk that
  * metadata churn dominates the measured time. Prefer the RAM-backed tmpfs
  * when present (the local-mode analogue of pointing state-store,
  * checkpoint, and spill dirs at executor-local NVMe — how you'd deploy on
  * a real cluster); `GRAFT_SCRATCH_DIR` overrides, `java.io.tmpdir` is the
  * fallback. The engine's query results never live here longer than the
  * gate that wrote them.
  */
object Scratch {
  lazy val root: String = Posture.scratchDir.getOrElse {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  }

  /** Collision-resistant scratch-path tag for a source directory: md5
    * prefix of the canonical path (String.hashCode is 32-bit — two dirs
    * colliding would silently share a scratch/checkpoint dir). */
  def pathTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getCanonicalPath.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
}
