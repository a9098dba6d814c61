package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission
import java.util.{HashSet => JHashSet}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` with `setPermission` on `java.nio` instead of
  * Hadoop's fallback fork/exec of `chmod` (taken whenever the native
  * Hadoop library is absent — this container, and most non-HDFS hosts).
  * Every `create`/`mkdirs` in a local write applies permissions, so the
  * fork tax lands on each file and directory an output committer touches:
  * ~7 ms per op forked vs ~0.05 ms through nio (COVERAGE "Rounds 10–13
  * change notes", Round 12).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val m = permission.toShort
    if ((m & 0xE00) != 0) {
      // sticky/setuid/setgid can't be expressed as PosixFilePermission —
      // take the parent's (forked chmod) path rather than silently
      // narrowing 1777 to 0777; committer-written files never carry these
      // bits, so the fast path still covers every hot call
      super.setPermission(p, permission)
      return
    }
    val perms = new JHashSet[PosixFilePermission]()
    import PosixFilePermission._
    if ((m & 0x100) != 0) perms.add(OWNER_READ)
    if ((m & 0x80) != 0) perms.add(OWNER_WRITE)
    if ((m & 0x40) != 0) perms.add(OWNER_EXECUTE)
    if ((m & 0x20) != 0) perms.add(GROUP_READ)
    if ((m & 0x10) != 0) perms.add(GROUP_WRITE)
    if ((m & 0x8) != 0) perms.add(GROUP_EXECUTE)
    if ((m & 0x4) != 0) perms.add(OTHERS_READ)
    if ((m & 0x2) != 0) perms.add(OTHERS_WRITE)
    if ((m & 0x1) != 0) perms.add(OTHERS_EXECUTE)
    Files.setPosixFilePermissions(Paths.get(p.toUri.getPath), perms): Unit
  }
}

/** Drop-in `fs.file.impl` replacement for Hadoop's `LocalFileSystem`
  * (it MUST subclass it — `FileSystem.getLocal` casts): wraps
  * [[NioRawLocalFileSystem]] so permission changes never fork, and turns
  * off CRC sidecar writing — the `.crc` companion files double an output
  * committer's per-file metadata ops and protect against local-disk
  * corruption a re-runnable job would regenerate from source anyway.
  * Reading checksummed files others wrote still verifies as usual.
  *
  * Registered via `spark.hadoop.fs.file.impl` in the [[graft.Posture]]
  * sessions, whose write targets are all local scratch (438 → 294 ms
  * median for a 16-file parquet write; write gates ~25 % faster, same
  * COVERAGE entry). Production on HDFS/object stores never sees this
  * class.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
  }
}
