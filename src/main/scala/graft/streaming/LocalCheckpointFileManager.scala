package graft.streaming

import java.io.{FileNotFoundException, InputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{FileAlreadyExistsException => NioExists, Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSDataOutputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** [[CheckpointFileManager]] for LOCAL checkpoint roots (tmpfs / NVMe
  * scratch) built on `java.nio` instead of Hadoop's `FileContext`.
  *
  * Why it exists: Structured Streaming funnels EVERY checkpoint write —
  * offset WAL, commit log, file-source metadata, sink manifest, and each
  * partition's state-store delta — through the configured manager, and the
  * default `FileContextBasedCheckpointFileManager` costs ~42 ms per atomic
  * create+rename on a local path when Hadoop's native library is absent
  * (each call falls back to fork+exec for permission/stat operations;
  * measured in round 12, COVERAGE "Rounds 10–13 change notes": nio
  * 0.38 ms, FileContext 42.6 ms, FileSystem 8.7 ms — all on the same
  * tmpfs dir). At a few metadata
  * writes per micro-batch plus one delta per state partition, that
  * machinery — not data — is the micro-batch floor for small batches.
  * `java.nio`'s `Files.move(ATOMIC_MOVE)` gives the same same-directory
  * atomic-rename commit contract without leaving the JVM.
  *
  * Scope: local filesystem only — the constructor rejects any scheme other
  * than `file`/none, so a production job with an HDFS/S3 checkpoint that
  * accidentally carries this conf fails loud at query start instead of
  * mis-managing remote paths. Durability note: rename-commit on a local FS
  * is exactly what the default manager provides on `file:` paths; cluster
  * deployments point checkpoints at HDFS/object stores and should not set
  * this class.
  *
  * Used by `Bench`/`Verify` sessions (whose checkpoints all live under
  * [[graft.Scratch]]); correctness under this manager is pinned by the
  * same oracle gates as every other operator (the driver's Verify run
  * exercises it for all 14 stream gates), plus the restart/no-duplication
  * contract in StreamOpsSpec.
  */
class LocalCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  {
    val scheme = root.toUri.getScheme
    require(scheme == null || scheme == "file",
      s"LocalCheckpointFileManager only manages local paths, got: $root")
    // HARD-LINK REQUIREMENT: the no-overwrite commit
    // (NioAtomicOutputStream.close) relies on link(2) for atomic
    // create-if-absent; a local FS without hard-link support (some FUSE
    // mounts) cannot honor the concurrent-writer contract. Not probed here:
    // Spark constructs managers rooted at paths that may not (and must not
    // yet) exist — e.g. the state schema FILE location — so a probe would
    // have to create directories the engine later expects absent. Instead
    // an UnsupportedOperationException from link(2) is translated at commit
    // time into an error naming this requirement (see close()).
  }

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  /** file:-qualified copy of `p` (what the FileContext manager returns). */
  private def qualified(p: Path): Path =
    if (p.toUri.getScheme != null) p
    else new Path("file", null, p.toUri.getPath)

  override def createAtomic(path: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = nio(path)
    val parent = target.getParent
    if (parent != null && !Files.isDirectory(parent)) Files.createDirectories(parent)
    // same-directory temp + atomic rename — the write-commit contract the
    // default manager provides, minus the FileContext machinery
    val tmp = parent.resolve(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE))
    new LocalCheckpointFileManager.NioAtomicOutputStream(out, tmp, target, path,
      overwriteIfPossible)
  }

  override def open(path: Path): FSDataInputStream = {
    val p = nio(path)
    if (!Files.isRegularFile(p)) throw new FileNotFoundException(path.toString)
    // The maintenance thread can delete the file between the check above and
    // the channel open; nio then throws NoSuchFileException, which is NOT a
    // java.io.FileNotFoundException — translate it, as list() already does,
    // so callers' FNF handling (HDFSMetadataLog, state-store load) applies.
    val ch =
      try FileChannel.open(p, StandardOpenOption.READ)
      catch {
        case e: java.nio.file.NoSuchFileException =>
          throw new FileNotFoundException(s"$path (${e.getMessage})")
      }
    new FSDataInputStream(new LocalCheckpointFileManager.NioSeekableInputStream(ch))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = try {
    val dir = nio(path)
    if (!Files.exists(dir)) throw new FileNotFoundException(path.toString)
    if (!Files.isDirectory(dir)) {
      val st = status(path, dir)
      return if (filter.accept(st.getPath)) Array(st) else Array.empty
    }
    val out = Array.newBuilder[FileStatus]
    val stream = Files.newDirectoryStream(dir)
    try {
      stream.forEach { child =>
        val p = qualified(new Path(path, child.getFileName.toString))
        // The state-store maintenance thread deletes old delta/snapshot
        // files concurrently with load-side listings; Hadoop's listStatus
        // skips entries that vanish between iteration and stat, and this
        // manager must match (NoSuchFileException is NOT a
        // FileNotFoundException, so callers' FNF handling won't catch it).
        if (filter.accept(p)) {
          try out += status(p, child)
          catch { case _: java.nio.file.NoSuchFileException => () }
        }
      }
    } finally stream.close()
    out.result()
  } catch {
    // The DIRECTORY ITSELF vanished between the exists check and the
    // stream open (or mid-iteration): surface it as the
    // FileNotFoundException the Hadoop contract promises — callers
    // (HDFSMetadataLog, state-store load) handle FNF, not nio's NSFE.
    case e: java.nio.file.NoSuchFileException =>
      throw new FileNotFoundException(s"$path (${e.getMessage})")
    case e: java.nio.file.DirectoryIteratorException
        if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] =>
      throw new FileNotFoundException(s"$path (${e.getCause.getMessage})")
  }

  private def status(p: Path, f: java.nio.file.Path): FileStatus = {
    val isDir = Files.isDirectory(f)
    val len = if (isDir) 0L else Files.size(f)
    new FileStatus(len, isDir, 1, 0L,
      Files.getLastModifiedTime(f).toMillis, qualified(p))
  }

  override def mkdirs(path: Path): Unit = Files.createDirectories(nio(path)): Unit

  override def exists(path: Path): Boolean = Files.exists(nio(path))

  override def delete(path: Path): Unit = {
    // Tolerate entries vanishing mid-recursion (concurrent maintenance
    // deletes): a path that is already gone is a successful delete.
    def rec(p: java.nio.file.Path): Unit = {
      try {
        if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = Files.newDirectoryStream(p)
          try s.forEach(rec) finally s.close()
        }
        Files.deleteIfExists(p): Unit
      } catch {
        case _: java.nio.file.NoSuchFileException => ()
        case e: java.nio.file.DirectoryIteratorException
            if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
      }
    }
    rec(nio(path))
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(nio(root))
    qualified(root)
  }
}

object LocalCheckpointFileManager {
  /** Fully-qualified class name, for `spark.sql.streaming.checkpointFileManagerClass`. */
  val confValue: String = classOf[LocalCheckpointFileManager].getName

  /** Rename-on-close atomic stream (the engine's `RenameBasedFSDataOutputStream`
    * contract, re-stated here because its `RenameHelperMethods` seam is
    * sealed): `close()` commits the temp file to `target` via
    * `Files.move(ATOMIC_MOVE)`; `cancel()` discards it. A losing racer on a
    * no-overwrite commit surfaces as Hadoop's `FileAlreadyExistsException`,
    * which is what `HDFSMetadataLog` catches to resolve concurrent writers.
    * Both are idempotent and mutually exclusive (first wins), matching the
    * engine stream's synchronized terminal-state behavior.
    *
    * `private[streaming]` (not `private`) solely so the spec can construct
    * one around a throwing OutputStream — the flush-on-close cleanup branch
    * is unreachable through the public API without filesystem fault
    * injection.
    */
  private[streaming] final class NioAtomicOutputStream(out: java.io.OutputStream,
      tmp: java.nio.file.Path, target: java.nio.file.Path, hadoopTarget: Path,
      overwriteIfPossible: Boolean) extends CancellableFSDataOutputStream(out) {
    private var terminated = false
    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        // flush-on-close can itself throw (e.g. tmpfs full) — and since
        // `terminated` is already set, the caller's error-path cancel()
        // will no-op, so THIS path must delete the temp file too or it
        // outlives the failure it caused
        try super.close()
        catch {
          case e: Throwable =>
            try Files.deleteIfExists(tmp): Unit
            catch { case scala.util.control.NonFatal(_) => () }
            throw e
        }
        var committed = false
        try {
          if (overwriteIfPossible)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          else {
            // NOT Files.move(ATOMIC_MOVE): on POSIX that is rename(2),
            // which silently REPLACES an existing destination — the
            // concurrent-writer contract needs the loser to FAIL. link(2)
            // is the atomic create-if-absent commit: EEXIST when another
            // writer already committed. Hard-link support is REQUIRED —
            // see the manager's constructor comment.
            Files.createLink(target, tmp)
          }
          committed = true
        } catch {
          case e: NioExists =>
            throw new FileAlreadyExistsException(
              s"rename $tmp -> $hadoopTarget: destination exists (${e.getMessage})")
          case e: UnsupportedOperationException =>
            throw new IllegalStateException(
              s"LocalCheckpointFileManager requires hard-link support for " +
              s"its no-overwrite commit, but the filesystem under " +
              s"$hadoopTarget does not provide it; unset the checkpoint " +
              s"file manager conf for this checkpoint location", e)
        } finally {
          // the temp file must go on EVERY exit: after a successful link
          // commit (move already consumed it — deleteIfExists no-ops), on a
          // lost commit race, and on any I/O failure — a litter of .tmp
          // files in the checkpoint dir would otherwise accumulate across
          // retries and inflate every subsequent list()
          if (!committed || !overwriteIfPossible) {
            try Files.deleteIfExists(tmp): Unit
            catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      }
    }
    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        // delete in a finally: if flush-on-close throws (e.g. tmpfs full),
        // the temp file must still go — it occupies the very space whose
        // exhaustion caused the failure, and retries would compound it
        try super.close()
        catch { case scala.util.control.NonFatal(_) => () }
        finally {
          try Files.deleteIfExists(tmp): Unit
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
  }

  /** `FileChannel`-backed seekable stream satisfying the
    * `Seekable`/`PositionedReadable` contract `FSDataInputStream` wraps.
    */
  private final class NioSeekableInputStream(ch: FileChannel)
      extends InputStream with Seekable with PositionedReadable {
    override def read(): Int = {
      val b = ByteBuffer.allocate(1)
      if (ch.read(b) <= 0) -1 else b.get(0) & 0xff
    }
    override def read(arr: Array[Byte], off: Int, len: Int): Int =
      ch.read(ByteBuffer.wrap(arr, off, len))
    override def seek(pos: Long): Unit = ch.position(pos): Unit
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int =
      ch.read(ByteBuffer.wrap(buffer, offset, length), position)
    override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit = {
      var done = 0
      while (done < length) {
        val n = ch.read(ByteBuffer.wrap(buffer, offset + done, length - done), position + done)
        if (n < 0) throw new java.io.EOFException(
          s"readFully past end of file at position ${position + done}")
        done += n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
    override def close(): Unit = ch.close()
  }
}
