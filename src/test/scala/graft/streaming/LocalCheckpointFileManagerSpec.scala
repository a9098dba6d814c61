package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Tables}
import graft.Posture.withConfs

/** Contract tests for [[LocalCheckpointFileManager]]: the atomic
  * write-commit semantics `HDFSMetadataLog` and the state stores rely on,
  * plus an end-to-end stream (restart included) with the manager active —
  * the session-level proof that a checkpoint written through nio replays
  * byte-compatibly through the same manager.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with SparkSpec {

  private def mgr(root: java.io.File) =
    new LocalCheckpointFileManager(new Path(root.toURI), new Configuration())

  private def tmpDir() = Files.createTempDirectory("graft-ckpt-fm").toFile

  test("createAtomic: content invisible until close, then readable") {
    val root = tmpDir(); val m = mgr(root)
    val target = new Path(new java.io.File(root, "offsets/0").toURI)
    val out = m.createAtomic(target, overwriteIfPossible = false)
    out.write("v1\nbatch0".getBytes)
    assert(!m.exists(target), "target must not exist before close (atomic contract)")
    out.close()
    assert(m.exists(target))
    val in = m.open(target)
    val buf = new Array[Byte](64)
    val n = in.read(buf, 0, buf.length)
    in.close()
    assert(new String(buf, 0, n) === "v1\nbatch0")
    // no temp litter after commit
    assert(new java.io.File(root, "offsets").listFiles().map(_.getName).toSeq === Seq("0"))
  }

  test("createAtomic no-overwrite: losing racer throws FileAlreadyExistsException") {
    val root = tmpDir(); val m = mgr(root)
    val target = new Path(new java.io.File(root, "commits/0").toURI)
    val first = m.createAtomic(target, overwriteIfPossible = false)
    first.write("winner".getBytes); first.close()
    val second = m.createAtomic(target, overwriteIfPossible = false)
    second.write("loser".getBytes)
    intercept[FileAlreadyExistsException](second.close())
    // overwrite=true replaces
    val third = m.createAtomic(target, overwriteIfPossible = true)
    third.write("replaced".getBytes); third.close()
    val in = m.open(target); val buf = new Array[Byte](16)
    val n = in.read(buf, 0, 16); in.close()
    assert(new String(buf, 0, n) === "replaced")
  }

  test("cancel discards the write; close after cancel does not resurrect it") {
    val root = tmpDir(); val m = mgr(root)
    val target = new Path(new java.io.File(root, "state/1.delta").toURI)
    val out = m.createAtomic(target, overwriteIfPossible = true)
    out.write("abandoned".getBytes)
    out.cancel()
    out.close() // terminal states are mutually exclusive — first wins
    assert(!m.exists(target))
    assert(new java.io.File(root, "state").listFiles().isEmpty, "temp file leaked")
  }

  test("list/mkdirs/delete/exists + missing-path semantics") {
    val root = tmpDir(); val m = mgr(root)
    val dir = new Path(new java.io.File(root, "offsets").toURI)
    m.mkdirs(dir)
    Seq("0", "1", "2").foreach { name =>
      val o = m.createAtomic(new Path(dir, name), overwriteIfPossible = false)
      o.write(name.getBytes); o.close()
    }
    val all = m.list(dir).map(_.getPath.getName).sorted
    assert(all.toSeq === Seq("0", "1", "2"))
    // qualified paths (scheme present) — HDFSMetadataLog round-trips these
    m.list(dir).foreach(st => assert(st.getPath.toUri.getScheme === "file"))
    val even = m.list(dir, new PathFilter {
      def accept(p: Path): Boolean = p.getName.toLong % 2 == 0
    }).map(_.getPath.getName).sorted
    assert(even.toSeq === Seq("0", "2"))
    intercept[java.io.FileNotFoundException](m.list(new Path(dir, "nope")))
    intercept[java.io.FileNotFoundException](m.open(new Path(dir, "nope")))
    assert(!m.exists(new Path(dir, "nope")))
    m.delete(new Path(dir, "nope")) // deleting a missing path is a no-op
    m.delete(dir) // recursive
    assert(!m.exists(dir))
  }

  test("flush-on-close failure deletes the temp file and propagates " +
       "(fault-injected; terminated is set, so the caller's cancel no-ops)") {
    val dir = tmpDir().toPath
    // simulate the temp file createAtomic would have been writing
    val tmp = Files.createFile(dir.resolve(".0.injected.tmp"))
    val target = dir.resolve("0")
    // the production stream is a BufferedOutputStream, whose close()
    // flushes — a full tmpfs surfaces as IOException from close(), which
    // Hadoop's PositionCache.close() propagates verbatim (it never calls
    // flush() separately); inject the fault exactly there
    val boom = new java.io.OutputStream {
      override def write(b: Int): Unit = ()
      override def close(): Unit =
        throw new java.io.IOException("injected flush failure")
    }
    val s = new LocalCheckpointFileManager.NioAtomicOutputStream(
      boom, tmp, target, new Path(target.toUri), overwriteIfPossible = false)
    val e = intercept[java.io.IOException](s.close())
    assert(e.getMessage.contains("injected flush failure"),
      "the flush failure must propagate to the caller")
    assert(!Files.exists(tmp),
      "the temp file must be deleted on the flush-failure path itself — " +
      "terminated is already set, so the caller's error-path cancel() no-ops")
    assert(!Files.exists(target), "nothing may be committed")
    s.cancel() // the engine's error path after a failed close
    assert(!Files.exists(target) && !Files.exists(tmp),
      "cancel after the failed close must not resurrect anything")
  }

  test("open: seek + positioned reads (the metadata-log read pattern)") {
    val root = tmpDir(); val m = mgr(root)
    val target = new Path(new java.io.File(root, "f").toURI)
    val o = m.createAtomic(target, overwriteIfPossible = false)
    o.write("0123456789".getBytes); o.close()
    val in = m.open(target)
    in.seek(4)
    assert(in.getPos === 4)
    assert(in.read() === '4'.toInt)
    val buf = new Array[Byte](3)
    in.readFully(7, buf)
    assert(new String(buf) === "789")
    assert(in.getPos === 5, "positioned read must not move the cursor")
    in.close()
  }

  test("rejects non-local schemes at construction") {
    intercept[IllegalArgumentException] {
      new LocalCheckpointFileManager(new Path("hdfs://nn/ckpt"), new Configuration())
    }
  }

  test("end-to-end: stream + restart under the manager, exactly-once held") {
    withConfs(spark, "spark.sql.streaming.checkpointFileManagerClass" ->
        LocalCheckpointFileManager.confValue) {
      val land = Files.createTempDirectory("graft-ckpt-land")
      val sink = Files.createTempDirectory("graft-ckpt-sink").resolve("out").toString
      val ckpt = Files.createTempDirectory("graft-ckpt-root").resolve("cp").toString
      Tables.events(spark, sfDir).limit(200).coalesce(1)
        .write.mode("overwrite").parquet(land.toString)
      def run(): Unit = StreamOps.runToParquet(
        StreamOps.readEventStream(spark, land.toString)
          .select("event_id", "user_id", "value"),
        sink, ckpt)
      run()
      assert(spark.read.parquet(sink).count() === 200)
      run() // restart against the nio-written checkpoint: no re-emission
      assert(spark.read.parquet(sink).count() === 200,
        "restart re-emitted rows — offsets not recovered through the manager")
    }
  }
}
