package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.LocalCheckpointFileManager

/** A FileContext file system for a scheme that is not `file:` — the
  * stand-in for HDFS or an object store, where Spark's default choice
  * is its FileContext manager. Only constructed, never written to. */
class NonLocalTestFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf, "graftnonlocal", false)

/** The checkpoint manager the streams run with: which manager it hands a
  * path to, and the `createAtomic` contract Spark's logs rely on. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  test("a file: path writes through the FileSystem manager; another scheme gets Spark's default") {
    val dir = Files.createTempDirectory("graft-cfm")
    for (p <- Seq(new Path(dir.toUri), new Path(dir.toString)))   // file:/…, then scheme-less
      assert(new LocalCheckpointFileManager(p, conf).delegate
        .isInstanceOf[FileSystemBasedCheckpointFileManager], p)
    // the session's setting names this class; on another scheme the
    // manager drops it and takes what Spark picks without it
    val other = new Configuration(conf)
    other.set("fs.AbstractFileSystem.graftnonlocal.impl", classOf[NonLocalTestFs].getName)
    other.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    val remote = new Path("graftnonlocal:///ckpt")
    assert(CheckpointFileManager.create(remote, other).isInstanceOf[LocalCheckpointFileManager])
    assert(new LocalCheckpointFileManager(remote, other).delegate.getClass ===
      classOf[FileContextBasedCheckpointFileManager])
  }

  test("createAtomic: refuses an existing file without overwrite, replaces it with, and cancel leaves nothing") {
    val dir = Files.createTempDirectory("graft-cfm-atomic")
    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    val target = new Path(dir.toUri.toString, "0")
    // as Spark's metadata logs write: a failed close is cancelled
    def write(text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(target, overwrite)
      out.write(text.getBytes(UTF_8))
      try out.close() catch { case e: Throwable => out.cancel(); throw e }
    }
    def read(p: Path): String = {
      val in = fm.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }

    write("first", overwrite = false)
    assert(read(target) === "first")
    intercept[FileAlreadyExistsException](write("second", overwrite = false))
    assert(read(target) === "first")
    // the overwrite moves its temp file and sidecar onto the target's:
    // no file is added (the refused write removed its own temp file),
    // and the read verifies against the replaced checksum
    val before = dir.toFile.list().toSet
    write("third", overwrite = true)
    assert(read(target) === "third")
    assert(dir.toFile.list().toSet === before)

    // a cancelled write leaves neither its target nor its temp file
    val fresh = Files.createTempDirectory("graft-cfm-cancel")
    val out = fm.createAtomic(new Path(fresh.toUri.toString, "1"), overwriteIfPossible = true)
    out.write("never".getBytes(UTF_8))
    assert(fresh.toFile.list().exists(_.endsWith(".tmp")))
    out.cancel()
    assert(fresh.toFile.list().isEmpty, fresh.toFile.list().toSeq)
  }

  test("a refused write leaves no temp file or sidecar behind") {
    val dir = Files.createTempDirectory("graft-cfm-refused")
    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    val target = new Path(dir.toUri.toString, "0")
    def write(text: String): Unit = {
      val out = fm.createAtomic(target, overwriteIfPossible = false)
      out.write(text.getBytes(UTF_8))
      try out.close() catch { case e: Throwable => out.cancel(); throw e }
    }
    write("first")
    intercept[FileAlreadyExistsException](write("second"))
    assert(dir.toFile.list().toSet === Set("0", ".0.crc"))
  }
}
