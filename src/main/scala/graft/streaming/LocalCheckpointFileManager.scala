package graft.streaming

import java.nio.file.{Files, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager the streams here run with
  * (`StateMaintenance.installLocalFileIo` sets it on the session).
  * Every durable step of a micro-batch (source log, offsets, state
  * delta, sink log, commits) is one `createAtomic`: a temp file, then a
  * rename onto the final name.
  *
  *  - On the local file system (`file:`) it writes through Spark's
  *    `FileSystemBasedCheckpointFileManager`, whose rename is one POSIX
  *    `rename(2)`. Spark's default there,
  *    `FileContextBasedCheckpointFileManager`, renames through
  *    FileContext: without libhadoop a log write takes about 15 ms
  *    there, about 4 ms here over Hadoop's file system (its temp file
  *    and `.crc` each fork a `chmod`), and under 1 ms here over
  *    [[NioLocalFileSystem]], which the same helper installs
  *    (`CheckpointIoProbe` in the tests re-measures all three).
  *    Hadoop's `FileSystem.rename` refuses an existing target by
  *    contract, so Spark's manager keeps the old file and leaves its
  *    temp file behind when asked to overwrite (a replayed state delta,
  *    say); an overwriting write here renames with `rename(2)` itself,
  *    which replaces the target atomically. A refused non-overwriting
  *    write deletes its temp file and `.crc` before it throws, which
  *    Spark's manager leaves behind.
  *  - On any other scheme it is exactly what Spark picks by default
  *    (`CheckpointFileManager.create` with this class's setting
  *    removed), so HDFS, S3 and the rest behave as without it.
  *
  * Both local managers write the same files with the same `.crc`
  * sidecars, so a checkpoint written under either resumes under the
  * other. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocal(path, hadoopConf))
      new LocalCheckpointFileManager.OverwritingRename(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(path: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(path, filter)
  override def list(path: Path): Array[FileStatus] = delegate.list(path)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** The session (and Hadoop) setting Spark reads the manager class from. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's FileSystem manager, with an overwriting rename that
    * replaces the target: the target's old checksum sidecar goes first,
    * then the data file moves by one `rename(2)`, then its sidecar. A
    * crash in between leaves a file that reads unverified (a missing
    * sidecar is allowed), never a data file beside another file's
    * checksum. A non-overwriting rename refused by an existing target
    * deletes the temp file and its sidecar, then rethrows: the stream's
    * `close()` throws before it cleans up, and its `cancel()` is then a
    * no-op. */
  private final class OverwritingRename(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override def renameTempFile(src: Path, dst: Path,
                                overwriteIfPossible: Boolean): Unit =
      if (!overwriteIfPossible)
        try super.renameTempFile(src, dst, overwriteIfPossible)
        catch { case e: FileAlreadyExistsException => fs.delete(src, false); throw e }
      else {
        def local(p: Path) = new java.io.File(fs.makeQualified(p).toUri.getPath).toPath
        def crc(p: Path) = local(new Path(p.getParent, s".${p.getName}.crc"))
        Files.deleteIfExists(crc(dst))
        Files.move(local(src), local(dst), StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(crc(src)))
          Files.move(crc(src), crc(dst), StandardCopyOption.ATOMIC_MOVE)
      }
  }

  /** A path on the local file system: its own scheme, or the default
    * file system's when it has none, is `file`. Decided from the URI
    * alone, without instantiating a file system. */
  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
