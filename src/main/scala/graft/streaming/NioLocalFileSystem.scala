package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell

/** The local (`file:`) file system the streams and the backfill write
  * through (`StateMaintenance.installLocalFileIo` sets it on the
  * session): Hadoop's `LocalFileSystem`, with the same checksums and
  * `.crc` sidecars, whose raw layer sets permissions in-process.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission` forks
  * a `chmod` process for every file it creates (each `.crc` sidecar
  * too) and every directory it makes: about 1.75 ms for a file and its
  * sidecar. Here the same nine mode bits are one
  * `Files.setPosixFilePermissions`: one `chmod(2)`, no process, about
  * 0.03 ms. Hadoop's own path still runs when NativeIO is loaded (it is
  * a `chmod(2)` already), on Windows, and for a sticky-bit request,
  * which NIO cannot express.
  *
  * `rename` returns false onto an existing file, the check the `file:`
  * file system on this classpath otherwise makes (Hive's
  * `ProxyLocalFileSystem`, registered by hive-exec), so callers that
  * rename keep their behaviour; Hadoop's raw rename would replace the
  * file. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

object NioLocalFileSystem {

  /** The Hadoop setting naming the `file:` file system class. */
  val ImplKey = "fs.file.impl"

  /** Hadoop's raw local file system with an in-process `setPermission`. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || Shell.WINDOWS || permission.getStickyBit)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
  }

  // PosixFilePermission lists owner rwx, group rwx, others rwx: the
  // mode bits 0400 down to 0001, in order
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    PosixFilePermission.values.zipWithIndex
      .collect { case (bit, i) if (mode & (1 << (8 - i))) != 0 => bit }
      .toSet.asJava
  }
}
