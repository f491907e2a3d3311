package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{NioLocalFileSystem, StateMaintenance}

/** The local file system the streams write through, against the `file:`
  * file system it replaces (whatever this classpath registers): the
  * same files, sidecars and mode bits, and the same rename refusal. */
class NioLocalFileSystemSpec extends AnyFunSuite with SparkTestSession {

  private val fileUri = URI.create("file:///")

  /** (the `file:` file system this classpath registers, graft's), both
    * fresh and initialized with `conf`. */
  private def both(conf: Configuration): Seq[(String, FileSystem)] =
    Seq("default" -> FileSystem.newInstance(fileUri, conf), "nio" -> nio(conf))

  private def nio(conf: Configuration): FileSystem = {
    val fs = new NioLocalFileSystem
    fs.initialize(fileUri, conf)
    fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("files, sidecars and new directories get the same mode bits, under the default umask and 077") {
    for ((umask, file, dir) <- Seq((None, 0x1a4, 0x1ed), (Some("077"), 0x180, 0x1c0))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val modes = both(conf).map { case (name, fs) =>
        val root = Files.createTempDirectory(s"graft-nio-mode-$name")
        val out = fs.create(new Path(root.toUri.toString, "a/b/part-0"))
        out.write("x".getBytes(UTF_8))
        out.close()
        Seq("a", "a/b", "a/b/part-0", "a/b/.part-0.crc").map(p => p -> mode(root.resolve(p)))
      }
      assert(modes.head === modes(1), umask)
      assert(modes.head === Seq("a" -> dir, "a/b" -> dir, "a/b/part-0" -> file,
        "a/b/.part-0.crc" -> file), umask)
    }
  }

  test("a sticky-bit request takes Hadoop's own path, which sets it") {
    val dir = Files.createTempDirectory("graft-nio-sticky")
    val sticky = new FsPermission(Integer.parseInt("1750", 8).toShort)
    nio(new Configuration()).setPermission(new Path(dir.toUri), sticky)
    assert(mode(dir) === sticky.toShort)
  }

  test("rename onto an existing file returns false and leaves both files; onto a new name it moves the sidecar") {
    for ((name, fs) <- both(new Configuration())) {
      val root = Files.createTempDirectory(s"graft-nio-rename-$name")
      def at(p: String) = new Path(root.toUri.toString, p)
      def write(p: String, text: String): Unit = {
        val out = fs.create(at(p))
        out.write(text.getBytes(UTF_8))
        out.close()
      }
      def read(p: String): String = {
        val in = fs.open(at(p))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      write("src", "new")
      write("dst", "old")
      assert(!fs.rename(at("src"), at("dst")), name)
      assert((read("src"), read("dst")) === (("new", "old")), name)
      assert(fs.rename(at("src"), at("moved")), name)
      assert(read("moved") === "new", name)
      assert(root.toFile.list().toSet === Set("dst", ".dst.crc", "moved", ".moved.crc"), name)
    }
  }

  test("the same files and .crc sidecars are written") {
    val written = both(new Configuration()).map { case (name, fs) =>
      val root = Files.createTempDirectory(s"graft-nio-crc-$name")
      val out = fs.create(new Path(root.toUri.toString, "d/part-0"))
      out.write(("payload\n" * 300).getBytes(UTF_8))
      out.close()
      fs.mkdirs(new Path(root.toUri.toString, "empty"))
      def tree(p: java.nio.file.Path): Seq[(String, Seq[Byte])] =
        Files.walk(p).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
          .filter(Files.isRegularFile(_))
          .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq)
          .sortBy(_._1)
      (tree(root), Files.isDirectory(root.resolve("empty")))
    }
    assert(written.head === written(1))
    assert(written.head._1.map(_._1) === Seq("d/.part-0.crc", "d/part-0"))
  }

  test("installLocalFileIo sets graft's file system only where neither the session nor its Hadoop conf names one") {
    val key = NioLocalFileSystem.ImplKey
    val noCache = s"$key.disable.cache"
    // a fresh session gets it
    val fresh = spark.newSession()
    StateMaintenance.installLocalFileIo(fresh)
    assert(fresh.conf.getOption(key) === Some(classOf[NioLocalFileSystem].getName))
    assert(fresh.conf.getOption(noCache) === Some("true"))
    // a session that names its own keeps it, cache setting included
    val own = spark.newSession()
    own.conf.set(key, classOf[LocalFileSystem].getName)
    StateMaintenance.installLocalFileIo(own)
    assert(own.conf.getOption(key) === Some(classOf[LocalFileSystem].getName))
    assert(own.conf.getOption(noCache) === None)
    // as does one whose Hadoop configuration names one
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(hadoop.get(key) === null)
    hadoop.set(key, classOf[LocalFileSystem].getName)
    try {
      val deployed = spark.newSession()
      StateMaintenance.installLocalFileIo(deployed)
      assert(deployed.conf.getOption(key) === None)
      assert(deployed.conf.getOption(noCache) === None)
    } finally hadoop.unset(key)
  }
}
