package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import graft.streaming.LocalCheckpointFileManager

/** Times one checkpoint log write — `createAtomic`, a small payload,
  * `close` (the rename) — under Spark's default checkpoint manager and
  * under graft's, alternating per write, on a directory of the caller's
  * choosing. The gap between the two depends on whether Hadoop's native
  * library loads (without it, FileContext's rename forks), so this
  * re-checks it on any host. Prints one JSON line per manager and write
  * mode with every write's milliseconds and their median.
  *
  *   sbt "Test/runMain graft.CheckpointIoProbe <dir> [writes]"
  */
object CheckpointIoProbe {
  def main(args: Array[String]): Unit = {
    val root = new Path(args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-ckpt-io").toString))
    val writes = args.lift(1).map(_.toInt).getOrElse(20)
    val conf = new Configuration()
    val managers = Seq(
      "spark_default" -> CheckpointFileManager.create(new Path(root, "spark_default"), conf),
      "graft_local" -> new LocalCheckpointFileManager(new Path(root, "graft_local"), conf))
    val payload = ("v1\n" + "{\"batchWatermarkMs\":0}\n" * 4).getBytes("UTF-8")
    // overwriteIfPossible = false is how the offset, commit, source and
    // sink logs write; true is how the state store writes its deltas
    def write(name: String, fm: CheckpointFileManager, overwrite: Boolean, i: Int): Double = {
      val t0 = System.nanoTime()
      val out = fm.createAtomic(new Path(root, s"$name/$overwrite-$i"), overwrite)
      out.write(payload)
      out.close()
      (System.nanoTime() - t0) / 1e6
    }
    for ((name, fm) <- managers) {
      fm.mkdirs(new Path(root, name))
      (1 to 3).foreach(i => write(name, fm, overwrite = false, -i))   // warm-up
    }
    for (overwrite <- Seq(false, true)) {
      val ms = (0 until writes).map(i =>
        managers.map { case (name, fm) => write(name, fm, overwrite, i) })
      for (((name, fm), j) <- managers.zipWithIndex) {
        val own = ms.map(_(j))
        val median = own.sorted.apply(own.size / 2)
        println(s"""CKPTIO {"dir":${Json.str(root.toString)},"manager":${Json.str(name)},""" +
          s""""class":${Json.str(fm.getClass.getName)},"overwrite":$overwrite,""" +
          f""""writes":$writes,"median_ms":$median%.3f,""" +
          s""""ms":[${own.map(v => f"$v%.3f").mkString(",")}]}""")
      }
    }
  }
}
