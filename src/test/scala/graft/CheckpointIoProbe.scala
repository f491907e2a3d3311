package graft

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import graft.streaming.{LocalCheckpointFileManager, NioLocalFileSystem, StateMaintenance}

/** Times local file writes with and without graft's local file IO, on
  * a directory of the caller's choosing, alternating the sides per
  * write. The gaps depend on whether Hadoop's native library loads
  * (without it, FileContext's rename and every Hadoop `setPermission`
  * fork a process), so this re-checks them on any host.
  *
  *  - One checkpoint log write (`createAtomic`, a small payload,
  *    `close`) under Spark's default checkpoint manager, under graft's
  *    over the default `file:` file system, and under graft's over
  *    [[NioLocalFileSystem]]: one CKPTIO line per manager and write mode.
  *  - One 24-hour-partitioned parquet write (one file per hour) through
  *    a session as it starts and through one after
  *    `StateMaintenance.installLocalFileIo`, with the processes each
  *    write starts (JFR `jdk.ProcessStart`): one DATAIO line per side.
  *
  * Each line holds every write's milliseconds and their median.
  *
  *   sbt "Test/runMain graft.CheckpointIoProbe <dir> [writes]"
  */
object CheckpointIoProbe {
  def main(args: Array[String]): Unit = {
    val root = new Path(args.headOption.getOrElse(
      Files.createTempDirectory("graft-ckpt-io").toString))
    val writes = args.lift(1).map(_.toInt).getOrElse(20)
    logWrites(root, writes)
    dataWrites(root, writes)
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
  private def list(xs: Seq[Double]): String = xs.map(v => f"$v%.3f").mkString(",")

  private def logWrites(root: Path, writes: Int): Unit = {
    val conf = new Configuration()
    val nioConf = new Configuration()
    nioConf.set(NioLocalFileSystem.ImplKey, classOf[NioLocalFileSystem].getName)
    nioConf.set(s"${NioLocalFileSystem.ImplKey}.disable.cache", "true")
    val managers = Seq(
      "spark_default" -> CheckpointFileManager.create(new Path(root, "spark_default"), conf),
      "graft_local" -> new LocalCheckpointFileManager(new Path(root, "graft_local"), conf),
      "graft_local_nio" ->
        new LocalCheckpointFileManager(new Path(root, "graft_local_nio"), nioConf))
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
        println(s"""CKPTIO {"dir":${Json.str(root.toString)},"manager":${Json.str(name)},""" +
          s""""class":${Json.str(fm.getClass.getName)},"overwrite":$overwrite,""" +
          f""""writes":$writes,"median_ms":${median(own)}%.3f,"ms":[${list(own)}]}""")
      }
    }
  }

  /** (milliseconds, command lines of the processes started) of `body`. */
  private def recorded(body: => Unit): (Double, Seq[String]) = {
    var ms = 0.0
    val started = ProcessStartCensusSpec.processesStarted {
      val t0 = System.nanoTime()
      body
      ms = (System.nanoTime() - t0) / 1e6
    }
    (ms, started)
  }

  private def dataWrites(root: Path, writes: Int): Unit = {
    val spark = GraftSession().master("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val installed = spark.newSession()
    StateMaintenance.installLocalFileIo(installed)
    val sides = Seq("session_default" -> spark.newSession(), "graft_local_io" -> installed)
    def write(name: String, s: SparkSession, i: Int): (Double, Seq[String]) = {
      // 24 hours of rows, one task and one file per hour
      val rows = s.range(0, 24000, 1, 4).select((col("id") % 24).as("hour"), col("id"))
        .repartition(4, col("hour"))
      recorded(rows.write.partitionBy("hour").parquet(s"$root/data/$name-$i"))
    }
    for ((name, s) <- sides; i <- 1 to 2) write(name, s, -i)   // warm-up
    val runs = (0 until writes).map(i => sides.map { case (name, s) => write(name, s, i) })
    for (((name, _), j) <- sides.zipWithIndex) {
      val own = runs.map(_(j))
      val ms = own.map(_._1)
      val starts = own.map(_._2.size.toDouble)
      val chmods = own.map(_._2.count(_.startsWith("chmod")).toDouble)
      println(s"""DATAIO {"dir":${Json.str(root.toString)},"side":${Json.str(name)},""" +
        f""""hours":24,"writes":$writes,"median_ms":${median(ms)}%.3f,""" +
        f""""process_starts_median":${median(starts)}%.0f,"chmod_median":${median(chmods)}%.0f,""" +
        s""""ms":[${list(ms)}]}""")
    }
    spark.stop()
  }
}
