package graft
import org.apache.spark.sql.SparkSession

/** Dev loop, perf flavor: time ONE registered query (warmup at
  * sf0.001, then N reps at the target dir, Bench's noop-sink
  * discipline) and dump its final AQE plan —
  * `sbt "runMain graft.DevProf x22_knn_join /root/testdata/sf0.1 5"`.
  * This is the inner loop for chasing a bench outlier; the full
  * measurement is graft.Bench.
  *
  * Each rep also prints its STAGE-METRIC deltas (memory/disk spill,
  * shuffle read/write bytes) and the run ends with one DEVPROF JSON
  * line carrying the totals plus any `observe`d work-unit counters
  * (x45 matched pairs, x72 triplets) — the sweep ladder's
  * adjudication protocol wants per-unit cost AND the spill evidence
  * from the SAME solo run. `--count` instead prints each named query's
  * output-row count (see `count`). */
object DevProf {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (args.headOption.contains("--count")) count(spark, args.drop(1))
      else profile(spark, args)
    } finally spark.stop()
  }

  /** Count mode: output-row counts for registered queries at a data dir
    * — the denominator of the sweep protocol's per-unit-OUTPUT cost
    * adjudication (the x02 "15 µs/verified-pair, flat across rungs"
    * standard from dev/sweeps/r14_125x.json: an operator whose output
    * itself grows superlinearly — dup pairs grow ~copies² on the
    * key-shifted sweep corpus BY CONSTRUCTION — is judged on cost per
    * output row, not on wall alone).
    *
    *   sbt "runMain graft.DevProf --count <sfDir> <query> [query...]"
    */
  private def count(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args(0)
    // sweep scripts parse the ROWCOUNT line as JSON — escape the
    // interpolated strings (shared Json helper) so a dir with a
    // quote/backslash stays valid
    args.drop(1).foreach { n =>
      val c = SparkEntry.queries(n)(spark, dir).count()
      println(
        s"""ROWCOUNT {"q":${Json.str(n)},"dir":${Json.str(dir)},"rows":$c}""")
    }
  }

  private def profile(spark: SparkSession, args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(5)

    // cumulative stage metrics (listener delivery is async; per-rep
    // deltas are read after a bus-drain sleep, totals at the end)
    object M {
      var spillMem = 0L; var spillDisk = 0L
      var shufWrite = 0L; var shufRead = 0L
      def snapshot: (Long, Long, Long, Long) =
        synchronized((spillMem, spillDisk, shufWrite, shufRead))
    }
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) M.synchronized {
            M.spillMem += m.memoryBytesSpilled
            M.spillDisk += m.diskBytesSpilled
            M.shufWrite += m.shuffleWriteMetrics.bytesWritten
            M.shufRead += m.shuffleReadMetrics.totalBytesRead
          }
        }
      })
    val observed = new ObservedMetrics(spark)

    val fn = SparkEntry.queries(name)
    def run(dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    try run("/root/testdata/sf0.001") catch { case _: Throwable => () }
    // phase boundary: the warmup ran the same instrumented query at
    // sf0.001 — barrier-drain and drop its events so the DEVPROF line
    // can only carry target-dir counts (the r16 harvest's fixed sleep
    // could leave a stale warmup-scale value behind a lagging bus)
    observed.drain("devprof_drain_warmup")
    observed.clear()
    for (i <- 1 to reps) {
      val before = M.snapshot
      val t0 = System.nanoTime()
      run(sfDir)
      val secs = (System.nanoTime() - t0) / 1e9
      // deterministic delta read: the sentinel's SQLExecutionEnd rides
      // the same FIFO queue as the rep's stage-completed events, so
      // its arrival proves the stage metrics are in — no fixed sleep
      observed.drain(s"devprof_drain_rep$i")
      val after = M.snapshot
      println(f"rep$i $secs%.3f s  " +
        f"spill_mem=${after._1 - before._1}  " +
        f"spill_disk=${after._2 - before._2}  " +
        f"shuffle_write=${after._3 - before._3}  " +
        f"shuffle_read=${after._4 - before._4}")
    }
    val df = fn(spark, sfDir)
    // execute through the frame's OWN QueryExecution so the AQE plan
    // finalizes, but keep rows on the executors — a collect() here
    // pulled the full 125x triplet relation onto the driver
    df.queryExecution.toRdd.foreach(_ => ())
    println(df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0))
    val drained = observed.drain("devprof_drain_final")
    val (sm, sd, sw, sr) = M.snapshot
    println(s"""DEVPROF {"q":${Json.str(name)},"dir":${Json.str(sfDir)},""" +
      s""""reps":$reps,"spill_mem":$sm,"spill_disk":$sd,""" +
      s""""shuffle_write":$sw,"shuffle_read":$sr,""" +
      s""""observed":${observed.json},"observed_drained":$drained}""")
  }
}
