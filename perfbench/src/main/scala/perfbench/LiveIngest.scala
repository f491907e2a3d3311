package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.{GhBackfill, GhIngest}

/** The reference's real-time path, in waves. Each wave lands poll-sized
  * NDJSON drops, which `GhIngest.startIngest` drains one file per
  * trigger (bot filter, watermark dedup, bronze append); then one
  * `startScoring` drain; then one pass of serving reads.
  *
  * The first wave is the warm-up: it pays the first-query costs (class
  * loading, code generation, checkpoint creation), so the timed waves
  * see a stream that is already running.
  *
  * The reference also trims its stream (`MAXLEN ~`) after each insert.
  * `GhBackfill.trimToMaxEvents` cannot do that here: it deletes bronze
  * files that the streaming sink's log still lists, and every later
  * read of the table then fails in schema inference on the first
  * deleted file (ignoreMissingFiles and ignoreCorruptFiles do not
  * cover that path). The step is left out until the program can trim
  * its own sink. */
object LiveIngest extends Workload {
  val TopK = 10
  val Recent = 100
  val Serves = Seq("top_daily", "top_hourly", "recent", "info")

  /** Data files per leaf partition directory of a partitioned table. */
  def partitionFiles(table: String): Map[String, Set[String]] = {
    val root = java.nio.file.Paths.get(table)
    if (!java.nio.file.Files.isDirectory(root)) Map.empty
    else java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .groupBy(p => root.relativize(p.getParent).toString)
      .map { case (k, v) => k -> v.map(_.getFileName.toString).toSet }
  }

  /** The four serving reads over the bronze and hourly tables: the
    * latest day's and the latest hour's top-K, the most recent events,
    * and the stream summary. */
  private def serve(spark: SparkSession, dir: String, name: String): Array[Row] = name match {
    case "top_daily" =>
      // the leaderboard of the latest day (the reference's `{day}:sum`)
      val daily = GhBackfill.dailySummary(spark, s"$dir/hourly")
      val latest = daily.agg(max("day")).head().get(0)
      GhIngest.topContributors(daily.filter(col("day") === latest), TopK).collect()
    case "top_hourly" =>
      // the leaderboard of the latest hour scored so far
      val h = spark.read.parquet(s"$dir/hourly")
      val latest = h.agg(max("hour")).head().getTimestamp(0)
      GhIngest.topContributors(h.filter(col("hour") === latest), TopK)
        .select("hour", "login", "score").collect()
    case "recent" => GhIngest.recentEvents(spark.read.parquet(s"$dir/bronze"), Recent)
      .select("id", "created_at").collect()
    case "info" => GhIngest.streamInfo(spark, s"$dir/bronze").collect()
  }

  /** What one wave did: input rows drained, the micro-batches of its
    * two drains, its read latencies and results, and (traced only) the
    * hourly partitions the scoring drain rewrote. */
  private final case class Wave(rows: Long, ingest: Seq[StreamingQueryProgress],
                                scoring: Seq[StreamingQueryProgress], reads: Seq[Double],
                                served: Map[String, Array[Row]], rewritten: Int)

  private def wave(spark: SparkSession, t: Tracer, drops: java.nio.file.Path,
                   dir: String): Wave = t.span("wave", newTrace = true) {
    val landing = s"$dir/landing"
    val hourly = s"$dir/hourly"
    Main.land(Main.list(drops.toString), landing, drops.getFileName.toString + "-")
    val ps = t.span("ingest.drain") {
      val sid = t.current
      val ps = Main.drain(GhIngest.startIngest(spark, landing, s"$dir/bronze",
        s"$dir/ck-ingest", maxFilesPerTrigger = Some(1))).filter(_.numInputRows > 0)
      t.addTriggers("ingest.trigger", sid, ps)
      ps
    }
    val before = if (t.enabled) partitionFiles(hourly) else Map.empty[String, Set[String]]
    val sp = t.span("scoring.drain") {
      val sid = t.current
      val sp = Main.drain(GhIngest.startScoring(spark, s"$dir/bronze", hourly,
        s"$dir/ck-score")).filter(_.numInputRows > 0)
      t.addTriggers("scoring.trigger", sid, sp)
      sp
    }
    val rewritten = if (!t.enabled) 0
      else partitionFiles(hourly).count { case (p, fs) => !before.get(p).contains(fs) }
    val out = t.span("serve") {
      Serves.map { n =>
        val t0 = System.nanoTime()
        val rows = t.span(s"serve.$n")(serve(spark, dir, n))
        (n, rows, (System.nanoTime() - t0) / 1e6)
      }
    }
    Wave(ps.map(_.numInputRows).sum, ps, sp, out.map(_._3),
      out.map(o => o._1 -> o._2).toMap, rewritten)
  }

  private def waves(inputs: String) = Main.list(s"$inputs/live")

  /** Input rows of the warm-up wave, which the bronze table holds too. */
  private var warmRows = 0L

  /** The first wave, untimed. */
  def warm(spark: SparkSession, inputs: String, dir: String): Unit =
    warmRows = wave(spark, new Tracer(false, () => spark, new Counters),
      waves(inputs).head, dir).rows

  /** Progress of the timed waves' drains, for the per-layer view. */
  private var ingestProgress: Seq[StreamingQueryProgress] = Nil
  private var scoringProgress: Seq[StreamingQueryProgress] = Nil

  def run(spark: SparkSession, t: Tracer, inputs: String, dir: String,
          res: Result): Double = {
    var timed = 0.0
    val done = waves(inputs).tail.map { drops =>
      val t0 = System.nanoTime()
      val w = wave(spark, t, drops, dir)
      timed += (System.nanoTime() - t0) / 1e9
      res.attempted += 2 + w.reads.size
      w
    }
    val triggers = new Samples
    val reads = new Samples
    done.foreach { w =>
      w.ingest.foreach(p => triggers += p.batchDuration.toDouble)
      w.reads.foreach(reads += _)
    }
    res.metrics("items_per_s") = done.map(_.rows).sum / timed
    res.metrics("op_p50_ms") = triggers.p50
    res.metrics("work_s") = timed
    ingestProgress = done.flatMap(_.ingest)
    scoringProgress = done.flatMap(_.scoring)
    if (t.enabled) {
      val bronze = s"$dir/bronze"
      val hourly = s"$dir/hourly"
      res.layers("ingest.triggers") = triggers.xs.size.toDouble
      res.layers("ingest.trigger_tail_ms") = triggers.tail
      res.layers("serve.reads") = reads.xs.size.toDouble
      res.layers("serve.read_tail_ms") = reads.tail
      res.layers("scoring.partitions_rewritten") = done.map(_.rewritten).sum.toDouble
      val files = partitionFiles(bronze)
      res.layers("ingest.bronze_partitions") = files.size.toDouble
      res.layers("ingest.bronze_files") = files.values.map(_.size).sum.toDouble
      // the file sink reports no output rows: count the bronze table
      res.layers("ingest.rows_out") = spark.read.parquet(bronze).count().toDouble
      res.layers("ingest.corrupt_rows") = GhIngest.corruptRecords(
        GhIngest.readEventsJson(spark, s"$dir/landing")).count().toDouble
      res.layers("serve.files_seen") = res.layers("ingest.bronze_files")
      res.layers("serve.partitions_seen") = files.size + partitionFiles(hourly).size.toDouble
      res.layers("ingest.kept_ratio") =
        res.layers("ingest.rows_out") / (warmRows + done.map(_.rows).sum)
    }
    res.outputs("live_dir") = dir
    Serves.foreach { n =>
      res.outputs(s"live_$n") = done.last.served(n).map(r => r.toSeq.map {
        case ts: java.sql.Timestamp => ts.toInstant.toString
        case v => v
      })
    }
    timed
  }

  /** The single-thread baseline: the first timed wave's drops drained
    * by one `startIngest` at local[1]. Returns events/s and the median
    * trigger. */
  def baseline(spark: SparkSession, inputs: String, dir: String): (Double, Double) = {
    Main.land(Main.list(waves(inputs)(1).toString), s"$dir/landing", "")
    val t0 = System.nanoTime()
    val ps = Main.drain(GhIngest.startIngest(spark, s"$dir/landing", s"$dir/bronze",
      s"$dir/ck-ingest", maxFilesPerTrigger = Some(1))).filter(_.numInputRows > 0)
    val wall = (System.nanoTime() - t0) / 1e9
    (ps.map(_.numInputRows).sum / wall, Samples.median(ps.map(_.batchDuration.toDouble)))
  }

  def layers(t: Tracer, res: Result): Unit = {
    def phase(ps: Seq[StreamingQueryProgress], k: String) = Samples.median(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets").foreach(k => res.layers(s"ingest.${k}_ms") = phase(ingestProgress, k))
    val rowsIn = ingestProgress.map(_.numInputRows).sum.toDouble
    res.layers("ingest.rows_in") = rowsIn
    val ops = ingestProgress.flatMap(_.stateOperators)
    res.layers("ingest.dup_dropped") = ops.map(o =>
      o.customMetrics.asScala.collect { case (k, v) if k.toLowerCase.contains("duplicate") =>
        v.longValue }.sum).sum.toDouble
    res.layers("ingest.late_dropped") = ops.map(_.numRowsDroppedByWatermark).sum.toDouble
    res.layers("ingest.state_rows_max") = (0L +: ops.map(_.numRowsTotal)).max.toDouble
    res.layers("ingest.state_mem_bytes_max") = (0L +: ops.map(_.memoryUsedBytes)).max.toDouble
    res.layers("ingest.state_commit_ms") = ops.map(_.commitTimeMs).sum.toDouble
    res.layers("ingest.jobs") = count(t, "ingest.drain", "jobs")

    res.layers("scoring.drain_ms") = p50(t, "scoring.drain")
    res.layers("scoring.addBatch_ms") = phase(scoringProgress, "addBatch")
    res.layers("scoring.state_rows_max") =
      (0L +: scoringProgress.flatMap(_.stateOperators).map(_.numRowsTotal)).max.toDouble
    res.layers("scoring.jobs") = count(t, "scoring.drain", "jobs")
    res.layers("scoring.bytes_written") = count(t, "scoring.drain", "output_bytes")

    Serves.foreach(n => res.layers(s"serve.${n}_ms") = p50(t, s"serve.$n"))
    val serves = t.spans.filter(_.name.startsWith("serve."))
    res.layers("serve.jobs_per_call") =
      serves.map(_.counts.getOrElse("jobs", 0L)).sum.toDouble / serves.size.max(1)
  }
}
