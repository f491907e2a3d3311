package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}

import graft.streaming.{GhBackfill, GhIngest}

/** The reference's `update-contributor-scores.js`: GHArchive hour files
  * read through the `gharchive` source, cleaned and deduplicated, then
  * `backfillMissingHours`, the first day's top-K, retention of that day,
  * serving reads over the one-file hour partitions, an
  * idempotent replay (no hour left to do) and a `force` reprocess.
  * Then the engine phases (`Engine`): a slice of the query suite and
  * the incremental doc streams. */
object ArchiveBackfill extends Workload {
  val TopK = 10
  /** Serving reads after the backfill: three daily top-K reads of the
    * remaining day to one top-K read of one of its hours. */
  val Reads = 24

  /** Hour names present in `dir`, as (date, hour), in time order. */
  def hours(dir: String): Seq[(String, Int)] = Main.list(dir)
    .map(_.getFileName.toString.stripSuffix(".json.gz"))
    .map(n => (n.take(10), n.drop(11).toInt)).sorted

  def events(spark: SparkSession, base: String, from: (String, Int),
             to: (String, Int)): DataFrame = {
    val lines = spark.read.format("gharchive").option("baseUrl", base)
      .option("start", s"${from._1}-${from._2}").option("end", s"${to._1}-${to._2}")
      .load()
    val parsed = lines.select(from_json(col("line"), GhIngest.ghEventSchema,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
      .as("e")).select(col("e.*"))
    GhIngest.dedupEvents(GhIngest.cleanEvents(parsed))
  }

  /** A two-hour backfill into a table of its own, untimed. */
  def warm(spark: SparkSession, inputs: String, dir: String): Unit = {
    val hs = hours(s"$inputs/archive")
    val base = "file://" + java.nio.file.Paths.get(s"$inputs/archive").toAbsolutePath
    GhBackfill.backfillMissingHours(spark, events(spark, base, hs.head, hs(1)), s"$dir/warm")
    GhIngest.topContributors(GhBackfill.dailySummary(spark, s"$dir/warm"), TopK).collect()
    Main.note("warm-up: backfill done")
    Engine.warm(spark, inputs, dir)
  }

  /** The daily top-K of one day (the reference's `{day}:sum` key). */
  private def topOfDay(spark: SparkSession, out: String, day: String): Array[Row] =
    GhIngest.topContributors(GhBackfill.dailySummary(spark, out)
      .filter(col("day") === day), TopK).collect()

  private def hourly(spark: SparkSession, dir: String): Seq[Row] =
    spark.read.parquet(dir).select("score_date", "score_hour", "login", "score")
      .orderBy("score_date", "score_hour", "login").collect().toSeq

  def run(spark: SparkSession, t: Tracer, inputs: String, dir: String,
          res: Result): Double = {
    val hs = hours(s"$inputs/archive")
    val base = "file://" + java.nio.file.Paths.get(s"$inputs/archive").toAbsolutePath
    val out = s"$dir/hourly"
    val days = hs.map(_._1).distinct
    val lastDay = hs.filter(_._1 == days.last)
    val reads = new Samples
    var timed = 0.0
    def timedPart[A](body: => A): A = {
      val t0 = System.nanoTime()
      try body finally timed += (System.nanoTime() - t0) / 1e9
    }
    val (written, topFirst, expired, replayed) = timedPart {
      val written = t.span("backfill.call", newTrace = true) {
        GhBackfill.backfillMissingHours(spark, events(spark, base, hs.head, hs.last), out)
      }
      val topFirst = t.span("serve.top_daily", newTrace = true)(topOfDay(spark, out, days.head))
      // retention: the first day goes
      val expired = t.span("retention.expire", newTrace = true) {
        GhBackfill.expireHourPartitions(spark, out, days(1))
      }
      (0 until Reads).foreach { i =>
        if (i % 4 == 3) t.span("serve.top_hourly", newTrace = true) {
          val (d, h) = lastDay((i / 4) % lastDay.size)
          GhIngest.topContributors(spark.read.parquet(out)
            .filter(col("score_date") === d && col("score_hour") === h), TopK).collect()
        } else {
          val t0 = System.nanoTime()
          t.span("serve.top_daily", newTrace = true)(topOfDay(spark, out, days.last))
          reads += (System.nanoTime() - t0) / 1e6
        }
      }
      val replayed = t.span("backfill.replay", newTrace = true) {
        GhBackfill.backfillMissingHours(spark,
          events(spark, base, lastDay.head, lastDay.last), out)
      }
      (written, topFirst, expired, replayed)
    }
    val before = hourly(spark, out)
    val forcedN = timedPart {
      t.span("backfill.force", newTrace = true) {
        GhBackfill.backfillMissingHours(spark,
          events(spark, base, lastDay.head, lastDay.last), out, force = true)
      }
    }
    res.attempted += 5 + Reads
    // input size, outside the timed region: every line the three
    // backfill calls read
    val lines = spark.read.format("gharchive").option("baseUrl", base)
      .option("start", s"${hs.head._1}-${hs.head._2}")
      .option("end", s"${hs.last._1}-${hs.last._2}").load()
    val allLines = lines.count()
    val lastLines = lines.filter(col("date") === days.last).count()
    res.metrics("items_per_s") = (allLines + 2 * lastLines) / timed
    res.metrics("op_p50_ms") = reads.p50
    if (t.enabled) {
      res.layers("serve.reads") = reads.xs.size.toDouble
      res.layers("serve.read_tail_ms") = reads.tail
      res.layers("backfill.hours") = written.toDouble
      res.layers("backfill.input_lines") = allLines.toDouble
      res.layers("backfill.input_bytes") =
        Main.list(s"$inputs/archive").map(java.nio.file.Files.size).sum.toDouble
      res.layers("retention.partitions_dropped") = expired.toDouble
      res.layers("serve.partitions_seen") =
        GhBackfill.existingHourPartitions(spark, out).size.toDouble
    }
    res.check("archive.backfill_hours", written == hs.size, s"$written != ${hs.size}")
    res.check("archive.expired_dates", expired == 1, s"$expired dates expired, not 1")
    res.check("archive.replay_zero_hours", replayed == 0, s"replay wrote $replayed hours")
    res.check("archive.force_hours", forcedN == lastDay.size,
      s"$forcedN != ${lastDay.size}")
    res.check("archive.force_identical", hourly(spark, out) == before,
      "force reprocess changed the hourly scores")
    res.outputs("archive_dir") = dir
    res.outputs("archive_top_first_day") = topFirst.map(_.toSeq.map(_.toString))
    Main.note("backfill phases and checks done")
    val engine = Engine.run(spark, t, inputs, dir, res)
    res.metrics("work_s") = timed + engine
    timed + engine
  }

  def layers(t: Tracer, res: Result): Unit = {
    val call = t.spans.filter(_.name == "backfill.call")
    res.layers("backfill.call_ms") = ms(t, "backfill.call")
    res.layers("backfill.ms_per_hour") =
      res.layers("backfill.call_ms") / res.layers.getOrElse("backfill.hours", 1.0).max(1.0)
    res.layers("backfill.output_bytes") = count(t, "backfill.call", "output_bytes")
    res.layers("backfill.shuffle_write_bytes") = count(t, "backfill.call", "shuffle_write_bytes")
    res.layers("backfill.jobs") = call.map(_.counts.getOrElse("jobs", 0L)).sum.toDouble
    res.layers("backfill.replay_ms") = ms(t, "backfill.replay")
    res.layers("backfill.force_ms") = ms(t, "backfill.force")
    res.layers("retention.expire_ms") = ms(t, "retention.expire")
    res.layers("serve.top_daily_ms") = p50(t, "serve.top_daily")
    res.layers("serve.top_hourly_ms") = p50(t, "serve.top_hourly")
    val serves = t.spans.filter(_.name.startsWith("serve."))
    res.layers("serve.jobs_per_call") =
      serves.map(_.counts.getOrElse("jobs", 0L)).sum.toDouble / serves.size.max(1)
    Engine.layers(res, ms(t, _), count(t, _, _))
  }
}
