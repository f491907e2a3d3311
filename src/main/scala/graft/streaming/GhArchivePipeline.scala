package graft.streaming

import org.apache.spark.sql.SparkSession

/** The reference's whole backfill command
  * (`update-contributor-scores.js:168-291`) composed end-to-end:
  *
  *   UTC-hour-0 guard (F6) → hour walk (a listing) → one `gharchive`
  *   read of the missing range (S2) → parse, clean + dedup → hourly
  *   scores via idempotent partition overwrite (A1/O2) → daily rollup
  *   served from the stored day table (A2).
  *
  * {{{
  *   sbt "runMain graft.streaming.GhArchivePipeline <workDir> [baseUrl] [nowIso]"
  * }}}
  *
  * `baseUrl` defaults to the public GHArchive endpoint; tests point it
  * at a local HTTP stub. All state lives in `workDir/hourly`, the
  * scores table: the hours are read straight from the endpoint, with no
  * landing dir.
  *
  * Failures: an absent hour (HTTP 404) reads as empty with a stderr
  * note, as in the reference. Any other failure that outlasts the
  * source's retries fails the run before anything is written, and a
  * rerun reads the same range again. The reference logs and skips such
  * an hour instead, which leaves a hole below hours already written,
  * where no later walk looks.
  */
object GhArchivePipeline {

  /** `missing` is the walked range, newest first. */
  case class Result(date: String, missing: Seq[(String, Int)],
                    hoursWritten: Int, dailyRows: Long)

  /** The reference's hour walk (`update-contributor-scores.js:195-236`):
    * `date`'s hours from `lastHour` down to 0, stopping at the first one
    * already in the hourly output (its EXISTS-key early break: earlier
    * hours are done too). A listing; no data is read. */
  private def missingHours(spark: SparkSession, hourlyDir: String, date: String,
                           lastHour: Int): Seq[(String, Int)] = {
    val done = GhBackfill.existingHourPartitions(spark, hourlyDir)
    (lastHour to 0 by -1).map((date, _)).takeWhile(!done(_))
  }

  def run(spark: SparkSession, workDir: String,
          now: java.time.Instant,
          baseUrl: String = graft.sources.GhArchiveSource.DefaultBaseUrl): Option[Result] =
    GhBackfill.lastCompleteHour(now).map { case (date, lastHour) =>
      val hourlyDir = s"$workDir/hourly"
      val missing = missingHours(spark, hourlyDir, date, lastHour)
      val hoursWritten =
        if (missing.isEmpty) 0
        else {
          val lines = spark.read.format("gharchive").option("baseUrl", baseUrl)
            .option("start", s"$date-${missing.last._2}")
            .option("end", s"$date-$lastHour")
            .load()
          val events = GhIngest.dedupEvents(GhIngest.cleanEvents(
            GhIngest.parseEventLines(lines)))
          GhBackfill.backfillMissingHours(spark, events, hourlyDir)
        }
      Result(date, missing, hoursWritten,
        GhBackfill.dailySummary(spark, hourlyDir).count())
    }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-archive").toString)
    val baseUrl =
      if (args.length > 1) args(1) else graft.sources.GhArchiveSource.DefaultBaseUrl
    val now = if (args.length > 2) java.time.Instant.parse(args(2))
              else java.time.Instant.now()
    val spark = graft.GraftSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, workDir, now, baseUrl) match {
      case None =>
        // F6: at UTC hour 0 there is no complete hour of today yet
        println("[archive] UTC hour 0 — nothing to process")
      case Some(r) =>
        println(s"[archive] date=${r.date} missing=${r.missing.size} " +
          s"hoursWritten=${r.hoursWritten} dailyRows=${r.dailyRows}")
    }
    spark.stop()
  }
}
