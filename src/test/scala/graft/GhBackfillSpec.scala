package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.streaming.{GhBackfill, GhIngest}

/** Idempotent hour-partitioned backfill semantics (SURVEY §7.2 step 4):
  * partition overwrite never double-counts, output-existence pruning
  * skips done hours, retention drops old partitions, daily = Σ hourly,
  * and the stored day table always equals that recompute. */
class GhBackfillSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._
  import GhBackfillSpec._

  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft-bf-fixture")
    Files.copy(getClass.getResourceAsStream("/gh_events.ndjson"),
      dir.resolve("gh_events.ndjson"))
    dir.toString
  }
  private def cleanedEvents =
    GhIngest.dedupEvents(GhIngest.cleanEvents(
      GhIngest.readEventsJson(spark, fixtureDir)))
  /** The fixture ingested by `startIngest`: a streaming sink's table. */
  private lazy val ingestedBronze: String = {
    val tmp = Files.createTempDirectory("graft-bf-bronze").toString
    GhIngest.startIngest(spark, fixtureDir, s"$tmp/bronze", s"$tmp/ckpt")
      .awaitTermination(60000)
    s"$tmp/bronze"
  }

  test("backfill writes hour partitions; replay is a no-op; totals stable") {
    val out = Files.createTempDirectory("graft-bf").toString + "/hourly"
    val n1 = GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    assert(n1 === 4)   // hours 12, 13, 23 on day 1; hour 0 on day 2
    val total1 = spark.read.parquet(out).agg(sum($"score")).as[Long].head()
    assertDayTableServed(spark, out)

    // replay: all partitions exist -> nothing processed, totals unchanged
    val n2 = GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    assert(n2 === 0)
    val total2 = spark.read.parquet(out).agg(sum($"score")).as[Long].head()
    assert(total1 === total2)
    assertDayTableServed(spark, out)

    // forced reprocess overwrites in place - still no double counting
    GhBackfill.backfillMissingHours(spark, cleanedEvents, out, force = true)
    val total3 = spark.read.parquet(out).agg(sum($"score")).as[Long].head()
    assert(total1 === total3)
    assertDayTableServed(spark, out)
  }

  test("an hour whose events all drop out of scoring is not reported as written") {
    // the fixture plus hour 5 of day 2: a WatchEvent, and a push by a
    // login only the batch bot filter drops; cleanEvents keeps both
    val dir = Files.createTempDirectory("graft-bf-unscored")
    Files.copy(getClass.getResourceAsStream("/gh_events.ndjson"),
      dir.resolve("gh_events.ndjson"))
    Files.write(dir.resolve("unscored.ndjson"), java.util.Arrays.asList(
      event("2001", "WatchEvent", "stargazer", "2025-08-11T05:10:00Z"),
      event("2002", "PushEvent", "renovate", "2025-08-11T05:20:00Z")))
    val events = GhIngest.dedupEvents(GhIngest.cleanEvents(
      GhIngest.readEventsJson(spark, dir.toString)))
    assert(events.count() === cleanedEvents.count() + 2)
    val out = Files.createTempDirectory("graft-bf-unscored").toString + "/hourly"
    assert(GhBackfill.backfillMissingHours(spark, events, out) === 4)
    assert(GhBackfill.existingHourPartitions(spark, out) === Set(
      ("2025-08-10", 12), ("2025-08-10", 13), ("2025-08-10", 23),
      ("2025-08-11", 0)))
    // the unscored hour is scanned again, and still writes nothing
    assert(GhBackfill.backfillMissingHours(spark, events, out) === 0)
  }

  test("a backfill scans its input once") {
    val scanned = spark.sparkContext.longAccumulator("backfill-scanned-rows")
    val probe = udf(() => { scanned.add(1); true }).asNondeterministic()
    val events = cleanedEvents.filter(probe())
    val rows = cleanedEvents.count()
    val out = Files.createTempDirectory("graft-bf-once").toString + "/hourly"
    assert(GhBackfill.backfillMissingHours(spark, events, out) === 4)
    assert(scanned.value === rows)
    scanned.reset()
    assert(GhBackfill.backfillMissingHours(spark, events, out, force = true) === 4)
    assert(scanned.value === rows)
  }

  test("each hour partition is one parquet file") {
    val hours = Map(("2025-08-10", 12) -> 1, ("2025-08-10", 13) -> 1,
      ("2025-08-10", 23) -> 1, ("2025-08-11", 0) -> 1)
    val out = Files.createTempDirectory("graft-bf-files").toString + "/hourly"
    GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    assert(hourFiles(out) === hours)
    // the live scoring shape: one hour, several logins
    val one = Files.createTempDirectory("graft-bf-files1").toString + "/hourly"
    GhBackfill.writeHourlyScores(spark,
      cleanedEvents.filter(date_format($"created_at", "yyyy-MM-dd") === "2025-08-10" &&
        hour($"created_at") === 12), one, Seq("2025-08-10"))
    assert(hourFiles(one) === Map(("2025-08-10", 12) -> 1))
    assert(spark.read.parquet(one).count() > 1)
  }

  test("partition listing sees exactly the written (date, hour) pairs") {
    val out = Files.createTempDirectory("graft-bf2").toString + "/hourly"
    GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    assert(GhBackfill.existingHourPartitions(spark, out) === Set(
      ("2025-08-10", 12), ("2025-08-10", 13), ("2025-08-10", 23),
      ("2025-08-11", 0)))
  }

  test("retention drops partitions older than the cutoff") {
    val out = Files.createTempDirectory("graft-bf3").toString + "/hourly"
    GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    val dropped = GhBackfill.expireHourPartitions(spark, out, "2025-08-11")
    assert(dropped === 1)   // the 2025-08-10 date dir
    assert(GhBackfill.existingHourPartitions(spark, out) ===
      Set(("2025-08-11", 0)))
    // the expired day leaves the day table with its hours
    assert(dayDirs(out) === Set("day=2025-08-11"))
    assertDayTableServed(spark, out)
  }

  test("without a stored day, dailySummary serves the recompute; the next write stores it") {
    val out = Files.createTempDirectory("graft-bf-day").toString + "/hourly"
    GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    val days = Seq("2025-08-10", "2025-08-11")
    assert(dayDirs(out) === days.map(d => s"day=$d").toSet)

    // a table written before the day table existed
    deleteTree(s"$out/${GhBackfill.DayTable}")
    assertRecomputeServed(spark, out)
    // its next write, of one day, stores every day it holds
    GhBackfill.writeHourlyScores(spark,
      cleanedEvents.filter(date_format($"created_at", "yyyy-MM-dd") === days(1)),
      out, days.drop(1))
    assert(dayDirs(out) === days.map(d => s"day=$d").toSet)
    assertDayTableServed(spark, out)

    // a write that stopped between its hours and its day: the stored
    // day is gone and hour 12 of that day is rewritten without octocat
    val day0 = cleanedEvents.filter(date_format($"created_at", "yyyy-MM-dd") === days(0))
    val before = dailyRows(GhBackfill.dailySummary(spark, out))
    deleteTree(s"$out/${GhBackfill.DayTable}/day=${days(0)}")
    GhBackfill.hourlyScoresPartitioned(day0
        .filter(hour($"created_at") === 12 && $"actor.login" =!= "octocat"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("score_date", "score_hour").parquet(out)
    assertRecomputeServed(spark, out)
    assert(before.contains((days(0), "octocat", 1L)))
    assert(!dailyRows(GhBackfill.dailySummary(spark, out))
      .exists { case (d, l, _) => d == days(0) && l == "octocat" })
    // the next write of that day restores it
    GhBackfill.writeHourlyScores(spark, day0, out, days.take(1))
    assertDayTableServed(spark, out)
    assert(dailyRows(GhBackfill.dailySummary(spark, out)) === before)
  }

  test("declared schemas equal what inference reads; a missing table reads as empty") {
    def shape(s: StructType) = s.map(f => (f.name, f.dataType, f.nullable))
    assert(shape(spark.read.parquet(ingestedBronze).schema) === shape(GhIngest.bronzeSchema))
    assert(shape(GhIngest.readBronze(spark, ingestedBronze).schema) ===
      shape(GhIngest.bronzeSchema))
    val out = Files.createTempDirectory("graft-bf-schema").toString + "/hourly"
    GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    assert(shape(spark.read.parquet(out).schema) === shape(GhBackfill.hourlySchema))
    // dailySummary's schema, stored or recomputed, is the inferred
    // table's rollup
    val daily = shape(spark.read.parquet(out)
      .groupBy($"score_date".as("day"), $"login").agg(sum($"score").as("score")).schema)
    assert(shape(GhBackfill.dailySummary(spark, out).schema) === daily)
    deleteTree(s"$out/${GhBackfill.DayTable}")
    assert(shape(GhBackfill.dailySummary(spark, out).schema) === daily)
    val missing = GhBackfill.dailySummary(spark, s"$out-missing")
    assert(shape(missing.schema) === daily && missing.isEmpty)
    assert(GhIngest.streamInfo(spark, s"$out-missing").head().getLong(0) === 0L)
  }

  test("size-bounded trim (MAXLEN ~ analogue) drops oldest, keeps >= max") {
    val out = Files.createTempDirectory("graft-bf-trim").toString + "/bronze"
    // 4 hour-partitions of known sizes, oldest first: 10, 20, 30, 40
    val rows = for {
      (h, n) <- Seq((0, 10), (1, 20), (2, 30), (3, 40))
      i <- 0 until n
    } yield (s"e$h-$i", "2025-08-10", h)
    rows.toDF("id", "event_date", "event_hour")
      .write.partitionBy("event_date", "event_hour").parquet(out)

    // total 100, max 60 -> excess 40: hour 0 (10) and hour 1 (20) drop;
    // hour 2 (30 > remaining excess 10) blocks further trimming
    val dropped = graft.streaming.GhBackfill.trimToMaxEvents(spark, out, 60)
    assert(dropped === 2)
    val left = spark.read.parquet(out)
    assert(left.count() === 70)   // >= max, as MAXLEN ~ guarantees
    assert(left.select($"event_hour").distinct().as[Int].collect().toSet
      === Set(2, 3))

    // already within bounds -> no-op
    assert(graft.streaming.GhBackfill.trimToMaxEvents(spark, out, 60) === 0)
    assert(spark.read.parquet(out).count() === 70)
  }

  test("size-bounded trim never cuts a hole past a kept older partition") {
    val out = Files.createTempDirectory("graft-bf-trim2").toString + "/bronze"
    // oldest partition too big to drop; newer small ones must SURVIVE
    val rows = for {
      (h, n) <- Seq((0, 50), (1, 5), (2, 45))
      i <- 0 until n
    } yield (s"e$h-$i", "2025-08-10", h)
    rows.toDF("id", "event_date", "event_hour")
      .write.partitionBy("event_date", "event_hour").parquet(out)
    // total 100, max 60 -> excess 40 < 50: nothing droppable oldest-first
    assert(graft.streaming.GhBackfill.trimToMaxEvents(spark, out, 60) === 0)
    assert(spark.read.parquet(out).count() === 100)
  }

  test("size-bounded trim is a no-op on an emptied table directory") {
    val out = Files.createTempDirectory("graft-bf-trim3").toString + "/bronze"
    Seq(("e0", "2025-08-10", 0)).toDF("id", "event_date", "event_hour")
      .write.partitionBy("event_date", "event_hour").parquet(out)
    // trim to max 0 drops EVERY partition: the dir survives with no
    // partitions (just _SUCCESS) — the next trim must detect that, not
    // die inferring a schema from zero files
    assert(graft.streaming.GhBackfill.trimToMaxEvents(spark, out, 0) === 1)
    assert(graft.streaming.GhBackfill.trimToMaxEvents(spark, out, 10) === 0)
  }

  test("size-bounded trim refuses a streaming sink's table and deletes nothing") {
    val err = intercept[UnsupportedOperationException](
      GhBackfill.trimToMaxEvents(spark, ingestedBronze, 0))
    assert(err.getMessage.contains("_spark_metadata"))
    // every logged file is still there: the table reads in full
    assert(spark.read.parquet(ingestedBronze).count() === 15)
  }

  test("partition listing tolerates foreign and malformed directories") {
    val out = Files.createTempDirectory("graft-bf5").toString + "/hourly"
    GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    // plant junk dirs a buggy writer or another tool might leave behind
    Files.createDirectories(java.nio.file.Paths.get(
      s"$out/score_date=2025-08-10/score_hour=__HIVE_DEFAULT_PARTITION__"))
    Files.createDirectories(java.nio.file.Paths.get(s"$out/_spark_metadata"))
    val parts = GhBackfill.existingHourPartitions(spark, out)
    assert(parts === Set(
      ("2025-08-10", 12), ("2025-08-10", 13), ("2025-08-10", 23),
      ("2025-08-11", 0)))
  }

  test("F6 guard: no complete hour at UTC midnight hour, else previous") {
    import java.time.Instant
    assert(GhBackfill.lastCompleteHour(
      Instant.parse("2025-08-10T00:30:00Z")).isEmpty)
    assert(GhBackfill.lastCompleteHour(
      Instant.parse("2025-08-10T14:05:00Z")) === Some(("2025-08-10", 13)))
    assert(GhBackfill.lastCompleteHour(
      Instant.parse("2025-08-10T23:59:59Z")) === Some(("2025-08-10", 22)))
  }

  test("daily summary equals direct daily aggregation") {
    val out = Files.createTempDirectory("graft-bf4").toString + "/hourly"
    GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    val viaHourly = GhBackfill.dailySummary(spark, out)
      .select($"day", $"login", $"score")
      .as[(String, String, Long)].collect().toSet
    val direct = GhIngest.dailyRollup(GhIngest.hourlyScores(cleanedEvents))
      .select(date_format($"day", "yyyy-MM-dd"), $"login", $"score")
      .as[(String, String, Long)].collect().toSet
    assert(viaHourly === direct)
  }
}

object GhBackfillSpec {
  import org.scalatest.Assertions._

  /** Daily rows as (day, login, score). */
  def dailyRows(daily: DataFrame): Set[(String, String, Long)] =
    daily.select(col("day").cast("string"), col("login"), col("score")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  /** The daily rollup recomputed from the hourly table's hours. */
  def recomputed(spark: SparkSession, out: String): Set[(String, String, Long)] =
    dailyRows(GhBackfill.readHourly(spark, out)
      .groupBy(col("score_date").as("day"), col("login"))
      .agg(sum(col("score")).as("score")))

  private def fromDayTable(daily: DataFrame): Boolean =
    daily.inputFiles.nonEmpty &&
      daily.inputFiles.forall(_.contains(s"/${GhBackfill.DayTable}/"))

  /** `dailySummary` serves the stored day table, which holds exactly the
    * recompute. */
  def assertDayTableServed(spark: SparkSession, out: String): Unit = {
    val daily = GhBackfill.dailySummary(spark, out)
    assert(fromDayTable(daily), s"not served from the day table: ${daily.inputFiles.toSeq}")
    assert(dailyRows(daily) === recomputed(spark, out))
  }

  /** `dailySummary` falls back to the recompute, and it is right. */
  def assertRecomputeServed(spark: SparkSession, out: String): Unit = {
    val daily = GhBackfill.dailySummary(spark, out)
    assert(!fromDayTable(daily))
    assert(dailyRows(daily) === recomputed(spark, out))
  }

  /** The day table's partition dirs. */
  def dayDirs(out: String): Set[String] =
    Option(new java.io.File(out, GhBackfill.DayTable).list())
      .fold(Set.empty[String])(_.toSet.filter(_.startsWith("day=")))

  /** One GitHub event as an ndjson line. */
  def event(id: String, kind: String, login: String, createdAt: String): String =
    s"""{"id": "$id", "type": "$kind", "actor": {"id": $id, "login": "$login"}, """ +
      s""""repo": {"id": 10, "name": "x/y", "url": "r"}, "payload": {}, """ +
      s""""public": true, "created_at": "$createdAt"}"""

  /** Parquet files per (date, hour) partition of an hourly table. */
  def hourFiles(out: String): Map[(String, Int), Int] = {
    def dirs(d: java.io.File, prefix: String) =
      Option(d.listFiles()).toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith(prefix))
    (for {
      date <- dirs(new java.io.File(out), "score_date=")
      hour <- dirs(date, "score_hour=")
    } yield (date.getName.stripPrefix("score_date="), hour.getName.stripPrefix("score_hour=").toInt) ->
      hour.list().count(_.endsWith(".parquet"))).toMap
  }

  def deleteTree(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
}
