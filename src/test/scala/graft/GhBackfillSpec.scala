package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{GhBackfill, GhIngest}

/** Idempotent hour-partitioned backfill semantics (SURVEY §7.2 step 4):
  * partition overwrite never double-counts, output-existence pruning
  * skips done hours, retention drops old partitions, daily = Σ hourly. */
class GhBackfillSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft-bf-fixture")
    Files.copy(getClass.getResourceAsStream("/gh_events.ndjson"),
      dir.resolve("gh_events.ndjson"))
    dir.toString
  }
  private def cleanedEvents =
    GhIngest.dedupEvents(GhIngest.cleanEvents(
      GhIngest.readEventsJson(spark, fixtureDir)))

  test("backfill writes hour partitions; replay is a no-op; totals stable") {
    val out = Files.createTempDirectory("graft-bf").toString + "/hourly"
    val n1 = GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    assert(n1 === 4)   // hours 12, 13, 23 on day 1; hour 0 on day 2
    val total1 = spark.read.parquet(out).agg(sum($"score")).as[Long].head()

    // replay: all partitions exist -> nothing processed, totals unchanged
    val n2 = GhBackfill.backfillMissingHours(spark, cleanedEvents, out)
    assert(n2 === 0)
    val total2 = spark.read.parquet(out).agg(sum($"score")).as[Long].head()
    assert(total1 === total2)

    // forced reprocess overwrites in place - still no double counting
    GhBackfill.backfillMissingHours(spark, cleanedEvents, out, force = true)
    val total3 = spark.read.parquet(out).agg(sum($"score")).as[Long].head()
    assert(total1 === total3)
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
    val tmp = Files.createTempDirectory("graft-bf-trim4").toString
    GhIngest.startIngest(spark, fixtureDir, s"$tmp/bronze", s"$tmp/ckpt")
      .awaitTermination(60000)
    val err = intercept[UnsupportedOperationException](
      GhBackfill.trimToMaxEvents(spark, s"$tmp/bronze", 0))
    assert(err.getMessage.contains("_spark_metadata"))
    // every logged file is still there: the table reads in full
    assert(spark.read.parquet(s"$tmp/bronze").count() === 15)
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
