package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{GhBackfill, GhIngest}

/** End-to-end live scoring: bronze ingest stream → stateless scoring
  * stream whose micro-batches recompute each touched hour from bronze
  * and overwrite it in the partitioned hourly table. The second batch
  * lands in an EXISTING hour partition, which must come out with the
  * hour's full counts (old rows + new) — the reference's incremental
  * ZINCRBY semantics, made idempotent by recompute (SURVEY §7.4.1).
  * After every scoring trigger the stored day table is served and equals
  * the daily recompute. */
class GhScoringStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._
  import GhBackfillSpec.assertDayTableServed

  test("incremental upsert across two streamed batches") {
    val root = Files.createTempDirectory("graft-scoring")
    val in = root.resolve("in"); Files.createDirectories(in)
    val bronze = s"$root/bronze"
    val hourly = s"$root/hourly"
    Files.copy(getClass.getResourceAsStream("/gh_events.ndjson"),
      in.resolve("batch1.ndjson"))

    // batch 1: full fixture through ingest + scoring
    GhIngest.startIngest(spark, in.toString, bronze, s"$root/ckpt-ingest")
      .awaitTermination(60000)
    GhIngest.startScoring(spark, bronze, hourly, s"$root/ckpt-score")
      .awaitTermination(60000)

    val after1 = scored(spark.read.parquet(hourly))
    assertDayTableServed(spark, hourly)
    assert(after1 === Set(
      ("2025-08-10 12", "octocat", 1L),
      ("2025-08-10 12", "botanist-dev", 1L),
      ("2025-08-10 12", "nightowl", 1L),
      ("2025-08-10 13", "nightowl", 1L),
      ("2025-08-10 23", "midnighter", 1L),
      ("2025-08-11 00", "midnighter", 1L)))

    // batch 2: two more events inside the already-materialized hour
    // 2025-08-11T00: octocat joins the partition, midnighter's score
    // increments — the recomputed partition keeps its earlier rows.
    val extra = Seq(
      """{"id": "2001", "type": "PushEvent", "actor": {"id": 1, "login": "octocat", "display_login": "octocat", "gravatar_id": "", "url": "u", "avatar_url": "a"}, "repo": {"id": 10, "name": "x/y", "url": "r"}, "payload": {"push_id": 21}, "public": true, "created_at": "2025-08-11T00:05:00Z"}""",
      """{"id": "2002", "type": "PushEvent", "actor": {"id": 15, "login": "midnighter", "display_login": "midnighter", "gravatar_id": "", "url": "u", "avatar_url": "a"}, "repo": {"id": 24, "name": "x/y", "url": "r"}, "payload": {"push_id": 22}, "public": true, "created_at": "2025-08-11T00:06:00Z"}""")
    Files.write(in.resolve("batch2.ndjson"),
      extra.mkString("\n").getBytes("UTF-8"))

    GhIngest.startIngest(spark, in.toString, bronze, s"$root/ckpt-ingest")
      .awaitTermination(60000)
    GhIngest.startScoring(spark, bronze, hourly, s"$root/ckpt-score")
      .awaitTermination(60000)

    val after2 = scored(spark.read.parquet(hourly))
    assertDayTableServed(spark, hourly)
    assert(after2 === Set(
      ("2025-08-10 12", "octocat", 1L),
      ("2025-08-10 12", "botanist-dev", 1L),
      ("2025-08-10 12", "nightowl", 1L),
      ("2025-08-10 13", "nightowl", 1L),
      ("2025-08-10 23", "midnighter", 1L),
      ("2025-08-11 00", "midnighter", 2L),   // the hour's bronze rows recounted
      ("2025-08-11 00", "octocat", 1L)))     // joins the existing partition

    // the streamed table equals a from-scratch batch recompute
    assert(after2 === scored(GhIngest.hourlyScores(
      GhIngest.dedupEvents(spark.read.parquet(bronze)))))
  }

  test("each scoring micro-batch reports the bronze rows it added as its input rows") {
    val root = Files.createTempDirectory("graft-scoring-progress")
    val in = root.resolve("in"); Files.createDirectories(in)
    val bronze = s"$root/bronze"
    var seen = 0L
    // the batch's own scan for its touched hours is what counts its
    // rows: a trigger that read no batch rows would report 0 and look
    // empty to every progress reader
    def wave(): Unit = {
      val ingest = GhIngest.startIngest(spark, in.toString, bronze, s"$root/ckpt-ingest")
      assert(ingest.awaitTermination(60000)); ingest.exception.foreach(e => throw e)
      val total = spark.read.parquet(bronze).count()
      val q = GhIngest.startScoring(spark, bronze, s"$root/hourly", s"$root/ckpt-score")
      assert(q.awaitTermination(60000)); q.exception.foreach(e => throw e)
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq === Seq(total - seen))
      seen = total
    }
    Files.copy(getClass.getResourceAsStream("/gh_events.ndjson"), in.resolve("batch1.ndjson"))
    wave()
    Files.write(in.resolve("batch2.ndjson"), Seq(
      push("5001", "octocat", "2025-08-11T00:05:00Z"),
      push("5002", "nightowl", "2025-08-11T01:00:00Z")).mkString("\n").getBytes("UTF-8"))
    wave()
    assert(seen === 17)
  }

  private def scored(scores: DataFrame): Set[(String, String, Long)] =
    scores
      .select(date_format($"hour", "yyyy-MM-dd HH").as("h"), $"login", $"score")
      .as[(String, String, Long)].collect().toSet

  private def push(id: String, login: String, at: String): String =
    s"""{"id": "$id", "type": "PushEvent", "actor": {"id": 1, "login": "$login", "display_login": "$login", "gravatar_id": "", "url": "u", "avatar_url": "a"}, "repo": {"id": 10, "name": "x/y", "url": "r"}, "payload": {"push_id": 1}, "public": true, "created_at": "$at"}"""

  /** Appends events to a bronze table laid out as `startIngest` lays it
    * out, by a batch write: unlike the ingest stream's watermark dedup,
    * it lets a row that is late by any margin into bronze. */
  private def appendBronze(bronze: String, lines: String*): Unit = {
    val drop = Files.createTempDirectory("graft-bronze-drop")
    Files.write(drop.resolve("drop.ndjson"), lines.mkString("\n").getBytes("UTF-8"))
    GhIngest.cleanEvents(GhIngest.readEventsJson(spark, drop.toString))
      .withColumn("event_date", date_format($"created_at", "yyyy-MM-dd"))
      .withColumn("event_hour", hour($"created_at"))
      .write.mode("append").partitionBy("event_date", "event_hour").parquet(bronze)
  }

  test("a bronze row far behind the stream's max event time is counted") {
    val root = Files.createTempDirectory("graft-scoring-late")
    val bronze = s"$root/bronze"
    val hourly = s"$root/hourly"
    appendBronze(bronze,
      push("3001", "octocat", "2025-08-10T12:00:00Z"),
      push("3002", "nightowl", "2025-08-10T13:30:00Z"))
    GhIngest.startScoring(spark, bronze, hourly, s"$root/ckpt")
      .awaitTermination(60000)
    assertDayTableServed(spark, hourly)
    // 80 minutes behind the max event time scored so far (13:30)
    appendBronze(bronze, push("3003", "octocat", "2025-08-10T12:10:00Z"))
    GhIngest.startScoring(spark, bronze, hourly, s"$root/ckpt")
      .awaitTermination(60000)
    assertDayTableServed(spark, hourly)
    val streamed = scored(spark.read.parquet(hourly))
    assert(streamed === Set(
      ("2025-08-10 12", "octocat", 2L),
      ("2025-08-10 13", "nightowl", 1L)))
    assert(streamed === scored(GhIngest.hourlyScores(spark.read.parquet(bronze))))
  }

  test("re-running scoring over the same bronze leaves the hourly table identical") {
    val root = Files.createTempDirectory("graft-scoring-replay")
    val in = root.resolve("in"); Files.createDirectories(in)
    val bronze = s"$root/bronze"
    val hourly = s"$root/hourly"
    Files.copy(getClass.getResourceAsStream("/gh_events.ndjson"),
      in.resolve("batch1.ndjson"))
    GhIngest.startIngest(spark, in.toString, bronze, s"$root/ckpt-ingest")
      .awaitTermination(60000)
    def table = spark.read.parquet(hourly).collect().map(_.toString).sorted.toSeq
    GhIngest.startScoring(spark, bronze, hourly, s"$root/ckpt-a")
      .awaitTermination(60000)
    val first = table
    assert(first.nonEmpty)
    // a fresh checkpoint replays every bronze file; the old one replays none
    GhIngest.startScoring(spark, bronze, hourly, s"$root/ckpt-b")
      .awaitTermination(60000)
    assert(table === first)
    GhIngest.startScoring(spark, bronze, hourly, s"$root/ckpt-a")
      .awaitTermination(60000)
    assert(table === first)
    assertDayTableServed(spark, hourly)
  }

  test("refuses a checkpoint holding state from the stateful scoring plan") {
    val root = Files.createTempDirectory("graft-scoring-old")
    val bronze = s"$root/bronze"
    appendBronze(bronze, push("4001", "octocat", "2025-08-10T12:00:00Z"))
    val ckpt = root.resolve("ckpt")
    Files.createDirectories(ckpt.resolve("state/0/0"))
    val err = intercept[IllegalStateException](
      GhIngest.startScoring(spark, bronze, s"$root/hourly", ckpt.toString))
    assert(err.getMessage.contains(ckpt.resolve("state").toString))
    assert(err.getMessage.contains("fresh checkpoint"))
    assert(!Files.exists(root.resolve("hourly")))
  }
}
