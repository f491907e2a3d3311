package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{GhFetch, GhIngest}

/** OPT-IN live-endpoint smoke for S1/S2 (VERDICT r14 #7): every other
  * S1/S2 spec drives local HTTP stubs, so the schema the stubs encode
  * — a JSON array of event objects with string `id`, `type`,
  * `actor.login`, `repo.name`, ISO-8601 `created_at`; gzip NDJSON for
  * archive hours — is an ASSUMPTION about the real endpoints
  * (reference `insert-events.js:20`,
  * `update-contributor-scores.js:208`). This suite re-pins those
  * assumptions against the real `api.github.com` and
  * `data.gharchive.org` when a network is available.
  *
  * Gated on GRAFT_LIVE_SMOKE=1 (plus optional GITHUB_TOKEN for the
  * API rate limit): without it the tests CANCEL — skipped-green in a
  * sandboxed CI, runnable anywhere with egress via
  * `GRAFT_LIVE_SMOKE=1 sbt "testOnly graft.LiveEndpointSpec"`. */
class LiveEndpointSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def live = sys.env.get("GRAFT_LIVE_SMOKE").contains("1")

  /** A fixed long-complete archive hour: old hours are immutable and
    * small (a few MB), so the smoke stays cheap and deterministic. */
  private val ArchiveDate = "2015-01-01"
  private val ArchiveHour = 3

  test("S1 live: events API poll lands NDJSON the ingest schema reads") {
    assume(live, "set GRAFT_LIVE_SMOKE=1 (needs network egress) to run")
    val outDir = Files.createTempDirectory("graft-live-s1").toString
    val landed = GhFetch.pollEvents(outDir)
    val parsed = GhIngest.cleanEvents(
      GhIngest.readEventsJson(spark, landed.toString))
    val rows = parsed.collect()
    assert(rows.nonEmpty, "live poll returned zero parseable events")
    // the stub-encoded assumptions, re-pinned on real payloads: the
    // fields every downstream query extracts are present and non-null
    val bad = parsed.filter($"id".isNull || $"type".isNull ||
      $"actor.login".isNull || $"repo.name".isNull || $"created_at".isNull)
    assert(bad.isEmpty, s"live events missing core fields:\n" +
      bad.limit(3).toJSON.collect().mkString("\n"))
  }

  test("S2 live: one real GHArchive hour fetches, gunzips, and parses") {
    assume(live, "set GRAFT_LIVE_SMOKE=1 (needs network egress) to run")
    val name = s"$ArchiveDate-$ArchiveHour"
    val parsed = GhIngest.cleanEvents(GhIngest.parseEventLines(
      spark.read.format("gharchive").option("start", name).option("end", name).load()))
    val n = parsed.count()
    assert(n > 0, "archive hour parsed to zero events")
    // every event timestamp sits inside the read hour — the
    // assumption the hour-walk's partition keys (C1) are built on
    val outside = parsed.filter(
      date_format($"created_at", "yyyy-MM-dd") =!= ArchiveDate ||
        hour($"created_at") =!= ArchiveHour).count()
    assert(outside == 0,
      s"$outside of $n events fall outside $ArchiveDate hour $ArchiveHour")
  }
}
