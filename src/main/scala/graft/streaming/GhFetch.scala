package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Live-ingestion front half (S1/S2): the ~60 lines of driver-side IO
  * that land raw event files in the drop directory the Spark pipeline
  * reads. Everything downstream (schema, bot filter, dedup state,
  * partitioned sinks) is `GhIngest`/`GhBackfill`; this module only
  * turns "a URL" into "files in a directory" — deliberately driver-side
  * (SURVEY §4.1): fetching is a per-process serial protocol, not a
  * distributed computation.
  *
  *  - `pollEvents`: one poll of the public-events API
  *    (reference `insert-events.js:8-34`): GET `?per_page=100` with the
  *    `application/vnd.github+json` Accept header and an optional
  *    `Bearer` token from `GITHUB_TOKEN`; the returned JSON ARRAY is
  *    landed as NDJSON (one event per line), the shape
  *    `GhIngest.streamClean` watches.
  *  - `fetchArchiveHour`: one GHArchive hour download (reference
  *    `update-contributor-scores.js:71-96`, URL at `:208`). The `.gz`
  *    lands AS-IS — Spark's Hadoop input gunzips natively on read, so
  *    the reference's explicit gunzip step disappears.
  *  - `fetchMissingHours`: the reference's hour walk
  *    (`update-contributor-scores.js:195-236`): from the last complete
  *    hour down to 0, stopping at the first hour whose OUTPUT partition
  *    already exists (its EXISTS-key early break); a failed hour logs
  *    and continues, exactly like the reference's per-hour try/catch.
  */
object GhFetch {

  /** Reference poll page size (`insert-events.js:20`). */
  val PerPage = 100
  val DefaultApiUrl = "https://api.github.com/events"
  val DefaultArchiveUrl = "https://data.gharchive.org"

  private lazy val http: HttpClient =
    HttpClient.newBuilder().followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(java.time.Duration.ofSeconds(30)).build()

  private def get(url: String,
                  headers: Seq[(String, String)]): Array[Byte] = {
    // request timeout: the JDK client's default is NO timeout, so a
    // mid-response stall would hang the fetch loop forever; a bounded
    // wait turns it into the per-hour log-and-continue path instead
    val b = HttpRequest.newBuilder(URI.create(url)).GET()
      .timeout(java.time.Duration.ofMinutes(5))
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
    resp.body()
  }

  /** One events-API poll → the returned JSON array as NDJSON lines
    * (one event per line) — the shared protocol core behind both the
    * file-drop landing (`pollEvents`) and the `ghevents` DSv2
    * streaming source. */
  def pollLines(apiUrl: String = DefaultApiUrl,
                token: Option[String] = sys.env.get("GITHUB_TOKEN")): Seq[String] = {
    val headers = Seq(
      "Accept" -> "application/vnd.github+json",
      "User-Agent" -> "graft-ingest") ++
      token.map(t => "Authorization" -> s"Bearer $t")
    val sep = if (apiUrl.contains("?")) "&" else "?"
    val body = get(s"$apiUrl${sep}per_page=$PerPage", headers)
    // JSON array → NDJSON via jackson (already on the Spark classpath)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.readTree(body)
    require(arr.isArray, s"expected a JSON array from $apiUrl")
    val out = scala.collection.mutable.ArrayBuffer[String]()
    arr.forEach { n => out += om.writeValueAsString(n) }
    out.toSeq
  }

  /** One events-API poll → one NDJSON file in `outDir`. Returns the
    * landed path. The filename carries a nanotime suffix so repeated
    * polls never collide; the ingest stream's file source picks up each
    * new file exactly once (its own checkpointed file log is the dedup). */
  def pollEvents(outDir: String, apiUrl: String = DefaultApiUrl,
                 token: Option[String] = sys.env.get("GITHUB_TOKEN")): Path = {
    val lines = pollLines(apiUrl, token)
    Files.createDirectories(Paths.get(outDir))
    val out = Paths.get(outDir, s"events-${System.nanoTime()}.ndjson")
    // write-then-rename so the streaming file source can never observe
    // a half-written file
    val tmp = Paths.get(outDir, s".events-${System.nanoTime()}.tmp")
    Files.write(tmp, lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
    out
  }

  /** Download one GHArchive hour file into `landDir` (atomic rename).
    * Returns the landed `.json.gz` path. */
  def fetchArchiveHour(landDir: String, date: String, hour: Int,
                       baseUrl: String = DefaultArchiveUrl): Path = {
    val body = get(s"$baseUrl/$date-$hour.json.gz",
      Seq("User-Agent" -> "graft-ingest"))
    Files.createDirectories(Paths.get(landDir))
    val out = Paths.get(landDir, s"$date-$hour.json.gz")
    val tmp = Paths.get(landDir, s".$date-$hour.json.gz.tmp")
    Files.write(tmp, body)
    Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    out
  }

  /** Hour walk: fetch `date`'s hours from `lastHour` down to 0, breaking
    * at the first hour already present in the hourly-scores OUTPUT (the
    * reference's EXISTS-key early exit — earlier hours are necessarily
    * done too). A failed download logs and moves on. Returns the landed
    * (date, hour) pairs, newest first. */
  def fetchMissingHours(spark: SparkSession, landDir: String,
                        hourlyDir: String, date: String, lastHour: Int,
                        baseUrl: String = DefaultArchiveUrl): Seq[(String, Int)] = {
    val done = GhBackfill.existingHourPartitions(spark, hourlyDir)
    val got = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    var hour = lastHour
    while (hour >= 0 && !done((date, hour))) {
      try {
        fetchArchiveHour(landDir, date, hour, baseUrl)
        got += ((date, hour))
      } catch {
        case e: Exception =>
          System.err.println(s"[fetch] $date hour $hour failed: ${e.getMessage}")
      }
      hour -= 1
    }
    got.toSeq
  }
}

/** The reference's whole backfill command
  * (`update-contributor-scores.js:168-291`) composed end-to-end:
  *
  *   UTC-hour-0 guard (F6) → hour-walk fetch (S2) → clean + dedup →
  *   hourly scores via idempotent partition overwrite (A1/O2) →
  *   daily rollup served from the stored day table (A2).
  *
  * {{{
  *   sbt "runMain graft.streaming.GhArchivePipeline <workDir> [baseUrl] [nowIso]"
  * }}}
  *
  * `baseUrl` defaults to the public GHArchive endpoint; tests point it
  * at a local HTTP stub. All state lives under `workDir`
  * (`land/` raw files, `hourly/` scores table). */
object GhArchivePipeline {

  case class Result(date: String, fetched: Seq[(String, Int)],
                    hoursWritten: Int, dailyRows: Long)

  def run(spark: SparkSession, workDir: String,
          now: java.time.Instant,
          baseUrl: String = GhFetch.DefaultArchiveUrl): Option[Result] =
    GhBackfill.lastCompleteHour(now).map { case (date, lastHour) =>
      val landDir = s"$workDir/land"
      val hourlyDir = s"$workDir/hourly"
      val fetched =
        GhFetch.fetchMissingHours(spark, landDir, hourlyDir, date, lastHour, baseUrl)
      val hoursWritten =
        if (fetched.isEmpty) 0
        else {
          val paths = fetched.map { case (dt, h) => s"$landDir/$dt-$h.json.gz" }
          val events = GhIngest.dedupEvents(GhIngest.cleanEvents(
            GhIngest.readEventsJson(spark, paths)))
          GhBackfill.backfillMissingHours(spark, events, hourlyDir)
        }
      Result(date, fetched, hoursWritten,
        GhBackfill.dailySummary(spark, hourlyDir).count())
    }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-archive").toString)
    val baseUrl =
      if (args.length > 1) args(1) else GhFetch.DefaultArchiveUrl
    val now = if (args.length > 2) java.time.Instant.parse(args(2))
              else java.time.Instant.now()
    val spark = graft.GraftSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, workDir, now, baseUrl) match {
      case None =>
        // F6: at UTC hour 0 there is no complete hour of today yet
        println("[archive] UTC hour 0 — nothing to process")
      case Some(r) =>
        println(s"[archive] date=${r.date} fetched=${r.fetched.size} " +
          s"hoursWritten=${r.hoursWritten} dailyRows=${r.dailyRows}")
    }
    spark.stop()
  }
}
