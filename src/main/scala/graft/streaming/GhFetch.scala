package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Live-ingestion front half (S1): the driver-side IO that lands raw
  * event files in the drop directory the Spark pipeline reads.
  * Everything downstream (schema, bot filter, dedup state, partitioned
  * sinks) is `GhIngest`/`GhBackfill`; this module only turns "a URL"
  * into "files in a directory" — deliberately driver-side (SURVEY
  * §4.1): polling is a per-process serial protocol, not a distributed
  * computation.
  *
  * `pollEvents` is one poll of the public-events API (reference
  * `insert-events.js:8-34`): GET `?per_page=100` with the
  * `application/vnd.github+json` Accept header and an optional `Bearer`
  * token from `GITHUB_TOKEN`; the returned JSON ARRAY is landed as
  * NDJSON (one event per line), the shape `GhIngest.streamClean`
  * watches. A long-running deployment calls it on a schedule (the
  * reference's `setInterval` loop) into the directory that
  * `GhIngest.startIngest(availableNow = false)` watches. The landed
  * files are the replayable source that exactly-once ingest needs: a
  * poll API cannot be replayed, but the file source's checkpointed
  * file log picks each landed file up exactly once, across restarts.
  *
  * GHArchive hours do not land here: they are read through the
  * `gharchive` source (`GhArchivePipeline`).
  */
object GhFetch {

  /** Reference poll page size (`insert-events.js:20`). */
  val PerPage = 100
  val DefaultApiUrl = "https://api.github.com/events"

  private lazy val http: HttpClient =
    HttpClient.newBuilder().followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(java.time.Duration.ofSeconds(30)).build()

  /** One events-API poll → one NDJSON file in `outDir`. Returns the
    * landed path. The filename carries a nanotime suffix so repeated
    * polls never collide; the ingest stream's file source picks up each
    * new file exactly once (its own checkpointed file log is the dedup). */
  def pollEvents(outDir: String, apiUrl: String = DefaultApiUrl,
                 token: Option[String] = sys.env.get("GITHUB_TOKEN")): Path = {
    val sep = if (apiUrl.contains("?")) "&" else "?"
    val url = s"$apiUrl${sep}per_page=$PerPage"
    // request timeout: the JDK client's default is NO timeout, so a
    // mid-response stall would hang the poll loop forever
    val req = HttpRequest.newBuilder(URI.create(url)).GET()
      .timeout(java.time.Duration.ofMinutes(5))
      .header("Accept", "application/vnd.github+json")
      .header("User-Agent", "graft-ingest")
    token.foreach(t => req.header("Authorization", s"Bearer $t"))
    val resp = http.send(req.build(), HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
    // JSON array → NDJSON via jackson (already on the Spark classpath)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.readTree(resp.body())
    require(arr.isArray, s"expected a JSON array from $apiUrl")
    val ndjson = new StringBuilder
    arr.forEach { n => ndjson.append(om.writeValueAsString(n)).append('\n') }
    Files.createDirectories(Paths.get(outDir))
    val out = Paths.get(outDir, s"events-${System.nanoTime()}.ndjson")
    // write-then-rename so the streaming file source can never observe
    // a half-written file
    val tmp = Paths.get(outDir, s".events-${System.nanoTime()}.tmp")
    Files.write(tmp, ndjson.toString.getBytes("UTF-8"))
    Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
    out
  }
}
