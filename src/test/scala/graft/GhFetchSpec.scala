package graft

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean
import java.util.zip.GZIPOutputStream
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{GhArchivePipeline, GhBackfill, GhFetch, GhIngest}

/** The two ingest fronts against a LOCAL HTTP stub: the events-API
  * poller lands parseable NDJSON with the reference's headers, and the
  * archive command walks to the first done hour, reads the missing range
  * through the `gharchive` source, runs backfill → daily rollup, and is
  * idempotent. */
class GhFetchSpec extends AnyFunSuite with SparkTestSession {

  private lazy val fixtureLines: Seq[String] = {
    val in = getClass.getResourceAsStream("/gh_events.ndjson")
    val s = scala.io.Source.fromInputStream(in, "UTF-8")
    try s.getLines().filter(_.trim.nonEmpty).toList finally s.close()
  }

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes("UTF-8")); gz.close()
    bos.toByteArray
  }

  /** Stub server: /events answers a JSON array of the fixture's first 5
    * events; /<date>-<hour>.json.gz answers gzipped fixture NDJSON for
    * hours 12 and 13 only (404 elsewhere — an absent hour reads as
    * empty), and HTTP 500 for hour 12 while `failHour12` is set.
    * Records every request's path + auth/accept headers. */
  private def withStub[A](failHour12: AtomicBoolean = new AtomicBoolean(false))(
      f: (String, () => Seq[(String, Option[String], Option[String])]) => A): A = {
    val requests =
      scala.collection.mutable.ArrayBuffer[(String, Option[String], Option[String])]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def record(ex: HttpExchange): Unit = requests.synchronized {
      requests += ((s"${ex.getRequestURI}",
        Option(ex.getRequestHeaders.getFirst("Authorization")),
        Option(ex.getRequestHeaders.getFirst("Accept"))))
    }
    server.createContext("/events", (ex: HttpExchange) => {
      record(ex)
      val arr = "[" + fixtureLines.take(5).mkString(",") + "]"
      val b = arr.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    })
    server.createContext("/", (ex: HttpExchange) => {
      record(ex)
      val p = ex.getRequestURI.getPath
      val served = Seq("-12.json.gz", "-13.json.gz").exists(p.endsWith)
      if (failHour12.get && p.endsWith("-12.json.gz")) ex.sendResponseHeaders(500, -1)
      else if (served) {
        val b = gzip(fixtureLines.mkString("\n"))
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
      } else ex.sendResponseHeaders(404, -1)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}",
      () => requests.synchronized(requests.toSeq))
    finally server.stop(0)
  }

  test("pollEvents lands NDJSON the ingest schema parses; headers match") {
    withStub() { (base, reqs) =>
      val outDir = Files.createTempDirectory("graft-poll").toString
      val landed = GhFetch.pollEvents(outDir, s"$base/events",
        token = Some("sekrit"))
      assert(landed.toString.endsWith(".ndjson"))
      assert(Files.readAllLines(landed).size === 5)
      val parsed = GhIngest.readEventsJson(spark, landed.toString)
      assert(parsed.count() === 5)
      assert(GhIngest.corruptRecords(parsed).count() === 0)
      val (uri, auth, accept) = reqs().head
      assert(uri.contains(s"per_page=${GhFetch.PerPage}"))
      assert(auth === Some("Bearer sekrit"))
      assert(accept === Some("application/vnd.github+json"))

      // without a token the header must be ABSENT, not empty
      GhFetch.pollEvents(outDir, s"$base/events", token = None)
      assert(reqs().last._2 === None)
    }
  }

  test("composed pipeline: fetch -> hourly backfill -> daily; idempotent") {
    withStub() { (base, reqs) =>
      val work = Files.createTempDirectory("graft-e2e").toString
      // 14:05 UTC on the fixture's date → last complete hour = 13
      val now = java.time.Instant.parse("2025-08-10T14:05:00Z")
      val r1 = GhArchivePipeline.run(spark, work, now, base).get
      assert(r1.date === "2025-08-10")
      // nothing done yet: the walk reaches hour 0, and the source reads
      // the whole range with one request per hour, 404s included
      assert(r1.missing.map(_._2) === (13 to 0 by -1))
      assert(reqs().map(_._1).sorted ===
        (0 to 13).map(h => s"/2025-08-10-$h.json.gz").sorted)
      // the served files carry the whole fixture: hours 12, 13, 23 on
      // 8/10 plus hour 0 on 8/11 → 4 hour partitions written; the 404
      // hours 0..11 were read as empty and wrote nothing
      assert(r1.hoursWritten === 4)
      assert(r1.dailyRows > 0)
      val parts = GhBackfill.existingHourPartitions(spark, s"$work/hourly")
      assert(parts === Set(("2025-08-10", 12), ("2025-08-10", 13),
        ("2025-08-10", 23), ("2025-08-11", 0)))
      val daily = GhBackfill.dailySummary(spark, s"$work/hourly")
      assert(daily.count() === r1.dailyRows)
      assert(!Files.exists(Paths.get(s"$work/land")))

      // rerun: hour 13 exists → the walk stops at once, no request is
      // made and nothing is rewritten — the reference's EXISTS early exit
      val before = reqs().size
      val r2 = GhArchivePipeline.run(spark, work, now, base).get
      assert(r2.missing.isEmpty && r2.hoursWritten === 0)
      assert(reqs().size === before)
      assert(r2.dailyRows === r1.dailyRows)

      // F6 guard: at UTC hour 0 the pipeline declines to run at all
      assert(GhArchivePipeline.run(spark, work,
        java.time.Instant.parse("2025-08-10T00:30:00Z"), base).isEmpty)
      assert(reqs().size === before)
    }
  }

  test("an hour that fails past the retries fails the run; a rerun writes it") {
    val failing = new AtomicBoolean(true)
    withStub(failing) { (base, reqs) =>
      val work = Files.createTempDirectory("graft-e2e-500").toString
      val now = java.time.Instant.parse("2025-08-10T14:05:00Z")
      val e = intercept[Exception](GhArchivePipeline.run(spark, work, now, base))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("500")), e)
      // the open was retried, and nothing was written: no hole sits
      // below a written hour for the walk to stop at
      assert(reqs().count(_._1 == "/2025-08-10-12.json.gz") > 1)
      assert(GhBackfill.existingHourPartitions(spark, s"$work/hourly").isEmpty)

      failing.set(false)
      val r = GhArchivePipeline.run(spark, work, now, base).get
      assert(r.missing.map(_._2) === (13 to 0 by -1))
      assert(r.hoursWritten === 4)
      assert(GhBackfill.existingHourPartitions(spark, s"$work/hourly")
        .contains(("2025-08-10", 12)))
    }
  }
}
