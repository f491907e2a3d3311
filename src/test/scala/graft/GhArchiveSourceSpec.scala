package graft

import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The gharchive DataSource V2 against a file:// fixture tree — same
  * URL shape as the live endpoint, so only the scheme differs. */
class GhArchiveSourceSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def writeHour(dir: Path, date: String, hour: Int,
                        lines: Seq[String]): Unit = {
    val out = new GZIPOutputStream(
      Files.newOutputStream(dir.resolve(s"$date-$hour.json.gz")))
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
  }

  private def fixture(): (Path, String) = {
    val dir = Files.createTempDirectory("graft-gharchive")
    writeHour(dir, "2024-01-15", 3,
      Seq("""{"id":"1","type":"PushEvent"}""",
          """{"id":"2","type":"WatchEvent"}"""))
    writeHour(dir, "2024-01-15", 4, Seq("""{"id":"3","type":"ForkEvent"}"""))
    (dir, s"file://$dir")
  }

  private def read(base: String, start: String, end: String) =
    spark.read.format("gharchive")
      .option("baseUrl", base).option("start", start).option("end", end)
      .load()

  test("reads every line of every hour in range with (date, hour) attached") {
    val (_, base) = fixture()
    val got = read(base, "2024-01-15-3", "2024-01-15-4")
      .as[(String, Int, String)].collect().sortBy(_._3)
    assert(got.map(_._2).toSeq === Seq(3, 3, 4))
    assert(got.forall(_._1 == "2024-01-15"))
    assert(got.map(r => r._3.contains("\"id\"")).forall(identity))
    assert(got.length === 3)
  }

  test("missing hour is an empty partition, not a failure (404 tolerance)") {
    val (_, base) = fixture()
    // range stretches over hour 5, which was never written
    val got = read(base, "2024-01-15-3", "2024-01-15-5")
    assert(got.count() === 3)
  }

  test("hour predicate prunes partitions before any fetch") {
    val (dir, base) = fixture()
    // hour 4 becomes a PRESENT but CORRUPT file: any attempt to open
    // it throws. A query filtered to hour 3 must succeed — proof the
    // pushed filter pruned the partition and the reader never touched
    // hour 4 — while the unfiltered scan fails on it.
    Files.write(dir.resolve("2024-01-15-4.json.gz"),
      "not gzip at all".getBytes("UTF-8"))
    val filtered = read(base, "2024-01-15-3", "2024-01-15-4")
      .filter($"hour" === 3)
    assert(filtered.count() === 2)
    val all = read(base, "2024-01-15-3", "2024-01-15-4")
    intercept[org.apache.spark.SparkException] { all.count() }
    // date-range shape prunes too
    val byDate = read(base, "2024-01-14-0", "2024-01-15-4")
      .filter($"date" === "2024-01-15" && $"hour" < 4)
    assert(byDate.count() === 2)
  }

  test("a corrupt hour fails on its first open, without retries") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    import java.util.concurrent.atomic.AtomicInteger
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      hits.incrementAndGet()
      val body = "not gzip at all".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try {
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format("gharchive")
          .option("baseUrl", s"http://127.0.0.1:${server.getAddress.getPort}")
          .option("start", "2024-01-15-3").option("end", "2024-01-15-3")
          .option("maxRetries", "2").option("retryBackoffMs", "10")
          .load().count()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.util.zip.ZipException]), e)
    } finally {
      System.setErr(stderr)
      server.stop(0)
    }
    assert(hits.get() === 1)
    assert(!err.toString("UTF-8").contains("retry"), err.toString("UTF-8"))
  }

  test("pushed filters stay residual: partition-level pruning never over-keeps rows") {
    val (_, base) = fixture()
    // hour >= 4 prunes hour 3's partition AND Spark re-applies the
    // predicate on rows — counts agree with the fixture content
    assert(read(base, "2024-01-15-3", "2024-01-15-4")
      .filter($"hour" >= 4).count() === 1)
  }

  test("projection pushdown: a line-only read carries no date/hour columns") {
    val (_, base) = fixture()
    val df = read(base, "2024-01-15-3", "2024-01-15-3").select($"line")
    assert(df.schema.fieldNames.toSeq === Seq("line"))
    assert(df.as[String].collect().length === 2)
    // and the physical read schema was pruned, not post-projected
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("line") && !scan.contains("hour"))
  }

  test("feeds the existing ingest cleaning path end-to-end") {
    val (_, base) = fixture()
    // the source's line column is exactly the NDJSON the S3 reader
    // parses: schema-on-read json over the line strings
    val lines = read(base, "2024-01-15-3", "2024-01-15-4").select($"line")
      .as[String]
    val parsed = spark.read.json(lines)
    assert(parsed.select($"id").as[String].collect().sorted.toSeq ===
      Seq("1", "2", "3"))

    // parity: the source's lines through `parseEventLines` clean to the
    // same rows as the file reader over the same hour files, and the
    // fixture's one malformed (truncated) line is quarantined on both
    // sides. `payload` is compared as JSON: the file reader keeps a
    // nested object's raw text, which in this fixture has spaces after
    // its separators, and `from_json` writes it compact
    import graft.streaming.GhIngest
    val events = {
      val in = getClass.getResourceAsStream("/gh_events.ndjson")
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filter(_.trim.nonEmpty).toList finally src.close()
    }
    val dir = Files.createTempDirectory("graft-gharchive-parity")
    val (h12, rest) = events.partition(_.contains("2025-08-10T12:"))
    writeHour(dir, "2025-08-10", 12, h12)
    writeHour(dir, "2025-08-10", 13, rest)
    val viaSource = GhIngest.parseEventLines(
      read(s"file://$dir", "2025-08-10-12", "2025-08-10-13"))
    val viaFiles = GhIngest.readEventsJson(spark, dir.toString)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def rows(raw: org.apache.spark.sql.DataFrame) = {
      val clean = GhIngest.cleanEvents(raw)
      val p = clean.schema.fieldIndex("payload")
      clean.collect().toSeq.map(r => r.toSeq.updated(p, om.readTree(r.getString(p))))
        .sortBy(_.toString)
    }
    assert(rows(viaSource).nonEmpty)
    assert(rows(viaSource) === rows(viaFiles))
    def quarantined(raw: org.apache.spark.sql.DataFrame) =
      GhIngest.corruptRecords(raw).select($"_corrupt_record").as[String].collect().toSeq
    assert(quarantined(viaSource).size === 1)
    assert(quarantined(viaSource).head.startsWith("""{"id": "1018""""))
    assert(quarantined(viaFiles) === quarantined(viaSource))
  }

  test("a pushed In filter containing null prunes safely (no planning NPE)") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    import graft.sources.GhArchiveSource.matches
    // Spark pushes `hour IN (5, NULL)` with the null retained — the
    // null comparand can never match and must be SKIPPED, not
    // dereferenced through Number
    assert(matches("2024-01-15", 5, In("hour", Array(5, null))))
    assert(!matches("2024-01-15", 4, In("hour", Array(5, null))))
    assert(!matches("2024-01-15", 4, In("hour", Array[Any](null))))
    assert(matches("2024-01-15", 4, In("date", Array("2024-01-15", null))))
    // null comparands in binary shapes cannot prune either
    assert(matches("2024-01-15", 4, EqualTo("hour", null)))
    // and the end-to-end plan survives: isin with a null literal
    val (_, base) = fixture()
    assert(read(base, "2024-01-15-3", "2024-01-15-4")
      .filter($"hour".isin(4, null)).count() === 1)
  }

  test("stalled endpoint: the open times out fast and retries to success") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import java.net.InetSocketAddress
    import java.util.concurrent.atomic.AtomicInteger
    val hits = new AtomicInteger(0)
    val body = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new GZIPOutputStream(bos)
      gz.write("{\"id\":\"9\",\"type\":\"PushEvent\"}\n".getBytes("UTF-8"))
      gz.close()
      bos.toByteArray
    }
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // a concurrent executor, or the retry request would queue BEHIND
    // the stalled first handler and time out too
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/", (ex: HttpExchange) => {
      if (hits.incrementAndGet() == 1) {
        // stall the FIRST open past the read timeout: no headers, no
        // body — the reader must time out instead of hanging the task
        Thread.sleep(3000)
        ex.sendResponseHeaders(500, -1); ex.close()
      } else {
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.start()
    try {
      val got = spark.read.format("gharchive")
        .option("baseUrl", s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("start", "2024-01-15-3").option("end", "2024-01-15-3")
        .option("readTimeoutMs", "300").option("connectTimeoutMs", "300")
        .option("maxRetries", "2").option("retryBackoffMs", "10")
        .load()
      val t0 = System.nanoTime()
      val rows = got.select($"line").as[String].collect()
      val secs = (System.nanoTime() - t0) / 1e9
      assert(rows.toSeq === Seq("""{"id":"9","type":"PushEvent"}"""))
      assert(hits.get() >= 2, "the stalled first open must have retried")
      // the stall was bounded by the configured timeout, not a hang
      assert(secs < 30, s"open took ${secs}s — timeout did not bite")
    } finally server.stop(0)
  }
}
