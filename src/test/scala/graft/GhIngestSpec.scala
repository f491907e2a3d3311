package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{DocCuration, GhBackfill, GhIngest, LocalCheckpointFileManager, NioLocalFileSystem, StateMaintenance}

/** A caller's own checkpoint manager: the local one, recording the path
  * of every atomic write it is handed. */
class RecordingCheckpointFileManager(path: Path, conf: Configuration)
    extends LocalCheckpointFileManager(path, conf) {
  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream = {
    RecordingCheckpointFileManager.written.add(p.toUri.getPath)
    super.createAtomic(p, overwriteIfPossible)
  }
}
object RecordingCheckpointFileManager {
  val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** A caller's own local file system: Hadoop's, recording the path of
  * every file created through it. */
class RecordingLocalFileSystem extends LocalFileSystem {
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    RecordingLocalFileSystem.created.add(p.toUri.getPath)
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}
object RecordingLocalFileSystem {
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** End-to-end ingest semantics over the GitHub-shaped NDJSON fixture
  * (FIXTURES.md §B): corrupt-line tolerance, F1 cleaning, dedup,
  * hourly/daily aggregation across hour and midnight boundaries, and
  * the streaming ingest query itself. */
class GhIngestSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** The streaming file source needs a directory — stage the fixture
    * file into a temp dir once. */
  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft-fixture")
    Files.copy(
      getClass.getResourceAsStream("/gh_events.ndjson"),
      dir.resolve("gh_events.ndjson"))
    dir.toString
  }
  private lazy val raw = GhIngest.readEventsJson(spark, fixtureDir)

  test("S2: gzip-compressed hour files decompress natively on read") {
    // the reference hand-rolls gunzip+tempfile for GHArchive dumps
    // (update-contributor-scores.js:71-96); Spark's reader handles the
    // .json.gz directly — same fixture, gzipped, must parse identically
    val dir = Files.createTempDirectory("graft-gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("2025-08-10-12.json.gz")))
    val src = getClass.getResourceAsStream("/gh_events.ndjson")
    src.transferTo(out); out.close(); src.close()
    val gz = GhIngest.readEventsJson(spark, dir.toString)
    assert(gz.count() === raw.count())
    assert(GhIngest.cleanEvents(gz).count() ===
      GhIngest.cleanEvents(raw).count())
  }

  test("PERMISSIVE read quarantines exactly the malformed line") {
    assert(GhIngest.corruptRecords(raw).count() === 1)
    assert(raw.count() === 19)   // 18 parsed + 1 corrupt
  }

  test("cleanEvents applies F1 + drops corrupt, KEEPS null-login rows") {
    val ids = GhIngest.cleanEvents(raw).select($"id").as[String]
      .collect().sorted
    // dropped: corrupt line, 1002 ([bot]), 1003 (-bot). 1009 (no login)
    // is KEPT — the reference's guard only skips present+bot logins.
    assert(!ids.contains("1002") && !ids.contains("1003"))
    assert(ids.contains("1009"))
    assert(ids.count(_ == "1001") === 2)   // dup survives until dedup
    assert(ids.length === 16)
  }

  test("dedupEvents keeps one row per id") {
    val deduped = GhIngest.dedupEvents(GhIngest.cleanEvents(raw))
    assert(deduped.count() === 15)
    assert(deduped.filter($"id" === "1001").count() === 1)
  }

  test("hourly scores: F2+F3 filters + hour boundaries") {
    val hourly = GhIngest.hourlyScores(
      GhIngest.dedupEvents(GhIngest.cleanEvents(raw)))
    val rows = hourly
      .select(date_format($"hour", "yyyy-MM-dd HH").as("h"), $"login", $"score")
      .as[(String, String, Long)].collect().toSet
    assert(rows === Set(
      ("2025-08-10 12", "octocat", 1L),
      ("2025-08-10 12", "botanist-dev", 1L),
      ("2025-08-10 12", "nightowl", 1L),
      ("2025-08-10 13", "nightowl", 1L),
      ("2025-08-10 23", "midnighter", 1L),
      ("2025-08-11 00", "midnighter", 1L)))
  }

  test("daily rollup sums hourly across the midnight boundary") {
    val daily = GhIngest.dailyRollup(GhIngest.hourlyScores(
      GhIngest.dedupEvents(GhIngest.cleanEvents(raw))))
    val rows = daily
      .select(date_format($"day", "yyyy-MM-dd").as("d"), $"login", $"score")
      .as[(String, String, Long)].collect().toSet
    assert(rows === Set(
      ("2025-08-10", "octocat", 1L),
      ("2025-08-10", "botanist-dev", 1L),
      ("2025-08-10", "nightowl", 2L),     // rolled up across hours 12+13
      ("2025-08-10", "midnighter", 1L),
      ("2025-08-11", "midnighter", 1L)))
  }

  test("top-K serving query") {
    val daily = GhIngest.dailyRollup(GhIngest.hourlyScores(
      GhIngest.dedupEvents(GhIngest.cleanEvents(raw))))
    val top = GhIngest.topContributors(
        daily.filter(date_format($"day", "yyyy-MM-dd") === "2025-08-10"), 2)
      .select($"login").as[String].collect()
    assert(top.head === "nightowl")   // score 2 beats the 1s
    assert(top.length === 2)
  }

  test("streaming ingest: AvailableNow backfill, dedup within watermark") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val q = GhIngest.startIngest(spark, fixtureDir, s"$tmp/out", s"$tmp/ckpt")
    q.awaitTermination(60000)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() === 15)                       // dup id dropped
    assert(out.filter($"id" === "1001").count() === 1)
    // partitioned by event_date/event_hour → midnight rows split
    assert(out.select($"event_date").distinct().count() === 2)
  }

  /** The fixture split into 3 input files, in order. */
  private def pagedFixture(prefix: String): java.nio.file.Path = {
    val in = Files.createTempDirectory(prefix)
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/gh_events.ndjson")).getLines().toSeq
    lines.grouped((lines.size + 2) / 3).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(in.resolve(s"chunk$i.ndjson"),
        chunk.mkString("\n").getBytes("UTF-8"))
    }
    in
  }

  test("maxFilesPerTrigger paginates the backlog into micro-batches (B2)") {
    val in = pagedFixture("graft-paged")
    val tmp = Files.createTempDirectory("graft-paged-out").toString
    val q = GhIngest.startIngest(spark, in.toString, s"$tmp/out", s"$tmp/ckpt",
      maxFilesPerTrigger = Some(1))
    q.awaitTermination(60000)
    // one micro-batch per file → at least 3 batches in the progress log
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    assert(spark.read.parquet(s"$tmp/out").count() === 15)   // same result
  }

  test("each micro-batch writes at most one parquet file per (event_date, event_hour)") {
    val in = pagedFixture("graft-files")
    val tmp = Files.createTempDirectory("graft-files-out").toString
    GhIngest.startIngest(spark, in.toString, s"$tmp/out", s"$tmp/ckpt",
      maxFilesPerTrigger = Some(1)).awaitTermination(60000)
    // the file sink's log holds one file per micro-batch, listing the
    // data files that batch wrote
    val log = new java.io.File(s"$tmp/out/_spark_metadata")
    val batches = log.listFiles().filter(_.getName.forall(_.isDigit)).map { f =>
      val src = scala.io.Source.fromFile(f)
      try "\"path\":\"([^\"]+)\"".r.findAllMatchIn(src.mkString).map(_.group(1)).toSeq
      finally src.close()
    }
    assert(batches.length >= 3)
    batches.foreach { paths =>
      val perHour = paths.groupBy(p => p.substring(0, p.lastIndexOf('/')))
      assert(perHour.values.forall(_.size == 1), perHour)
    }
    // the log accounts for every data file in the table
    assert(batches.map(_.size).sum === Files.walk(java.nio.file.Paths.get(s"$tmp/out"))
      .filter(_.toString.endsWith(".parquet")).count())
    assert(spark.read.parquet(s"$tmp/out").count() === 15)
  }

  test("live ingest picks up files that arrive after the stream starts") {
    val in = Files.createTempDirectory("graft-live")
    val tmp = Files.createTempDirectory("graft-live-out").toString
    val q = GhIngest.startIngest(spark, in.toString, s"$tmp/out", s"$tmp/ckpt",
      availableNow = false)
    try {
      q.processAllAvailable()   // empty input processed cleanly
      Files.copy(getClass.getResourceAsStream("/gh_events.ndjson"),
        in.resolve("late.ndjson"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/out").count() === 15)
    } finally q.stop()
  }

  private def push(id: String, at: String): String =
    s"""{"id": "$id", "type": "PushEvent", "actor": {"id": 1, "login": "octocat"}, "created_at": "2025-08-10T$at:00Z"}"""

  /** Lands one page of (id, "HH:mm") push events as a new input file. */
  private def land(in: java.nio.file.Path, page: String, events: (String, String)*): Unit =
    Files.write(in.resolve(s"$page.ndjson"),
      events.map { case (id, at) => push(id, at) }.mkString("\n").getBytes("UTF-8"))

  private def bronzeIds(out: String): Seq[String] =
    spark.read.parquet(out).select($"id").as[String].collect().toSeq.sorted

  test("a fresh checkpoint runs every micro-batch with one state partition") {
    // the session width these assertions name: the profile's is 8
    withConf("spark.sql.shuffle.partitions", "4") {
      val in = pagedFixture("graft-width")
      val tmp = Files.createTempDirectory("graft-width-out").toString
      val q = GhIngest.startIngest(spark, in.toString, s"$tmp/out", s"$tmp/ckpt",
        maxFilesPerTrigger = Some(1))
      q.awaitTermination(60000)
      val ops = q.recentProgress.toSeq.flatMap(_.stateOperators)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
      assert(ops.nonEmpty && ops.forall(_.numShufflePartitions == 1),
        ops.map(_.numShufflePartitions))
      // the caller's session keeps its own width
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
      assert(spark.read.parquet(s"$tmp/out").count() === 15)
    }
  }

  test("a checkpoint started at the session's width resumes at it and keeps its dedup state") {
    // the session width these assertions name: the profile's is 8
    withConf("spark.sql.shuffle.partitions", "4") {
      val in = Files.createTempDirectory("graft-resume")
      val tmp = Files.createTempDirectory("graft-resume-out").toString
      land(in, "page1", "A" -> "10:00", "B" -> "10:01")
      // the ingest plan as it was before the width was pinned: it starts
      // at the session's width and records that width in the checkpoint
      GhIngest.streamClean(spark, in.toString)
        .withColumn("event_date", date_format($"created_at", "yyyy-MM-dd"))
        .withColumn("event_hour", hour($"created_at"))
        .writeStream.format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
        .partitionBy("event_date", "event_hour").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(60000)
      // the next page re-sends A and B inside their 5-minute horizon
      land(in, "page2", "A" -> "10:02", "B" -> "10:03", "C" -> "10:04")
      val q = GhIngest.startIngest(spark, in.toString, s"$tmp/out", s"$tmp/ckpt")
      q.awaitTermination(60000)
      val ops = q.recentProgress.toSeq.flatMap(_.stateOperators)
      assert(ops.nonEmpty && ops.forall(_.numShufflePartitions == 4),
        ops.map(_.numShufflePartitions))
      // the re-sent ids are dropped by the resumed state, not as late rows
      assert(ops.map(_.numRowsDroppedByWatermark).sum === 0)
      assert(bronzeIds(s"$tmp/out") === Seq("A", "B", "C"))
    }
  }

  test("an id re-sent after its horizon is re-admitted across a restart (W3)") {
    val in = Files.createTempDirectory("graft-ttl")
    val tmp = Files.createTempDirectory("graft-ttl-out").toString
    land(in, "page1", "A" -> "10:00", "B" -> "10:20")
    GhIngest.startIngest(spark, in.toString, s"$tmp/out", s"$tmp/ckpt")
      .awaitTermination(60000)
    // the watermark is now 10:15: A's id has expired, B's has not
    land(in, "page2", "A" -> "10:21", "B" -> "10:20")
    GhIngest.startIngest(spark, in.toString, s"$tmp/out", s"$tmp/ckpt")
      .awaitTermination(60000)
    assert(bronzeIds(s"$tmp/out") === Seq("A", "A", "B"))
  }

  private val managerKey = LocalCheckpointFileManager.ClassKey
  private val isolationKey = "spark.sql.artifact.isolation.enabled"
  private val localManager = classOf[LocalCheckpointFileManager].getName
  private val fsKey = NioLocalFileSystem.ImplKey
  private val noCacheKey = s"$fsKey.disable.cache"
  private val nioFs = classOf[NioLocalFileSystem].getName

  /** `body` on a session with no checkpoint manager or local file
    * system set, as a fresh deployment's is; the session's settings are
    * restored afterwards. */
  private def withoutLocalIo[A](body: => A): A = {
    val keys = Seq(managerKey, fsKey, noCacheKey)
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.unset)
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def installed(what: String): Unit = {
    assert(spark.conf.getOption(managerKey) === Some(localManager), what)
    assert(spark.conf.getOption(fsKey) === Some(nioFs), what)
    assert(spark.conf.getOption(noCacheKey) === Some("true"), what)
  }

  private def drained(q: StreamingQuery): Unit = {
    assert(q.awaitTermination(120000), String.valueOf(q.id))
    q.exception.foreach(e => throw e)
  }

  test("every stream start installs the local checkpoint manager; a caller's own is kept") {
    val root = Files.createTempDirectory("graft-ckpt-manager")
    val docs = s"$root/docs"
    Tables.documents(spark, sf).limit(20)
      .withColumn("event_time", current_timestamp()).write.parquet(docs)
    val starts: Seq[(String, String => StreamingQuery)] = Seq(
      "startIngest" -> (GhIngest.startIngest(spark, fixtureDir, s"$root/bronze", _)),
      "startScoring" ->
        (GhIngest.startScoring(spark, s"$root/bronze", s"$root/hourly", _)),
      "startFileDropStream" ->
        (StateMaintenance.startFileDropStream(spark, docs, _, None)((_, _) => ())),
      "startCuration" -> (DocCuration.startCuration(spark, docs, s"$root/cur", _)),
      "startCurationBounded" ->
        (DocCuration.startCurationBounded(spark, docs, s"$root/curb", _)))
    for ((name, start) <- starts) withoutLocalIo {
      drained(start(s"$root/ckpt-$name"))
      installed(name)
      // the query's own settings are not left on the caller's session
      assert(!spark.conf.getAll.contains(isolationKey), name)
    }
    // a backfill can be a session's first write, before any stream
    withoutLocalIo {
      GhBackfill.backfillMissingHours(spark,
        GhIngest.cleanEvents(raw), s"$root/backfill")
      installed("backfillMissingHours")
    }
    // a manager the caller set stays, and every checkpoint write of the
    // query goes through it: the source log the stream thread creates
    // after start() returns, offsets, the state delta, the sink log,
    // commits
    val own = classOf[RecordingCheckpointFileManager].getName
    withConf(managerKey, own) {
      RecordingCheckpointFileManager.written.clear()
      drained(GhIngest.startIngest(spark, fixtureDir, s"$root/bronze-own", s"$root/ckpt-own"))
      assert(spark.conf.get(managerKey) === own)
      val written = RecordingCheckpointFileManager.written.asScala.toSeq
        .map(_.stripPrefix(root.toString + "/"))
      for (p <- Seq("ckpt-own/sources/0/0", "ckpt-own/offsets/0", "ckpt-own/commits/0",
                    "ckpt-own/state/0/0/1.delta", "bronze-own/_spark_metadata/0"))
        assert(written.contains(p), written)
    }
  }

  test("an ingest checkpoint written under Spark's default manager resumes through startIngest") {
    val in = Files.createTempDirectory("graft-ckpt-resume")
    val tmp = Files.createTempDirectory("graft-ckpt-resume-out").toString
    def hourly: Set[(String, String, Long)] =
      spark.read.parquet(s"$tmp/hourly")
        .select(date_format($"hour", "yyyy-MM-dd HH"), $"login", $"score")
        .as[(String, String, Long)].collect().toSet
    def run(): Unit = {
      drained(GhIngest.startIngest(spark, in.toString, s"$tmp/out", s"$tmp/ckpt"))
      drained(GhIngest.startScoring(spark, s"$tmp/out", s"$tmp/hourly", s"$tmp/ckpt-score"))
    }
    land(in, "page1", "A" -> "10:00", "B" -> "10:01")
    withConf(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)(run())
    assert(hourly === Set(("2025-08-10 10", "octocat", 2L)))
    // the next page re-sends A and B inside their horizon: the resumed
    // dedup state drops them, and only C's hour is new
    land(in, "page2", "A" -> "10:02", "B" -> "10:03", "C" -> "11:04")
    withoutLocalIo {
      run()
      installed("resume")
    }
    assert(bronzeIds(s"$tmp/out") === Seq("A", "B", "C"))
    assert(hourly === Set(("2025-08-10 10", "octocat", 2L), ("2025-08-10 11", "octocat", 1L)))
  }

  test("a caller's own local file system is kept and receives the data writes") {
    val root = Files.createTempDirectory("graft-own-fs")
    withConf(fsKey, classOf[RecordingLocalFileSystem].getName) {
      withConf(noCacheKey, "true") {
        RecordingLocalFileSystem.created.clear()
        drained(GhIngest.startIngest(spark, fixtureDir, s"$root/bronze", s"$root/ckpt"))
        drained(GhIngest.startScoring(spark, s"$root/bronze", s"$root/hourly", s"$root/ckpt-s"))
        assert(spark.conf.get(fsKey) === classOf[RecordingLocalFileSystem].getName)
      }
    }
    val created = RecordingLocalFileSystem.created.asScala.toSeq
      .map(_.stripPrefix(root.toString + "/"))
    // the hour write stages its files under hourly/.spark-staging-<job>/
    for ((table, part) <- Seq("bronze/" -> "event_date=", "hourly/" -> "score_date="))
      assert(created.exists(p => p.startsWith(table) && p.contains(part) &&
        p.endsWith(".parquet")), created)
    assert(created.exists(_.startsWith("ckpt/offsets/")), created)
  }

  /** Classes Spark's code generator compiled while `body` ran: its
    * compile-time histogram counts one sample per cache miss. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Classes compiled by a restarted ingest drain and a restarted
    * scoring drain, each over one new page, after one warm drain of
    * each on the same checkpoints. */
  private def restartCompiles(): (Long, Long) = {
    val in = Files.createTempDirectory("graft-restart")
    val tmp = Files.createTempDirectory("graft-restart-out").toString
    def ingest() = drained(GhIngest.startIngest(spark, in.toString, s"$tmp/bronze", s"$tmp/ckpt"))
    def scoring() = drained(GhIngest.startScoring(spark, s"$tmp/bronze", s"$tmp/hourly", s"$tmp/ckpt-s"))
    land(in, "page1", "A" -> "10:00", "B" -> "10:01")
    ingest(); scoring()
    land(in, "page2", "C" -> "10:02", "D" -> "11:03")
    val ingestCompiles = compiles(ingest())
    val scoringCompiles = compiles(scoring())
    assert(bronzeIds(s"$tmp/bronze") === Seq("A", "B", "C", "D"))
    (ingestCompiles, scoringCompiles)
  }

  test("a restarted drain reuses the code its previous run generated") {
    val (ingest, scoring) = restartCompiles()
    info(s"classes compiled on restart: ingest $ingest, scoring $scoring")
    // the new batches' watermark predicates, and nothing of the plans
    assert(ingest <= 4, s"$ingest classes compiled by the restarted ingest drain")
    assert(scoring <= 1, s"$scoring classes compiled by the restarted scoring drain")
  }

  test("a session that keeps artifact isolation on still compiles every restart") {
    withConf(isolationKey, "true") {
      val (ingest, scoring) = restartCompiles()
      info(s"classes compiled on restart: ingest $ingest, scoring $scoring")
      assert(ingest > 4, s"$ingest classes compiled by the restarted ingest drain")
      assert(scoring > 1, s"$scoring classes compiled by the restarted scoring drain")
      assert(spark.conf.getAll.get(isolationKey) === Some("true"))
    }
  }

  test("a stream start restores the caller's confs; a key the caller had not set stays unset") {
    val width = "spark.sql.shuffle.partitions"
    val root = Files.createTempDirectory("graft-start-confs")
    assert(!spark.conf.getAll.contains(isolationKey))
    withConf(width, "4") {
      drained(GhIngest.startIngest(spark, fixtureDir, s"$root/bronze", s"$root/ckpt"))
      assert(spark.conf.getAll.get(width) === Some("4"))
      assert(!spark.conf.getAll.contains(isolationKey))
    }
    val own = spark.conf.getAll.get(width)
    spark.conf.unset(width)
    try {
      val q = StateMaintenance.startStream(spark,
        spark.readStream.schema(GhIngest.bronzeSchema).parquet(s"$root/bronze")
          .writeStream.format("noop").option("checkpointLocation", s"$root/ckpt-n")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        Map(width -> "1"))
      drained(q)
      assert(!spark.conf.getAll.contains(width))
      assert(!spark.conf.getAll.contains(isolationKey))
    } finally own.foreach(spark.conf.set(width, _))
  }

  test("a fresh session whose first action is a stream start runs without isolation from then on") {
    // Spark fixes a session's isolation at its first use of its
    // artifacts, reading the key then; a start on a session that has
    // run nothing yet makes that first use while the key is false
    val fresh = spark.newSession()
    val root = Files.createTempDirectory("graft-fresh")
    drained(GhIngest.startIngest(fresh, fixtureDir, s"$root/bronze", s"$root/ckpt"))
    assert(!fresh.conf.getAll.contains(isolationKey))
    val artifacts = fresh.sessionState.artifactManager
    // the session's artifact state: null when it is not isolated
    assert(artifacts.getClass.getMethod("state").invoke(artifacts) === null)
  }

  test("streamInfo's one aggregation returns the distinct count's row") {
    val root = Files.createTempDirectory("graft-info")
    drained(GhIngest.startIngest(spark, fixtureDir, s"$root/bronze", s"$root/ckpt"))
    Files.createDirectories(root.resolve("empty"))
    def distinctCount(dir: String) = GhIngest.readBronze(spark, dir).agg(
      count("*").as("n_entries"),
      countDistinct($"event_date", $"event_hour").as("n_partitions"),
      min($"created_at").as("first_entry"),
      max($"created_at").as("last_entry"))
    for (dir <- Seq(s"$root/bronze", s"$root/empty")) {
      val info = GhIngest.streamInfo(spark, dir)
      val expected = distinctCount(dir)
      assert(info.schema === expected.schema)
      assert(info.collect().toSeq === expected.collect().toSeq)
    }
    // the fixture's 15 events span four (date, hour) partitions
    assert(GhIngest.streamInfo(spark, s"$root/bronze").head().getLong(1) === 4L)
  }

  test("streaming/batch parity (W5): backfill equals batch result") {
    val tmp = Files.createTempDirectory("graft-parity").toString
    val q = GhIngest.startIngest(spark, fixtureDir, s"$tmp/out", s"$tmp/ckpt")
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$tmp/out").select($"id")
    val batch = GhIngest.dedupEvents(GhIngest.cleanEvents(raw)).select($"id")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }
}
