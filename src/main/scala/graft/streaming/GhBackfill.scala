package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GhFunctions.hourKey

/** The reference's batch backfill lifecycle (`update-contributor-scores.js`,
  * SURVEY.md §3.2) as idempotent partitioned-table maintenance:
  *
  *  - hourly contributor scores land in a table partitioned by
  *    (score_date, score_hour); each run OVERWRITES exactly the hour
  *    partitions it recomputed (dynamic partition overwrite) — replaying
  *    an hour can never double-count, the invariant the reference gets
  *    from its EXISTS-check early-exit (`:198-204`) and we get from
  *    idempotent writes (SURVEY §7.4.1).
  *  - which hours to process is decided by OUTPUT-partition existence —
  *    the reference's `EXISTS hourKey` check. Catalyst prunes *input*
  *    partitions; output-existence pruning is driver-side control flow
  *    by design (SURVEY §4.1) — a filesystem listing, no data read.
  *  - a backfill reads its input once: the done hours drop out inside
  *    the plan, the hour × login scores are materialized once, and the
  *    hours to write (and their days) are read off those rows. The
  *    hour write is as wide as the cores and keeps each hour in one
  *    task, so each hour partition is one file.
  *  - retention (`EXPIREAT` midnight, K4/W6) = dropping partition
  *    directories older than a cutoff; no row-level TTL machinery.
  *  - the daily rollup is recomputed per touched day FROM the hourly
  *    table (never merged in place — ZUNIONSTORE-with-self replay
  *    double-counts; recompute is idempotent) and STORED in the day
  *    table `<hourlyDir>/.daily`, partitioned by `day` — the
  *    `ZUNIONSTORE` destination that `ZREVRANGE` serves (A2/T1). It
  *    lives and expires with the hourly table, and its dot prefix hides
  *    it from hourly reads: Spark's file listing skips `.`- and
  *    `_`-prefixed dirs, while recursive globs over the table's parquet
  *    files (DuckDB's hive-partitioned reads) skip only dot dirs — a
  *    `_daily` dir would reach them as files without the hour keys.
  *    A write invalidates before it writes: it deletes each touched
  *    day's stored partition, writes the hours, then stores the day
  *    recomputed from them. `dailySummary` serves the day table only
  *    while its days are exactly the hourly table's dates (a listing),
  *    so a write that stopped part-way, or a table written before the
  *    day table existed, is served by the recompute instead.
  *
  * Every read goes through the schema the writer fixes (`hourlySchema`,
  * `GhIngest.bronzeSchema`): no schema-inference job per read. Every
  * hour write first runs `StateMaintenance.installLocalFileIo`, so its
  * parquet and committer files are created without a `chmod` process
  * each: a backfill can be a session's first write, before any stream.
  */
object GhBackfill {

  /** The hourly table's schema as `writeHourlyScores` writes it and
    * partition inference reads it back (a yyyy-MM-dd `score_date` dir
    * types as a DATE). */
  val hourlySchema: StructType = StructType(Seq(
    StructField("hour", TimestampType), StructField("login", StringType),
    StructField("score", LongType), StructField("score_date", DateType),
    StructField("score_hour", IntegerType)))

  /** The hourly table through `hourlySchema`, with no inference job; a
    * missing table reads as empty. */
  def readHourly(spark: SparkSession, dir: String): DataFrame =
    StateMaintenance.readDeclared(spark, dir, hourlySchema)

  /** The stored day table's dir under the hourly table's. */
  val DayTable = ".daily"

  /** The day table's rows as stored: the `day` partition column last. */
  private val daySchema = StructType(Seq(
    StructField("login", StringType), StructField("score", LongType),
    StructField("day", DateType)))

  private def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The values of `dir`'s `<prefix>value` partition dirs: a listing,
    * no data read. */
  private def partitionValues(fs: FileSystem, dir: Path, prefix: String): Set[String] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).toSet

  /** Each day's score per login, summed over its hours (A2). */
  private def rollup(hourly: DataFrame): DataFrame =
    hourly.groupBy(col("score_date").as("day"), col("login"))
      .agg(sum(col("score")).as("score"))

  /** F6 — the reference's skip-at-UTC-hour-0 guard
    * (`update-contributor-scores.js:21-25,172-177`): the last COMPLETE
    * hour strictly before `now`, or None at the day's first hour when
    * no complete hour of today exists yet. Driver-side control flow by
    * design (SURVEY §4.1). */
  def lastCompleteHour(now: java.time.Instant): Option[(String, Int)] = {
    val utc = now.atZone(java.time.ZoneOffset.UTC)
    if (utc.getHour == 0) None
    else Some((utc.toLocalDate.toString, utc.getHour - 1))
  }

  /** (date, hour) partitions present in the hourly-scores output. */
  def existingHourPartitions(spark: SparkSession, outDir: String): Set[(String, Int)] = {
    val path = new Path(outDir)
    val fs = fileSystem(spark, path)
    partitionValues(fs, path, "score_date=").flatMap { date =>
      // toIntOption: tolerate foreign dirs (e.g. a
      // __HIVE_DEFAULT_PARTITION__ from a buggy writer) instead of
      // letting one of them break every future backfill run.
      partitionValues(fs, new Path(path, s"score_date=$date"), "score_hour=")
        .flatMap(_.toIntOption).map(date -> _)
    }
  }

  /** Hourly scores with explicit partition columns. */
  def hourlyScoresPartitioned(events: DataFrame): DataFrame =
    GhIngest.hourlyScores(events)
      .withColumn("score_date", date_format(col("hour"), "yyyy-MM-dd"))
      .withColumn("score_hour", hour(col("hour")))

  /** Idempotent write: dynamic partition overwrite replaces ONLY the
    * (score_date, score_hour) partitions present in `events`, whose
    * dates (yyyy-MM-dd) the caller names in `days`; those days are
    * then recomputed from their hours and stored in the day table. A
    * table without a day table yet gets every day it holds stored. */
  def writeHourlyScores(spark: SparkSession, events: DataFrame,
                        outDir: String, days: Seq[String]): Unit =
    writeScores(spark, hourlyScoresPartitioned(events), outDir, days)

  /** `writeHourlyScores` over rows already scored by
    * `hourlyScoresPartitioned`. */
  private def writeScores(spark: SparkSession, scores: DataFrame,
                          outDir: String, days: Seq[String]): Unit = {
    StateMaintenance.installLocalFileIo(spark)
    val out = new Path(outDir)
    val fs = fileSystem(spark, out)
    val dayDir = new Path(out, DayTable)
    val touched = days.toSet ++
      (if (fs.exists(dayDir)) Set.empty else partitionValues(fs, out, "score_date="))
    // invalidate first: until the day is stored again, its hours and
    // the day table disagree and reads fall back to the recompute
    touched.foreach(d => fs.delete(new Path(dayDir, s"day=$d"), true))
    // dynamic overwrite as a WRITER option, not session conf: a
    // session-global set leaks into every later partitioned overwrite
    // on the shared session — under dynamic mode the commit protocol
    // leaves _SUCCESS in its staging dir, which silently stripped the
    // completion marker from ensure-built artifacts (the r7 phrase-
    // index FAILED_READ_FILE flake).
    scores.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("score_date", "score_hour")
      .parquet(outDir)
    if (touched.nonEmpty)
      rollup(readHourly(spark, outDir)
          .filter(col("score_date").isin(touched.toSeq.map(java.time.LocalDate.parse): _*)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(dayDir.toString)
  }

  /** Backfill with output-existence pruning: score only events whose
    * hour partition is not yet materialized (pass `force` to reprocess
    * anyway — safe either way because the write is an overwrite), and
    * return the number of hour partitions written.
    *
    * One pass over `events`: the done hours (a listing) are dropped in
    * the plan, and the scores are materialized once. They are hour ×
    * login rows, sized by the output, so the hours to write and their
    * days are read off them, not off a second scan of the input; the
    * hour write then reads them too. An hour whose events all drop out
    * of the scoring (only non-scoring types, or only batch-bot logins)
    * writes no partition, so it stays unmaterialized and every later
    * run scans it again, as the reference re-downloads an hour whose
    * key never got created. */
  def backfillMissingHours(spark: SparkSession, events: DataFrame,
                           outDir: String, force: Boolean = false): Int = {
    val done = if (force) Set.empty[(String, Int)]
               else existingHourPartitions(spark, outDir)
    val scores = hourlyScoresPartitioned(events.filter(
        !hourKey(col("created_at")).isin(done.map { case (d, h) => s"$d:$h" }.toSeq: _*)))
      // the hours go out from every core: AQE's size-based coalescing
      // folds the small score rows into one task, which then writes
      // each hour's file in turn, but it never coalesces an explicit
      // width; hashing by the hour keys keeps each hour in one task,
      // so each hour is still one file. The live scoring path writes
      // its few hours unrepartitioned, one stage fewer per trigger.
      .repartition(spark.sparkContext.defaultParallelism,
        col("score_date"), col("score_hour"))
      .localCheckpoint(true)
    val written = scores.select("score_date", "score_hour").distinct()
      .collect().map(r => (r.getString(0), r.getInt(1)))
    if (written.nonEmpty)
      writeScores(spark, scores, outDir, written.map(_._1).distinct.toSeq)
    written.length
  }

  /** Retention (K4/W6): drop hourly partitions with score_date strictly
    * older than `cutoffDate` (yyyy-MM-dd), and those days from the day
    * table — the stored days first, so a stop in between leaves hours
    * without their day, which reads recompute. Driver-side metadata op;
    * returns the number of dates dropped. */
  def expireHourPartitions(spark: SparkSession, outDir: String,
                           cutoffDate: String): Int = {
    val path = new Path(outDir)
    val fs = fileSystem(spark, path)
    val dayDir = new Path(path, DayTable)
    partitionValues(fs, dayDir, "day=").filter(_ < cutoffDate)
      .foreach(d => fs.delete(new Path(dayDir, s"day=$d"), true))
    val old = partitionValues(fs, path, "score_date=").filter(_ < cutoffDate)
    old.foreach(d => fs.delete(new Path(path, s"score_date=$d"), true))
    old.size
  }

  /** The reference's count-bounded stream trim (`XADD MAXLEN ~ 1000`,
    * `insert-events-into-db.lua:33`) as approximate size-bounded
    * retention on a (date, hour)-partitioned table: drop OLDEST
    * partitions as long as the rows that remain still number at least
    * `maxEvents`. Approximate at partition granularity exactly as
    * `MAXLEN ~` trims whole radix-tree nodes — never a row-level
    * rewrite. Complements the date-cutoff expiry
    * (`expireHourPartitions`), which is the time-based retention
    * analogue. Row counts come from ONE partition-columns-only
    * aggregate (satisfied from parquet row-group metadata, no data
    * pages read); the deletes are driver-side metadata ops. Returns
    * the number of partitions dropped. Refuses a streaming file sink's
    * output (a `startIngest` bronze table). */
  def trimToMaxEvents(spark: SparkSession, dir: String, maxEvents: Long,
                      dateCol: String = "event_date",
                      hourCol: String = "event_hour"): Int = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return 0
    // a streaming file sink's table: readers list files from its
    // `_spark_metadata` log, not the directory, so a deleted logged
    // file fails every later read of the table
    val sinkLog = new Path(path, "_spark_metadata")
    if (fs.exists(sinkLog))
      throw new UnsupportedOperationException(
        s"trimToMaxEvents: $dir is a streaming file sink's output; its log $sinkLog " +
        "still lists every file, so deleting partitions would break every later " +
        "read of the table. Refusing to trim it.")
    // a table whose partitions were ALL expired/trimmed is an existing
    // dir with no data (just _SUCCESS) — schema inference would throw
    if (!fs.listStatus(path).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith(s"$dateCol="))) return 0
    // cast: partition inference may type the date dir as DATE; the
    // directory name needed for the delete is its string form
    val counts = spark.read.parquet(dir)
      .groupBy(col(dateCol).cast("string").as(dateCol), col(hourCol))
      .count()
      .collect()
      .map(r => ((r.getString(0), r.getAs[Number](1).intValue()),
        r.getLong(2)))
      .sortBy { case ((dt, h), _) => (dt, h) }   // oldest first
    var excess = counts.map(_._2).sum - maxEvents
    var dropped = 0
    // strictly oldest-first: stop at the first partition that cannot be
    // dropped — trimming a newer partition past a kept older one would
    // cut a hole in the middle of the stream, which MAXLEN never does
    var blocked = false
    counts.foreach { case ((dt, h), n) =>
      if (!blocked && n <= excess) {
        fs.delete(new Path(path, s"$dateCol=$dt/$hourCol=$h"), true)
        excess -= n
        dropped += 1
      } else blocked = true
    }
    // prune date directories the hour deletes emptied, so partition
    // listings never see hollow dates
    fs.listStatus(path).filter(_.isDirectory)
      .filter(st => st.getPath.getName.startsWith(s"$dateCol="))
      .filter(st => fs.listStatus(st.getPath).isEmpty)
      .foreach(st => fs.delete(st.getPath, true))
    dropped
  }

  /** Daily rollup (A2): (day, login, score). Served from the day table
    * when its `day=` dirs are exactly the hourly table's `score_date=`
    * dirs, a listing that reads no data; otherwise — a table written
    * before the day table existed, or a write that stopped between its
    * hours and its day — recomputed from the hourly table. A missing
    * table reads as empty. */
  def dailySummary(spark: SparkSession, hourlyDir: String): DataFrame = {
    val out = new Path(hourlyDir)
    val fs = fileSystem(spark, out)
    val dayDir = new Path(out, DayTable)
    val days = partitionValues(fs, dayDir, "day=")
    if (days.nonEmpty && days == partitionValues(fs, out, "score_date="))
      // the listed day dirs, not the dot-named root, which Spark's path
      // check would warn about on every read
      spark.read.schema(daySchema).option("basePath", dayDir.toString)
        .parquet(days.toSeq.map(d => s"$dayDir/day=$d"): _*)
        .select("day", "login", "score")
    else rollup(readHourly(spark, hourlyDir))
  }
}
