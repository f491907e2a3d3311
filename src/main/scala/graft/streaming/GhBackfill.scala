package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *  - retention (`EXPIREAT` midnight, K4/W6) = dropping partition
  *    directories older than a cutoff; no row-level TTL machinery.
  *  - the daily rollup is recomputed per touched day FROM the hourly
  *    table (never merged in place — ZUNIONSTORE-with-self replay
  *    double-counts; recompute is idempotent).
  */
object GhBackfill {

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
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Set.empty
    fs.listStatus(path).filter(_.isDirectory).toSeq.flatMap { dateDir =>
      val dn = dateDir.getPath.getName
      if (!dn.startsWith("score_date=")) Seq.empty[(String, Int)]
      else {
        val date = dn.stripPrefix("score_date=")
        fs.listStatus(dateDir.getPath).filter(_.isDirectory).toSeq.flatMap { hourDir =>
          val hn = hourDir.getPath.getName
          // toIntOption: tolerate foreign dirs (e.g. a
          // __HIVE_DEFAULT_PARTITION__ from a buggy writer) instead of
          // letting one of them break every future backfill run.
          if (hn.startsWith("score_hour="))
            hn.stripPrefix("score_hour=").toIntOption.map(date -> _).toSeq
          else Seq.empty[(String, Int)]
        }
      }
    }.toSet
  }

  /** Hourly scores with explicit partition columns. */
  def hourlyScoresPartitioned(events: DataFrame): DataFrame =
    GhIngest.hourlyScores(events)
      .withColumn("score_date", date_format(col("hour"), "yyyy-MM-dd"))
      .withColumn("score_hour", hour(col("hour")))

  /** Idempotent write: dynamic partition overwrite replaces ONLY the
    * (score_date, score_hour) partitions present in `events`. */
  def writeHourlyScores(spark: SparkSession, events: DataFrame,
                        outDir: String): Unit = {
    // dynamic overwrite as a WRITER option, not session conf: a
    // session-global set leaks into every later partitioned overwrite
    // on the shared session — under dynamic mode the commit protocol
    // leaves _SUCCESS in its staging dir, which silently stripped the
    // completion marker from ensure-built artifacts (the r7 phrase-
    // index FAILED_READ_FILE flake).
    hourlyScoresPartitioned(events)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("score_date", "score_hour")
      .parquet(outDir)
  }

  /** Backfill with output-existence pruning: recompute only events whose
    * hour partition is not yet materialized (pass `force` to reprocess
    * anyway — safe either way because the write is an overwrite). */
  def backfillMissingHours(spark: SparkSession, events: DataFrame,
                           outDir: String, force: Boolean = false): Int = {
    val done = if (force) Set.empty[(String, Int)]
               else existingHourPartitions(spark, outDir)
    val withPart = events
      .filter(col("created_at").isNotNull)   // no hour bucket → no partition
      .withColumn("score_date",
        date_format(date_trunc("hour", col("created_at")), "yyyy-MM-dd"))
      .withColumn("score_hour", hour(col("created_at")))
    val missing = withPart
      .select(col("score_date"), col("score_hour")).distinct()
      .collect().map(r => (r.getString(0), r.getInt(1)))
      .filterNot(done)
    if (missing.nonEmpty) {
      val missingSet = missing.toSet
      val todo = withPart.filter(
        concat_ws(":", col("score_date"), col("score_hour"))
          .isin(missingSet.map { case (d, h) => s"$d:$h" }.toSeq: _*))
        .drop("score_date", "score_hour")
      writeHourlyScores(spark, todo, outDir)
    }
    missing.length
  }

  /** Retention (K4/W6): drop hourly partitions with score_date strictly
    * older than `cutoffDate` (yyyy-MM-dd). Driver-side metadata op. */
  def expireHourPartitions(spark: SparkSession, outDir: String,
                           cutoffDate: String): Int = {
    val path = new Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return 0
    val old = fs.listStatus(path).filter(_.isDirectory).filter { st =>
      val n = st.getPath.getName
      n.startsWith("score_date=") && n.stripPrefix("score_date=") < cutoffDate
    }
    old.foreach(st => fs.delete(st.getPath, true))
    old.length
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

  /** Daily rollup recomputed from the hourly table (A2, idempotent). */
  def dailySummary(spark: SparkSession, hourlyDir: String): DataFrame = {
    val hourly = spark.read.parquet(hourlyDir)
    hourly.groupBy(col("score_date").as("day"), col("login"))
      .agg(sum(col("score")).as("score"))
  }
}
