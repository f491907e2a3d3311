package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.GhFunctions._

/** The reference pipeline re-expressed as Structured Streaming + batch
  * (SURVEY.md §3):
  *
  *  - ingest (`insert-events.js` + `insert-events-into-db.lua`): NDJSON
  *    file-drop → bot filter (F1) → watermark + dropDuplicatesWithinWatermark
  *    (the 300 s dedup-TTL analogue, W3) → append to the bronze events
  *    table partitioned by date/hour. The dedup state lives in ONE state
  *    partition: it holds at most a 5-minute horizon of ids, and a
  *    poll-sized trigger pays a store commit per partition (see
  *    `startIngest` for the bound, the no-data batches it keeps, and
  *    older checkpoints).
  *  - backfill (`update-contributor-scores.js`): the `gharchive`
  *    source's hour lines, parsed by `parseEventLines` → F2+F3 filters →
  *    1-hour tumbling-window count per login (A1) → idempotent
  *    per-hour-partition overwrite; daily rollup = each touched day
  *    re-aggregated from hourly and stored beside it (A2;
  *    recompute-not-merge per SURVEY §7.4.1; `GhBackfill`).
  *  - live scoring (the `ZINCRBY` hourly counters): a stateless stream
  *    over bronze that recomputes each hour it sees new rows in from
  *    that hour's bronze partition and overwrites it with the backfill's
  *    writer — the same idempotent table, kept current per trigger.
  *
  * Stream starts: both streams start through `StateMaintenance.startStream`.
  * On a local path their checkpoint logs are written by
  * [[LocalCheckpointFileManager]] (a temp file and one POSIX rename) and
  * every file they create, checkpoint or parquet, through
  * [[NioLocalFileSystem]], which sets its permissions without forking
  * `chmod`. A live ingest trigger makes five checkpoint writes (source
  * log, offsets, state delta, sink log, commits) at under 1 ms each,
  * where Spark's default FileContext manager over Hadoop's file system
  * takes about 15 ms without libhadoop. A manager or file system the
  * deployment set itself is kept, and other schemes get Spark's
  * defaults. Each query starts with artifact isolation off (unless the
  * deployment set it), so its clone session runs in the executors'
  * shared class loader: the poll loop restarts both drains every wave,
  * and a restart reuses the code the previous drain generated instead
  * of compiling its plan again.
  *
  * Scale stance: the groupBy(window, login) shuffles once on
  * (window, login) with map-side partial aggregation; hour-partitioned
  * output gives partition pruning to every downstream serving query.
  * The micro-batch + watermark + idempotent-sink design follows the
  * Structured Streaming model (Armbrust et al., SIGMOD 2018), where
  * exactly-once output comes from the sink, not operator state.
  */
object GhIngest {

  /** GitHub event schema (reference `README.md:44-53`). `payload` stays
    * a raw JSON string — it is polymorphic per event type and inferring
    * a union schema explodes (SURVEY §7.4.4); drill in per-query with
    * get_json_object. */
  val ghEventSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("type", StringType),
    StructField("actor", StructType(Seq(
      StructField("id", LongType),
      StructField("login", StringType),
      StructField("display_login", StringType),
      StructField("gravatar_id", StringType),
      StructField("url", StringType),
      StructField("avatar_url", StringType)))),
    StructField("repo", StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("url", StringType)))),
    StructField("payload", StringType),
    StructField("public", BooleanType),
    StructField("created_at", TimestampType),
    StructField("org", StructType(Seq(
      StructField("id", LongType),
      StructField("login", StringType)))),
    StructField("_corrupt_record", StringType)))

  /** The bronze table's schema as `startIngest` writes it and partition
    * inference reads it back: the cleaned event columns, then the
    * `event_date` (a yyyy-MM-dd dir, which inference types as a DATE) and
    * `event_hour` partition columns. */
  val bronzeSchema: StructType = StructType(
    ghEventSchema.filterNot(_.name == "_corrupt_record") ++ Seq(
      StructField("event_date", DateType), StructField("event_hour", IntegerType)))

  /** The bronze table through `bronzeSchema`, with no inference job; a
    * missing table reads as empty. */
  def readBronze(spark: SparkSession, dir: String): DataFrame =
    StateMaintenance.readDeclared(spark, dir, bronzeSchema)

  /** Batch NDJSON(.gz) read with malformed-line tolerance (S2/S3/O3):
    * PERMISSIVE mode quarantines bad lines into _corrupt_record instead
    * of failing the job — the analogue of the reference's per-line
    * try/catch (`update-contributor-scores.js:147-150`). */
  def readEventsJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(ghEventSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** `readEventsJson` for a LINE-shaped relation (the `gharchive`
    * source's `line` column): the same schema and the same PERMISSIVE
    * quarantine into `_corrupt_record`, through `from_json`. One
    * difference: `payload` holds the nested object re-written compact,
    * where the file reader keeps its raw text. They differ only in
    * whitespace, and GHArchive's lines are compact already. */
  def parseEventLines(lines: DataFrame): DataFrame =
    lines.select(from_json(col("line"), ghEventSchema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("e"))
      .select(col("e.*"))

  /** Rows unusable downstream: failed to parse fully (PERMISSIVE mode
    * keeps any prefix fields it managed to read) or missing the event
    * id. The filter deliberately references `id` too — Spark refuses
    * scans whose only referenced column is the internal corrupt-record
    * column, and a bare count() would prune down to it. */
  def corruptRecords(raw: DataFrame): DataFrame =
    raw.filter(col("_corrupt_record").isNotNull || col("id").isNull)
      .select(col("id"), col("_corrupt_record"))

  /** Ingest-path cleaning (F1 + drop corrupt + project): the content of
    * the Lua insert script minus storage concerns. Null-login rows are
    * KEPT, matching the reference (`insert-events.js:49` only skips
    * when a login is present AND bot-shaped). One DELIBERATE deviation:
    * rows without an event time are dropped — the reference would
    * insert them, but every consumer here buckets by `created_at`, and
    * a null would land in a __HIVE_DEFAULT_PARTITION__ that poisons
    * partition listings. */
  def cleanEvents(raw: DataFrame): DataFrame =
    raw.filter(col("_corrupt_record").isNull)
      .filter(col("id").isNotNull)
      .filter(col("created_at").isNotNull)
      .filter(keepIngest(col("actor.login")))
      .drop("_corrupt_record")

  /** Batch dedup by event id — keep the earliest-created row per id.
    * The remaining columns, packed as ONE struct, are the ORDER-BY
    * tiebreaker (struct ordering is lexicographic over its fields), so
    * the pick is total — deterministic even when two rows share id AND
    * timestamp but differ elsewhere, where plain dropDuplicates or a
    * timestamp-only window would pick arbitrarily. A struct comparison
    * costs field reads only where prefixes tie; rendering every row to
    * JSON for the same totality serialized the whole bronze row per
    * comparison. */
  def dedupEvents(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tiebreak = struct(
      events.columns.filterNot(_ == "created_at").map(col).toIndexedSeq: _*)
    events
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("created_at"), tiebreak)))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** A1/W1 — hourly contributor scores: F2 + F3, then a 1-hour
    * event-time tumbling window count per login. */
  def hourlyScores(events: DataFrame): DataFrame =
    events
      .filter(isScoringType(col("type")))
      .filter(!isBotBatch(col("actor.login")))
      .groupBy(
        window(col("created_at"), "1 hour").getField("start").as("hour"),
        col("actor.login").as("login"))
      .agg(count("*").as("score"))

  /** A2/W2 — daily rollup computed FROM the hourly table (recompute,
    * not in-place merge: idempotent under replay, SURVEY §7.4.1). */
  def dailyRollup(hourly: DataFrame): DataFrame =
    hourly.groupBy(
        date_trunc("day", col("hour")).as("day"),
        col("login"))
      .agg(sum(col("score")).as("score"))

  /** T1/T2 — top-K serving query (plans as TakeOrderedAndProject). */
  def topContributors(scores: DataFrame, k: Int): DataFrame =
    scores.orderBy(col("score").desc, col("login")).limit(k)

  /** T3 — recent events from the bronze table (XREAD analogue). */
  def recentEvents(bronze: DataFrame, k: Int): DataFrame =
    bronze.orderBy(col("created_at").desc, col("id")).limit(k)

  /** T4 — stream metadata (the `XINFO STREAM` analogue): entry count,
    * partition count, and event-time bounds of the bronze table. One
    * aggregation: the partitions are counted as the size of the set of
    * (date, hour) pairs, which runs in the same pass as the other
    * three, where a distinct count is planned as a second aggregation
    * (one more job a read). The two counts agree because neither column
    * is ever null: `startIngest` drops rows without an event time. */
  def streamInfo(spark: SparkSession, bronzeDir: String): DataFrame =
    readBronze(spark, bronzeDir).agg(
      count("*").as("n_entries"),
      size(collect_set(struct(col("event_date"), col("event_hour"))))
        .cast("long").as("n_partitions"),
      min(col("created_at")).as("first_entry"),
      max(col("created_at")).as("last_entry"))

  // ---- streaming --------------------------------------------------------

  /** The reference's dedup-TTL, as event-time streaming state: the 5-min
    * watermark delay plays the role of the `SET ... EX 300` key expiry
    * (W3) — duplicate ids arriving within the horizon are dropped and
    * state is evicted past the watermark, bounding memory exactly like
    * the TTL bounds Redis keys. */
  val DedupWatermark = "5 minutes"

  /** Cleaned, deduped streaming read. `maxFilesPerTrigger` bounds how
    * much input one micro-batch consumes — B2, the analogue of the
    * reference's poll page size (`per_page=100`, `insert-events.js:20`). */
  def streamClean(spark: SparkSession, inputDir: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema(ghEventSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    cleanEvents(reader.json(inputDir))
      .withWatermark("created_at", DedupWatermark)
      .dropDuplicatesWithinWatermark(Seq("id"))
  }

  /** Number of dedup state partitions (the "state width") a fresh
    * ingest checkpoint is started with. */
  private val IngestStateWidth = 1

  /** Bronze append sink, partitioned by event date+hour — the analogue
    * of the XADD stream + its retention (drop old partitions instead of
    * MAXLEN-trimming rows). `AvailableNow` backfills all pending files
    * then stops, the W5 catch-up semantics.
    *
    * The query starts with `spark.sql.shuffle.partitions` set to
    * `IngestStateWidth`, 1 (one of `StateMaintenance.startStream`'s
    * `confs`, restored once `start()` returns, so other queries on
    * `spark` keep theirs): a trigger runs one scan task and one task
    * that dedups, commits the single state store and writes one file
    * per touched (date, hour). A poll-sized trigger is mostly fixed
    * cost, and every state partition adds a store commit to it. One
    * partition is enough: the state holds at most one `DedupWatermark`
    * horizon of event ids, O(10⁵) ids at GitHub's public event rate
    * (SCALE.md, State), a few MB in one store; bulk history goes
    * through the batch backfill, not this stream. Spark records the
    * width in the checkpoint's offset log when the query first runs,
    * and that recorded width governs every restart: a checkpoint
    * started at another width resumes at it. Keep such a checkpoint
    * rather than starting a fresh one, which would re-ingest the whole
    * input directory.
    *
    * No-data micro-batches stay on (the default): `AvailableNow` ends
    * its drain with a batch that only advances the watermark and evicts
    * expired ids, and `dropDuplicatesWithinWatermark` probes state
    * before it evicts, so without that batch an id re-sent after its
    * horizon would be dropped instead of re-admitted.
    *
    * `startStream` also installs graft's local checkpoint manager and
    * file system (POSIX rename, no `chmod` process, on a local path; a
    * caller's own wins), which stay on `spark`, and starts the query
    * without artifact isolation, so a restarted drain compiles only its
    * new batches' watermark predicates. The checkpoint files and their
    * format are Spark's either way, so a checkpoint written under
    * Spark's default manager resumes here. */
  def startIngest(spark: SparkSession, inputDir: String, outDir: String,
                  checkpointDir: String,
                  availableNow: Boolean = true,
                  maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val cleaned = streamClean(spark, inputDir, maxFilesPerTrigger)
      .withColumn("event_date", date_format(col("created_at"), "yyyy-MM-dd"))
      .withColumn("event_hour", hour(col("created_at")))
    val writer = cleaned.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("event_date", "event_hour")
      .outputMode("append")
    StateMaintenance.startStream(spark,
      if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer,
      Map("spark.sql.shuffle.partitions" -> IngestStateWidth.toString))
  }

  /** Streaming hourly scoring over the bronze table, by recompute: a
    * micro-batch only names the bronze (date, hour) partitions that got
    * new rows, and those hours are recomputed from ALL their bronze rows
    * (a partition-pruned read) and overwritten in the hourly table by
    * `GhBackfill.writeHourlyScores`. The table is therefore always
    * `hourlyScores` over each hour's bronze rows — the reference's
    * `ZINCRBY` running totals made idempotent the way the backfill is
    * (SURVEY §7.4.1): a replay, restart or fresh checkpoint rewrites the
    * same values, and a late row counts whenever it lands. No operator
    * state; a trigger costs the bronze rows of the hours it touched. A
    * bronze (date, hour) partition holds exactly one hourly-table
    * partition's events when the session zone's UTC offset is whole
    * hours (the sessions here all run in UTC), so the touched bronze
    * dates are the hourly table's touched days, whose stored day rows
    * the write recomputes.
    *
    * The recompute runs on `spark`, not the micro-batch's own session,
    * which has adaptive execution off: with it on, a rewritten hour is
    * one file.
    *
    * Each micro-batch scans its own rows for the touched hours (a
    * `distinct` over the two partition columns), which is also what
    * makes the batch report its `numInputRows`: a trigger that named
    * its hours from the batch's file list instead would report 0 input
    * rows, and a progress reader would drop it as empty. The query
    * starts through `StateMaintenance.startStream` (local file IO,
    * artifact isolation off), so a restarted drain reuses the code the
    * previous one generated. */
  def startScoring(spark: SparkSession, bronzeDir: String, hourlyDir: String,
                   checkpointDir: String): StreamingQuery = {
    val state = new Path(checkpointDir, "state")
    if (state.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(state))
      throw new IllegalStateException(
        s"scoring checkpoint $checkpointDir has operator state ($state) from the " +
        "stateful scoring plan, which this stateless plan cannot resume. Use a " +
        "fresh checkpoint directory: it is safe, because scoring recomputes every " +
        "hour it touches from bronze, so replaying bronze rewrites the same scores.")
    StateMaintenance.startStream(spark,
      spark.readStream.schema(bronzeSchema).parquet(bronzeDir)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val touched = batch.select("event_date", "event_hour").distinct().collect()
          if (touched.nonEmpty)
            GhBackfill.writeHourlyScores(spark,
              readBronze(spark, bronzeDir).filter(touched.map(r =>
                col("event_date") === lit(r.get(0)) && col("event_hour") === lit(r.get(1))
              ).reduce(_ || _)),
              hourlyDir, touched.map(_.get(0).toString).distinct.toSeq)
        }
        .trigger(Trigger.AvailableNow()))
  }
}
