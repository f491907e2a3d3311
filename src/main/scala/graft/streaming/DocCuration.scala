package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.TextOps

/** The curation pipeline (x14's gates) as an INCREMENTAL streaming
  * pass — how a 100 TB corpus is curated in practice: documents arrive
  * as files, every gate is the same per-row column expression the
  * batch path uses (one shared definition, so batch and streaming can
  * never disagree), and exact dedup is streaming state keyed by the
  * order-invariant fingerprint.
  *
  * State note: `dropDuplicates("fp")` keeps one state entry per
  * distinct fingerprint. For a bounded backfill (`AvailableNow`) that
  * is exactly the dedup set and the right tool; a forever-running
  * deployment uses `startCurationBounded` —
  * `dropDuplicatesWithinWatermark` over an event-time horizon, trading
  * global dedup for bounded state, the same trade the reference makes
  * with its 300 s dedup TTL (`insert-events-into-db.lua:39`,
  * SURVEY W3). */
object DocCuration {

  /** Per-row curation projection — the single definition shared by the
    * batch x14 query and the streams below. `carryCols` names input
    * columns to keep alongside the curation outputs (the bounded
    * variant threads its event-time column through). */
  def curated(docs: DataFrame, carryCols: Seq[String] = Nil): DataFrame = {
    docs.select(Seq(col("doc_id"), col("source")) ++ carryCols.map(col) ++ Seq(
        TextOps.fingerprintCol(col("text")).as("fp"),
        TextOps.langIdCol(col("text")).as("pred_lang"),
        round(TextOps.qualityCol(col("text")), 4).as("q")): _*)
      .filter(col("pred_lang") === "en" && col("q") >= 0.4)
  }

  /** Batch reference semantics: gates + keep the min doc_id per
    * fingerprint (deterministic representative). */
  def curateBatch(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    curated(docs)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Streaming curation over a parquet file-drop directory: gates →
    * stateful fingerprint dedup → append sink. `AvailableNow`
    * processes the current backlog and stops (W5 backfill shape). */
  def startCuration(spark: SparkSession, inputDir: String, outDir: String,
                    checkpointDir: String): StreamingQuery = {
    StateMaintenance.startStream(spark,
      curated(StateMaintenance.fileDropReader(spark, inputDir, None))
        .dropDuplicates(Seq("fp"))
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()))
  }

  /** BOUNDED-STATE streaming curation — the 24/7 deployment shape the
    * `startCuration` doc promises: gates → `dropDuplicatesWithinWatermark`
    * keyed by the fingerprint over an event-time horizon. State for a
    * fingerprint expires once the watermark passes its event time plus
    * `watermarkDelay`, so state size is bounded by the horizon's
    * distinct-fp arrival rate instead of growing with corpus lifetime.
    * The trade is EXACTLY the reference's 300 s dedup TTL
    * (`insert-events-into-db.lua:39`, SURVEY W3): a duplicate arriving
    * within the horizon is dropped; one arriving after its original's
    * state expired passes through. `maxFilesPerTrigger` bounds a
    * micro-batch (B2). */
  def startCurationBounded(spark: SparkSession, inputDir: String,
                           outDir: String, checkpointDir: String,
                           eventTimeCol: String = "event_time",
                           watermarkDelay: String = "300 seconds",
                           maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    StateMaintenance.startStream(spark,
      curated(StateMaintenance.fileDropReader(spark, inputDir,
          maxFilesPerTrigger), carryCols = Seq(eventTimeCol))
        .withWatermark(eventTimeCol, watermarkDelay)
        .dropDuplicatesWithinWatermark(Seq("fp"))
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()))
  }

  // ---- near-dup gate (streaming) ----------------------------------------

  /** One micro-batch of the NEAR-DUP curation gate. Rules, applied in
    * order (all deterministic, all relational — no driver data path):
    *
    *  1. quality/language gates + exact-fingerprint dedup within the
    *     batch (min doc_id per fp — `curateBatch`'s rule);
    *  2. drop any doc sharing a simhash chunk band with a PREVIOUSLY
    *     KEPT doc (the state table — simhash pigeonhole: every pair at
    *     hamming ≤ 3 shares a band, so the gate catches everything the
    *     batch x03 path catches);
    *  3. within the batch, drop any doc sharing a band with a
    *     smaller-doc_id doc that survived step 2. (In a band-collision
    *     CHAIN this drops slightly more than one-at-a-time greedy
    *     arrival would — the conservative direction for a dedup gate,
    *     and deterministic under any batch partitioning.)
    *
    * Survivors land in the sink; ONLY survivors' bands land in the
    * state — a doc dropped as a near-dup must not itself suppress
    * future docs. State is a (chunk, key) parquet table: the join is
    * band-keyed and mergeable, the shape that scales (a 24/7 run
    * would date-partition the state and expire old partitions exactly
    * like the reference's TTLs; `AvailableNow` backfills bound it per
    * run).
    *
    * REPLAY SAFETY: foreachBatch is at-least-once, so both writes are
    * dynamic partition OVERWRITES keyed by batch_id — a replayed batch
    * rewrites its own partitions instead of appending duplicates — and
    * the state read excludes the CURRENT batch_id, so a half-written
    * state partition from a failed attempt can never make the batch's
    * docs collide with themselves (which would drop them all). */
  def processNearDupBatch(batch: DataFrame, outDir: String,
                          stateDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    val gated = batch.select(col("doc_id"), col("source"), col("text"),
        TextOps.fingerprintCol(col("text")).as("fp"),
        TextOps.langIdCol(col("text")).as("pred_lang"),
        round(TextOps.qualityCol(col("text")), 4).as("q"))
      .filter(col("pred_lang") === "en" && col("q") >= 0.4)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("_rn") === 1).drop("_rn")
    val bands = graft.operators.DedupOps
      .simhashBands(gated.select(col("doc_id"), col("text")))
      .localCheckpoint(true)   // consumed by 3 subplans; compute once
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val fs = statePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    // Explicit schema: a prior batch that kept zero docs leaves the
    // state dir existing but file-less, where schema inference throws;
    // with the schema pinned, that reads as an empty frame.
    val hitState =
      if (!fs.exists(statePath)) bands.select(col("doc_id")).limit(0)
      else bands.join(
        s.read.schema(stateSchema).parquet(stateDir)
          .filter(col("batch_id") < batchId)   // never self-collide on replay
          .select(col("chunk"), col("key")),
        Seq("chunk", "key"), "left_semi").select(col("doc_id")).distinct()
    val b1 = gated.join(hitState, Seq("doc_id"), "left_anti")
    val bands1 = bands.join(b1.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val drop2 = bands1
      .join(bands1.groupBy(col("chunk"), col("key"))
        .agg(min(col("doc_id")).as("_mn")), Seq("chunk", "key"))
      .filter(col("doc_id") > col("_mn"))
      .select(col("doc_id")).distinct()
    // materialize survivors BEFORE the two writes: both must see the
    // same kept set, and the sink write must not re-read the state dir
    // it is about to modify
    val kept = b1.join(drop2, Seq("doc_id"), "left_anti").localCheckpoint(true)
    // partitionOverwriteMode as a WRITER option, not session conf: the
    // session is shared, and flipping the conf would silently change
    // overwrite semantics for every other partitioned write in it
    kept.drop("text").withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
    bands.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(stateDir)
  }

  /** Band-state layout: (doc_id, chunk, key) partitioned by batch_id. */
  private val stateSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("chunk", IntegerType),
      StructField("key", LongType),
      StructField("batch_id", LongType)))
  }

  /** Streaming curation with the near-dup gate: gates → exact-fp dedup
    * → simhash-band state gate → append sink, state in `stateDir`.
    * `maxFilesPerTrigger` bounds a micro-batch (B2). */
  def startNearDupCuration(spark: SparkSession, inputDir: String,
                           outDir: String, checkpointDir: String,
                           stateDir: String,
                           maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
        maxFilesPerTrigger) { (batch, batchId) =>
      processNearDupBatch(batch, outDir, stateDir, batchId)
    }
}
