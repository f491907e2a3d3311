package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.SketchOps

/** The count-min sketch (x29) as an INCREMENTAL stream — frequency
  * monitoring the way a 24/7 ingest runs it: each micro-batch
  * contributes its own d×w partial counter relation, and the sketch
  * for any horizon is the SUM of the partials. That additivity is the
  * whole point of CMS at scale: state is bounded (d·w rows per batch
  * partition, d·w after merge) no matter how many events flow, and
  * merging is a plain aggregate — no replay of history.
  *
  * REPLAY SAFETY: foreachBatch is at-least-once, so the partial write
  * is a dynamic partition overwrite keyed by batch_id — a replayed
  * batch rewrites its own partition instead of double-counting (the
  * same idempotence rule as the near-dup gate's band state and the
  * backfill's hour partitions). Retention = dropping old batch_id
  * partitions, which SUBTRACTS exactly those batches' counts — a
  * sliding-window sketch for free. */
object SketchStream {

  /** Counter-state layout: (r, pos, cnt) partitioned by batch_id;
    * partials re-ADD. */
  private val counters = new StateMaintenance.PartialTable("", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("r", IntegerType),
      StructField("pos", LongType),
      StructField("cnt", LongType)))
  }, merge = _.groupBy(col("r"), col("pos")).agg(sum(col("cnt")).as("cnt")))

  /** One micro-batch: build the batch's partial counters and overwrite
    * its batch_id partition of the state table. */
  def processSketchBatch(batch: DataFrame, stateDir: String,
                         batchId: Long): Unit =
    counters.append(SketchOps.cmsCounters(
        batch.filter(col("user_id").isNotNull).select(col("user_id"))),
      stateDir, batchId)

  /** Start the counter stream over a parquet file-drop of events.
    * `AvailableNow` drains the backlog and stops (the backfill shape);
    * a 24/7 deployment runs the same query with a processing-time
    * trigger. */
  def startHeavyHitterStream(spark: SparkSession, inputDir: String,
                             stateDir: String, checkpointDir: String,
                             maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processSketchBatch(batch, stateDir, batchId)
    }

  /** The merged sketch over every retained batch partition — the d×w
    * relation `SketchOps.cmsEstimates` probes. Pinned schema: an empty
    * or file-less state dir reads as an empty (all-zero) sketch, and a
    * state dir that was NEVER created (no batch committed yet) returns
    * the same empty frame instead of a path error. */
  def mergedCounters(spark: SparkSession, stateDir: String): DataFrame =
    counters.merged(spark, stateDir)

  /** Fold a committed prefix of counter partials (re-add). */
  def compactCounters(spark: SparkSession, stateDir: String,
                      upTo: Long): Unit =
    counters.compact(spark, stateDir, upTo)

  // ---- streaming HLL overlap (x34's sketch, incremental) -----------------

  /** State layout: per-half Datasketches HLL binaries, one pair per
    * micro-batch, partitioned by batch_id. Unlike the additive CMS
    * counters, HLL partials merge by register MAX (hll_union_agg):
    * idempotent, so a replayed batch could not inflate the estimate
    * even WITHOUT the partition overwrite — and retention-by-dropping
    * old batch partitions leaves exactly the sketch of the retained
    * window (the union over the remaining partials IS that window's
    * sketch, not an approximation of a subtraction). */
  private val overlap = new StateMaintenance.PartialTable("", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("half", StringType),
      StructField("sk", BinaryType)))
  }, merge = _.groupBy(col("half")).agg(hll_union_agg(col("sk")).as("sk")))

  /** One micro-batch of documents: per-half HLL partials, overwritten
    * into the batch's own batch_id partition (same replay rule as the
    * CMS partials). */
  def processOverlapBatch(batch: DataFrame, stateDir: String,
                          batchId: Long): Unit =
    overlap.append(SketchOps.halfShinglesOf(batch)
      .groupBy(col("half")).agg(hll_sketch_agg(col("sh")).as("sk")),
      stateDir, batchId)

  /** Incremental corpus-overlap monitoring over a documents file-drop:
    * the streaming form of x34b. Each micro-batch contributes KB-sized
    * sketch objects; the overlap of everything seen so far is pure
    * sketch algebra over the state table — no batch ever reprocesses
    * history. */
  def startOverlapStream(spark: SparkSession, inputDir: String,
                         stateDir: String, checkpointDir: String,
                         maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processOverlapBatch(batch, stateDir, batchId)
    }

  /** (est_a, est_b, est_union, est_overlap) from the retained batch
    * partials: union across batches per half, union across halves for
    * the total — the same inclusion-exclusion x34 validates in batch.
    * Empty/absent state reads as zero estimates. */
  def mergedOverlap(spark: SparkSession, stateDir: String): DataFrame =
    overlap.merged(spark, stateDir)
      .agg(
        coalesce(max(when(col("half") === "a",
          hll_sketch_estimate(col("sk")))), lit(0L)).as("est_a"),
        coalesce(max(when(col("half") === "b",
          hll_sketch_estimate(col("sk")))), lit(0L)).as("est_b"),
        coalesce(hll_sketch_estimate(hll_union_agg(col("sk"))), lit(0L))
          .as("est_union"))
      .withColumn("est_overlap",
        col("est_a") + col("est_b") - col("est_union"))

  /** Fold a committed prefix of HLL partials (register max —
    * idempotent, so compaction composes with replay trivially). */
  def compactOverlap(spark: SparkSession, stateDir: String,
                     upTo: Long): Unit =
    overlap.compact(spark, stateDir, upTo)
}
