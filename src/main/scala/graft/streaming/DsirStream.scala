package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextOps

/** The DSIR importance model (x48) maintained INCREMENTALLY under
  * ingest — the LmStream shape applied to the data-selection scorer:
  * both of the model's distributions are plain additive counts over a
  * bounded hashed-feature space, so over append-only batches with
  * disjoint documents the per-batch (bucket, raw-count, target-count)
  * rows are mergeable partials and Σ per-batch counts IS the corpus
  * model. The state is one batch_id-partitioned partial table:
  *
  *  - `counts/`: (b, ct_r, ct_t) PARTITIONED BY batch_id — the
  *               batch's raw/target feature counts, fused in one
  *               aggregate over ≤ DsirBuckets keys.
  *
  * Serving re-sums the partials per bucket and derives the log-ratio
  * table with the one-shot query's own algebra
  * (`TextOps.dsirRatiosFromCounts`), so the served ratio table equals
  * the batch x48 model bit for bit over exactly the retained
  * documents. Retention = partition drop; compaction = re-sum. The
  * deployment pattern: counts land per batch; the ratio table is
  * snapshot periodically (or derived on demand — it is ≤ DsirBuckets
  * rows) and broadcast to score each new ingest batch. */
object DsirStream {

  /** Count partials RE-SUM per bucket. */
  private val counts = new StateMaintenance.PartialTable("counts", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("b", LongType),
      StructField("ct_r", LongType),
      StructField("ct_t", LongType)))
  }, merge = _.groupBy(col("b"))
    .agg(sum(col("ct_r")).as("ct_r"), sum(col("ct_t")).as("ct_t")))

  /** One micro-batch of (doc_id, text, lang) rows: land the batch's
    * fused raw/target bucket counts as a mergeable partial. */
  def processDocBatch(batch: DataFrame, stateDir: String,
                      batchId: Long): Unit =
    counts.append(TextOps.dsirToksOf(batch)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("ct_r"), count_if(col("is_t")).as("ct_t")),
      stateDir, batchId)

  /** Start the maintenance stream over a parquet file-drop of
    * documents (AvailableNow = drain-and-stop). */
  def startDocStream(spark: SparkSession, inputDir: String,
                     stateDir: String, checkpointDir: String,
                     maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processDocBatch(batch.select(col("doc_id"), col("text"), col("lang")),
        stateDir, batchId)
    }

  /** The retained window's log-ratio table, derived from the merged
    * count partials by the one-shot query's own integer algebra. */
  def servedRatios(spark: SparkSession, stateDir: String): DataFrame =
    TextOps.dsirRatiosFromCounts(counts.merged(spark, stateDir))

  /** Fold a committed prefix: count partials RE-SUM per bucket. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit =
    counts.compact(spark, stateDir, upTo)
}
