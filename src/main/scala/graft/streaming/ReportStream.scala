package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextOps

/** The corpus report card (x37) as an INCREMENTAL stream — the
  * "dataset card" a corpus team publishes, kept current per ingest
  * micro-batch instead of recomputed corpus-wide: each batch
  * contributes its own per-source partial aggregate (every card column
  * is mergeable — counts/sums add, extrema min/max, quality mass is an
  * exact scaled-long sum), and the card for any horizon is one tiny
  * re-aggregation over the retained partials. Unlike the HLL overlap
  * state this is EXACT algebra, so the merged card equals a from-
  * scratch x37 recompute of the retained window bit-for-bit — the
  * property ReportRetentionSpec pins.
  *
  * REPLAY SAFETY: same discipline as the CMS/HLL partials — dynamic
  * partition overwrite keyed by batch_id, so an at-least-once replay
  * rewrites its own partition instead of double-counting. Retention =
  * dropping old batch_id partitions, which removes exactly those
  * batches' documents from the card.
  */
object ReportStream {

  /** Partial-state layout: x37's per-source aggregate columns,
    * partitioned by batch_id; sums re-add, extrema re-min/max. */
  private val partials = new StateMaintenance.PartialTable("", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("source", StringType),
      StructField("n_docs", LongType),
      StructField("tokens", LongType),
      StructField("min_tokens", LongType),
      StructField("max_tokens", LongType),
      StructField("n_en", LongType),
      StructField("n_und", LongType),
      StructField("total_q4", LongType)))
  }, merge = _.groupBy(col("source"))
    .agg(sum(col("n_docs")).as("n_docs"),
      sum(col("tokens")).as("tokens"),
      min(col("min_tokens")).as("min_tokens"),
      max(col("max_tokens")).as("max_tokens"),
      sum(col("n_en")).as("n_en"),
      sum(col("n_und")).as("n_und"),
      sum(col("total_q4")).as("total_q4")))

  /** One micro-batch of documents: the batch's per-source partial card,
    * overwritten into its own batch_id partition. */
  def processReportBatch(batch: DataFrame, stateDir: String,
                         batchId: Long): Unit =
    partials.append(TextOps.reportPartialsOf(batch), stateDir, batchId)

  /** Start the card stream over a parquet file-drop of documents.
    * `AvailableNow` drains the backlog and stops (the backfill shape);
    * a 24/7 deployment runs the same query with a processing-time
    * trigger. */
  def startReportStream(spark: SparkSession, inputDir: String,
                        stateDir: String, checkpointDir: String,
                        maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processReportBatch(batch, stateDir, batchId)
    }

  /** The card over every retained batch partition — x37's exact schema
    * and values for the retained window: counts/sums re-add, extrema
    * re-min/max, and the average materializes only here from the exact
    * integer masses (TextOps.finishReport). Absent/empty state reads as
    * an empty card. */
  def mergedReport(spark: SparkSession, stateDir: String): DataFrame =
    TextOps.finishReport(partials.merged(spark, stateDir))

  /** Fold a committed prefix of batches into one partial card. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit =
    partials.compact(spark, stateDir, upTo)
}
