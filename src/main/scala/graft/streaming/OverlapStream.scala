package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.DedupOps

/** The x71 cross-source overlap matrix maintained INCREMENTALLY under
  * ingest — the eleventh serving structure, and the cheapest kind:
  * its state is a per-batch DISTINCT (source, shingle) pair relation,
  * and distinct-union is the ultimate mergeable algebra (idempotent,
  * commutative, associative). A pair two batches both contribute is
  * stored twice and deduplicated at serve, which is exactly what makes
  * every maintenance operation trivial:
  *
  *  - growth: each batch lands its own distinct pairs in its own
  *    batch_id partition (one narrow shingle pass + one distinct over
  *    the BATCH, never the corpus).
  *  - replay: dynamic overwrite of the batch's own partition — an
  *    at-least-once replay rewrites identical pairs, a no-op.
  *  - retention: dropping a batch partition removes exactly that
  *    batch's documents' contributions; pairs shared with retained
  *    batches survive via their partials (set semantics — the served
  *    matrix is EXACTLY x71 over the retained batches' documents).
  *    Like the label state, retention is BATCH-granular: excising a
  *    single document requires rebuilding its batch's partial (the
  *    partial stores pairs, not doc ids) — takedown flows that need
  *    doc granularity re-land the batch minus the removed docs.
  *  - compaction: re-distinct over the folded prefix (the
  *    StateMaintenance fold with merge = distinct).
  *
  * Scale shape: per-batch work is O(batch shingles); the serve-time
  * distinct + matrix aggregate runs over the pair state, which is
  * bounded by (distinct corpus shingles × sources containing them) —
  * the same relation the one-shot x71 shuffles, pre-deduplicated per
  * batch. */
object OverlapStream {

  /** Pair partials merge by distinct-union. */
  private val pairs = new StateMaintenance.PartialTable("srcpairs", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("source", StringType),
      StructField("sh", LongType)))
  }, merge = _.distinct())

  /** One micro-batch of (doc_id, source, text): land the batch's
    * distinct (source, shingle) pairs in its own partition. */
  def processOverlapBatch(batch: DataFrame, stateDir: String,
                          batchId: Long): Unit =
    pairs.append(DedupOps.sourcePairsOf(
        batch.select(col("doc_id"), col("source"), col("text")))
      .distinct(), stateDir, batchId)

  /** Start the matrix-maintenance stream over a parquet file-drop of
    * documents (AvailableNow = drain-and-stop). */
  def startOverlapStream(spark: SparkSession, inputDir: String,
                         stateDir: String, checkpointDir: String,
                         maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processOverlapBatch(batch, stateDir, batchId)
    }

  /** The matrix over every retained batch partition — x71's exact
    * schema and values for the retained window (the shared
    * overlapMatrixFrom aggregate over the re-deduplicated pair
    * state). */
  def servedMatrix(spark: SparkSession, stateDir: String): DataFrame = {
    val raw = pairs.read(spark, stateDir).select(col("source"), col("sh"))
    // the same runtime choice as the batch operator: bit_or masks over
    // the raw partials at ≤ 64 sources (the source list reads one
    // dictionary-encoded state column), collect_set over the merged
    // pairs beyond
    val srcs = DedupOps.sortedSourcesOf(raw.select(col("source")))
    if (srcs.nonEmpty && srcs.length <= 64)
      DedupOps.matrixFromMasks(DedupOps.sourceMasks(raw, srcs), srcs)
    else DedupOps.overlapMatrixFrom(pairs.merged(spark, stateDir))
  }

  /** Fold a committed prefix of batches into one partial: the merge is
    * distinct-union, so the fold is a re-distinct. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit =
    pairs.compact(spark, stateDir, upTo)
}
