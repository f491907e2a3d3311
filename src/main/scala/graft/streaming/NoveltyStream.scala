package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.DedupOps

/** The x78 per-document novelty scores maintained INCREMENTALLY under
  * ingest — the thirteenth serving structure, OverlapStream's
  * distinct-union algebra at DOCUMENT granularity: the state is a
  * per-batch DISTINCT (doc_id, shingle-hash) pair relation, and the
  * served scores are the shared x78 counting core over the
  * re-deduplicated union. Novelty is inherently corpus-relative — a
  * doc's score CHANGES when other docs arrive (its shingles stop
  * being unique) — which is exactly why the state must be the pair
  * relation and not the scores: per-batch partial SCORES would be
  * wrong the moment a later batch lands a shared shingle, while the
  * pair relation composes by plain set union.
  *
  *  - growth: each batch lands its docs' distinct pairs in its own
  *    batch_id partition (one narrow codegen shingle pass over the
  *    BATCH, 8-byte hash rows, never a corpus rescan).
  *  - replay: dynamic overwrite of the batch's own partition — an
  *    at-least-once replay rewrites identical pairs, a no-op.
  *  - retention: dropping a batch partition removes exactly those
  *    docs' pairs; remaining docs' novelty RISES where dropped docs
  *    held the only other copy of a shingle — automatically, because
  *    the serve recounts ownership over the retained union (the
  *    served frame is EXACTLY x78 over the retained documents).
  *  - compaction: re-distinct over the folded prefix.
  *
  * Scale shape: per-batch work is O(batch shingles); the serve runs
  * the same two hash aggregates + doc-keyed left join as the one-shot
  * x78 over the pair state — the relation the one-shot's checkpoint
  * materializes anyway, here pre-built and incrementally owned. */
object NoveltyStream {

  /** Pair partials merge by distinct-union (a doc re-landed by
    * several batches counts once). */
  private val pairs = new StateMaintenance.PartialTable("docpairs", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sh", LongType)))
  }, merge = _.distinct())

  /** One micro-batch of (doc_id, text): land the batch's distinct
    * (doc_id, shingle) pairs in its own partition. The codegen shingle
    * expression already emits per-doc distinct hashes, so no extra
    * distinct pass is needed within a batch. */
  def processNoveltyBatch(batch: DataFrame, stateDir: String,
                          batchId: Long): Unit =
    pairs.append(DedupOps.shingleSetsOf(batch.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(col("s")).as("sh")),
      stateDir, batchId)

  /** Start the novelty-maintenance stream over a parquet file-drop of
    * documents (AvailableNow = drain-and-stop). */
  def startNoveltyStream(spark: SparkSession, inputDir: String,
                         stateDir: String, checkpointDir: String,
                         maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processNoveltyBatch(batch, stateDir, batchId)
    }

  /** x78's exact schema and values over every retained batch partition
    * (the shared noveltyFromPairs core over the merged pair state). */
  def servedNovelty(spark: SparkSession, stateDir: String): DataFrame =
    DedupOps.noveltyFromPairs(pairs.merged(spark, stateDir))

  /** Fold a committed prefix of batches into one partial: the merge is
    * distinct-union, so the fold is a re-distinct. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit =
    pairs.compact(spark, stateDir, upTo)
}
