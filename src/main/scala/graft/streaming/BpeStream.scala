package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.BpeOps

/** The BPE word-frequency vocabulary maintained INCREMENTALLY under
  * ingest — the serving structure that makes tokenizer RETRAINING
  * corpus-scan-free. Training's only corpus-sized stage is the
  * (word, freq) aggregate (every merge round after it is vocab-sized —
  * the BpeOps scale contract); freq is a plain additive count, so over
  * append-only batches with disjoint documents the Σ of per-batch
  * partials IS the corpus vocabulary:
  *
  *  - `vocab/`: (word, freq) PARTITIONED BY batch_id — the batch's
  *              word counts under the x46 word rule (the shared
  *              `BpeOps.vocabOf`, so the streamed vocabulary cannot
  *              drift from the one-shot trainer's).
  *
  * Serving re-sums the partials per word; `BpeOps.bpeTrainFromVocab`
  * then trains on the merged table, yielding merges and segmentations
  * bit-identical to a from-scratch `bpeTrain` over exactly the
  * retained documents. Retention = dropping a batch's partition;
  * compaction folds partials with the serve path's own re-sum. The
  * 100 TB shape: the corpus lands once as it streams in, and every
  * tokenizer retrain afterwards starts from the Heaps'-law-sized
  * vocabulary instead of re-reading the corpus. */
object BpeStream {

  /** Vocab partials RE-SUM per word. */
  private val vocab = new StateMaintenance.PartialTable("vocab", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("word", StringType),
      StructField("freq", LongType)))
  }, merge = _.groupBy(col("word")).agg(sum(col("freq")).as("freq")))

  /** One micro-batch of (doc_id, text) rows: land the batch's word
    * counts as a mergeable partial. Dynamic partition overwrite keyed
    * by batch_id makes foreachBatch replays idempotent. */
  def processDocBatch(batch: DataFrame, stateDir: String,
                      batchId: Long): Unit =
    vocab.append(BpeOps.vocabOf(batch), stateDir, batchId)

  /** Start the maintenance stream over a parquet file-drop of
    * documents (AvailableNow = drain-and-stop). */
  def startDocStream(spark: SparkSession, inputDir: String,
                     stateDir: String, checkpointDir: String,
                     maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processDocBatch(batch.select(col("doc_id"), col("text")),
        stateDir, batchId)
    }

  /** The retained window's merged (word, freq) vocabulary (Σ partials
    * per word — counts are additive over disjoint batches). */
  def servedVocab(spark: SparkSession, stateDir: String): DataFrame =
    vocab.merged(spark, stateDir)

  /** Retrain the tokenizer from the maintained vocabulary — no corpus
    * scan; bit-identical to `bpeTrain` over the retained documents. */
  def trainFromState(spark: SparkSession, stateDir: String,
                     nMerges: Int): (DataFrame, DataFrame) =
    BpeOps.bpeTrainFromVocab(servedVocab(spark, stateDir), nMerges)

  /** Fold a committed prefix: vocab partials RE-SUM per word — the
    * associative merge the serving path already applies. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit =
    vocab.compact(spark, stateDir, upTo)
}
