package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextOps

/** The bigram-LM scoring model (x27) maintained INCREMENTALLY under
  * ingest — the 7th serving structure in the streaming-index family.
  * Like the substring-dedup state, the model is a CORPUS property (a
  * bigram's score depends on every document), but its primitive —
  * c(w1, w2) — is a plain additive count: over append-only batches
  * with disjoint documents, Σ of per-batch bigram counts IS the corpus
  * bigram count, so the state is one batch_id-partitioned partial
  * table:
  *
  *  - `c12/`: (w1, w2, c12) PARTITIONED BY batch_id — the batch's
  *            bigram counts (the tokenize + fused bigram explode runs
  *            once per document, on the batch that lands it).
  *
  * Serving re-sums the partials per (w1, w2) and derives the scoring
  * table with the SHARED model algebra (`TextOps.lmModelFromCounts`:
  * c1 = row-sum, |V| = distinct ends, sp = integer-exact smoothed
  * score) — so the served model is bit-identical to the one-shot
  * `ensureLmModel` over exactly the retained documents. Retention =
  * dropping a batch's partition (the remaining partials ARE the
  * retained corpus's counts); compaction folds partials with the same
  * re-sum the serve path applies. A 24/7 deployment periodically
  * snapshots the served model into the content-keyed artifact that
  * `lmScore` broadcasts, so scoring stays one bigram pass + one
  * broadcast join while the model tracks the corpus. */
object LmStream {

  /** Bigram-count partials RE-SUM per (w1, w2) — counts are additive
    * over disjoint batches. */
  private val c12 = new StateMaintenance.PartialTable("c12", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("w1", LongType),
      StructField("w2", LongType),
      StructField("c12", LongType)))
  }, merge = _.groupBy(col("w1"), col("w2")).agg(sum(col("c12")).as("c12")))

  /** One micro-batch of (doc_id, text) rows: land the batch's bigram
    * counts as a mergeable partial. Dynamic partition overwrite keyed
    * by batch_id makes foreachBatch replays idempotent. */
  def processDocBatch(batch: DataFrame, stateDir: String,
                      batchId: Long): Unit =
    c12.append(TextOps.bigramsOfFrame(batch)
      .groupBy(col("w1"), col("w2")).agg(count("*").as("c12")),
      stateDir, batchId)

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

  /** The (w1, w2, sp) scoring table of the RETAINED window, derived
    * from the merged partials by the one-shot build's own algebra —
    * integer arithmetic end to end, so it equals `ensureLmModel`'s
    * model over the same documents bit for bit. */
  def servedModel(spark: SparkSession, stateDir: String): DataFrame =
    TextOps.lmModelFromCounts(c12.merged(spark, stateDir))

  /** Fold a committed prefix: c12 partials RE-SUM per bigram — the
    * associative merge the serving path already applies. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit =
    c12.compact(spark, stateDir, upTo)
}
