package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.SearchOps

/** The BM25 inverted index maintained INCREMENTALLY under ingest —
  * the serving index (x33b's shape) kept current per micro-batch
  * instead of rebuilt corpus-wide: each batch of (append-only)
  * documents contributes its own postings partial and one stats row,
  * each partitioned by batch_id. Documents are disjoint across batches,
  * so the union of retained postings IS the retained window's postings
  * relation — exact, like the report card's algebra and unlike the HLL
  * estimates.
  *
  * The term bucket `tb` is a data column, not a partition: a batch's
  * postings land as one file per write task in its batch_id dir, sorted
  * by (tb, term), instead of one small file in each of the ~27 bucket
  * dirs a small batch touches (each file a create and, on a local file
  * system without libhadoop, a forked `chmod`). Serving pushes
  * `tb IN … AND term IN …` down to parquet, whose row-group statistics
  * over the sorted rows skip the other buckets' rows once a batch spans
  * several row groups. A state dir written while `tb` was a partition
  * still serves (the reader takes `tb` from the path); a write to one is
  * refused, and the state is rebuilt from its batch inputs.
  *
  * REPLAY SAFETY: dynamic partition overwrite keyed by batch_id (the
  * CMS/HLL/report discipline) — an at-least-once replay rewrites its
  * own partitions instead of double-counting a batch's postings.
  * Retention = dropping a batch_id partition from both tables, which
  * removes exactly those documents from every df/tf/stat the scorer
  * reads — SearchRetentionSpec pins serve ≡ scan-form recompute of the
  * retained window. */
object SearchStream {

  /** Postings rows are disjoint across batches (identity merge). */
  private val postings = new StateMaintenance.PartialTable("postings", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("term", StringType),
      StructField("tf", LongType),
      StructField("dl", LongType),
      StructField("tb", IntegerType)))
  }, sortBy = Seq("tb", "term"))

  /** Corpus stats re-add across batches. */
  private val stats = new StateMaintenance.PartialTable("stats", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("n_docs", LongType),
      StructField("sum_dl", LongType)))
  }, merge = _.agg(sum(col("n_docs")).as("n_docs"),
    sum(col("sum_dl")).as("sum_dl")))

  /** One micro-batch of documents: tokenize once, land the batch's
    * postings (bucketed like the static index, sorted by bucket and
    * term) and its stats row into the batch's own partitions. Postings
    * go first, so a state dir refused for its layout gets neither. */
  def processPostingsBatch(batch: DataFrame, stateDir: String,
                           batchId: Long): Unit = {
    val toks = SearchOps.tokenizedOf(batch).localCheckpoint(false)
    postings.append(SearchOps.postingsOf(toks), stateDir, batchId)
    stats.append(SearchOps.statsOf(toks), stateDir, batchId)
  }

  /** Start the index-maintenance stream over a parquet file-drop of
    * documents (AvailableNow = drain-and-stop; a 24/7 deployment uses
    * a processing-time trigger). */
  def startPostingsStream(spark: SparkSession, inputDir: String,
                          stateDir: String, checkpointDir: String,
                          maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processPostingsBatch(batch, stateDir, batchId)
    }

  /** BM25 for the fixed query over the RETAINED window: corpus stats
    * re-add across surviving batch partitions, the hits scan pushes the
    * query terms' buckets and terms down to parquet, and scoring is the
    * shared x33/x33b arithmetic — so the answer equals the scan form
    * run over exactly the retained documents. */
  def servedBm25(spark: SparkSession, stateDir: String): DataFrame = {
    val tbs = SearchOps.QueryTerms.map(SearchOps.termBucketJvm).distinct
    val hits = postings.read(spark, stateDir)
      .filter(col("tb").isin(tbs: _*) &&
        col("term").isin(SearchOps.QueryTerms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    SearchOps.scoreFromHits(hits, stats.merged(spark, stateDir))
  }

  /** Fold a committed prefix of batches: postings are rewritten
    * sorted by (tb, term), stats re-add. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit = {
    postings.compact(spark, stateDir, upTo)
    stats.compact(spark, stateDir, upTo)
  }

  /** x64's fusion served ENTIRELY from incrementally-maintained state:
    * the lexical leg from this stream's postings partials, the dense
    * leg from AnnStream's bucket partials — the same `fuseRrf`
    * arithmetic as the batch-index form, so hybrid retrieval stays
    * fresh under ingest without ever rebuilding either index
    * (spec-pinned equal to the batch x64 over the same corpus). */
  def servedHybrid(spark: SparkSession, searchStateDir: String,
                   annStateDir: String, probeE: Seq[Double],
                   excludeId: Long = -1L): DataFrame =
    SearchOps.fuseRrf(
      servedBm25(spark, searchStateDir),
      AnnStream.servedAnnLsh(spark, annStateDir, probeE, excludeId))
}
