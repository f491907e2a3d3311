package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.DedupOps

/** The MinHash-LSH dedup index maintained INCREMENTALLY under ingest —
  * x02's expensive narrow work (tokenize → shingle → 128-perm
  * signature → band keys) runs exactly once per document, on the
  * micro-batch that lands it. A document's shingle set and band keys
  * are pure functions of its text (the AnnStream property — no
  * corpus-dependent training), so each batch's partials are final on
  * landing and the union of retained partitions IS the retained
  * corpus's dedup index:
  *
  *  - `sets/`:  (doc_id, s) PARTITIONED BY batch_id — the exact-verify
  *              shingle identity sets.
  *  - `bands/`: (doc_id, key, band) PARTITIONED BY batch_id — the
  *              32 band keys per doc; candidate generation groups
  *              these compact 8-byte keys, never re-reading texts.
  *              No reader prunes by band, so it is not a partition.
  *
  * Serving re-runs only the CHEAP tail (band-bucket grouping + exact
  * verify over candidate shingle sets) — identical candidate rule and
  * verify arithmetic to x02, so the served pairs equal the one-shot
  * x02 over exactly the retained documents (spec-pinned under growth,
  * replay, retention, and compaction). Same partial-state discipline
  * as the postings/card/sketch/ANN streams: replay-safe dynamic
  * overwrite keyed by batch_id, retention = batch-partition drop,
  * compaction = identity merge (docs are disjoint across batches). */
object DedupStream {

  private[streaming] val sets = new StateMaintenance.PartialTable("sets", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("s", ArrayType(LongType))))
  })

  private[streaming] val bands = new StateMaintenance.PartialTable("bands", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("key", LongType),
      StructField("band", IntegerType)))
  })

  /** Test seam (DedupStreamChaosSpec): invoked after the batch's sets
    * partition has landed but BEFORE the bands write and the streaming
    * checkpoint commit — the crash window where state is half-written
    * and the source offset is still uncommitted. Replay safety there
    * is exactly what the batch_id-keyed dynamic partition overwrite
    * exists for. */
  private[graft] var onSetsWritten: Long => Unit = _ => ()

  /** One micro-batch of (doc_id, text) rows: shingle once (the
    * checkpoint feeds both artifacts), land the batch's identity sets
    * and band keys into its own partitions. */
  def processDocBatch(batch: DataFrame, stateDir: String,
                      batchId: Long): Unit = {
    val bSets = DedupOps.shingleSetsOf(batch).localCheckpoint(false)
    sets.append(bSets, stateDir, batchId)
    onSetsWritten(batchId)
    bands.append(DedupOps.bandKeys(DedupOps.minhashSignatures(bSets)),
      stateDir, batchId)
  }

  /** Start the index-maintenance stream over a parquet file-drop of
    * documents (AvailableNow = drain-and-stop). */
  def startDocStream(spark: SparkSession, inputDir: String,
                     stateDir: String, checkpointDir: String,
                     maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processDocBatch(batch.select(col("doc_id"), col("text")),
        stateDir, batchId)
    }

  /** Near-dup pairs of the RETAINED window, served from the persisted
    * partials: band-bucket candidates from the compact key relation,
    * exact-Jaccard verify against the persisted identity sets — the
    * x02 output over exactly the retained documents. */
  def servedDupPairs(spark: SparkSession, stateDir: String): DataFrame = {
    DedupOps.verifyJaccard(
        DedupOps.candidatesFromBands(bands.read(spark, stateDir)
          .select(col("doc_id"), col("band"), col("key"))),
        sets.read(spark, stateDir).select(col("doc_id"), col("s")),
        DedupOps.JaccardThreshold)
      .orderBy(col("da"), col("db"))
  }

  /** The INGEST GATE (x56 served from the index): which docs of a
    * candidate batch near-duplicate something already held? The
    * batch's shingle/signature work runs fresh (it has to — the docs
    * are new), but the corpus side is the persisted band-key index:
    * probe cost is O(batch), the corpus is never re-paired against
    * itself, and the result equals `DedupOps.snapshotDedupOf` over
    * (retained corpus, batch) exactly — the gate an ingest pipeline
    * runs BEFORE admitting the batch (contrast servedDupPairs, which
    * pairs within the already-retained window). */
  def servedIncomingDups(spark: SparkSession, stateDir: String,
                         batch: DataFrame): DataFrame = {
    val cSets = sets.read(spark, stateDir).select(col("doc_id"), col("s"))
    val cBands = bands.read(spark, stateDir)
      .select(col("doc_id").as("cdoc"), col("band"), col("key"))
    val bSets = DedupOps.shingleSetsOf(batch).localCheckpoint(false)
    val cand = DedupOps.bandKeys(DedupOps.minhashSignatures(bSets))
      .join(cBands, Seq("band", "key"))
      .select(col("doc_id").as("da"), col("cdoc").as("db"))
      .distinct()
    DedupOps.verifyJaccard(cand, cSets.unionAll(bSets),
        DedupOps.JaccardThreshold)
      .select(col("da").as("new_id"), col("db").as("dup_of"),
        col("jaccard"))
      .orderBy(col("new_id"), col("dup_of"))
  }

  /** The serving-path half of x57's removal propagation: excise a
    * takedown closure (the listed docs PLUS their near-dup cluster —
    * `DedupOps.removalPropagationOf` computes it) from BOTH persisted
    * artifacts, so the index stops describing content the corpus no
    * longer holds: served pairs equal the one-shot x02 over the
    * surviving docs, and the ingest gate no longer flags a batch as
    * duplicating removed content (spec-pinned both ways). Cost is
    * bounded by the partitions the removed docs live in, not the
    * corpus. */
  def applyRemovals(spark: SparkSession, stateDir: String,
                    removedIds: Seq[Long]): Unit = {
    sets.remove(spark, stateDir, removedIds)
    bands.remove(spark, stateDir, removedIds)
  }

  /** Fold a committed prefix of batches into one partition per
    * artifact (docs are disjoint across batches — identity merge). */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit = {
    sets.compact(spark, stateDir, upTo)
    bands.compact(spark, stateDir, upTo)
  }
}
