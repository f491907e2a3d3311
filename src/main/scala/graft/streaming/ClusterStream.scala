package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.DedupOps

/** The x17 cluster-label relation maintained INCREMENTALLY under
  * ingest — the streaming counterpart of the batch-built
  * `DedupOps.ensureClusterIndex` artifact, closing the one serving
  * structure that still required a full recompute when the corpus
  * grew.
  *
  * Incremental connected components is the hard case among the
  * serving structures (a new document can MERGE existing components,
  * so old state is not append-only), and the standard trick makes it
  * O(batch) anyway: REP CONTRACTION. Every existing component is
  * already contracted to its representative, so a micro-batch only
  * needs convergence over the graph
  *
  *   nodes: batch doc ids ∪ {reps of touched old components}
  *   edges: batch-internal near-dup pairs
  *          ∪ (batch doc → rep of its old near-dup neighbor)
  *
  * which is bounded by the batch's edge count, never the corpus. The
  * per-batch loop is the SAME Observation-fused min-label propagation
  * as x17 (`DedupOps.ccLabelsOf`), and min-label survives contraction
  * exactly: an old rep IS the min of its members, so the min over
  * contracted nodes is the min over the underlying union.
  *
  * State layout (`labels/`: doc_id, rep PARTITIONED BY batch_id of the
  * doc's landing batch — a doc's row stays in its landing partition
  * even when a later merge rewrites its rep):
  *
  *  - growth: new docs land labels in their own partition; component
  *    merges rewrite ONLY the partitions holding a member of a merged
  *    component (metadata-scale driver listing, the removal
  *    discipline). The landing partition and every merge-rewritten
  *    partition commit in ONE dynamic overwrite, so no reader can
  *    observe a component half-remapped between two writes.
  *  - replay: re-running a batch is idempotent — the probe may then
  *    see the batch's own bands in the index, but self-pairs are
  *    filtered, duplicate edges are harmless to min-label, and an
  *    already-applied remap re-derives as a no-op.
  *  - removals: deletion composes with x57 semantics — a takedown
  *    closure removes WHOLE clusters, so dropping the closure's label
  *    rows leaves every surviving label correct and minimal.
  *    Arbitrary partition drops do NOT compose (a cluster spans
  *    batches); label retention is via removal closures, documented
  *    and spec-pinned.
  *
  * Rides the SAME `sets/` + `bands/` partials as DedupStream (the
  * probe is the x56 ingest-gate join), so a pipeline maintaining both
  * pays the narrow shingle/signature work once per doc. The probe
  * joins all 32 bands, so `bands/` keeps `band` as a data column.
  */
object ClusterStream {

  /** A doc's label row is unique across partitions (it stays in its
    * landing partition even when remapped): identity merge. */
  private val labels = new StateMaintenance.PartialTable("labels", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("rep", LongType)))
  })

  /** One micro-batch of (doc_id, text): land the dedup partials AND
    * fold the batch into the persisted labels.
    *
    * Evaluation-order discipline: every frame derived from the state
    * directories is MATERIALIZED (the eager checkpoints below, plus
    * ccLabelsOf's own) before any write mutates them — on a replay the
    * dynamic overwrites delete files a lazy plan would still hold in
    * its file index. Only bounded frames are checkpointed eagerly:
    * the contracted graph, the rep remap, and the touched-partition
    * rewrite — never the corpus-sized label relation. */
  def processClusterBatch(batch: DataFrame, stateDir: String,
                          batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val docs = batch.select(col("doc_id"), col("text"))
    // the narrow per-doc work, exactly once
    val bSets = DedupOps.shingleSetsOf(docs).localCheckpoint(false)
    val bBands = DedupOps.bandKeys(DedupOps.minhashSignatures(bSets))
      .localCheckpoint(false)

    // cross edges: batch bands vs the persisted (pre-batch) index —
    // the x56 ingest-gate probe; self-pairs filtered for replay
    // safety (a replayed batch sees its own bands in the index)
    val cSets = DedupStream.sets.read(spark, stateDir)
      .select($"doc_id", $"s")
    val cBands = DedupStream.bands.read(spark, stateDir)
      .select($"doc_id".as("cdoc"), $"band", $"key")
    val cand = bBands.join(cBands, Seq("band", "key"))
      .filter($"doc_id" =!= $"cdoc")
      .select($"doc_id".as("da"), $"cdoc".as("db")).distinct()
    val cross = DedupOps.verifyJaccard(cand, cSets.unionAll(bSets),
        DedupOps.JaccardThreshold)
      .select($"da", $"db")
    // batch-internal edges (the x02 rule among the new docs)
    val within = DedupOps.verifyJaccard(
        DedupOps.candidatesFromBands(
          bBands.select($"doc_id", $"band", $"key")),
        bSets, DedupOps.JaccardThreshold)
      .select($"da", $"db")

    // contract old endpoints to their reps, converge the tiny graph
    // (ccLabelsOf checkpoints its input eagerly — this is the action
    // that drains every read of the pre-batch sets/bands state)
    val oldLabels = labels.read(spark, stateDir)
      .select($"doc_id", $"rep", $"batch_id".cast("long").as("batch_id"))
    val crossC = cross
      .join(oldLabels.select($"doc_id".as("db"), $"rep".as("brep")), Seq("db"))
      .select($"da", $"brep".as("db"))
    val comp = DedupOps.ccLabelsOf(within.unionAll(crossC))

    // component merges: an OLD rep whose converged label moved remaps
    // every member of its old component — locate the partitions that
    // hold one and pre-compute their rewrite (the removal
    // discipline: materialize BEFORE overwriting what we read). The
    // landing partition is excluded — the fresh batch-label write
    // below owns it.
    val remap = comp
      .join(oldLabels.select($"rep".as("doc_id")).distinct(), Seq("doc_id"))
      .filter($"rep" =!= $"doc_id")
      .select($"doc_id".as("old_rep"), $"rep".as("new_rep"))
      .localCheckpoint(true)
    val touched =
      if (remap.isEmpty) Array.empty[Long]
      else oldLabels
        .join(remap, oldLabels("rep") === remap("old_rep"))
        .filter($"batch_id" =!= batchId)
        .select($"batch_id").distinct().as[Long].collect()
    val rewritten =
      if (touched.isEmpty) None
      else Some(oldLabels
        .filter($"batch_id".isin(touched.toSeq: _*))
        .join(broadcast(remap), oldLabels("rep") === remap("old_rep"), "left")
        .select($"doc_id", coalesce($"new_rep", $"rep").as("rep"),
          $"batch_id")
        .localCheckpoint(true))

    // all reads are drained — land the partials and the labels
    DedupStream.sets.append(bSets, stateDir, batchId)
    DedupStream.bands.append(bBands, stateDir, batchId)
    // ONE dynamic overwrite covers the fresh landing partition AND the
    // merge-rewritten partitions: two separate writes would open a
    // torn-read window (a crash between them leaves a merged component
    // half-remapped until the batch replays — replay recovery is
    // correct, but a concurrent reader would see inconsistent reps).
    // A single write commits all touched partitions in one job commit.
    val landing = docs.select($"doc_id")
      .join(comp.select($"doc_id", $"rep".as("crep")), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"crep", $"doc_id").as("rep"),
        lit(batchId).as("batch_id"))
    labels.overwrite(rewritten.fold(landing)(landing.unionByName(_)),
      stateDir)
  }

  /** Start the label-maintenance stream over a parquet file-drop of
    * documents (AvailableNow = drain-and-stop). */
  def startClusterStream(spark: SparkSession, inputDir: String,
                         stateDir: String, checkpointDir: String,
                         maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processClusterBatch(batch.select(col("doc_id"), col("text")),
        stateDir, batchId)
    }

  /** The labels of the retained corpus, served from the persisted
    * state — must equal `dedupClustersOf` over the same docs
    * (spec-pinned under growth, merges, replay, and removals). */
  def servedLabels(spark: SparkSession, stateDir: String): DataFrame =
    labels.merged(spark, stateDir)
      .orderBy(col("doc_id"))

  /** x57's serving-path removal: drop the takedown CLOSURE's label
    * rows (whole clusters by construction, so surviving labels stay
    * correct and minimal) and excise the same ids from the shared
    * dedup partials. */
  def applyRemovals(spark: SparkSession, stateDir: String,
                    removedIds: Seq[Long]): Unit = {
    labels.remove(spark, stateDir, removedIds)
    DedupStream.applyRemovals(spark, stateDir, removedIds)
  }

  /** Fold a committed prefix of batches into one partition per
    * artifact — labels compact by identity like the sets/bands
    * partials. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit = {
    labels.compact(spark, stateDir, upTo)
    DedupStream.compact(spark, stateDir, upTo)
  }
}
