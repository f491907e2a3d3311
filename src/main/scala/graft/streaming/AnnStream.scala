package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{CoreQueries, SimilarityOps}

/** The ANN-LSH index maintained INCREMENTALLY under ingest — the x06
  * serving index kept current per micro-batch of new vectors: a
  * vector's LSH bucket is a pure function of the vector (independent
  * of the rest of the corpus, unlike IVF centroids), so each batch's
  * bucket assignments are final the moment they land, the union of
  * retained partitions IS the retained corpus's index, and a probe
  * still reads only its multiprobe buckets within each batch.
  *
  * Same partial-state discipline as the postings/card/sketch streams:
  * (batch_id, bucket)-partitioned, replay-safe dynamic overwrite,
  * retention = batch-partition drop, compaction with the identity
  * merge (vector rows are disjoint across batches, like postings). */
object AnnStream {

  private val vectors = new StateMaintenance.PartialTable("", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("e", ArrayType(DoubleType)),
      StructField("bucket", IntegerType)))
  }, extras = Seq("bucket"))

  /** One micro-batch of (vec_id, embedding) rows: signature each
    * vector (the x06 codegen expression) and land it in its
    * (batch_id, bucket) partition. */
  def processVectorBatch(batch: DataFrame, stateDir: String,
                         batchId: Long): Unit = {
    val s = batch.sparkSession
    vectors.append(batch
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("bucket",
        SimilarityOps.lshSignature(col("e")).cast("int")),
      stateDir, batchId)
  }

  /** Start the index-maintenance stream over a parquet file-drop of
    * embedding rows (AvailableNow = drain-and-stop). */
  def startVectorStream(spark: SparkSession, inputDir: String,
                        stateDir: String, checkpointDir: String,
                        maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processVectorBatch(batch, stateDir, batchId)
    }

  /** ANN top-K for a probe VECTOR, served from the retained
    * partitions: the probe's bucket is recomputed from the vector (a
    * pure function — no state lookup), explodes to its multiprobe
    * keys, and equi-joins the (batch, bucket)-partitioned state, so a
    * serve reads only the probed bucket directories — identical
    * candidate rule (and therefore identical answers) to the in-memory
    * annLshFrame over exactly the retained vectors, which is what the
    * retention spec pins. `excludeId` drops the probe's own stored row
    * when the probe is a corpus member. */
  def servedAnnLsh(spark: SparkSession, stateDir: String,
                   probeE: Seq[Double], excludeId: Long = -1L): DataFrame = {
    import spark.implicits._
    val state = vectors.read(spark, stateDir)
    val probe = Seq(probeE).toDF("qe")
      .select(col("qe"),
        SimilarityOps.lshSignature(col("qe")).cast("int").as("qb"))
      .select(col("qe"),
        explode(array(SimilarityOps.ProbeMasks.map(m =>
          col("qb").bitwiseXOR(lit(m.toInt))): _*)).as("bucket"))
    state.join(broadcast(probe), "bucket")
      .filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"),
        round(CoreQueries.cosine(col("e"), col("qe")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(SimilarityOps.TopK)
  }

  /** The INGEST GATE (x05 served from the index): which vectors of a
    * candidate batch near-duplicate something already held? The
    * batch's hyperplane signatures are computed fresh (the vectors
    * are new — a signature is a pure function of the vector), the
    * corpus side is the persisted (batch, bucket)-partitioned index,
    * and the join is the batch's multiprobe keys against the bucket
    * partition column — cost O(batch), the corpus is never re-paired
    * against itself. The batch side is broadcast (a micro-batch is
    * bounded by the trigger), so the bucket equi-join prunes the
    * state scan to the probed bucket directories, exactly like
    * [[servedAnnLsh]]. A qualifying pair collides on exactly one mask
    * (the xor of its two signatures), so no post-join dedup. The
    * result equals the cross-(batch, corpus) slice of the one-shot
    * x05 (`DedupOps.dedupEmbeddingFrame`) over (retained ∪ batch) —
    * the gate an ingest pipeline runs BEFORE admitting the batch,
    * pinned by AnnRetentionSpec under growth, replay, retention, and
    * compaction. */
  def servedIncomingNearDups(spark: SparkSession, stateDir: String,
                             batch: DataFrame): DataFrame = {
    val state = vectors.read(spark, stateDir)
    val probes = batch
      .select(col("vec_id").as("new_id"),
        col("embedding").cast("array<double>").as("ne"))
      .withColumn("qb",
        SimilarityOps.lshSignature(col("ne")).cast("int"))
      .select(col("new_id"), col("ne"),
        explode(array(SimilarityOps.ProbeMasks.map(m =>
          col("qb").bitwiseXOR(lit(m.toInt))): _*)).as("bucket"))
    state.join(broadcast(probes), "bucket")
      .select(col("new_id"), col("vec_id").as("dup_of"),
        round(CoreQueries.cosine(col("ne"), col("e")), 4).as("sim"))
      .filter(col("sim") >= graft.operators.DedupOps.CosineThreshold)
      .orderBy(col("new_id"), col("dup_of"))
  }

  /** Fold a committed prefix of batches into one partition (vector
    * rows are disjoint across batches — identity merge, bucket
    * partitioning preserved). */
  def compactVectors(spark: SparkSession, stateDir: String,
                     upTo: Long): Unit =
    vectors.compact(spark, stateDir, upTo)
}
