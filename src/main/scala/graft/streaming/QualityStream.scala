package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextOps

/** The x70 per-source quality thresholds maintained INCREMENTALLY
  * under ingest — the twelfth serving structure. The state is each
  * source's integer micro-score HISTOGRAM as per-batch (q_micro, cnt)
  * partials: counts add across batches, and the histogram is bounded
  * by the SCORE DOMAIN (q_micro ∈ [0, 10⁶]) rather than the row
  * count — so unlike the GK sketch the merged distribution is exact
  * at any corpus size, and the served threshold equals the one-shot
  * x70 percentile BIT FOR BIT (the serve-side interpolation below
  * replicates Spark's Percentile formula term for term).
  *
  * Maintenance follows the partial-state discipline: dynamic
  * overwrite keyed by batch_id (replay rewrites its own partition),
  * retention = batch-partition drop (removes exactly those batches'
  * counts), compaction = re-sum. Serving composes the threshold table
  * (|sources| rows, broadcast) with the same scoring pass x70 runs —
  * a gate for any docs frame without ever re-aggregating the corpus. */
object QualityStream {

  /** Histogram partials: counts re-sum per (source, q_micro). */
  private val histogram = new StateMaintenance.PartialTable("", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("source", StringType),
      StructField("q_micro", LongType),
      StructField("cnt", LongType)))
  }, merge = _.groupBy(col("source"), col("q_micro"))
    .agg(sum(col("cnt")).as("cnt")))

  /** One micro-batch of (doc_id, source, text): land the batch's
    * per-source score histogram in its own partition. */
  def processQualityBatch(batch: DataFrame, stateDir: String,
                          batchId: Long): Unit =
    histogram.append(TextOps.qualityPartialsOf(
        batch.select(col("doc_id"), col("source"), col("text"))),
      stateDir, batchId)

  /** Start the threshold-maintenance stream over a parquet file-drop
    * of documents (AvailableNow = drain-and-stop). */
  def startQualityStream(spark: SparkSession, inputDir: String,
                         stateDir: String, checkpointDir: String,
                         maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    StateMaintenance.startFileDropStream(spark, inputDir, checkpointDir,
      maxFilesPerTrigger) { (batch, batchId) =>
      processQualityBatch(batch, stateDir, batchId)
    }

  /** The per-source p75 threshold over every retained batch partition.
    * Interpolation replicates Spark's Percentile exactly: with
    * pos = p·(n−1), lower = ⌊pos⌋, the threshold is the lower value
    * when pos is integral, else lowerVal·(⌈pos⌉−pos) +
    * higherVal·(pos−⌊pos⌋) — the same IEEE expression, so the served
    * threshold equals the exact aggregate bit for bit. */
  def servedThresholds(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hist = histogram.merged(spark, stateDir)
    val cum = hist.withColumn("cum",
      sum($"cnt").over(Window.partitionBy($"source").orderBy($"q_micro")))
    val pk = hist.groupBy($"source").agg(sum($"cnt").as("n"))
      .select($"source",
        (lit(TextOps.QualityGateP) * ($"n" - 1).cast("double")).as("pos"))
      .withColumn("k", floor($"pos").cast("long"))
    val j = cum.join(broadcast(pk), "source")
    val vk = j.filter($"cum" >= $"k" + 1)
      .groupBy($"source").agg(min($"q_micro").as("vk"))
    val vk1 = j.filter($"cum" >= $"k" + 2)
      .groupBy($"source").agg(min($"q_micro").as("vk1"))
    pk.join(vk, "source").join(vk1, Seq("source"), "left")
      .select($"source",
        when($"pos" === $"k".cast("double"), $"vk".cast("double"))
          .otherwise(
            $"vk" * (($"k" + 1).cast("double") - $"pos") +
            coalesce($"vk1", $"vk") * ($"pos" - $"k".cast("double")))
          .as("q_th"))
  }

  /** The gate served from the maintained thresholds: the identical
    * scoring pass and filter as x70, with the threshold table read
    * from state instead of re-aggregated — must equal
    * `TextOps.qualityGateOf` over the retained docs (spec-pinned). */
  def servedGate(spark: SparkSession, d: String,
                 stateDir: String): DataFrame =
    TextOps.gateWith(TextOps.scoredDocs(spark, d),
      servedThresholds(spark, stateDir))

  /** Fold a committed prefix of batches: counts re-sum. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit =
    histogram.compact(spark, stateDir, upTo)
}
