package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.DedupOps

/** The exact-substring (x43) state maintained INCREMENTALLY — the
  * interesting case of the streaming index family: unlike ANN buckets
  * or MinHash band keys, "is this 8-gram duplicated" DEPENDS on the
  * whole corpus, so no per-document verdict can be final on landing.
  * What IS final per batch is each doc's positioned gram relation, and
  * because streamed documents are append-only and DISJOINT across
  * batches, the per-gram distinct-doc counts are MERGEABLE partials:
  * Σ over batches of per-batch distinct docs = corpus-wide distinct
  * docs. The state is therefore:
  *
  *  - `grams/`: (doc_id, n_tokens, pos, g) PARTITIONED BY batch_id —
  *              the corpus-independent per-doc stage, computed once
  *              per document (the expensive tokenize+fingerprint).
  *  - `df/`:    (g, nd) PARTITIONED BY batch_id — the batch's
  *              distinct-doc count per gram fingerprint.
  *
  * Serving merges the df partials (sum ≥ 2 ⇔ the one-shot
  * count-distinct ≥ 2), marks positions, and runs the SHARED
  * gaps-and-islands merge — so served spans equal the one-shot x43
  * over exactly the retained documents. Retention = dropping a
  * batch's partitions from both artifacts; compaction folds df
  * partials with a REAL merge (re-sum per gram — the first
  * non-identity compaction in the family) and grams with the identity
  * merge. */
object SubstringStream {

  /** Gram rows are disjoint across batches (identity merge). */
  private val grams = new StateMaintenance.PartialTable("grams", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_tokens", LongType),
      StructField("pos", IntegerType),
      StructField("g", BinaryType)))
  })

  /** Distinct-doc partials RE-SUM per gram. */
  private val df = new StateMaintenance.PartialTable("df", {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("g", BinaryType),
      StructField("nd", LongType)))
  }, merge = _.groupBy(col("g")).agg(sum(col("nd")).as("nd")))

  /** Persisted key format of this state dir. v2 = 16-byte binary
    * XXH64 window keys (the r17 fused fingerprint); the unmarked v1
    * format was 32-char md5 hex strings. Parquet happily reads a v1
    * string `g` column as binary, and v1/v2 keys never match — mixed
    * partitions would make the summed df partials silently undercount
    * and duplicated spans silently disappear. The marker turns that
    * into a loud refusal: a format change means the state dir must be
    * wiped and rebuilt from the retained documents (the batch inputs
    * are the durable record; state is derived). */
  private[streaming] val FormatVersion = "substring-grams-v2-xxh64-binary"

  private def formatPath(stateDir: String) =
    new org.apache.hadoop.fs.Path(s"$stateDir/_format")

  /** Verify (and on first write, stamp) the state dir's format marker.
    * Refuses when the marker disagrees, or when state exists with NO
    * marker — an unmarked dir's key format is unknown (v1 hex keys and
    * early v2 binary keys were both written unmarked), so it must be
    * rebuilt, not mixed into. A blank marker reads as a missing one.
    * The marker resolves through the session's Hadoop conf, as the
    * partials do, so its temp file is created through the file system
    * `StateMaintenance.installLocalFileIo` set. */
  private def checkFormat(spark: SparkSession, stateDir: String,
                          stampIfNew: Boolean): Unit = {
    val marker = formatPath(stateDir)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    val found =
      if (!fs.exists(marker)) ""
      else {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
    if (found.nonEmpty)
      require(found == FormatVersion,
        s"substring state dir $stateDir has key format '$found' but this " +
          s"engine writes '$FormatVersion' — wipe the state dir and rebuild " +
          "from the retained documents (keys of different formats never " +
          "match, so mixing them silently undercounts duplication)")
    else {
      val hasState =
        fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/grams")) ||
          fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/df"))
      require(!hasState,
        s"substring state dir $stateDir has batches but no _format marker " +
          "— its key format is unknown, so it must be wiped and rebuilt " +
          "from the retained documents before serving or appending")
      if (stampIfNew) {
        // write aside, then rename into place: a concurrent reader sees
        // no marker or the whole one, never a half-written file
        val tmp = new org.apache.hadoop.fs.Path(
          s"$stateDir/._format.${java.util.UUID.randomUUID}")
        val out = fs.create(tmp, false)
        try out.write(FormatVersion.getBytes("UTF-8")) finally out.close()
        // a blank marker may sit there; rename does not replace a file
        // on every Hadoop filesystem
        fs.delete(marker, false)
        if (!fs.rename(tmp, marker)) {
          fs.delete(tmp, false)
          require(fs.exists(marker), s"could not stamp $marker")
        }
      }
    }
  }

  /** One micro-batch of (doc_id, text) rows: tokenize + fingerprint
    * once (the checkpoint feeds both artifacts), land the batch's gram
    * relation and its per-gram distinct-doc partial. */
  def processDocBatch(batch: DataFrame, stateDir: String,
                      batchId: Long): Unit = {
    checkFormat(batch.sparkSession, stateDir, stampIfNew = true)
    val bGrams = DedupOps.substringGramsOfWords(
        DedupOps.substringWordsOf(batch))
      .localCheckpoint(false)
    grams.append(bGrams, stateDir, batchId)
    df.append(bGrams.groupBy(col("g"))
      .agg(count_distinct(col("doc_id")).as("nd")), stateDir, batchId)
  }

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

  /** Maximal duplicated spans of the RETAINED window, served from the
    * persisted partials: merged df partials decide duplication
    * (Σ nd ≥ 2 over disjoint batches ≡ corpus-wide distinct ≥ 2),
    * marked positions come from the persisted gram relation, and the
    * merge is the one-shot pipeline's own gaps-and-islands. */
  def servedSpans(spark: SparkSession, stateDir: String): DataFrame = {
    checkFormat(spark, stateDir, stampIfNew = false)
    val dup = df.merged(spark, stateDir)
      .filter(col("nd") >= 2).select(col("g"))
    DedupOps.substringSpansFromHits(grams.merged(spark, stateDir)
      .join(dup, "g").select("doc_id", "n_tokens", "pos"))
  }

  /** Fold a committed prefix: grams rows are disjoint across batches
    * (identity merge); df partials RE-SUM per gram — the associative
    * merge the serving path already applies. */
  def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit = {
    checkFormat(spark, stateDir, stampIfNew = false)
    grams.compact(spark, stateDir, upTo)
    df.compact(spark, stateDir, upTo)
  }
}
