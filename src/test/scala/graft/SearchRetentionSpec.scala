package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SearchOps
import graft.streaming.SearchStream

/** The incrementally-maintained BM25 index: per-batch postings/stats
  * partials must serve the SAME answer as the scan form over the same
  * documents (df, avgdl, and every rounded contribution included), and
  * retention by dropping a batch partition must leave exactly the
  * retained window's retrieval — scores recomputed against the
  * retained corpus's statistics, not stale ones. */
class SearchRetentionSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private type Hit = (Long, Double, Long)

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[Hit] =
    df.as[Hit].collect().toSeq

  test("streaming postings: served BM25 equals the scan form; retention exact") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-bm25-stream")
    val state = s"$root/state"
    // empty state serves an empty result, not a path error
    assert(SearchStream.servedBm25(spark, state).count() === 0)
    val docs = Tables.documents(spark, sf)
    val Seq(b0, b1, b2) = (0 to 2).map(i => docs.filter($"doc_id" % 3 === i))
    SearchStream.processPostingsBatch(b0, state, 0L)
    SearchStream.processPostingsBatch(b1, state, 1L)
    SearchStream.processPostingsBatch(b2, state, 2L)
    // full window == the scan form over the whole corpus (x33 itself)
    assert(hits(SearchStream.servedBm25(spark, state))
      === hits(SearchOps.bm25Search(spark, sf)))
    // replay: rewriting one batch's partitions is a no-op
    SearchStream.processPostingsBatch(b1, state, 1L)
    assert(hits(SearchStream.servedBm25(spark, state))
      === hits(SearchOps.bm25Search(spark, sf)))
    // retention: drop batch 0 from BOTH tables → the served answer is
    // the scan form over exactly the retained documents (df/avgdl/N
    // all shift — a stale-stats bug fails this, not just a missing-doc
    // bug)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$state/postings/batch_id=0"), true))
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$state/stats/batch_id=0"), true))
    assert(hits(SearchStream.servedBm25(spark, state))
      === hits(SearchOps.bm25SearchOf(b1.union(b2))))
  }

  test("streaming postings: one dir per batch, its files sorted by (tb, term)") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    val state = s"${Files.createTempDirectory("graft-bm25-flat")}/state"
    val docs = Tables.documents(spark, sf)
    for (b <- 0 to 2)
      SearchStream.processPostingsBatch(docs.filter($"doc_id" % 3 === b), state, b.toLong)
    SearchStream.compact(spark, state, 1L)   // folds batches 0 and 1
    val postings = new Path(s"$state/postings")
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = fs.listStatus(postings).filter(_.isDirectory)
    assert(batches.map(_.getPath.getName).toSet === Set("batch_id=1", "batch_id=2"))
    for (b <- batches) {
      val files = fs.listStatus(b.getPath)
      assert(files.forall(_.isFile), b.getPath.getName)
      // a file of one small batch is one split, read back in file order
      for (f <- files.map(_.getPath).filter(_.getName.endsWith(".parquet"))) {
        val keys = spark.read.parquet(f.toString).select($"tb", $"term")
          .as[(Int, String)].collect().toSeq
        assert(keys.nonEmpty && keys === keys.sorted, f.getName)
      }
    }
    assert(hits(SearchStream.servedBm25(spark, state)) === hits(SearchOps.bm25Search(spark, sf)))
  }

  test("streaming postings: a tb-partitioned index from an earlier layout serves, and is refused on write") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.lit
    val state = s"${Files.createTempDirectory("graft-bm25-layout")}/state"
    val docs = Tables.documents(spark, sf)
    val b0 = docs.filter($"doc_id" % 2 === 0)
    SearchStream.processPostingsBatch(b0, state, 0L)
    // rewrite postings/ as the earlier layout, partitioned by (batch_id, tb)
    val postings = new Path(s"$state/postings")
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = SearchOps.postingsOf(SearchOps.tokenizedOf(b0))
      .withColumn("batch_id", lit(0L)).localCheckpoint(true)
    assert(fs.delete(postings, true))
    rows.write.partitionBy("batch_id", "tb").parquet(postings.toString)
    // reading it still works: tb comes from the path
    assert(hits(SearchStream.servedBm25(spark, state)) === hits(SearchOps.bm25SearchOf(b0)))
    def refused(op: => Unit): Unit = {
      val msg = intercept[IllegalArgumentException](op).getMessage
      assert(msg.contains("'postings'") && msg.contains("'tb'") &&
        msg.contains("rebuild the state from its batch inputs"), msg)
    }
    refused(SearchStream.compact(spark, state, 0L))
    refused(SearchStream.processPostingsBatch(docs.filter($"doc_id" % 2 === 1), state, 1L))
    // nothing was mixed in: both tables hold only batch 0
    for (t <- Seq("postings", "stats"))
      assert(fs.listStatus(new Path(s"$state/$t")).filter(_.isDirectory)
        .map(_.getPath.getName).toSet === Set("batch_id=0"), t)
  }

  test("streaming hybrid: fusion over streamed state equals batch x64") {
    // land the documents in the search stream and the embeddings in
    // the ANN stream, then fuse from the SERVED state — the hybrid
    // composition must equal the batch-index x64 over the same corpus
    // (vec 0 is the probe and excluded from its own leg, exactly as
    // annLsh does)
    import java.nio.file.Files
    import graft.streaming.AnnStream
    val root = Files.createTempDirectory("graft-hybrid-stream")
    val (sState, aState) = (s"$root/search", s"$root/ann")
    val docs = Tables.documents(spark, sf)
    SearchStream.processPostingsBatch(
      docs.filter($"doc_id" % 2 === 0), sState, 0L)
    SearchStream.processPostingsBatch(
      docs.filter($"doc_id" % 2 === 1), sState, 1L)
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    AnnStream.processVectorBatch(emb.filter($"vec_id" % 2 === 0), aState, 0L)
    AnnStream.processVectorBatch(emb.filter($"vec_id" % 2 === 1), aState, 1L)
    val probe = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).as[Seq[Double]].head()
    val served = SearchStream
      .servedHybrid(spark, sState, aState, probe, excludeId = 0L)
      .as[(Long, Double, Option[Long], Option[Long])].collect().toSeq
    val batch = SearchOps.hybridRrf(spark, sf)
      .as[(Long, Double, Option[Long], Option[Long])].collect().toSeq
    assert(served === batch)
    assert(served.nonEmpty)
  }

  test("streaming postings end-to-end: file-drop stream builds the index") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-bm25-e2e")
    val in = s"$root/in"
    val docs = Tables.documents(spark, sf)
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(in)
    docs.filter($"doc_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(in)
    val q = SearchStream.startPostingsStream(
      spark, in, s"$root/state", s"$root/ckpt", maxFilesPerTrigger = Some(1))
    assert(q.awaitTermination(120000))
    assert(hits(SearchStream.servedBm25(spark, s"$root/state"))
      === hits(SearchOps.bm25Search(spark, sf)))
  }
}
