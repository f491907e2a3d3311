package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.DedupOps
import graft.streaming.DedupStream

/** The incrementally-maintained MinHash-LSH dedup index: served pairs
  * must equal the one-shot x02 pipeline over exactly the retained
  * documents, under growth, replay, retention, and compaction — a
  * doc's shingle set and band keys never depend on the rest of the
  * corpus, so the index needs no rebuild for any of the four. */
class DedupRetentionSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)
    .select($"doc_id", $"text")

  private def oneShot(dfs: org.apache.spark.sql.DataFrame*): Seq[(Long, Long, Double)] =
    DedupOps.dedupMinhashLshOf(dfs.reduce(_ union _))
      .as[(Long, Long, Double)].collect().toSeq

  test("streaming dedup: served equals one-shot x02; retention + compaction hold") {
    val root = java.nio.file.Files.createTempDirectory("graft-dedup-stream")
    val state = s"$root/state"
    assert(DedupStream.servedDupPairs(spark, state).count() === 0)
    val b0 = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    val b2 = docs.filter($"doc_id" % 3 === 2)
    DedupStream.processDocBatch(b0, state, 0L)
    DedupStream.processDocBatch(b1, state, 1L)
    DedupStream.processDocBatch(b2, state, 2L)
    val full = DedupStream.servedDupPairs(spark, state)
      .as[(Long, Long, Double)].collect().toSeq
    assert(full.nonEmpty, "fixture should contain near-dup pairs")
    assert(full === oneShot(b0, b1, b2))
    // replay: rewriting a batch's partitions is a no-op
    DedupStream.processDocBatch(b1, state, 1L)
    assert(DedupStream.servedDupPairs(spark, state)
      .as[(Long, Long, Double)].collect().toSeq === full)
    // retention: drop batch 0 from BOTH artifacts → the index IS the
    // remaining corpus's
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (art <- Seq("sets", "bands"))
      assert(fs.delete(
        new org.apache.hadoop.fs.Path(s"$state/$art", "batch_id=0"), true))
    assert(DedupStream.servedDupPairs(spark, state)
      .as[(Long, Long, Double)].collect().toSeq === oneShot(b1, b2))
    // compaction: fold the remaining prefix — answers unchanged
    DedupStream.compact(spark, state, 2L)
    for (art <- Seq("sets", "bands")) {
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/$art"))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).toSet
      assert(dirs === Set("batch_id=2"), art)
    }
    assert(DedupStream.servedDupPairs(spark, state)
      .as[(Long, Long, Double)].collect().toSeq === oneShot(b1, b2))
  }

  test("streaming dedup: the ingest gate equals x56 over (index, batch)") {
    // state holds the even-id corpus (landed over two batches); the
    // odd-id docs arrive as a candidate batch — the gate probed
    // against the persisted index must equal the one-shot x56 plan
    // on the same (corpus, batch) frames, which the x56 oracle and
    // DedupSpec tie back to exact cross-set Jaccard
    val root = java.nio.file.Files.createTempDirectory("graft-dedup-gate")
    val state = s"$root/state"
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    DedupStream.processDocBatch(corpus.filter($"doc_id" % 4 === 0), state, 0L)
    DedupStream.processDocBatch(corpus.filter($"doc_id" % 4 === 2), state, 1L)
    val gated = DedupStream.servedIncomingDups(spark, state, batch)
      .as[(Long, Long, Double)].collect().toSeq
    val oneShot = DedupOps.snapshotDedupOf(corpus, batch)
      .as[(Long, Long, Double)].collect().toSeq
    assert(gated === oneShot)
    assert(gated.nonEmpty, "fixture should flag incoming near-dups")
    // the gate never reports batch-internal pairs: admitting the batch
    // and re-probing it against the grown index is the NEXT batch's job
    assert(gated.forall { case (n, c, _) => n % 2 == 1 && c % 2 == 0 })
  }

  test("streaming dedup: a takedown closure reaches the serving path") {
    val root = java.nio.file.Files.createTempDirectory("graft-dedup-forget")
    val state = s"$root/state"
    DedupStream.processDocBatch(docs.filter($"doc_id" % 2 === 0), state, 0L)
    DedupStream.processDocBatch(docs.filter($"doc_id" % 2 === 1), state, 1L)
    // the takedown closure over the retained corpus: a listed doc from
    // a known near-dup pair, expanded x57-style to its whole cluster
    val pair = DedupStream.servedDupPairs(spark, state)
      .as[(Long, Long, Double)].collect().head
    val removed = DedupOps.removalPropagationOf(docs, _ === pair._1)
      .select($"doc_id").as[Long].collect().toSeq
    assert(removed.length >= 2, "closure should sweep the partner in")
    // BEFORE: a batch replaying a removed doc's text is flagged
    val replay = docs.filter($"doc_id".isin(removed: _*))
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    assert(DedupStream.servedIncomingDups(spark, state, replay).count() > 0)
    DedupStream.applyRemovals(spark, state, removed)
    // AFTER: served pairs equal one-shot x02 over the survivors, and
    // the gate no longer knows the removed content (the forget property)
    val survivors = docs.filter(!$"doc_id".isin(removed: _*))
    assert(DedupStream.servedDupPairs(spark, state)
      .as[(Long, Long, Double)].collect().toSeq === oneShot(survivors))
    assert(DedupStream.servedIncomingDups(spark, state, replay)
      .count() === 0)
    // idempotent: re-applying the same removal changes nothing
    DedupStream.applyRemovals(spark, state, removed)
    assert(DedupStream.servedDupPairs(spark, state)
      .as[(Long, Long, Double)].collect().toSeq === oneShot(survivors))
  }

  test("streaming dedup: the file-drop stream lands every batch partition") {
    val root = java.nio.file.Files.createTempDirectory("graft-dedup-drop")
    val in = s"$root/in"
    docs.repartition(3).write.parquet(in)
    val q = DedupStream.startDocStream(spark, in, s"$root/state",
      s"$root/ckpt", maxFilesPerTrigger = Some(1))
    assert(q.awaitTermination(120000))
    val served = DedupStream.servedDupPairs(spark, s"$root/state")
      .as[(Long, Long, Double)].collect().toSeq
    assert(served === oneShot(docs))
    // each batch's band keys land in its batch_id dir, not in 32 band
    // dirs under it: `band` is a data column
    val bands = new org.apache.hadoop.fs.Path(s"$root/state/bands")
    val fs = bands.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = fs.listStatus(bands).filter(_.isDirectory)
    assert(batches.nonEmpty)
    for (b <- batches)
      assert(fs.listStatus(b.getPath).forall(_.isFile), b.getPath.getName)
  }

  test("streaming dedup: a band-partitioned index from an earlier layout is refused, not mixed into") {
    val root = java.nio.file.Files.createTempDirectory("graft-dedup-layout")
    val state = s"$root/state"
    val b0 = docs.filter($"doc_id" % 2 === 0)
    DedupStream.processDocBatch(b0, state, 0L)
    // rewrite bands/ as the earlier layout, partitioned by (batch_id, band)
    val bands = new org.apache.hadoop.fs.Path(s"$state/bands")
    val fs = bands.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keys = DedupOps.bandKeys(DedupOps.minhashSignatures(
      DedupOps.shingleSetsOf(b0))).withColumn("batch_id", lit(0L))
      .localCheckpoint(true)
    assert(fs.delete(bands, true))
    keys.write.partitionBy("batch_id", "band").parquet(bands.toString)
    // reading it still works: band comes from the path
    assert(DedupStream.servedDupPairs(spark, state)
      .as[(Long, Long, Double)].collect().toSeq === oneShot(b0))
    def refused(op: => Unit): Unit = {
      val msg = intercept[IllegalArgumentException](op).getMessage
      assert(msg.contains("'bands'") && msg.contains("'band'") &&
        msg.contains("rebuild the state from its batch inputs"), msg)
    }
    refused(DedupStream.compact(spark, state, 0L))
    refused(DedupStream.processDocBatch(docs.filter($"doc_id" % 2 === 1),
      state, 1L))
    // nothing was mixed in: bands/ holds only the earlier layout's batch
    assert(fs.listStatus(bands).filter(_.isDirectory).map(_.getPath.getName)
      .toSet === Set("batch_id=0"))
  }
}
