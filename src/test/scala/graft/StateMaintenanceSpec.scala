package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.{SearchOps, SketchOps, TextOps}
import graft.streaming.{ReportStream, SearchStream, SketchStream, StateMaintenance}

/** Compaction of the batch_id-partitioned partial states: folding a
  * prefix of batches into one partial must leave every merged view
  * BIT-IDENTICAL (the merges are associative), must compose with
  * retention (dropping a still-separate batch afterwards), and an
  * interrupted fold must recover on the next call. */
class StateMaintenanceSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def batchDirs(dir: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).toSet
  }

  test("report state: compaction keeps the card; retention still composes") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-report")
    val state = s"$root/state"
    val docs = Tables.documents(spark, sf)
    val Seq(b0, b1, b2) = (0 to 2).map(i => docs.filter($"doc_id" % 3 === i))
    ReportStream.processReportBatch(b0, state, 0L)
    ReportStream.processReportBatch(b1, state, 1L)
    ReportStream.processReportBatch(b2, state, 2L)
    val before = ReportStream.mergedReport(spark, state).collect().toSeq
    ReportStream.compact(spark, state, 1L)
    assert(batchDirs(state) === Set(1L, 2L), "prefix must fold into one dir")
    assert(ReportStream.mergedReport(spark, state).collect().toSeq === before)
    // retention of a post-compaction batch still leaves the exact card
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(state, "batch_id=2"), true))
    assert(ReportStream.mergedReport(spark, state).collect().toSeq
      === TextOps.finishReport(TextOps.reportPartialsOf(b0.union(b1)))
        .collect().toSeq)
  }

  test("CMS state: compaction keeps every estimate; no-op below 2 dirs") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-cms")
    val state = s"$root/state"
    val ev = Tables.events(spark, sf)
      .filter($"user_id".isNotNull).select($"user_id")
    val Seq(e0, e1, e2) = (0 to 2).map(i => ev.filter($"user_id" % 3 === i))
    SketchStream.processSketchBatch(e0, state, 0L)
    SketchStream.processSketchBatch(e1, state, 1L)
    SketchStream.processSketchBatch(e2, state, 2L)
    val probes = ev.distinct().orderBy($"user_id").limit(20)
    def est(): Seq[(Long, Long)] = SketchOps
      .cmsEstimates(SketchStream.mergedCounters(spark, state), probes)
      .orderBy($"user_id").as[(Long, Long)].collect().toSeq
    val before = est()
    SketchStream.compactCounters(spark, state, 1L)
    assert(batchDirs(state) === Set(1L, 2L))
    assert(est() === before)
    // compacting an already-compacted prefix is a no-op
    SketchStream.compactCounters(spark, state, 1L)
    assert(batchDirs(state) === Set(1L, 2L))
    assert(est() === before)
  }

  test("overlap state: compaction keeps the sketch algebra") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-hll")
    val state = s"$root/state"
    val docs = Tables.documents(spark, sf)
    val Seq(b0, b1, b2) = (0 to 2).map(i => docs.filter($"doc_id" % 3 === i))
    SketchStream.processOverlapBatch(b0, state, 0L)
    SketchStream.processOverlapBatch(b1, state, 1L)
    SketchStream.processOverlapBatch(b2, state, 2L)
    val before = SketchStream.mergedOverlap(spark, state)
      .as[(Long, Long, Long, Long)].collect().head
    SketchStream.compactOverlap(spark, state, 1L)
    assert(batchDirs(state) === Set(1L, 2L))
    assert(SketchStream.mergedOverlap(spark, state)
      .as[(Long, Long, Long, Long)].collect().head === before)
  }

  test("postings state: compaction keeps the served retrieval") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-bm25")
    val state = s"$root/state"
    val docs = Tables.documents(spark, sf)
    val Seq(b0, b1, b2) = (0 to 2).map(i => docs.filter($"doc_id" % 3 === i))
    SearchStream.processPostingsBatch(b0, state, 0L)
    SearchStream.processPostingsBatch(b1, state, 1L)
    SearchStream.processPostingsBatch(b2, state, 2L)
    val before = SearchStream.servedBm25(spark, state)
      .as[(Long, Double, Long)].collect().toSeq
    SearchStream.compact(spark, state, 1L)
    assert(batchDirs(s"$state/postings") === Set(1L, 2L))
    assert(batchDirs(s"$state/stats") === Set(1L, 2L))
    assert(SearchStream.servedBm25(spark, state)
      .as[(Long, Double, Long)].collect().toSeq === before)
    assert(before === SearchOps.bm25Search(spark, sf)
      .as[(Long, Double, Long)].collect().toSeq)
  }

  test("an interrupted fold recovers on the next compaction call") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-crash")
    val state = s"$root/state"
    val docs = Tables.documents(spark, sf)
    val Seq(b0, b1, b2) = (0 to 2).map(i => docs.filter($"doc_id" % 3 === i))
    // simulate a fold of {0,1} that died after the merged write and the
    // marker, before the deletes: partition 1 already holds the merged
    // prefix (write it as a batch over b0 ∪ b1), partition 0 lingers
    ReportStream.processReportBatch(b0, state, 0L)
    ReportStream.processReportBatch(b0.union(b1), state, 1L)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(state, "_graft_compacting"), true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
    // a live batch lands afterwards, then ANY compaction call recovers
    ReportStream.processReportBatch(b2, state, 2L)
    ReportStream.compact(spark, state, 2L)
    assert(batchDirs(state) === Set(2L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state, "_graft_compacting")))
    assert(ReportStream.mergedReport(spark, state).collect().toSeq
      === TextOps.finishReport(
        TextOps.reportPartialsOf(b0.union(b1).union(b2))).collect().toSeq)
  }

  test("removal crash window: death between survivor overwrite and empty-partition delete recovers") {
    // applyRemoval is two steps: (1) dynamic-overwrite the survivors —
    // which writes NOTHING for a partition whose docs are all removed —
    // then (2) explicitly delete the fully-emptied partition dirs. A
    // crash between them leaves removed docs visible in state until
    // re-apply. This test constructs that exact crash point and proves
    // the marker protocol converges on the next maintenance call.
    val root = java.nio.file.Files.createTempDirectory("graft-remove-crash")
    val state = s"$root/state"
    // two landing batches: the removal {1,2,3} fully empties batch 0
    // and partially empties batch 1
    Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("doc_id", "batch_id")
      .write.partitionBy("batch_id").parquet(state)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = new StateMaintenance.PartialTable("",
      StructType(Seq(StructField("doc_id", LongType))))
    // crash-point state: batch 1 already rewritten to its survivor,
    // batch 0 untouched (the overwrite wrote no rows for it), the
    // `_graft_removing` marker still pending
    Seq((4L, 1L)).toDF("doc_id", "batch_id")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(state)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(state, "_graft_removing"), true)
    try out.write("1\n2\n3".getBytes("UTF-8")) finally out.close()
    // the torn window is observable exactly as documented: batch 0's
    // removed docs linger until the marker is re-applied
    assert(spark.read.parquet(state).select("doc_id")
      .as[Long].collect().toSet === Set(1L, 2L, 4L))
    // the NEXT maintenance call — no new ids — finishes the crashed
    // removal from the marker: emptied partition deleted, marker gone
    ids.remove(spark, state, Seq.empty)
    assert(spark.read.parquet(state).select("doc_id")
      .as[Long].collect().toSet === Set(4L))
    assert(batchDirs(state) === Set(1L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state, "_graft_removing")))
    // and replaying the SAME removal afterwards is a no-op (idempotent)
    ids.remove(spark, state, Seq(1L, 2L, 3L))
    assert(spark.read.parquet(state).select("doc_id")
      .as[Long].collect().toSet === Set(4L))
    assert(batchDirs(state) === Set(1L))
  }
}
