package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.DedupOps
import graft.streaming.SubstringStream

/** The incrementally-maintained substring-dedup state: duplication is
  * a CORPUS property (unlike ANN buckets or band keys), but disjoint
  * append-only batches make the per-gram distinct-doc counts mergeable
  * partials — so served spans must equal the one-shot x43 span core
  * over exactly the retained documents, under growth, replay,
  * retention, and a compaction whose df merge is a real re-sum. */
class SubstringRetentionSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)
    .select($"doc_id", $"text")

  private def oneShot(dfs: org.apache.spark.sql.DataFrame*): Seq[(Long, Long, Int, Int)] =
    DedupOps.substringSpansOf(dfs.reduce(_ union _))
      .select($"doc_id", $"n_tokens", $"s", $"e")
      .as[(Long, Long, Int, Int)].collect().toSeq.sorted

  private def served(state: String): Seq[(Long, Long, Int, Int)] =
    SubstringStream.servedSpans(spark, state)
      .select($"doc_id", $"n_tokens", $"s", $"e")
      .as[(Long, Long, Int, Int)].collect().toSeq.sorted

  test("streaming substrings: served spans equal one-shot x43; retention + re-sum compaction hold") {
    val root = java.nio.file.Files.createTempDirectory("graft-substr-stream")
    val state = s"$root/state"
    assert(served(state).isEmpty)
    val b0 = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    val b2 = docs.filter($"doc_id" % 3 === 2)
    SubstringStream.processDocBatch(b0, state, 0L)
    SubstringStream.processDocBatch(b1, state, 1L)
    SubstringStream.processDocBatch(b2, state, 2L)
    val full = served(state)
    assert(full.nonEmpty, "fixture should contain cross-doc duplicated substrings")
    assert(full === oneShot(b0, b1, b2))
    // a CROSS-batch duplication must be visible (the merged-df property:
    // no single batch can see it)
    val crossOnly = oneShot(b0, b1, b2).toSet --
      (oneShot(b0) ++ oneShot(b1) ++ oneShot(b2)).toSet
    assert(crossOnly.nonEmpty, "fixture should have cross-batch dups")
    assert(crossOnly.subsetOf(full.toSet))
    // replay: rewriting a batch's partitions is a no-op
    SubstringStream.processDocBatch(b1, state, 1L)
    assert(served(state) === full)
    // retention: drop batch 0 from BOTH artifacts
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (art <- Seq("grams", "df"))
      assert(fs.delete(
        new org.apache.hadoop.fs.Path(s"$state/$art", "batch_id=0"), true))
    assert(served(state) === oneShot(b1, b2))
    // compaction: identity fold for grams, RE-SUM fold for df partials
    SubstringStream.compact(spark, state, 2L)
    for (art <- Seq("grams", "df")) {
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/$art"))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).toSet
      assert(dirs === Set("batch_id=2"), art)
    }
    assert(served(state) === oneShot(b1, b2))
  }

  test("streaming substrings: state-format marker stamps, accepts, and refuses") {
    val root = java.nio.file.Files.createTempDirectory("graft-substr-fmt")
    val fs = new org.apache.hadoop.fs.Path(root.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fresh dir: first batch stamps the marker; serve/compact accept it
    val state = s"$root/state"
    SubstringStream.processDocBatch(docs.limit(5), state, 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/_format")))
    assert(served(state) === oneShot(docs.limit(5)))
    // pre-marker (v1 hex-key) dir: batches exist, no marker → REFUSE on
    // serve, append, and compact — parquet would read v1 string keys as
    // binary and silently undercount df sums
    val v1 = s"$root/v1state"
    SubstringStream.processDocBatch(docs.limit(5), v1, 0L)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$v1/_format"), false))
    for (op <- Seq[() => Any](
        () => SubstringStream.servedSpans(spark, v1),
        () => SubstringStream.processDocBatch(docs.limit(5), v1, 1L),
        () => SubstringStream.compact(spark, v1, 0L))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("_format"), e.getMessage)
    }
    // mismatched marker (a FUTURE format) → refuse with the found tag
    val other = s"$root/other"
    SubstringStream.processDocBatch(docs.limit(5), other, 0L)
    val mp = new org.apache.hadoop.fs.Path(s"$other/_format")
    val out = fs.create(mp, true)
    try out.write("substring-grams-v3-imaginary".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalArgumentException](
      SubstringStream.servedSpans(spark, other))
    assert(e.getMessage.contains("substring-grams-v3-imaginary"))
    // an EMPTY dir serves empty (no marker demanded before first batch)
    assert(served(s"$root/never-written").isEmpty)
    // a blank marker (an interrupted stamp) over no state reads as
    // missing: the first batch is accepted and stamps the marker
    val blank = s"$root/blank"
    fs.create(new org.apache.hadoop.fs.Path(s"$blank/_format"), true).close()
    SubstringStream.processDocBatch(docs.limit(5), blank, 0L)
    def marker(dir: String): String = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$dir/_format"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(marker(blank).nonEmpty && marker(blank) === marker(state))
    assert(served(blank) === oneShot(docs.limit(5)))
  }

  test("streaming substrings: the file-drop stream lands every batch partition") {
    val root = java.nio.file.Files.createTempDirectory("graft-substr-drop")
    val in = s"$root/in"
    docs.repartition(3).write.parquet(in)
    val q = SubstringStream.startDocStream(spark, in, s"$root/state",
      s"$root/ckpt", maxFilesPerTrigger = Some(1))
    assert(q.awaitTermination(120000))
    assert(served(s"$root/state") === oneShot(docs))
  }
}
