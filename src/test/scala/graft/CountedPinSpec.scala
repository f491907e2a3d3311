package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import graft.operators.{BpeOps, CountedHint, DedupOps}

/** The joins that once carried a counted broadcast pin now leave the
  * strategy to AQE, except x56's verify join, the x17 label rejoins
  * and BPE segmentation, which keep theirs. This spec pins that the choice moves plans, not
  * rows: every former or kept pin site returns the same rows at the
  * default threshold (AQE broadcasts the small side at run time) and
  * with `spark.sql.autoBroadcastJoinThreshold=-1` (every unpinned join
  * shuffles on its keys), and that a kept pin's decision turns on its
  * cap. */
class CountedPinSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("former pin sites return equal rows at the default threshold and at -1") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val isListed = (c: org.apache.spark.sql.Column) =>
      c % DedupOps.RemovalIdStride === 0
    val bpeDocs = docs.limit(50)
    val (merges, vocab) = BpeOps.bpeTrain(bpeDocs, 8)
    // a fresh index root per call, so the label artifact is BUILT (the
    // full-build label rejoin) under the threshold being tested
    def builtLabels(): DataFrame = {
      val root = java.nio.file.Files.createTempDirectory("graft-ccpin").toString
      spark.read.parquet(s"${DedupOps.ensureClusterIndex(spark, sf, root)}/labels")
        .orderBy($"doc_id")
    }
    val sites: Seq[(String, () => DataFrame)] =
      Seq("x26_dedup_blocks", "x56_snapshot_dedup", "x57_removal_propagation",
        "x69_hard_negatives", "x72_contrastive_triplets")
        .map(q => q -> (() => SparkEntry.queries(q)(spark, sf))) ++ Seq(
      "x17 label rejoin (dedupClustersOf)" -> (() => DedupOps.dedupClustersOf(docs)),
      "x17 artifact build" -> (() => builtLabels()),
      "x57 closure (removalPropagationOf)" ->
        (() => DedupOps.removalPropagationOf(docs, isListed)),
      "BPE segmentation" -> (() =>
        BpeOps.bpeSegment(bpeDocs, merges, vocab).orderBy($"doc_id", $"word")))
    // sites whose plans hold no hint at all (x69/x72 broadcast the
    // centroid table, BPE the one-row merge list; x56, the x17 label
    // rejoins and BPE keep their counted pins)
    val hintFree = Set("x26_dedup_blocks", "x57_removal_propagation")
    val want = sites.map { case (name, df) =>
      val d = df()
      if (hintFree(name))
        assert(!d.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
          s"$name must leave its joins to AQE")
      name -> rows(d)
    }
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      sites.zip(want).foreach { case ((name, df), (_, w)) =>
        val d = df()
        assert(rows(d) === w, s"$name: rows must not depend on the join strategy")
        assert(!d.queryExecution.executedPlan.toString.contains("CartesianProduct"),
          s"$name must not degrade to a cartesian when nothing broadcasts")
      }
    }
  }

  test("a kept counted pin broadcasts at or under its cap, not above it") {
    val df = spark.range(10).toDF("id")
    def pinned(cap: Long): Boolean = CountedHint.counted(df, cap)
      .queryExecution.analyzed.collect { case h: ResolvedHint => h }.nonEmpty
    assert(pinned(10), "a count at the cap is pinned")
    assert(!pinned(9), "a count above the cap is left to AQE")
    assert(rows(CountedHint.counted(df, 9)) === rows(df))
  }
}
