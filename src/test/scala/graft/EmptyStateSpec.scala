package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.streaming._

/** First serve before the first batch: every incremental structure,
  * served over a state dir no batch has created, answers an empty
  * result (zero estimates for the HLL overlap) instead of a path
  * error. */
class EmptyStateSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("every structure serves empty from a never-written state dir") {
    val root = java.nio.file.Files.createTempDirectory("graft-empty-state")
    val dir = s"$root/never-written"
    val probeE: Seq[Double] = Tables.embeddings(spark, sf)
      .filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>"))
      .as[Seq[Double]].head()
    val serves: Seq[(String, () => DataFrame)] = Seq(
      "Ann" -> (() => AnnStream.servedAnnLsh(spark, dir, probeE)),
      "Dedup" -> (() => DedupStream.servedDupPairs(spark, dir)),
      "Search" -> (() => SearchStream.servedBm25(spark, dir)),
      "Sketch" -> (() => SketchStream.mergedCounters(spark, dir)),
      "Lm" -> (() => LmStream.servedModel(spark, dir)),
      "Dsir" -> (() => DsirStream.servedRatios(spark, dir)),
      "Bpe" -> (() => BpeStream.servedVocab(spark, dir)),
      "Cluster" -> (() => ClusterStream.servedLabels(spark, dir)),
      "Overlap" -> (() => OverlapStream.servedMatrix(spark, dir)),
      "Quality" -> (() => QualityStream.servedThresholds(spark, dir)),
      "Novelty" -> (() => NoveltyStream.servedNovelty(spark, dir)),
      "Report" -> (() => ReportStream.mergedReport(spark, dir)),
      "Substring" -> (() => SubstringStream.servedSpans(spark, dir)))
    serves.foreach { case (name, serve) =>
      assert(serve().collect().isEmpty, name)
    }
    assert(SketchStream.mergedOverlap(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq === Seq((0L, 0L, 0L, 0L)))
    assert(!new java.io.File(dir).exists(), "a serve must not create state")
  }
}
