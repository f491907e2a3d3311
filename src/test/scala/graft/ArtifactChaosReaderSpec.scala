package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{ArtifactBuild, SimilarityOps}

/** Chaos reader for the incremental `ensure*` merge: while a delta
  * merge (base carry-over + layerPartitioned + oversized-partition
  * COMPACTION) runs, a concurrent reader that follows the marker
  * protocol — only ever open a directory whose completion marker
  * exists — must at every instant see a COMPLETE artifact: either the
  * base build's exact content or the merged build's exact content,
  * never a partial layer, a half-compacted partition, or a decode
  * error. The protocol's claim is that all mutation happens in a
  * private staging dir and publication is one atomic rename; this
  * spec probes that claim DURING the mutation window instead of
  * asserting it from either side (EnsureIncrementalSpec pins the
  * before/after equivalences; ArtifactChaosSpec and
  * DedupStreamChaosSpec kill inside the same window). */
class ArtifactChaosReaderSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def writeEmb(rows: Seq[(Long, Seq[Double])], dir: String): Unit =
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(dir)

  private def bucketsOf(rows: Seq[(Long, Seq[Double])]): Set[(Long, Int)] =
    rows.toDF("vec_id", "embedding")
      .select($"vec_id",
        SimilarityOps.lshSignature($"embedding".cast("array<double>"))
          .cast("int").as("bucket"))
      .as[(Long, Int)].collect().toSet

  test("a concurrent reader never observes partial state during merge+compaction") {
    val r = new scala.util.Random(11)
    def vec(): Seq[Double] = Seq.fill(8)(r.nextGaussian())
    val base = (0L until 200L).map(i => (i, vec()))
    val delta = (1000L until 1400L).map(i => (i, vec()))

    val root = java.nio.file.Files.createTempDirectory("graft-chaos")
    val d = root.toString
    val idxRoot = java.nio.file.Files
      .createTempDirectory("graft-chaos-idx").toString
    val embDir = s"$d/embeddings.parquet"
    writeEmb(base, embDir)

    val prevMax = sys.props.get("graft.artifact.compact.maxFiles")
    // force the layering compaction path: with the bound at 2, any
    // bucket that accretes >2 files (base file + several delta layer
    // files) is rewritten during staging — the exact window the
    // protocol claims no reader can observe
    sys.props("graft.artifact.compact.maxFiles") = "2"
    try {
      val basePath = SimilarityOps.ensureAnnIndex(spark, d, idxRoot)
      val baseSet = bucketsOf(base)
      val mergedSet = bucketsOf(base ++ delta)
      assert(baseSet !== mergedSet)

      // append the delta as MANY small files so layerPartitioned has
      // real work per bucket and the merge window is wide
      delta.grouped(25).zipWithIndex.foreach { case (chunk, i) =>
        val tmp = java.nio.file.Files
          .createTempDirectory(s"graft-chaos-b$i").toString + "/out"
        writeEmb(chunk, tmp)
        new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).zipWithIndex
          .foreach { case (f, j) =>
            java.nio.file.Files.move(f.toPath,
              java.nio.file.Paths.get(embDir, s"append-$i-$j.parquet")) }
      }

      val fs = new org.apache.hadoop.fs.Path(idxRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val prefix = idxRoot
      @volatile var done = false
      val probes = new java.util.concurrent.atomic.AtomicInteger(0)
      val violations =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val reader = new Thread(() => {
        while (!done) {
          try {
            // the protocol's discovery rule, same as findAppendBase:
            // hidden (dot/underscore) dirs are private build state —
            // a reader honoring only the marker would catch the
            // staging dir mid-mutation (that exact hole is why
            // staging is dot-prefixed; this spec failed against the
            // old `<path>.tmp-…` sibling naming)
            val dirs = fs.listStatus(
                new org.apache.hadoop.fs.Path(prefix))
              .filter(_.isDirectory).map(_.getPath)
              .filterNot(p => p.getName.startsWith(".") ||
                p.getName.startsWith("_"))
              .filter(p => fs.exists(
                new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
            dirs.foreach { p =>
              // fresh (uncached) read: the reader must decode what is
              // on disk NOW, not a relation cached before the window
              val got = spark.read.parquet(p.toString)
                .select($"vec_id", $"bucket".cast("int"))
                .as[(Long, Int)].collect().toSet
              probes.incrementAndGet()
              if (got != baseSet && got != mergedSet)
                violations.add(s"$p served ${got.size} rows matching " +
                  s"neither base (${baseSet.size}) nor merged " +
                  s"(${mergedSet.size})")
            }
          } catch { case e: Throwable =>
            violations.add(s"reader threw during the window: $e")
          }
        }
      }, "graft-chaos-reader")
      reader.setDaemon(true)
      reader.start()

      val incPath = SimilarityOps.ensureAnnIndex(spark, d, idxRoot)
      done = true
      reader.join(30000)
      assert(incPath !== basePath, "appended corpus keys a new artifact")
      assert(violations.isEmpty, violations.toArray.mkString("; "))
      assert(probes.get() > 0, "the reader must have probed during the window")

      // the merged artifact itself serves the merged content, and the
      // forced compaction actually ran (some bucket dir carries a
      // compact- file and respects the bound)
      val got = spark.read.parquet(incPath)
        .select($"vec_id", $"bucket".cast("int"))
        .as[(Long, Int)].collect().toSet
      assert(got === mergedSet)
      val bucketDirs = fs.listStatus(
          new org.apache.hadoop.fs.Path(incPath))
        .filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("bucket="))
      val compacted = bucketDirs.exists { bd =>
        fs.listStatus(bd.getPath)
          .exists(_.getPath.getName.startsWith("compact-"))
      }
      assert(compacted,
        "the small-file bound must have forced a staging compaction")
    } finally prevMax match {
      case Some(v) => sys.props("graft.artifact.compact.maxFiles") = v
      case None => sys.props.remove("graft.artifact.compact.maxFiles")
    }
  }
}
