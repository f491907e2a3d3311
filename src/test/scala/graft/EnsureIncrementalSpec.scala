package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Incremental refresh of the ensure* artifacts: appending files to a
  * corpus must refresh the overlap artifact by MERGING the previous
  * artifact's mergeable state with the delta files' partial — cost
  * O(delta + state) — while serving results bit-for-bit equal to a
  * one-shot rebuild.
  *
  * The no-full-corpus-scan claim is proven destructively, not by plan
  * inspection: after the base build, the ORIGINAL corpus file is
  * overwritten with garbage bytes of the SAME length and mtime (so the
  * content-key part string — name:len:mtime — still matches the base
  * artifact's recorded listing). A full rebuild would have to read
  * that file and die on corrupt parquet; the incremental refresh
  * passing with correct results is only possible if the old file was
  * never opened. */
class EnsureIncrementalSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String)], dir: String): Unit =
    rows.toDF("doc_id", "text", "source")
      .select($"doc_id", $"text", lit("en").as("lang"), $"source",
        length($"text").cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(dir)

  private def moveParts(from: String, into: String, tag: String): Unit = {
    val src = new java.io.File(from)
    src.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex
      .foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(into, s"append-$tag-$i.parquet")) }
  }

  // shared 3-gram shingles across sources and batches: "alpha beta
  // gamma" lives in b1/d1 (batch 1) and a2/c2 (batch 2), so the merged
  // matrix must count CROSS-BATCH pairs the per-batch partials alone
  // cannot see
  private val batch1 = Seq(
    (1L, "alpha beta gamma delta epsilon zeta", "src-b"),
    (2L, "alpha beta gamma eta theta iota", "src-d"),
    (3L, "kappa lambda mu nu xi omicron", "src-b"),
    (4L, "pi rho sigma tau upsilon phi", "src-d"))
  // delta introduces sources sorting BEFORE and BETWEEN the old ones —
  // the bit-remap of the base mask state must move every old bit
  private val batch2 = Seq(
    (11L, "alpha beta gamma delta chi psi", "src-a"),
    (12L, "kappa lambda mu nu omega alef", "src-c"),
    (13L, "pi rho sigma tau bet gimel", "src-a"),
    (14L, "completely novel text without overlap here", "src-e"))

  private def inlineMatrix(rows: Seq[(Long, String, String)]) =
    DedupOps.overlapMatrixOfDocs(
      rows.toDF("doc_id", "text", "source")
        .select($"doc_id", $"source", $"text"))
      .as[(String, String, Long)].collect().toSeq

  test("append refresh merges state, never re-reads old files, serves ≡ rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft-inc")
    val d = root.toString
    val idxRoot = java.nio.file.Files
      .createTempDirectory("graft-inc-idx").toString
    val docsDir = s"$d/documents.parquet"
    writeDocs(batch1, docsDir)

    val basePath = DedupOps.ensureOverlapIndex(spark, d, idxRoot)
    val m1 = spark.read.parquet(s"$basePath/matrix")
      .select($"src_a", $"src_b", $"shared")
      .as[(String, String, Long)].collect().toSeq.sorted
    assert(m1 === inlineMatrix(batch1).sorted)
    assert(m1.nonEmpty, "batch 1 must produce cross-source overlap")

    // append the delta files
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft-inc-b2").toString + "/out"
    writeDocs(batch2, tmp2)
    moveParts(tmp2, docsDir, "b2")

    // garbage the original file, preserving name:len:mtime — any code
    // path that opens it now fails on corrupt parquet
    val orig = new java.io.File(docsDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("append-")).head
    val len = orig.length()
    val mtime = orig.lastModified()
    val garbage = Array.fill[Byte](len.toInt)(0x5A)
    java.nio.file.Files.write(orig.toPath, garbage)
    assert(orig.setLastModified(mtime))
    assert(orig.length() === len)

    val incPath = DedupOps.ensureOverlapIndex(spark, d, idxRoot)
    assert(incPath !== basePath, "appended corpus keys a new artifact")
    val got = spark.read.parquet(s"$incPath/matrix")
      .select($"src_a", $"src_b", $"shared")
      .as[(String, String, Long)].collect().toSeq.sorted
    val want = inlineMatrix(batch1 ++ batch2).sorted
    assert(got === want,
      "merged state must serve bit-for-bit what a one-shot rebuild serves")
    // the cross-batch pair (src-a, src-b) exists ONLY via the merge
    assert(got.exists { case (a, b, _) => a == "src-a" && b == "src-b" })

    // sizes piece merged correctly too (x73's denominators)
    val sizes = spark.read.parquet(s"$incPath/sizes")
      .as[(String, Long)].collect().toMap
    val wantSizes = DedupOps.sourcePairsOf(
        (batch1 ++ batch2).toDF("doc_id", "text", "source")
          .select($"doc_id", $"source", $"text"))
      .distinct().groupBy($"source").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(sizes === wantSizes)
  }

  test("LM model append refresh sums counts, never re-reads old files, ≡ rebuild") {
    import graft.operators.TextOps
    val root = java.nio.file.Files.createTempDirectory("graft-inc-lm")
    val d = root.toString
    val idxRoot = java.nio.file.Files
      .createTempDirectory("graft-inc-lm-idx").toString
    val docsDir = s"$d/documents.parquet"
    writeDocs(batch1, docsDir)
    val basePath = TextOps.ensureLmModel(spark, d, idxRoot)

    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft-inc-lm-b2").toString + "/out"
    writeDocs(batch2, tmp2)
    moveParts(tmp2, docsDir, "b2")

    // garbage the original file, preserving name:len:mtime (see above)
    val orig = new java.io.File(docsDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("append-")).head
    val len = orig.length(); val mtime = orig.lastModified()
    java.nio.file.Files.write(orig.toPath, Array.fill[Byte](len.toInt)(0x5A))
    assert(orig.setLastModified(mtime)); assert(orig.length() === len)

    val incPath = TextOps.ensureLmModel(spark, d, idxRoot)
    assert(incPath !== basePath)
    val got = spark.read.parquet(s"$incPath/model")
      .as[(Long, Long, Long)].collect().toSet
    // one-shot rebuild over the SAME logical corpus, from the frames
    val union = (batch1 ++ batch2).toDF("doc_id", "text", "source")
      .select($"doc_id", $"text")
    val want = TextOps.lmModelFromCounts(TextOps.bigramsOfFrame(union)
        .groupBy($"w1", $"w2").agg(count("*").as("c12")))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want,
      "merged counts must train bit-for-bit the one-shot model")
    assert(got.nonEmpty)
  }

  test("cluster labels append refresh: rep contraction ≡ one-shot rebuild") {
    // the hard case: a delta doc can MERGE existing components and can
    // even become the new (min-id) representative of an old cluster
    val dup = "quick brown fox jumps over the lazy dog again today"
    val c1 = Seq(
      (10L, dup, "s"), (11L, dup, "s"),           // old cluster, rep 10
      (12L, "unrelated words one two three four five six", "s"))
    val c2 = Seq(
      (2L, dup, "s"),                              // merges in, new rep 2
      (13L, "another isolated document with nothing shared here", "s"))

    val root = java.nio.file.Files.createTempDirectory("graft-inc-cc")
    val d = root.toString
    val idxRoot = java.nio.file.Files
      .createTempDirectory("graft-inc-cc-idx").toString
    val docsDir = s"$d/documents.parquet"
    writeDocs(c1, docsDir)
    val basePath = DedupOps.ensureClusterIndex(spark, d, idxRoot)
    val baseLabels = spark.read.parquet(s"$basePath/labels")
      .as[(Long, Long)].collect().toMap
    assert(baseLabels(11L) === 10L && baseLabels(10L) === 10L)

    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft-inc-cc-b2").toString + "/out"
    writeDocs(c2, tmp2)
    moveParts(tmp2, docsDir, "b2")

    // garbage the original file, preserving name:len:mtime (see above)
    val orig = new java.io.File(docsDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("append-")).head
    val len = orig.length(); val mtime = orig.lastModified()
    java.nio.file.Files.write(orig.toPath, Array.fill[Byte](len.toInt)(0x5A))
    assert(orig.setLastModified(mtime)); assert(orig.length() === len)

    val incPath = DedupOps.ensureClusterIndex(spark, d, idxRoot)
    assert(incPath !== basePath)
    val got = spark.read.parquet(s"$incPath/labels")
      .as[(Long, Long)].collect().toMap
    val want = DedupOps.dedupClustersOf(
        (c1 ++ c2).toDF("doc_id", "text", "source")
          .select($"doc_id", $"text"))
      .as[(Long, Long)].collect().toMap
    assert(got === want,
      "contracted merge must label bit-for-bit like the one-shot rebuild")
    assert(got(10L) === 2L && got(11L) === 2L && got(2L) === 2L,
      "the delta doc must become the merged cluster's min-id rep")
    assert(got(12L) === 12L && got(13L) === 13L)
  }

  /** Garble the pre-append original parquet file in place, preserving
    * name:len:mtime — after this, any code path that opens it dies on
    * corrupt parquet, so a passing refresh PROVES the old file was
    * never read. */
  private def garbleOriginal(docsDir: String): Unit = {
    val orig = new java.io.File(docsDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("append-")).head
    val len = orig.length(); val mtime = orig.lastModified()
    java.nio.file.Files.write(orig.toPath, Array.fill[Byte](len.toInt)(0x5A))
    assert(orig.setLastModified(mtime)); assert(orig.length() === len)
  }

  private def appendBatch(rows: Seq[(Long, String, String)], docsDir: String,
                          tag: String): Unit = {
    val tmp = java.nio.file.Files
      .createTempDirectory(s"graft-inc-$tag").toString + "/out"
    writeDocs(rows, tmp)
    moveParts(tmp, docsDir, tag)
  }

  // search-family fixture: query terms (spark/window/merge/vector) and
  // the exact phrase "window fast query" occur in BOTH batches with
  // different frequencies, so merged df/tf/positions differ from either
  // batch's alone
  private val sBatch1 = Seq(
    (1L, "spark window fast query merge vector engine", "src-a"),
    (2L, "the window fast query path uses spark merge", "src-a"),
    (3L, "nothing relevant appears here at all today", "src-b"))
  private val sBatch2 = Seq(
    (11L, "vector spark spark window fast query merge merge", "src-b"),
    (12L, "window fast query window fast query repeated twice", "src-a"))

  private def searchDF(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "text", "source").select($"doc_id", $"text")

  test("BM25 index append refresh: carried postings + summed stats ≡ rebuild") {
    import graft.operators.SearchOps
    val root = java.nio.file.Files.createTempDirectory("graft-inc-bm")
    val d = root.toString
    val docsDir = s"$d/documents.parquet"
    writeDocs(sBatch1, docsDir)
    // default indexRoot: the serve path re-ensures there, and with the
    // original file garbaged only an append-base hit can succeed
    val basePath = SearchOps.ensureBm25Index(spark, d)
    appendBatch(sBatch2, docsDir, "bm-b2")
    garbleOriginal(docsDir)

    val got = SearchOps.bm25SearchIndexed(spark, d)
      .as[(Long, Double, Long)].collect().toSeq
    assert(SearchOps.ensureBm25Index(spark, d) !== basePath)
    val want = SearchOps.bm25SearchOf(searchDF(sBatch1 ++ sBatch2))
      .as[(Long, Double, Long)].collect().toSeq
    assert(got === want,
      "index served after merge must equal the one-shot scan bit-for-bit")
    assert(got.size >= 4, "both batches' docs must rank")
    // stats piece merged by sum, not recomputed from the corpus
    val stats = spark.read.parquet(
      s"${SearchOps.ensureBm25Index(spark, d)}/stats")
      .as[(Long, Long)].collect().head
    val wantStats = (sBatch1 ++ sBatch2).map(_._2.split("\\s+").length)
    assert(stats === ((wantStats.size.toLong, wantStats.sum.toLong)))
  }

  test("phrase index append refresh: carried positions ≡ rebuild") {
    import graft.operators.SearchOps
    val root = java.nio.file.Files.createTempDirectory("graft-inc-ph")
    val d = root.toString
    val docsDir = s"$d/documents.parquet"
    writeDocs(sBatch1, docsDir)
    val basePath = SearchOps.ensurePhraseIndex(spark, d)
    appendBatch(sBatch2, docsDir, "ph-b2")
    garbleOriginal(docsDir)

    val got = SearchOps.phraseSearchIndexed(spark, d)
      .as[(Long, Long, Long)].collect().toSeq
    assert(SearchOps.ensurePhraseIndex(spark, d) !== basePath)
    val want = SearchOps.phraseSearchOf(searchDF(sBatch1 ++ sBatch2))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === want)
    // doc 12 carries the phrase twice — a delta-only fact; doc 1/2 are
    // base-only facts served from carried-over files
    assert(got.exists { case (id, n, _) => id == 12L && n == 2L })
    assert(got.exists(_._1 == 1L) && got.exists(_._1 == 2L))
  }

  test("ANN LSH index append refresh: carried buckets ≡ rebuild") {
    import graft.operators.SimilarityOps
    val rnd = new scala.util.Random(7)
    def vecs(ids: Range): Seq[(Long, Seq[Float], Int)] =
      ids.map(i => (i.toLong,
        Seq.fill(SimilarityOps.Dim)(rnd.nextFloat() * 2f - 1f), i % 3))
    val b1 = vecs(0 until 12); val b2 = vecs(20 until 28)
    def writeEmb(rows: Seq[(Long, Seq[Float], Int)], dir: String): Unit =
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(dir)

    val root = java.nio.file.Files.createTempDirectory("graft-inc-ann")
    val d = root.toString
    val embDir = s"$d/embeddings.parquet"
    writeEmb(b1, embDir)
    val basePath = SimilarityOps.ensureAnnIndex(spark, d)
    // append + garble (same protocol, embeddings table)
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft-inc-ann-b2").toString + "/out"
    writeEmb(b2, tmp2)
    moveParts(tmp2, embDir, "b2")
    val orig = new java.io.File(embDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("append-")).head
    val len = orig.length(); val mtime = orig.lastModified()
    java.nio.file.Files.write(orig.toPath, Array.fill[Byte](len.toInt)(0x5A))
    assert(orig.setLastModified(mtime)); assert(orig.length() === len)

    val incPath = SimilarityOps.ensureAnnIndex(spark, d)
    assert(incPath !== basePath)
    val got = spark.read.parquet(incPath)
      .select($"vec_id", $"bucket".cast("long"))
      .as[(Long, Long)].collect().toMap
    val want = (b1 ++ b2).toDF("vec_id", "embedding", "label")
      .select($"vec_id",
        SimilarityOps.lshSignature($"embedding".cast("array<double>")).as("bucket"))
      .as[(Long, Long)].collect().toMap
    assert(got === want,
      "merged bucket index must place every vector exactly as a rebuild")
    assert(got.size === b1.size + b2.size)
  }

  test("DSIR model append refresh: summed bucket counts ≡ rebuild") {
    import graft.operators.TextOps
    val root = java.nio.file.Files.createTempDirectory("graft-inc-ds")
    val d = root.toString
    val docsDir = s"$d/documents.parquet"
    writeDocs(batch1, docsDir)
    val basePath = TextOps.ensureDsirModel(spark, d)
    appendBatch(batch2, docsDir, "ds-b2")
    garbleOriginal(docsDir)

    val incPath = TextOps.ensureDsirModel(spark, d)
    assert(incPath !== basePath)
    val got = spark.read.parquet(s"$incPath/model")
      .as[(Long, Long)].collect().toSet
    val union = (batch1 ++ batch2).toDF("doc_id", "text", "source")
      .select($"doc_id", $"text", lit("en").as("lang"))
    val want = TextOps.dsirRatiosFromCounts(TextOps.dsirToksOf(union)
        .groupBy($"b")
        .agg(count(lit(1)).as("ct_r"), count_if($"is_t").as("ct_t")))
      .as[(Long, Long)].collect().toSet
    assert(got === want,
      "merged counts must refit bit-for-bit the one-shot model")
    assert(got.nonEmpty)
  }

  test("repeated appends compact oversized partitions, still ≡ rebuild") {
    import graft.operators.SearchOps
    val sBatch3 = Seq(
      (21L, "spark vector merge window fast query third batch", "src-c"),
      (22L, "merge vector spark window appears once more here", "src-c"))
    val prop = "graft.artifact.compact.maxFiles"
    val old = sys.props.get(prop)
    sys.props(prop) = "2"
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-inc-cp")
      val d = root.toString
      val docsDir = s"$d/documents.parquet"
      writeDocs(sBatch1, docsDir)
      SearchOps.ensureBm25Index(spark, d)
      appendBatch(sBatch2, docsDir, "cp-b2")
      garbleOriginal(docsDir)
      SearchOps.ensureBm25Index(spark, d)     // refresh 1 (layers)
      // garble the b2 append too: refresh 2 may only read b3
      val b2file = new java.io.File(docsDir).listFiles()
        .filter(_.getName.startsWith("append-cp-b2")).head
      val len = b2file.length(); val mtime = b2file.lastModified()
      java.nio.file.Files.write(b2file.toPath,
        Array.fill[Byte](len.toInt)(0x5A))
      assert(b2file.setLastModified(mtime))
      appendBatch(sBatch3, docsDir, "cp-b3")
      val finalPath = SearchOps.ensureBm25Index(spark, d)  // refresh 2

      // every postings partition stays within the file bound
      val parts = new java.io.File(s"$finalPath/postings").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("tb="))
      assert(parts.nonEmpty)
      parts.foreach { pd =>
        val n = pd.listFiles().count { f =>
          f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".") }
        assert(n <= 2, s"${pd.getName} holds $n data files after compaction")
      }
      val got = SearchOps.bm25SearchIndexed(spark, d)
        .as[(Long, Double, Long)].collect().toSeq
      val want = SearchOps.bm25SearchOf(
          searchDF(sBatch1 ++ sBatch2 ++ sBatch3))
        .as[(Long, Double, Long)].collect().toSeq
      assert(got === want,
        "compacted twice-refreshed index must serve ≡ one-shot scan")
    } finally {
      old match { case Some(v) => sys.props(prop) = v
                  case None => sys.props.remove(prop) }
    }
  }

  test("an in-place file change disqualifies the append-base") {
    // corpora are immutable by contract (content-keyed paths), so the
    // append-base detection must treat ANY in-place mutation — here a
    // bare mtime touch, the weakest possible change — as "not an
    // append" and fall back to the full rebuild path
    val root = java.nio.file.Files.createTempDirectory("graft-inc2")
    val d = root.toString
    val idxRoot = java.nio.file.Files
      .createTempDirectory("graft-inc2-idx").toString
    val docsDir = s"$d/documents.parquet"
    writeDocs(batch1, docsDir)
    val basePath = DedupOps.ensureOverlapIndex(spark, d, idxRoot)
    assert(new java.io.File(basePath).exists())

    def parts(): Seq[String] = new java.io.File(docsDir).listFiles().toSeq
      .map(f => s"documents.parquet/${f.getName}:${f.length}:${f.lastModified}")
      .sorted
    val safe = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val prefix = s"graft-overlap-index-$safe-v2-"

    // an appended file alone: the base qualifies
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft-inc2-b2").toString + "/out"
    writeDocs(batch2, tmp2)
    moveParts(tmp2, docsDir, "b2")
    val withAppend = graft.operators.ArtifactBuild.findAppendBase(
      spark, idxRoot, prefix, parts(), "matrix/_SUCCESS")
    // findAppendBase reports the Hadoop URI form ("file:/tmp/...")
    assert(withAppend.map(_._1.stripPrefix("file:")) === Some(basePath))

    // touch an ORIGINAL file's mtime: its part string changes, the
    // base listing is no longer a subset, the base must be rejected
    val orig = new java.io.File(docsDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("append-")).head
    assert(orig.setLastModified(orig.lastModified() + 12345))
    val afterTouch = graft.operators.ArtifactBuild.findAppendBase(
      spark, idxRoot, prefix, parts(), "matrix/_SUCCESS")
    assert(afterTouch === None,
      "a mutated original file must disqualify the append-base")
  }
}
