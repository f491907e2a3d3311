package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.LayoutOps

/** Z-order layout: curve-key math against a driver-side reference,
  * the locality guarantee the audit query reports, and the pruning
  * property of the range-partitioned writer. */
class LayoutSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def zRef(x: Long, y: Long): Long = {
    var z = 0L
    (0 until graft.plans.ZOrderKey.Bits).foreach { i =>
      z |= ((x >>> i) & 1L) << (2 * i)
      z |= ((y >>> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("ZOrderKey matches a driver-side interleave on real keys") {
    val got = Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_suppkey",
        LayoutOps.zOrderKey($"l_partkey", $"l_suppkey").as("z"))
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (p, s, z) => assert(z === zRef(p, s), s"z($p, $s)") }
  }

  test("z-curve locality: a bucket bounds BOTH dimension spans") {
    // fixing the top 2k curve bits fixes the top k bits of each
    // NORMALIZED dimension, so a bucket's raw span is ≤ domain/2^k + 1
    val k = LayoutOps.BucketBits / 2
    val (mnp, mxp, mns, mxs) = Tables.lineitem(spark, sf)
      .agg(min($"l_partkey"), max($"l_partkey"),
           min($"l_suppkey"), max($"l_suppkey"))
      .as[(Long, Long, Long, Long)].head()
    val pBound = (mxp - mnp + 1) / (1L << k) + 1
    val sBound = (mxs - mns + 1) / (1L << k) + 1
    val rows = LayoutOps.zorderLayout(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length > 1, "normalization should spread buckets")
    rows.foreach { case (b, n, minP, maxP, minS, maxS) =>
      assert(n > 0)
      assert(maxP - minP <= pBound, s"part span in bucket $b")
      assert(maxS - minS <= sBound, s"supp span in bucket $b")
    }
    assert(rows.map(_._1).toSeq === rows.map(_._1).toSeq.sorted)
  }

  test("writeZOrdered: files own non-overlapping z-ranges (pruning works)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    LayoutOps.writeZOrdered(Tables.lineitem(spark, sf)
        .select($"l_partkey", $"l_suppkey"),
      $"l_partkey", $"l_suppkey", dir, files = 4)
    // recompute the writer's NORMALIZED key on read and check per-FILE
    // ranges are disjoint: that is exactly the property min/max pruning
    // needs
    val (mnp, mxp, mns, mxs) = Tables.lineitem(spark, sf)
      .agg(min($"l_partkey"), max($"l_partkey"),
           min($"l_suppkey"), max($"l_suppkey"))
      .as[(Long, Long, Long, Long)].head()
    val scale = 1L << graft.plans.ZOrderKey.Bits
    val xn = expr(s"(l_partkey - ${mnp}L) * ${scale}L div ${mxp - mnp + 1}L")
    val yn = expr(s"(l_suppkey - ${mns}L) * ${scale}L div ${mxs - mns + 1}L")
    val ranges = spark.read.parquet(dir)
      .select(LayoutOps.zOrderKey(xn, yn).as("z"),
        input_file_name().as("f"))
      .groupBy($"f").agg(min($"z").as("lo"), max($"z").as("hi"))
      .as[(String, Long, Long)].collect()
      .map { case (_, lo, hi) => (lo, hi) }.sortBy(_._1)
    assert(ranges.length > 1, "writer should emit multiple files")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, "overlapping files")
      case _ =>
    }
    // and the data round-trips completely
    assert(spark.read.parquet(dir).count() ===
      Tables.lineitem(spark, sf).count())
  }

  test("writeZOrdered normalizes wide domains: per-file raw spans are tight") {
    // domain FAR beyond 2^Bits: un-normalized interleaving would
    // collide x and x + 2^Bits onto one curve point and every file's
    // raw min/max span would cover nearly the whole domain
    val dom = 1L << 24
    val n = 4096L
    val df = spark.range(n).select(
      (($"id" * 2654435761L) % dom).as("x"),
      ((($"id" + 131L) * 2246822519L) % dom).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zwide").toString
    LayoutOps.writeZOrdered(df, $"x", $"y", dir, files = 16)
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min($"x").as("mnx"), max($"x").as("mxx"),
           min($"y").as("mny"), max($"y").as("mxy"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(spans.length > 8, "writer should emit multiple files")
    // 16 z-range files ≈ the 16 second-level curve cells: the TYPICAL
    // file spans about dom/4 in each dimension. The MEDIAN is asserted
    // (not the max) because a file legitimately straddling a top-level
    // quadrant boundary can span a whole dimension; under the collision
    // bug (raw interleave of a >2^Bits domain) EVERY file spans ≈ the
    // full domain, so the median still fails hard.
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.length / 2)
    assert(median(spans.map(s => s._3 - s._2).toSeq) <= dom / 2, "x spans")
    assert(median(spans.map(s => s._5 - s._4).toSeq) <= dom / 2, "y spans")
  }

  test("z-ordered layout prunes row groups for a two-sided predicate") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = Tables.lineitem(spark, sf).select($"l_partkey", $"l_suppkey")
    val root = java.nio.file.Files.createTempDirectory("graft-zprune")
    val zdir = s"$root/z"; val bdir = s"$root/base"
    // PIN the row-group size for both writes: the assertion below
    // compares row counts from SURVIVING row groups, and a parquet or
    // Spark upgrade that changed the default block size could silently
    // turn it into a tautology (one giant row group per file reads
    // all-or-nothing). 1 MiB keeps the fixture's files at a stable
    // ≥1-row-group-per-file geometry under any default.
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 1 << 20)
    try {
      LayoutOps.writeZOrdered(li, $"l_partkey", $"l_suppkey",
        zdir, files = 16)
      // stats-hostile baseline: round-robin layout, every file spans the
      // whole domain of both columns
      li.repartition(16).write.parquet(bdir)
    } finally {
      if (prevBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prevBlock)
    }
    val (mnp, mxp, mns, mxs) = li
      .agg(min($"l_partkey"), max($"l_partkey"),
           min($"l_suppkey"), max($"l_suppkey"))
      .as[(Long, Long, Long, Long)].head()
    // the middle quarter of each dimension — the selective two-sided
    // box predicate the layout exists to serve
    val (pLo, pHi) = (mnp + (mxp - mnp) / 4, mnp + (mxp - mnp) / 2)
    val (sLo, sHi) = (mns + (mxs - mns) / 4, mns + (mxs - mns) / 2)
    def readBox(dir: String): (Long, Set[(Long, Long)]) = {
      // metrics must be read from the SAME Dataset that executed — .as[]
      // builds a new queryExecution, so type first, then collect
      val ds = spark.read.parquet(dir)
        .filter($"l_partkey".between(pLo, pHi) &&
                $"l_suppkey".between(sLo, sHi))
        .as[(Long, Long)]
      val result = ds.collect().toSet
      // numOutputRows on the scan counts rows from SURVIVING row groups
      // only — rows the parquet reader never materialized don't count
      val scan = ds.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }.head
      (scan.metrics("numOutputRows").value, result)
    }
    val (zRead, zResult) = readBox(zdir)
    val (bRead, bResult) = readBox(bdir)
    assert(zResult === bResult)   // same answer either way
    val total = li.count()
    assert(bRead > total * 3 / 4,
      s"baseline layout should read ~everything, read $bRead of $total")
    assert(zRead < bRead / 2,
      s"z-ordered scan read $zRead rows vs baseline $bRead — no pruning")
  }

  test("x29 heavy hitters: CMS never underestimates; estimates are mins") {
    val rows = operators.SketchOps.heavyHitters(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length <= operators.SketchOps.CmsTopK)
    rows.foreach { case (u, trueN, est, over) =>
      assert(est >= trueN, s"CMS underestimated user $u")
      assert(over === est - trueN)
    }
    // ordered by true count desc
    assert(rows.map(-_._2).toSeq === rows.map(-_._2).toSeq.sorted)
  }

  test("streaming HLL overlap: merged partials track exact; replay-safe") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-hllov")
    val in = s"$root/in"
    val docs = Tables.documents(spark, sf)
    // two file drops → two micro-batches, each holding docs of BOTH halves
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(in)
    docs.filter($"doc_id" % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(in)
    // state that was never written answers zeros, not a path error
    val empty = graft.streaming.SketchStream
      .mergedOverlap(spark, s"$root/state")
      .as[(Long, Long, Long, Long)].collect().head
    assert(empty === ((0L, 0L, 0L, 0L)))
    val q = graft.streaming.SketchStream.startOverlapStream(
      spark, in, s"$root/state", s"$root/ckpt", maxFilesPerTrigger = Some(1))
    assert(q.awaitTermination(120000))
    assert(spark.read.parquet(s"$root/state")
      .select($"batch_id").distinct().count() >= 2,
      "stream should have produced multiple batch partitions")
    val got = graft.streaming.SketchStream
      .mergedOverlap(spark, s"$root/state")
      .as[(Long, Long, Long, Long)].collect().head
    // inclusion-exclusion identity on the emitted columns
    assert(got._4 === got._1 + got._2 - got._3)
    // estimates track the exact driver-side shingle sets
    val raw = docs.select($"source", $"text").as[(String, String)].collect()
    def shingles(t: String): Set[String] = {
      val w = t.toLowerCase.split("\\s+").toSeq
      if (w.size < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    // the md5(source)-parity half rule, recomputed independently
    def halfA(src: String): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(src.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 2 == 0
    }
    val (ad, bd) = raw.partition(d => halfA(d._1))
    val sa = ad.iterator.flatMap(d => shingles(d._2)).toSet
    val sb = bd.iterator.flatMap(d => shingles(d._2)).toSet
    val su = sa ++ sb
    def close(est: Long, exact: Int) =
      math.abs(est - exact) <= math.max(2.0, 0.05 * exact)
    assert(close(got._1, sa.size), s"est_a ${got._1} vs ${sa.size}")
    assert(close(got._2, sb.size), s"est_b ${got._2} vs ${sb.size}")
    assert(close(got._3, su.size), s"est_union ${got._3} vs ${su.size}")
    // replay safety: reprocessing the full input as batch 0 twice is a
    // no-op on the estimates (partition overwrite + idempotent union)
    graft.streaming.SketchStream.processOverlapBatch(
      spark.read.parquet(in), s"$root/state", 0L)
    val once = graft.streaming.SketchStream
      .mergedOverlap(spark, s"$root/state")
      .as[(Long, Long, Long, Long)].collect().head
    graft.streaming.SketchStream.processOverlapBatch(
      spark.read.parquet(in), s"$root/state", 0L)
    val twice = graft.streaming.SketchStream
      .mergedOverlap(spark, s"$root/state")
      .as[(Long, Long, Long, Long)].collect().head
    assert(once === twice)
  }

  test("streaming CMS: merged micro-batch partials equal the batch sketch") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-cms")
    val in = s"$root/in"
    val ev = Tables.events(spark, sf)
      .filter($"user_id".isNotNull).select($"user_id")
    // two file drops → two micro-batches (maxFilesPerTrigger = 1)
    ev.filter($"user_id" % 2 === 0).coalesce(1).write.parquet(in)
    ev.filter($"user_id" % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(in)
    val q = graft.streaming.SketchStream.startHeavyHitterStream(
      spark, in, s"$root/state", s"$root/ckpt", maxFilesPerTrigger = Some(1))
    assert(q.awaitTermination(120000))
    assert(spark.read.parquet(s"$root/state")
      .select($"batch_id").distinct().count() >= 2,
      "stream should have produced multiple batch partitions")
    val merged = graft.streaming.SketchStream.mergedCounters(spark, s"$root/state")
      .as[(Int, Long, Long)].collect().toSeq.sorted
    val batch = operators.SketchOps.cmsCounters(ev)
      .as[(Int, Long, Long)].collect().toSeq.sorted
    assert(merged === batch)
    // replay safety: reprocessing a batch overwrites, never
    // double-counts — replaying the FULL input as batch 0 twice leaves
    // batch 0 holding exactly one full-input partial
    graft.streaming.SketchStream.processSketchBatch(
      spark.read.parquet(in), s"$root/state", 0L)
    graft.streaming.SketchStream.processSketchBatch(
      spark.read.parquet(in), s"$root/state", 0L)
    val afterReplay = graft.streaming.SketchStream
      .mergedCounters(spark, s"$root/state")
      .agg(sum($"cnt")).as[Long].head()
    val nOdd = ev.filter($"user_id" % 2 =!= 0).count()
    assert(afterReplay ===
      operators.SketchOps.CmsRows * (ev.count() + nOdd),
      "batch 0 replay must overwrite its own partition")
  }

  test("x31 SQ8 ANN: reported sims are TRUE cosines; ranking is honest") {
    import graft.operators.{CoreQueries, SimilarityOps}
    val got = SimilarityOps.annSq8(spark, sf)
      .as[(Long, Double, Double)].collect()
    assert(got.length === SimilarityOps.TopK)
    // sims must equal the exact cosine of the same pairs (the rerank is
    // exact, only the CANDIDATE set is approximate)
    val exact = CoreQueries.knnCosine(spark, sf)
      .as[(Long, Double)].collect().toMap   // exact top-5 vs vec 0
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val probeE = emb.filter($"vec_id" === 0).select($"e")
      .as[Seq[Double]].head()
    val all = emb.filter($"vec_id" =!= 0).as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val allCos = all.map { case (id, e) =>
      id -> BigDecimal(cos(e, probeE))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble }.toMap
    got.foreach { case (id, est, sim) =>
      assert(math.abs(sim - allCos(id)) < 1e-9, s"sim of $id is not exact")
      // 8-bit quantization error on the estimate is small
      assert(math.abs(est - sim) < 0.05, s"estimate of $id too far off")
    }
    // descending, and the quantized retrieval found real structure:
    // every reported sim is at least the 20th-best exact cosine (the
    // dequantized ranking can only miss by quantization error)
    assert(got.map(-_._3).toSeq === got.map(-_._3).toSeq.sorted)
    val floor20 = allCos.values.toSeq.sorted.reverse.take(
      SimilarityOps.SqCandidates).min
    got.foreach { case (id, _, sim) =>
      assert(sim >= floor20 - 0.05, s"candidate $id far below exact floor") }
    assert(exact.nonEmpty)   // baseline sanity
  }

  test("TrainingDataDemo composes the curation stages coherently") {
    val out = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val (corpus, report) = TrainingDataDemo.run(spark, sf, Some(out))
    val counts = report.toMap
    // stages only ever shrink the corpus
    assert(counts("raw_documents") >= counts("after_gates_and_exact_dedup"))
    assert(counts("after_gates_and_exact_dedup") >=
      counts("after_near_dup_clustering"))
    assert(counts("after_near_dup_clustering") >=
      counts("after_decontamination"))
    assert(counts("after_decontamination") > 0)
    val rows = corpus.select($"doc_id", $"split").as[(Long, String)].collect()
    assert(rows.length.toLong === counts("after_decontamination"))
    // every near-dup cluster contributes AT MOST one survivor (reps are
    // re-picked among gate survivors, so a cluster whose global min-id
    // member failed a gate still keeps exactly one surviving member)…
    val labels = operators.DedupOps.dedupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap   // doc_id -> cluster rep
    rows.map(_._1).groupBy(labels).foreach { case (cluster, ids) =>
      assert(ids.length === 1, s"cluster $cluster kept ${ids.length} docs")
    }
    // …no contaminated doc survived…
    val dirty = operators.DedupOps.contaminationEval(spark, sf)
      .select($"train_id").as[Long].collect().toSet
    rows.foreach { case (id, _) => assert(!dirty(id), s"doc $id contaminated") }
    // …and the written shards partition the corpus by split
    val written = spark.read.parquet(out)
    assert(written.count() === rows.length)
    assert(rows.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("x28 PII redaction: planted PII found and scrubbed") {
    val rows = operators.TextOps.piiRedaction(spark, sf)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, em, ip, ph, fp) =>
      assert(em >= 1, s"planted email missed in doc $id")
      assert(ip >= 1, s"planted ip missed in doc $id")
      assert(ph >= 1, s"planted phone missed in doc $id")
      assert(fp.length === 32)
    }
    // the redacted fingerprint differs from the fingerprint of the
    // AUGMENTED (pre-scrub) text — i.e. the scrub genuinely replaced
    // something; comparing against md5(text) would pass vacuously
    // because the augmentation alone changes the hash
    val aug = Tables.documents(spark, sf)
      .select($"doc_id",
        md5(operators.TextOps.piiAugmented($"text", $"doc_id")))
      .as[(Long, String)].collect().toMap
    rows.foreach { case (id, _, _, _, fp) => assert(fp !== aug(id)) }
  }
}
