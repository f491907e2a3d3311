package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Non-oracled dedup operators verified against Spark-computed exact
  * baselines (brute force over all pairs — fine at sf0.001 scale). */
class DedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("MinHash-LSH output equals exact all-pairs Jaccard at threshold") {
    val lsh = DedupOps.dedupMinhashLsh(spark, sf)
      .select($"da", $"db", $"jaccard").as[(Long, Long, Double)]
      .collect().toSet

    // brute force: exact jaccard over ALL pairs (no LSH candidate step)
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", split(lower($"text"), "\\s+").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id", expr(
        "array_distinct(transform(sequence(0, size(w)-3), i -> concat_ws(' ', slice(w, i+1, 3))))"
      ).as("s"))
    val a = docs.select($"doc_id".as("da"), $"s".as("sa"))
    val b = docs.select($"doc_id".as("db"), $"s".as("sb"))
    val inter = size(array_intersect($"sa", $"sb")).cast("long")
    val exact = a.crossJoin(b).filter($"da" < $"db")
      .select($"da", $"db",
        round(inter / (size($"sa") + size($"sb") - inter), 4).as("j"))
      .filter($"j" >= DedupOps.JaccardThreshold)
      .as[(Long, Long, Double)].collect().toSet

    assert(lsh === exact)
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
  }

  test("x56 snapshot dedup equals x02 restricted to the snapshot boundary") {
    // the incremental batch-vs-corpus result must be EXACTLY the x02
    // all-pairs result filtered to pairs that straddle the arrival
    // boundary (odd doc_id = new batch, even = existing corpus),
    // reoriented as (new_id, dup_of)
    val all = DedupOps.dedupMinhashLsh(spark, sf)
      .select($"da", $"db", $"jaccard").as[(Long, Long, Double)]
      .collect().toSeq
    val want = all.collect {
      case (a, b, j) if a % 2 != b % 2 =>
        if (a % 2 == 1) (a, b, j) else (b, a, j)
    }.sortBy(r => (r._1, r._2))
    val got = DedupOps.snapshotDedup(spark, sf)
      .select($"new_id", $"dup_of", $"jaccard").as[(Long, Long, Double)]
      .collect().toSeq
    assert(got === want)
    assert(got.nonEmpty, "fixture should have pairs straddling the boundary")
    assert(got.forall { case (n, c, _) => n % 2 == 1 && c % 2 == 0 },
      "never pairs corpus with corpus or batch with batch")
  }

  test("SimHash banded pairs equal brute-force hamming scan") {
    val banded = DedupOps.dedupSimhash(spark, sf)
      .select($"da", $"db", $"hamming").as[(Long, Long, Long)]
      .collect().toSet

    val docWords = Tables.documents(spark, sf)
      .select($"doc_id", split(lower($"text"), "\\s+").as("w"))
    val sigs = DedupOps.simhashSig(docWords)
    val a = sigs.select($"doc_id".as("da"), $"sig".as("siga"))
    val b = sigs.select($"doc_id".as("db"), $"sig".as("sigb"))
    val exact = a.crossJoin(b).filter($"da" < $"db")
      .select($"da", $"db",
        bit_count($"siga".bitwiseXOR($"sigb")).cast("long").as("h"))
      .filter($"h" <= DedupOps.SimhashMaxHamming)
      .as[(Long, Long, Long)].collect().toSet

    assert(banded === exact)
    assert(exact.nonEmpty)
  }

  test("fingerprint is word-order invariant, content sensitive") {
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "fox brown quick the"),     // same multiset
      (3L, "the quick brown wolf"))
      .toDF("doc_id", "text")
      .select($"doc_id", graft.operators.TextOps.fingerprintCol($"text").as("fp"))
      .as[(Long, String)].collect().toMap
    assert(df(1L) === df(2L))
    assert(df(1L) !== df(3L))
  }

  test("near-dup clusters equal union-find over the exact pair graph") {
    val got = DedupOps.dedupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    // driver-side union-find over the same exact pairs
    val pairs = DedupOps.dedupMinhashLsh(spark, sf)
      .select($"da", $"db").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = got.keys.map(d => d -> find(d)).toMap
    assert(got === want)
    // the planted chains collapse transitively (multi-edge components)
    val sizes = got.groupBy(_._2).view.mapValues(_.size)
    assert(pairs.nonEmpty && sizes.values.max >= 3,
      "fixture should contain a component larger than one pair")
  }

  test("x17 served from the artifact ≡ the inline convergence") {
    // label math is exact integer arithmetic, so the materialized
    // artifact must replay the in-plan convergence bit for bit
    val served = DedupOps.dedupClustersServed(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val inline = DedupOps.dedupClusters(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(served === inline)
  }

  test("x57 removal closure equals the takedown list's full clusters") {
    val labels = DedupOps.dedupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    val listed = labels.keySet.filter(_ % DedupOps.RemovalIdStride == 0)
    val badReps = listed.map(labels)
    val want = labels.filter { case (_, rep) => badReps(rep) }
      .keys.toSeq.sorted
      .map(d => (d, labels(d),
        if (d % DedupOps.RemovalIdStride == 0) "listed" else "neardup"))
    val got = DedupOps.removalPropagation(spark, sf)
      .as[(Long, Long, String)].collect().toSeq
    assert(got === want)
    // every listed doc is removed; no survivor shares a cluster with a
    // removed doc (the compliance property)
    val removed = got.map(_._1).toSet
    assert(listed.subsetOf(removed))
    val survivorReps = (labels.keySet -- removed).map(labels)
    assert(survivorReps.intersect(got.map(_._2).toSet).isEmpty)
  }

  test("x57 sweeps near-dups of a listed doc on a planted corpus") {
    // 1 ≈ 2 near-dups; 3 and 4 unrelated. Takedown list = {2, 4}:
    // doc 1 must be swept in as a near-dup, doc 3 must survive.
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val planted = Seq(
      (1L, base),
      (2L, base + " tail"),
      (3L, (1 to 60).map(i => s"y$i").mkString(" ")),
      (4L, (1 to 60).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = DedupOps.removalPropagationOf(planted,
        id => id.isin(2L, 4L))
      .as[(Long, Long, String)].collect().toSeq
    assert(got === Seq((1L, 1L, "neardup"), (2L, 1L, "listed"),
      (4L, 4L, "listed")))
  }

  test("contaminationFrames on distinct frames finds planted leaks only") {
    val w = (1 to 60).map(i => s"w$i")
    val train = Seq(
      (1L, w.mkString(" ")),                          // leak source
      (2L, w.map(_ + "x").mkString(" ")),             // disjoint vocab
      (3L, (1 to 60).map(i => s"z$i").mkString(" "))) // disjoint vocab
      .toDF("doc_id", "text")
    // the eval "benchmark" holds a 40-word prefix of doc 1
    val eval = Seq((100L, w.take(40).mkString(" ")))
      .toDF("doc_id", "text")
    val got = DedupOps.contaminationFrames(train, eval)
      .as[(Long, Long, Long)].collect().toSeq
    // 40-word prefix → 38 shingles, every one shared with (only) doc 1
    assert(got === Seq((1L, 100L, 38L)))
  }

  test("block dedup counts match a driver-side sliding-window recompute") {
    val got = DedupOps.dedupBlocks(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect()
    val wins = Tables.documents(spark, sf)
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
      .flatMap { case (id, t) =>
        val w = t.split("\\s+")
        (0 to w.length - DedupOps.BlockWords)
          .map(i => (id, w.slice(i, i + DedupOps.BlockWords).mkString(" ")))
      }
    val dup = wins.groupBy(_._2).filter(_._2.map(_._1).distinct.length >= 2).keySet
    val ref = wins.groupBy(_._1).map { case (id, ws) =>
      id -> ((ws.length.toLong, ws.count(x => dup(x._2)).toLong))
    }
    assert(got.length === ref.size)
    got.foreach { case (id, n, nd, f) =>
      assert((n, nd) === ref(id), s"window counts for doc $id")
      assert(f === (nd > 0))
    }
    assert(got.map(_._1).toSeq === got.map(_._1).toSeq.sorted)
    assert(got.exists(_._4), "fixture plants cross-doc duplicated blocks")
    assert(got.exists(!_._4))
  }

  test("exact dedup is idempotent: dedup(xs ++ xs) has one row per text") {
    val out = DedupOps.dedupExact(spark, sf)
    assert(out.count() ===
      Tables.documents(spark, sf).select($"text").distinct().count())
    assert(out.filter($"n_copies" =!= 2).count() === 0)
  }

  /** Driver-side reference for the x51 signals (raw gram strings — the
    * Spark side's md5 keys are equal up to collisions). */
  private def refGopher(text: String)
      : Option[(Long, Long, Long, Long, Long, Boolean)] = {
    val w = text.toLowerCase.split("\\s+").toSeq
    if (w.size < 2) return None
    val nToks = w.size.toLong
    val nChars = w.map(_.length.toLong).sum
    val top = w.sliding(2).toSeq.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq
      .minBy { case (g, c) => (-c, g.head, g(1)) }
    val top2 = top._2 * (top._1.head.length + top._1(1).length) * 1000000L / nChars
    val dup5 = if (w.size < 5) 0L else {
      val grams = w.sliding(5).map(_.mkString(" ")).toSeq.zipWithIndex
      val dup = grams.groupBy(_._1).filter(_._2.size >= 2).keySet
      val pos = grams.filter(g => dup(g._1)).map(_._2).sorted
      // gaps-and-islands with k = 5: merge marked positions into
      // maximal covered spans, sum their token lengths
      var total = 0L
      var s = -1; var e = -1
      pos.foreach { p =>
        if (s < 0) { s = p; e = p + 4 }
        else if (p <= e) { e = p + 4 }  // p <= prev_pos + 4 (= e) joins
        else { total += e - s + 1; s = p; e = p + 4 }
      }
      if (s >= 0) total += e - s + 1
      total
    }
    val dup5f = dup5 * 1000000L / nToks
    Some((nToks, nChars, top2, dup5, dup5f,
      top2 > 200000L || dup5f > 150000L))
  }

  test("x51 gopher repetition matches a driver-side recompute on the fixture") {
    val got = DedupOps.gopherRepetition(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect()
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val want = texts.flatMap { case (id, t) =>
      refGopher(t).map(r => id -> r)
    }
    assert(got.length === want.size)
    got.foreach { case (id, n, nc, t2, d5, d5f, f) =>
      assert((n, nc, t2, d5, d5f, f) === want(id), s"doc $id")
    }
    assert(got.exists(_._7), "fixture should flag some repetitive docs")
    assert(got.exists(!_._7))
  }

  test("x51 planted repetition: loops light up both signals exactly") {
    val planted = Seq(
      // 4×(spam ham): top 2-gram (spam,ham) ×4 covers all 28 chars;
      // every 5-gram position repeats → all 8 tokens covered
      (1L, "spam ham spam ham spam ham spam ham"),
      // all-distinct words, long enough that a count-1 top 2-gram
      // stays under the 20% char threshold; no duplicated 5-gram
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
        "juliet kilo lima mike november oscar papa"),
      // repeated phrase separated by unique filler — two islands
      (3L, "one two three four five x1 x2 x3 one two three four five y1 y2 y3")
    ).toDF("doc_id", "text")
    val got = DedupOps.gopherRepetitionOf(planted)
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._4 === 1000000L, "top2 covers every char")
    assert(got(1L)._5 === 8L, "all 8 tokens in duplicated 5-grams")
    assert(got(1L)._7 === true)
    assert(got(2L)._5 === 0L)
    assert(got(2L)._7 === false)
    // doc 3: 'one two three four five' at positions 0 and 8 → two
    // disjoint 5-token islands (gap 8 > 4), 10 tokens covered, 16 total
    assert(got(3L)._5 === 10L)
    assert(got(3L)._6 === 10L * 1000000L / 16L)
    assert(got(3L)._7 === true, "62.5% dup-5-gram coverage must flag")
    // and every planted row agrees with the reference recompute
    planted.as[(Long, String)].collect().foreach { case (id, t) =>
      val r = refGopher(t).get
      val g = got(id)
      assert((g._2, g._3, g._4, g._5, g._6, g._7) === r, s"planted doc $id")
    }
  }

  test("x71 source-overlap matrix equals string-shingle recompute") {
    // independent witness: distinct shingle STRINGS per source via SQL
    // HOFs (no ShingleHashes expression, no collect_set pair fan-out),
    // intersected pairwise on the driver — crosses both the 64-bit
    // hash identity and the in-row pair-combination HOF
    val bySource = Tables.documents(spark, sf)
      .select($"source", split(lower($"text"), "\\s+").as("w"))
      .filter(size($"w") >= 3)
      .select($"source", expr(
        "array_distinct(transform(sequence(0, size(w)-3), i -> concat_ws(' ', slice(w, i+1, 3))))"
      ).as("s"))
      .select($"source", explode($"s").as("sh"))
      .as[(String, String)].collect()
      .groupBy(_._1).map { case (src, rows) => src -> rows.map(_._2).toSet }
    val want = bySource.keys.toSeq.sorted.combinations(2).map {
      case Seq(a, b) => (a, b, (bySource(a) & bySource(b)).size.toLong)
    }.filter(_._3 > 0).toSeq
    val got = DedupOps.sourceOverlapMatrix(spark, sf)
      .as[(String, String, Long)].collect().toSeq
    assert(got === want)
    assert(got.nonEmpty, "fixture sources must share n-grams")

    // x73 from the same independent sets: sizes and Jaccard
    val wantSim = bySource.keys.toSeq.sorted.combinations(2).flatMap {
      case Seq(a, b) =>
        val sh = (bySource(a) & bySource(b)).size.toLong
        val (na, nb) = (bySource(a).size.toLong, bySource(b).size.toLong)
        if (sh > 0)
          Some((a, b, sh, na, nb,
            BigDecimal(sh.toDouble / (na + nb - sh))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        else None
    }.toSeq
    val gotSim = DedupOps.sourceSimilarity(spark, sf)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(gotSim === wantSim)
  }

  test("x71 bitmask fast path ≡ collect_set path; >64-source fallback works") {
    val docs0 = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text")
    // the fixture has ≤64 sources, so overlapMatrixOfDocs takes the
    // mask path — it must equal the collect_set form row for row
    val viaMask = DedupOps.overlapMatrixOfDocs(docs0)
      .as[(String, String, Long)].collect().toSeq
    val viaSet = DedupOps.overlapMatrixFrom(DedupOps.sourcePairsOf(docs0))
      .as[(String, String, Long)].collect().toSeq
    assert(viaMask === viaSet)
    assert(viaMask.nonEmpty)

    // 70 planted sources force the fallback; a shared phrase gives
    // every pair the same known overlap (its 3 distinct 3-grams),
    // and each doc's unique tail shares nothing
    val planted = (0 until 70).map { i =>
      (i.toLong, f"s$i%02d",
        s"common shared overlap phrase here tail$i unique$i")
    }.toDF("doc_id", "source", "text")
    val got = DedupOps.overlapMatrixOfDocs(planted)
      .as[(String, String, Long)].collect().toSeq
    val srcs = (0 until 70).map(i => f"s$i%02d")
    // cross-doc shared shingles = the 3-grams not touching the
    // per-doc tail: "common shared overlap", "shared overlap phrase",
    // "overlap phrase here"
    assert(got.size === srcs.combinations(2).size)
    assert(got.forall(_._3 === 3L), s"got head: ${got.take(3)}")
  }

  test("x71/x73 artifact-served equals the one-shot inline forms") {
    // the materialized overlap artifact (ensureOverlapIndex) must
    // replay bit for bit what the single-query forms compute — the
    // same witness pattern as x66's pageRankInline. Stream parity is
    // OverlapRetentionSpec's: streamed state ≡ sourceOverlapMatrix,
    // which with this test closes artifact ≡ one-shot ≡ stream.
    val served = DedupOps.sourceOverlapMatrix(spark, sf)
      .as[(String, String, Long)].collect().toSeq
    val inline = DedupOps.sourceOverlapMatrixInline(spark, sf)
      .as[(String, String, Long)].collect().toSeq
    assert(served === inline)
    assert(served.nonEmpty)
    val servedSim = DedupOps.sourceSimilarity(spark, sf)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    val inlineSim = DedupOps.sourceSimilarityInline(spark, sf)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(servedSim === inlineSim)
  }

  test("x76 cluster split: one split per component; singletons equal x23's rule") {
    val got = DedupOps.clusterSplit(spark, sf)
      .as[(Long, Long, String)].collect().toSeq
    assert(got.size === Tables.documents(spark, sf).count())
    // leakage safety: a component never straddles splits
    got.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.map(_._3).distinct.size === 1, s"cluster $rep straddles")
    }
    // the fixture has real multi-member clusters, so the property bites
    assert(got.groupBy(_._2).exists(_._2.size > 1))
    // singletons reduce to the per-doc rule bit for bit
    val perDoc = Tables.documents(spark, sf)
      .select($"doc_id",
        graft.operators.TextOps.splitCol($"text").as("split"))
      .as[(Long, String)].collect().toMap
    val singletons = got.groupBy(_._2).filter(_._2.size == 1).values.flatten
    assert(singletons.nonEmpty)
    singletons.foreach { case (id, _, sp) =>
      assert(perDoc(id) === sp, s"singleton $id diverges from x23")
    }
    // and where they diverge, it is exactly the multi-member clusters
    val diverging = got.filter { case (id, _, sp) => perDoc(id) != sp }
    val multi = got.groupBy(_._2).filter(_._2.size > 1)
      .values.flatten.map(_._1).toSet
    assert(diverging.forall(r => multi(r._1)))
  }

  test("x77 canonical pick: one survivor per cluster, best quality, exact sizes") {
    val labels = DedupOps.dedupClustersServed(spark, sf)
      .as[(Long, Long)].collect().toMap                 // doc -> rep
    val quality = graft.operators.TextOps.scoredDocs(spark, sf)
      .select($"doc_id", $"q_micro").as[(Long, Long)].collect().toMap
    val got = DedupOps.clusterCanonical(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq

    val clusters = labels.groupBy(_._2)                 // rep -> members
    assert(got.size === clusters.size, "exactly one survivor per cluster")
    got.foreach { case (id, rep, q, n) =>
      val members = clusters(rep).keys.toSeq
      assert(members.contains(id))
      assert(n === members.size.toLong, s"cluster $rep size")
      assert(q === quality(id))
      // the survivor is the (max quality, min doc_id) member
      val best = members.map(m => (quality(m), m))
        .sortBy { case (qm, m) => (-qm, m) }.head._2
      assert(id === best, s"cluster $rep kept $id, expected $best")
    }
    // the property bites: some multi-member cluster drops a member
    assert(clusters.exists(_._2.size > 1))
    assert(got.map(_._4).sum === labels.size.toLong,
      "sum of n_members replays the corpus count")
  }

  test("x05 bucketed pairs ≡ brute-force (hamming ≤ radius ∧ sim ≥ τ)") {
    // the multiprobe mask-explode equi-join must implement EXACTLY its
    // declared candidate rule: all pairs within signature-hamming
    // ProbeRadius, exact-cosine verified — computed here by brute force
    // over all N² pairs with the SAME signature expression
    import graft.operators.{SimilarityOps, CoreQueries}
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      .withColumn("bucket", SimilarityOps.lshSignature($"e"))
    val a = emb.select($"vec_id".as("va"), $"e".as("ea"), $"bucket".as("ba"))
    val b = emb.select($"vec_id".as("vb"), $"e".as("eb"), $"bucket".as("bb"))
    val brute = a.crossJoin(b)
      .filter($"va" < $"vb")
      .filter(bit_count($"ba".bitwiseXOR($"bb")) <= SimilarityOps.ProbeRadius)
      .select($"va", $"vb",
        round(CoreQueries.cosine($"ea", $"eb"), 4).as("sim"))
      .filter($"sim" >= DedupOps.CosineThreshold)
      .as[(Long, Long, Double)].collect().toSet
    val bucketed = DedupOps.dedupEmbedding(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(bucketed === brute)
    assert(bucketed.nonEmpty, "fixture should contain bucketed near-dups")
  }

  test("x05 coverage: crafted near-dup pairs at cosine ≈ 1 are ALL caught") {
    // Non-vacuous completeness pin: at HIGH similarity the bucket rule
    // is effectively complete (hamming concentrates near 0), which is
    // the regime real dup clusters (verbatim + trivially-edited copies)
    // live in. τ-marginal pairs (sim ≈ 0.4, 66°) are NOT coverable by
    // any sub-quadratic blocking — measured on the sf0.01 fixture the
    // 59 all-pairs matches spread over hamming 0–6 — which is why x05's
    // declared semantics is candidates-then-verify, not all-pairs.
    val n = 40
    val dim = graft.plans.HyperplaneSignature.Dim
    def base(i: Int): Array[Double] =
      Array.tabulate(dim)(j =>
        (((i * 1315423911L + j * 2654435761L) % 1000L) - 500L) / 500.0)
    val rows =
      (0 until n).map { i => (i.toLong, base(i).toSeq) } ++
      (0 until n).map { i =>
        val v = base(i); v(i % dim) += 1e-4; (i + 1000L, v.toSeq) }
    val emb0 = rows.toDF("vec_id", "e")
      .select($"vec_id", $"e".cast("array<double>").as("e"))
    val got = DedupOps.dedupEmbeddingFrame(spark, emb0)
      .select($"va", $"vb").as[(Long, Long)].collect().toSet
    val want = (0 until n).map(i => (i.toLong, i + 1000L)).toSet
    assert(want.subsetOf(got),
      s"missed crafted near-dup pairs: ${(want -- got).toSeq.sorted}")
  }

  test("x80 blocked witness agrees with x05 on shared pairs") {
    // the exact label-blocked twin and the bucketed default compute the
    // same cosine for any pair both report (same rounding, same order)
    val blocked = DedupOps.dedupEmbeddingBlocked(spark, sf)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val bucketed = DedupOps.dedupEmbedding(spark, sf)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val shared = blocked.keySet intersect bucketed.keySet
    shared.foreach { k => assert(blocked(k) === bucketed(k)) }
    assert(blocked.nonEmpty, "fixture should have same-label near-dups")
  }

  test("x78 novelty equals a string-shingle driver recompute") {
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
    val sets = docs.map { case (id, t) =>
        (id, t.split("\\s+").toSeq) }
      .filter(_._2.size >= 3)
      .map { case (id, w) =>
        (id, w.sliding(3).map(_.mkString(" ")).toSet) }
    val owners = scala.collection.mutable.Map.empty[String, Long]
    sets.foreach { case (_, s) => s.foreach(sh =>
      owners(sh) = owners.getOrElse(sh, 0L) + 1L) }
    val expected = sets.map { case (id, s) =>
      val novel = s.count(owners(_) == 1L).toLong
      (id, s.size.toLong, novel, novel * 1000000L / s.size) }.toSet

    val got = DedupOps.noveltyScores(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === expected)
    // the metric discriminates on the fixture: both ends populated
    assert(got.exists(_._4 === 0L) || got.exists(r => r._4 < 500000L))
    assert(got.exists(_._4 > 500000L))
  }
}
