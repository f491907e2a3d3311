package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.CoreQueries
import graft.plans.GraftExpressions

/** Cross-validation of the custom codegen expressions against their
  * interpreted higher-order-function formulations: same math, same
  * accumulation order, bitwise-equal results (NO rounding here). */
class GraftExpressionsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("CosineSimilarity expression ≡ HOF fold, bitwise, on real vectors") {
    GraftExpressions.register(spark)
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val q = emb.filter($"vec_id" === 0).select($"e".as("qe"))
    val both = emb.crossJoin(broadcast(q))
      .select(
        call_function(GraftExpressions.CosineFn, $"e", $"qe").as("expr_sim"),
        CoreQueries.cosineSimHof($"e", $"qe").as("hof_sim"))
    assert(both.filter($"expr_sim" =!= $"hof_sim").count() === 0)
  }

  test("CosineSimilarity works in both codegen and interpreted eval") {
    GraftExpressions.register(spark)
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0)), (Seq(1.0, 0.0), Seq(0.0, 1.0)))
      .toDF("a", "b")
      .select(call_function(GraftExpressions.CosineFn, $"a", $"b").as("s"))
    assert(df.as[Double].collect().toSeq === Seq(1.0, 0.0))
  }

  test("CosineSimilarity is NULL on mismatched dimensions (like the HOF)") {
    GraftExpressions.register(spark)
    val df = Seq((Seq(1.0, 0.0), Seq(1.0)))
      .toDF("a", "b")
      .select(call_function(GraftExpressions.CosineFn, $"a", $"b").as("s"),
              CoreQueries.cosineSimHof($"a", $"b").as("h"))
    val r = df.head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("MinHashSignature matches a reference scala implementation") {
    GraftExpressions.register(spark)
    import graft.plans.MinHashSignature.{coefA, coefB, NumHashes, Prime}
    val hashes = Seq(12L, 987654321L, 42L, 4294967295L)
    val got = Seq(Tuple1(hashes)).toDF("hs")
      .select(call_function(GraftExpressions.MinHashFn, $"hs"))
      .as[Seq[Long]].head()
    val want = (0 until NumHashes).map { j =>
      hashes.map(x => (coefA(j) * x + coefB(j)) % Prime).min
    }
    assert(got === want)
  }

  test("SimHash64 matches a reference scala implementation") {
    GraftExpressions.register(spark)
    val hashes = Seq(0x0f0f0f0f0f0f0f0fL, 0x00ff00ff00ff00ffL, -1L)
    val got = Seq(Tuple1(hashes)).toDF("hs")
      .select(call_function(GraftExpressions.SimHashFn, $"hs"))
      .as[Long].head()
    var want = 0L
    (0 until 64).foreach { j =>
      val votes = hashes.map(x => if (((x >>> j) & 1L) == 1L) 1 else -1).sum
      if (votes > 0) want |= (1L << j)
    }
    assert(got === want)
  }

  test("LongDotProduct: exact integer dot, NULL on length mismatch") {
    GraftExpressions.register(spark)
    val df = Seq((Seq(1000000L, -2000000L), Seq(3L, 4L)),
                 (Seq(1L, 2L), Seq(1L)))
      .toDF("a", "b")
      .select(call_function(GraftExpressions.LongDotFn, $"a", $"b").as("d"))
    val rows = df.collect()
    assert(rows(0).getLong(0) === -5000000L)
    assert(rows(1).isNullAt(0))
  }

  test("WordSetCount/CharSetCount ≡ regexp_count on ASCII strings") {
    GraftExpressions.register(spark)
    val words = "the,a,of,and,to,is,in,it"
    val stopRe = "\\b(the|a|of|and|to|is|in|it)\\b"
    // adversarial ASCII vocabulary: set words embedded in longer runs,
    // glued to digits/underscores (word chars — must NOT match),
    // punctuation/space neighbors (must bound a match), empties
    val pieces = Seq("the", "a", "of", "xthe", "the_", "_the", "a1",
      "1a", "it,", ".is.", "it", "to", "", "and", "of!of", "a-a",
      "the  the", "is\tof", "THE", "The")
    val rng = new scala.util.Random(11)
    val docs = (0 until 300).map { i =>
      (i.toLong, Seq.fill(rng.nextInt(12))(
        pieces(rng.nextInt(pieces.length))).mkString(
          Seq(" ", "", ",", "-").apply(rng.nextInt(4))))
    }
    val df = docs.toDF("id", "t").select($"id",
      call_function(GraftExpressions.WordSetCountFn, $"t", lit(words)).as("w"),
      regexp_count($"t", lit(stopRe)).cast("long").as("wre"),
      call_function(GraftExpressions.CharSetCountFn, $"t", lit(".,;:!?")).as("c"),
      regexp_count($"t", lit("[.,;:!?]")).cast("long").as("cre"))
    df.collect().foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"word mismatch id=${r.getLong(0)}")
      assert(r.getLong(3) === r.getLong(4), s"char mismatch id=${r.getLong(0)}")
    }
  }

  test("WordSetCount uses RE2/DuckDB ASCII boundaries on Unicode neighbors") {
    GraftExpressions.register(spark)
    val words = "the,a,it"
    // Java's \b is Unicode-aware (declines "日the日"); RE2 — and hence
    // the DuckDB oracle — treats non-ASCII as a boundary and accepts
    // it. The expression must follow RE2: reference = byte-level scan.
    def ref(t: String): Long = {
      val bytes = t.getBytes("UTF-8")
      val set = words.split(",").toSet
      var i = 0; var n = 0L
      def w(b: Byte) = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9') || b == '_'
      while (i < bytes.length) {
        if (w(bytes(i))) {
          val s0 = i
          while (i < bytes.length && w(bytes(i))) i += 1
          if (set(new String(bytes, s0, i - s0, "UTF-8"))) n += 1
        } else i += 1
      }
      n
    }
    val cases = Seq("日the日", "thé", "словit", "…a…", "éaé", "aé",
      "the日it", "日 the 日", "日a1日")
    val got = cases.toDF("t")
      .select($"t", call_function(GraftExpressions.WordSetCountFn,
        $"t", lit(words)).as("n"))
      .as[(String, Long)].collect().toMap
    cases.foreach(t => assert(got(t) === ref(t), s"'$t'"))
    // and the divergence is real: the RE2 rule accepts this, Java's \b
    // (regexp_count) does not — pin both so the doc-comment stays true
    assert(got("日the日") === 1L)
    val javaRe = cases.toDF("t")
      .select($"t", regexp_count($"t",
        lit("\\b(the|a|it)\\b")).cast("long").as("n"))
      .as[(String, Long)].collect().toMap
    assert(javaRe("日the日") === 0L)
  }

  test("LongDotProduct rejects un-quantized (double) input cleanly") {
    GraftExpressions.register(spark)
    val err = intercept[Exception] {
      Tables.embeddings(spark, sf)
        .select(call_function(GraftExpressions.LongDotFn,
          $"embedding".cast("array<double>"),
          $"embedding".cast("array<double>")))
        .collect()
    }
    assert(err.getMessage.contains("array<bigint>"))
  }

  test("HyperplaneSignature rejects un-quantized (double) input cleanly") {
    GraftExpressions.register(spark)
    val err = intercept[Exception] {
      Tables.embeddings(spark, sf)
        .select(call_function(GraftExpressions.HyperplaneFn,
          $"embedding".cast("array<double>")))
        .collect()
    }
    assert(err.getMessage.contains("array<bigint>"))
  }

  test("hyperplane weights are md5-derived, bounded, and dispersive") {
    import graft.plans.HyperplaneSignature.{planes, NumPlanes, Dim}
    assert(planes.length === NumPlanes * Dim)
    assert(planes.forall(w => w >= -500 && w <= 500))
    assert(planes.distinct.length > 100)   // not degenerate
    // spot-check one weight against a from-scratch md5 derivation
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("p_0_0".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    assert(planes(0) === java.lang.Long.parseLong(hex, 16) % 1001L - 500L)
  }

  test("HyperplaneSignature is stable and within plane-count bits") {
    GraftExpressions.register(spark)
    val sigs = Tables.embeddings(spark, sf)
      .select(graft.operators.SimilarityOps.lshSignature(
        $"embedding".cast("array<double>")).as("sig"))
      .as[Long].collect()
    assert(sigs.forall(sg => sg >= 0 &&
      sg < (1L << graft.plans.HyperplaneSignature.NumPlanes)))
    assert(sigs.distinct.length > 1)   // actually disperses
  }

  test("BlockWindowHashes keys window TEXT: equal iff window words equal") {
    GraftExpressions.register(spark)
    // real corpus text through the Spark path, recomputed driver-side
    // with an independent formulation (explicit join + two XXH64 calls)
    val k = graft.operators.DedupOps.BlockWords
    val rows = Tables.documents(spark, sf)
      .select($"doc_id", split(lower($"text"), "\\s+").as("w"))
      .filter(size($"w") >= k)
      .select($"doc_id", $"w",
        call_function(GraftExpressions.BlockHashesFn, $"w", lit(k)).as("h"))
      .as[(Long, Seq[String], Seq[Array[Byte]])].collect()
    assert(rows.nonEmpty)
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.sql.catalyst.expressions.XXH64
    def ref(win: String): Seq[Byte] = {
      val b = win.getBytes("UTF-8")
      def h(seed: Long) = XXH64.hashUnsafeBytes(
        b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
      val lo = h(graft.plans.BlockWindowHashes.SeedLo)
      val hi = h(graft.plans.BlockWindowHashes.SeedHi)
      (0 until 8).map(i => (lo >>> (56 - 8 * i)).toByte) ++
        (0 until 8).map(i => (hi >>> (56 - 8 * i)).toByte)
    }
    rows.foreach { case (id, w, hs) =>
      assert(hs.length === w.length - k + 1, s"window count for doc $id")
      hs.zipWithIndex.foreach { case (got, i) =>
        assert(got.toSeq === ref(w.slice(i, i + k).mkString(" ")),
          s"doc $id window $i")
      }
    }
  }

  test("BigramHashes pairs neighbors: h(w[i]), h(w[i+1]) per position") {
    GraftExpressions.register(spark)
    val rows = Tables.documents(spark, sf)
      .select(split(lower($"text"), "\\s+").as("w"))
      .filter(size($"w") >= 2)
      .select($"w",
        call_function(GraftExpressions.BigramHashesFn, $"w").as("p"))
      .as[(Seq[String], Seq[(Long, Long)])].collect()
    assert(rows.nonEmpty)
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.sql.catalyst.expressions.XXH64
    def h(s: String): Long = {
      val b = s.getBytes("UTF-8")
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length,
        graft.plans.BigramHashes.Seed)
    }
    rows.foreach { case (w, ps) =>
      assert(ps.length === w.length - 1)
      ps.zipWithIndex.foreach { case ((a, b), i) =>
        assert(a === h(w(i)) && b === h(w(i + 1)), s"bigram at $i")
      }
    }
    // equal words hash equal, distinct words distinct (fixture-wide)
    val byWord = rows.flatMap { case (w, ps) =>
      w.init.zip(ps.map(_._1)) ++ Seq(w.last -> ps.last._2) }
    byWord.groupBy(_._1).foreach { case (word, hs) =>
      assert(hs.map(_._2).distinct.length === 1, s"unstable hash for $word")
    }
    assert(byWord.map(_._2).distinct.length === byWord.map(_._1).distinct.length,
      "collision among fixture words")
  }

  test("BlockWindowHashes: short arrays yield no windows; width guarded") {
    GraftExpressions.register(spark)
    val got = Seq(Tuple1(Seq("a", "b"))).toDF("w")
      .select(call_function(GraftExpressions.BlockHashesFn, $"w", lit(8)))
      .as[Seq[Array[Byte]]].head()
    assert(got.isEmpty)
    val err = intercept[Exception] {
      Seq(Tuple1(Seq(1L))).toDF("w")
        .select(call_function(GraftExpressions.BlockHashesFn, $"w", lit(8)))
        .collect()
    }
    assert(err.getMessage.contains("array<string>"))
  }

  test("PhrasePositions ≡ the filter(sequence) HOF form on the corpus") {
    GraftExpressions.register(spark)
    val phrase = Seq("window", "fast", "query")
    val cond = phrase.zipWithIndex.map { case (t, j) =>
      s"element_at(toks, CAST(i + $j AS INT)) = '$t'" }.mkString(" AND ")
    val toks = Tables.documents(spark, sf)
      .select(filter(split(lower($"text"), "\\s+"), _ =!= "").as("toks"))
    val both = toks.select(
      call_function(GraftExpressions.PhrasePosFn,
        $"toks", lit(phrase.mkString(","))).as("got"),
      expr(s"""CASE WHEN size(toks) >= 3 THEN
              |  filter(sequence(1, size(toks) - 2), i -> $cond)
              |ELSE CAST(array() AS ARRAY<INT>) END""".stripMargin).as("want"))
    assert(both.filter(not($"got" <=> $"want")).count() === 0)
    // edge cases: short arrays, phrase at the very start/end, repeats
    val edge = Seq(
      Seq("window", "fast"),                                  // too short
      Seq("window", "fast", "query"),                         // exact fit
      Seq("x", "window", "fast", "query"),                    // at end
      Seq("window", "fast", "query", "window", "fast", "query")) // repeats
      .map(Tuple1(_)).toDF("toks")
    val got = edge.select(call_function(GraftExpressions.PhrasePosFn,
      $"toks", lit(phrase.mkString(",")))).as[Seq[Int]].collect().toSeq
    assert(got === Seq(Seq(), Seq(1), Seq(2), Seq(1, 4)))
  }

  test("CharEntropyMicro ≡ interpreted helper on the corpus; known values") {
    GraftExpressions.register(spark)
    // corpus sweep: the codegen path (whole-stage over the parquet
    // scan) must equal the interpreted helper applied driver-side
    val got = Tables.documents(spark, sf)
      .select($"doc_id", $"text",
        call_function(GraftExpressions.EntropyFn, $"text").as("e"))
      .as[(Long, String, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, text, e) =>
      assert(e === graft.plans.CharEntropyMicro.entropyMicro(text), s"doc $id")
    }
    // known values: empty → 0; single repeated char → ~0 (within the
    // per-term rounding ulp); all-distinct → round(ln n · 1e6) exactly;
    // astral chars count ONCE (code points, not UTF-16 units)
    val known = Seq("", "aaaa", "abcd", "🙂🙃")
      .toDF("t").select(call_function(GraftExpressions.EntropyFn, $"t"))
      .as[Long].collect().toSeq
    assert(known(0) === 0L)
    assert(math.abs(known(1)) <= 1L)
    assert(known(2) === math.round(math.log(4) * 1e6))
    assert(known(3) === math.round(math.log(2) * 1e6),
      "two distinct emoji = ln(2), counting code points")
    // the signal separates the tails on constructed docs
    val tails = Seq("the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
      "QmFzZTY0IGJsb2JzIGFyZSBoaWdoIGVudHJvcHkhISEhIQ==0123456789zyxwvu")
      .toDF("t").select(call_function(GraftExpressions.EntropyFn, $"t"))
      .as[Long].collect().toSeq
    assert(tails(1) < graft.operators.TextOps.LowEntropyMicro)
    assert(tails(0) > graft.operators.TextOps.LowEntropyMicro &&
      tails(0) < graft.operators.TextOps.HighEntropyMicro)
    assert(tails(2) > tails(0), "encoded blob reads higher than prose")
  }
}
