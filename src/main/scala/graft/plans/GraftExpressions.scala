package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Custom Catalyst expressions with full codegen for the vector/hash hot
  * paths. The built-in higher-order functions (`aggregate`/`zip_with`/
  * `transform`) express the same semantics but execute interpreted, one
  * lambda dispatch per element — at 100 TB (and even at sf0.1) that is
  * the difference between a tight fused loop and millions of virtual
  * calls. Each expression keeps the exact accumulation order of the HOF
  * formulation it replaces, so oracle hash-matches are unaffected.
  *
  * Exposed to DataFrames via the session FunctionRegistry
  * (`GraftExtensions` at session build, or `register` on a session
  * built without it) + `call_function`, the Spark-4 way to use a
  * custom Expression without private Column constructors.
  */
object GraftExpressions {

  val CosineFn = "graft_cosine"
  val MinHashFn = "graft_minhash"
  val SimHashFn = "graft_simhash"
  val HyperplaneFn = "graft_hyperplane_sig"
  val SignedProjFn = "graft_signed_project"
  val ShinglesFn = "graft_shingles"
  val TopKFn = "graft_topk"
  val LongDotFn = "graft_long_dot"
  val WordSetCountFn = "graft_word_set_count"
  val CharSetCountFn = "graft_char_set_count"
  val BlockHashesFn = "graft_block_hashes"
  val BigramHashesFn = "graft_bigram_hashes"
  val ShingleHashesFn = "graft_shingle_hashes"
  val ZOrderFn = "graft_zorder"
  val BloomAggFn = "graft_bloom_agg"
  val BloomProbeFn = "graft_bloom_might_contain"
  val PhrasePosFn = "graft_phrase_positions"
  val EntropyFn = "graft_entropy_micro"
  val DBucketFn = "graft_dbucket"
  val HistFn = "graft_hist"

  /** Shared guard for the two set-count builders: the set argument must
    * be a constant string (it compiles into the expression). */
  private[plans] def foldableString(e: Expression, fn: String): String = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: the set argument must be a constant string, got ${e.sql}")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: the set argument must be a constant string, got $other")
    }
  }

  /** Constant-int guard, mirroring foldableString: the window width
    * compiles into the expression. Only INTEGRAL constants are accepted
    * — a fractional foldable (2.7, or a DECIMAL(3,1) literal) would
    * otherwise silently truncate to 2 through Number.intValue, the one
    * soft edge in an otherwise strict error path. */
  private[plans] def foldableInt(e: Expression, fn: String): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: the width argument must be a constant integer, got ${e.sql}")
    def fit(v: Long): Int = {
      if (v < Int.MinValue || v > Int.MaxValue)
        throw new IllegalArgumentException(
          s"$fn: constant integer argument out of int range: $v")
      v.toInt
    }
    e.eval() match {
      case n: java.lang.Byte    => n.intValue()
      case n: java.lang.Short   => n.intValue()
      case n: java.lang.Integer => n.intValue()
      case n: java.lang.Long    => fit(n.longValue())
      case d: org.apache.spark.sql.types.Decimal
        if d.toBigDecimal.isWhole => fit(d.toBigDecimal.longValue)
      case other => throw new IllegalArgumentException(
        s"$fn: the width argument must be a constant integer, got $other")
    }
  }

  /** Arity guard shared by every builder below: a wrong argument count
    * fails at analysis time with the function's name, instead of extra
    * arguments being silently ignored by positional access (or missing
    * ones surfacing as an opaque IndexOutOfBoundsException). */
  private def arity(fn: String, es: Seq[Expression], n: Int): Unit =
    if (es.length != n)
      throw new IllegalArgumentException(
        s"$fn expects $n argument(s), got ${es.length}")

  /** Shared graft_topk builder for both registration routes: guards the
    * k argument BEFORE eval() — a non-foldable k (e.g. a column
    * reference) would otherwise surface as an opaque runtime exception
    * from eval() during resolution, bypassing TopKPairs'
    * checkInputDataTypes. */
  private[plans] def buildTopK(es: Seq[Expression]): Expression = {
    val kExpr = es(2)
    if (!kExpr.foldable)
      throw new IllegalArgumentException(
        s"$TopKFn: k must be a constant integer, got non-foldable ${kExpr.sql}")
    kExpr.eval() match {
      case n: Number =>
        val k = n.intValue()
        // small k rides the codegen DeclarativeAggregate (flat buffer →
        // HashAggregateExec, no ObjectHashAggregate sort fallback);
        // larger k keeps the bounded heap. k <= 0 routes to TopKPairs
        // for its build-time require message.
        val fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =
          if (k >= 1 && k <= TopKSmallPairs.MaxK) TopKSmallPairs(es(0), es(1), k)
          else TopKPairs(es(0), es(1), k)
        fn.toAggregateExpression()
      case other => throw new IllegalArgumentException(
        s"$TopKFn: k must be a constant integer, got $other")
    }
  }

  /** (name, usage, builder) for every graft function — the ONE builder
    * table both registration routes share (`register` below and the
    * GraftExtensions injection), so an ad-hoc session and a
    * `spark.sql.extensions` deployment can never build different trees,
    * and every builder carries the same analysis-time arity guard. */
  private[graft] val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    (CosineFn, "cosine similarity of two double arrays (fused codegen loop)",
      es => { arity(CosineFn, es, 2); CosineSimilarity(es(0), es(1)) }),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // own runtime row-level filtering but does NOT register them as SQL
    // functions — these two builders expose the engine-native sketch
    // (single-pass TypedImperativeAggregate build, broadcastable binary,
    // null-safe probe) through the same registry as the graft
    // expressions. Args: (xxhash64 value, est items, num bits).
    (BloomAggFn,
      "engine-native Bloom filter over xxhash64 values (one-pass aggregate)",
      es => { arity(BloomAggFn, es, 3)
        aggregate.BloomFilterAggregate(es(0), es(1), es(2), 0, 0)
          .toAggregateExpression() }),
    (BloomProbeFn, "probe an engine-native Bloom filter binary",
      es => { arity(BloomProbeFn, es, 2)
        BloomFilterMightContain(es(0), es(1)) }),
    (MinHashFn, "128-permutation minhash signature of a long-hash array",
      es => { arity(MinHashFn, es, 1); MinHashSignature(es.head) }),
    (SimHashFn, "64-bit simhash of a token-hash array",
      es => { arity(SimHashFn, es, 1); SimHash64(es.head) }),
    (HyperplaneFn, "random-hyperplane LSH bucket of an integer-quantized vector",
      es => { arity(HyperplaneFn, es, 1); HyperplaneSignature(es.head) }),
    (SignedProjFn,
      "JL ±1 random projection of a double vector to K dims (fused loop)",
      es => { arity(SignedProjFn, es, 1); SignedProjection(es.head) }),
    (LongDotFn, "exact integer dot product of two long arrays",
      es => { arity(LongDotFn, es, 2); LongDotProduct(es(0), es(1)) }),
    (ShinglesFn, "distinct word-3-gram shingles of a token array",
      es => { arity(ShinglesFn, es, 1); WordShingles(es.head) }),
    (TopKFn, "bounded-heap top-k (score, id) pairs per group",
      es => { arity(TopKFn, es, 3); buildTopK(es) }),
    (WordSetCountFn,
      "count of word-char runs matching a constant word set " +
        "(ASCII/RE2 boundary semantics)",
      es => { arity(WordSetCountFn, es, 2)
        WordSetCount(es(0), foldableString(es(1), WordSetCountFn)) }),
    (CharSetCountFn, "count of characters in a constant ASCII char set",
      es => { arity(CharSetCountFn, es, 2)
        CharSetCount(es(0), foldableString(es(1), CharSetCountFn)) }),
    (BlockHashesFn,
      "128-bit content keys of every k-word sliding window of a token array",
      es => { arity(BlockHashesFn, es, 2)
        BlockWindowHashes(es(0), foldableInt(es(1), BlockHashesFn)) }),
    (BigramHashesFn,
      "adjacent word-pair keys of a token array as 64-bit word hashes",
      es => { arity(BigramHashesFn, es, 1); BigramHashes(es.head) }),
    (ShingleHashesFn,
      "distinct word-3-gram shingles of a token array as 64-bit hashes",
      es => { arity(ShingleHashesFn, es, 1); WordShingleHashes(es.head) }),
    (ZOrderFn, "Morton/Z-order interleave of the low 16 bits of two bigints",
      es => { arity(ZOrderFn, es, 2); ZOrderKey(es(0), es(1)) }),
    (PhrasePosFn,
      "1-based start positions where a constant phrase matches adjacently",
      es => { arity(PhrasePosFn, es, 2)
        PhrasePositions(es(0), foldableString(es(1), PhrasePosFn)) }),
    (EntropyFn,
      "code-point Shannon entropy of a string in integer micro-nats",
      es => { arity(EntropyFn, es, 1); CharEntropyMicro(es.head) }),
    (DBucketFn,
      "fixed-grid IEEE-754 sortable bucket id of a double",
      es => { arity(DBucketFn, es, 1); DoubleBucketExpr(es.head) }),
    (HistFn,
      "per-group fixed-grid value histogram (sorted array<struct<b,cnt>>)",
      es => { arity(HistFn, es, 1)
        SortableHist(es.head).toAggregateExpression() }),
  )

  /** Registration for a session built without `GraftExtensions`
    * (`Graft.init`). Idempotent: a name the session's registry already
    * holds — injected by the extension, or registered before — is left
    * as it is, so a call replaces nothing. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, b) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}

object WordSetCount {
  private[plans] def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'
}

/** Count of maximal ASCII word-character runs whose content is in a
  * constant word set — `regexp_count(t, "\\b(w1|…|wn)\\b")` under
  * ASCII-boundary (RE2/DuckDB) semantics: a boundary exists only
  * between an ASCII `[A-Za-z0-9_]` and anything else, so a bounded
  * alternative matches iff an entire run equals it. One fused byte
  * scan replaces the backtracking alternation — the hot stopword
  * counters in the language-ID and quality batteries, where the regex
  * engine is the dominant per-row cost.
  *
  * Boundary fine print: Java's `\b` is Unicode-aware even without
  * UNICODE_CHARACTER_CLASS, so Spark's `regexp_count` declines a match
  * when a set word abuts a non-ASCII LETTER ("日the日"), while RE2 —
  * and therefore the DuckDB oracle — accepts it. This expression
  * implements the RE2 semantics, which REMOVES a latent cross-engine
  * divergence the regex form carried (never fired: the fixture corpus
  * is ASCII, asserted in MultimodalSpec). Equivalence is
  * property-tested in GraftExpressionsSpec: against regexp_count on
  * ASCII strings, and against a byte-level reference on Unicode
  * adjacency. */
case class WordSetCount(child: Expression, wordsCsv: String)
    extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.WordSetCountFn

  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    wordsCsv.split(",").foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(v: Any): Any = {
    val t = v.asInstanceOf[UTF8String]
    val bytes = t.getBytes
    val n = bytes.length
    var count = 0L
    var i = 0
    while (i < n) {
      if (WordSetCount.isWordByte(bytes(i))) {
        val start = i
        while (i < n && WordSetCount.isWordByte(bytes(i))) i += 1
        if (wordSet.contains(UTF8String.fromBytes(bytes, start, i - start)))
          count += 1
      } else i += 1
    }
    count
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val setRef = ctx.addReferenceObj("wordSet", wordSet,
        "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
      val bytes = ctx.freshName("bytes"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val start = ctx.freshName("start")
      val count = ctx.freshName("count"); val b = ctx.freshName("b")
      val isWord = (v: String) =>
        s"(($v >= 'a' && $v <= 'z') || ($v >= 'A' && $v <= 'Z') || " +
          s"($v >= '0' && $v <= '9') || $v == '_')"
      s"""
         |byte[] $bytes = $c.getBytes();
         |int $n = $bytes.length;
         |long $count = 0L;
         |int $i = 0;
         |while ($i < $n) {
         |  byte $b = $bytes[$i];
         |  if (${isWord(b)}) {
         |    int $start = $i;
         |    while ($i < $n && ${s"$bytes[$i]"} >= 0 && ${isWord(s"$bytes[$i]")}) $i++;
         |    if ($setRef.contains(
         |        org.apache.spark.unsafe.types.UTF8String.fromBytes(
         |          $bytes, $start, $i - $start))) $count++;
         |  } else $i++;
         |}
         |${ev.value} = $count;
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Count of characters belonging to a constant ASCII char set —
  * `regexp_count(t, "[c1…cn]")` for ASCII-only sets: in valid UTF-8 an
  * ASCII byte IS the character (continuation bytes are ≥ 0x80), so a
  * byte-table lookup per byte counts exactly the single-char matches.
  * Replaces the regex engine in the punctuation-ratio quality gate. */
case class CharSetCount(child: Expression, chars: String)
    extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.CharSetCountFn

  @transient private lazy val table: Array[Boolean] = {
    val t = new Array[Boolean](128)
    chars.foreach { ch =>
      require(ch < 128, s"$prettyName supports ASCII sets only, got '$ch'")
      t(ch) = true
    }
    t
  }

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var count = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 0 && table(b)) count += 1
      i += 1
    }
    count
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tabRef = ctx.addReferenceObj("charTable", table, "boolean[]")
      val bytes = ctx.freshName("bytes"); val i = ctx.freshName("i")
      val count = ctx.freshName("count"); val b = ctx.freshName("b")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $count = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  byte $b = $bytes[$i];
         |  if ($b >= 0 && $tabRef[$b]) $count++;
         |}
         |${ev.value} = $count;
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Code-point Shannon entropy of a string in integer MICRO-NATS — the
  * x79 quality signal (low = repeated-char junk, high = base64/random
  * blobs; natural language sits ~2.5–3.5 nats). Exactness across
  * engines follows the x48 integer-log discipline: each distinct
  * character's term n_c·ln(n_c) is ROUNDed to micro-nats
  * independently, the per-doc value is the all-BIGINT composition
  * (round(ln(n)·1e6)·n − Σ terms) / n — order-invariant, so a SQL
  * engine summing groups in any order lands on the identical integer.
  * Counts are Unicode CODE POINTS (astral chars count once), matching
  * DuckDB's len()/substring() semantics. One pass per row, no shuffle:
  * the counting runs over a sorted code-point array (Janino-safe —
  * no generics in the generated code). */
case class CharEntropyMicro(child: Expression)
    extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.EntropyFn

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string input, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    CharEntropyMicro.entropyMicro(v.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s"); val len = ctx.freshName("len")
      val cps = ctx.freshName("cps"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val cp = ctx.freshName("cp")
      val sum = ctx.freshName("sum"); val j = ctx.freshName("j")
      val k = ctx.freshName("k"); val nc = ctx.freshName("nc")
      s"""
         |String $s = $c.toString();
         |int $len = $s.length();
         |int[] $cps = new int[$len];
         |int $n = 0;
         |for (int $i = 0; $i < $len; ) {
         |  int $cp = $s.codePointAt($i);
         |  $cps[$n++] = $cp;
         |  $i += Character.charCount($cp);
         |}
         |java.util.Arrays.sort($cps, 0, $n);
         |long $sum = 0L;
         |int $j = 0;
         |while ($j < $n) {
         |  int $k = $j;
         |  while ($k < $n && $cps[$k] == $cps[$j]) $k++;
         |  long $nc = $k - $j;
         |  $sum += Math.round($nc * Math.log((double) $nc) * 1.0E6D);
         |  $j = $k;
         |}
         |${ev.value} = $n == 0 ? 0L
         |  : (Math.round(Math.log((double) $n) * 1.0E6D) * $n - $sum) / $n;
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CharEntropyMicro {
  /** The interpreted twin of the generated loop — byte-identical
    * arithmetic (same sort-and-run counting, same per-term rounding). */
  def entropyMicro(s: String): Long = {
    val len = s.length
    val cps = new Array[Int](len)
    var n = 0
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      cps(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    if (n == 0) return 0L
    java.util.Arrays.sort(cps, 0, n)
    var sum = 0L
    var j = 0
    while (j < n) {
      var k = j
      while (k < n && cps(k) == cps(j)) k += 1
      val nc = (k - j).toLong
      sum += Math.round(nc * Math.log(nc.toDouble) * 1e6)
      j = k
    }
    (Math.round(Math.log(n.toDouble) * 1e6) * n - sum) / n
  }
}

/** Distinct word-k-gram shingles from a token array, first-occurrence
  * order, as space-joined strings — one fused loop replacing
  * `array_distinct(transform(sequence, concat_ws(slice)))`, which costs
  * four interpreted HOF layers per row on the hot dedup paths. */
case class WordShingles(child: Expression, k: Int = 3)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.ShinglesFn

  private def space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  override def nullSafeEval(v: Any): Any = {
    val w = v.asInstanceOf[ArrayData]
    val n = w.numElements()
    val out = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i <= n - k) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = w.getUTF8String(i + j); j += 1 }
      out.add(org.apache.spark.unsafe.types.UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val set = ctx.freshName("set")
      val parts = ctx.freshName("parts")
      val utf8 = "org.apache.spark.unsafe.types.UTF8String"
      s"""
         |int $n = $c.numElements();
         |java.util.LinkedHashSet<$utf8> $set = new java.util.LinkedHashSet<$utf8>();
         |for (int $i = 0; $i <= $n - $k; $i++) {
         |  $utf8[] $parts = new $utf8[$k];
         |  for (int $j = 0; $j < $k; $j++) {
         |    $parts[$j] = $c.getUTF8String($i + $j);
         |  }
         |  $set.add($utf8.concatWs($utf8.fromString(" "), $parts));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($set.toArray());
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Cosine similarity over two double arrays in ONE fused pass (dot and
  * both norms together). Accumulates left-to-right like the sequential
  * `aggregate(zip_with(...))` fold it replaces — bitwise-identical
  * results, so DuckDB oracle parity is preserved. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.CosineFn

  override def nullable: Boolean = true

  /** NULL on length mismatch — the same behavior as the HOF reference
    * (`zip_with` null-pads the shorter array, so the fold yields NULL),
    * and the right answer for corrupt/mixed-dimension data: a truncated
    * similarity would silently mask it. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = $a.getDouble($i);
         |    double $yv = $b.getDouble($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product of two long arrays in one fused loop —
  * the assignment metric of the quantized IVF coarse quantizer. All
  * arithmetic is 64-bit integer (inputs are 1e6-quantized coords, so
  * |a·b| ≤ dim·1e12 ≪ 2^63): order-insensitive, retry-stable, and
  * bit-reproducible in the DuckDB oracle. NULL on length mismatch,
  * like CosineSimilarity. */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = GraftExpressions.LongDotFn

  // strict on BOTH children: an array<double> argument would otherwise
  // be bit-reinterpreted by ArrayData.getLong into garbage dots — the
  // same hazard HyperplaneSignature guards against, and this function
  // is user-reachable as graft_long_dot through both registration
  // routes.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<bigint> arguments of quantized " +
          s"coordinates, got (${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0L; var i = 0
    while (i < n) { dot += x.getLong(i) * y.getLong(i); i += 1 }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $dot;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MinHashSignature {
  val NumHashes = 128
  val Prime = 4294967311L   // smallest prime > 2^32
  // Seeded universal-hash coefficients, a_i,b_i ∈ [1, 2^31): products
  // with 32-bit hash values stay inside signed-64 range.
  val (coefA: Array[Long], coefB: Array[Long]) = {
    val rng = new scala.util.Random(42)
    def draw() = Array.fill(NumHashes)(1L + rng.nextInt(Int.MaxValue - 1).toLong)
    (draw(), draw())
  }
}

/** MinHash signature: for each of 128 seeded permutations, the min of
  * (a_i*x + b_i) mod p over the input set of 32-bit element hashes.
  * Replaces a nested `transform(sequence, transform(...))` pair — the
  * fused loop is O(128·n) multiply-adds with zero allocation until the
  * output array. */
case class MinHashSignature(child: Expression)
    extends UnaryExpression {
  import MinHashSignature._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.MinHashFn

  override def nullSafeEval(v: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val out = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = xs.getLong(i)
      var j = 0
      while (j < NumHashes) {
        val h = (coefA(j) * x + coefB(j)) % Prime
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val aRef = ctx.addReferenceObj("minhashA", coefA, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", coefB, "long[]")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val x = ctx.freshName("x")
      val h = ctx.freshName("h"); val out = ctx.freshName("out")
      s"""
         |int $n = $c.numElements();
         |long[] $out = new long[$NumHashes];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = $c.getLong($i);
         |  for (int $j = 0; $j < $NumHashes; $j++) {
         |    long $h = ($aRef[$j] * $x + $bRef[$j]) % ${Prime}L;
         |    if ($h < $out[$j]) $out[$j] = $h;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** 64-bit SimHash from an array of 64-bit token hashes: per bit,
  * majority vote (+1 if set, −1 if not); bit set in the output iff the
  * vote is positive. Replaces a 64-iteration interpreted `aggregate`
  * per row with one O(64·n) compiled loop. */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.SimHashFn

  override def nullSafeEval(v: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val x = xs.getLong(i)
      var j = 0
      while (j < 64) {
        if (((x >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val x = ctx.freshName("x")
      val votes = ctx.freshName("votes"); val sig = ctx.freshName("sig")
      s"""
         |int $n = $c.numElements();
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = $c.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    if ((($x >>> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($votes[$j] > 0) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BlockWindowHashes {
  /** Two XXH64 runs of the same bytes under different seeds form a
    * 128-bit window key. On RANDOM input the collision bound matches
    * the md5 form (expected collisions at 1e13 windows ≈
    * (1e13)²/2^129 ≈ 1e-13), at ~10× less per-window cost than
    * MessageDigest md5 — but the two seeded outputs are not
    * independent and XXH64 is not adversarially collision-resistant
    * (seed-independent collisions are constructible), so a crafted
    * corpus could force false duplicate windows. Acceptable here
    * because keys are engine-internal (x26 outputs counts only; the
    * DuckDB oracle keeps its own md5 windows) and the nd ≥ 2
    * duplication thresholds bound the blast radius of any single
    * collision; md5 offers no adversarial guarantee either. */
  val SeedLo = 42L
  val SeedHi = 1077L

  /** All k-word sliding-window keys of a token array: each key is the
    * 16-byte big-endian (XXH64_lo ++ XXH64_hi) of the space-joined
    * window text (the shared WindowJoin buffer). One pass, no
    * per-window slice/array_join/UTF8String allocation. Static so the
    * generated code calls straight into compiled bytecode. */
  def compute(w: ArrayData, k: Int): GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val m = w.numElements() - k + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](m)
    var wi = 0
    WindowJoin.foreachWindow(w, k) { (buf, len) =>
      val lo = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, SeedLo)
      val hi = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, SeedHi)
      val key = new Array[Byte](16)
      var b = 0
      while (b < 8) {
        key(b) = (lo >>> (56 - 8 * b)).toByte
        key(8 + b) = (hi >>> (56 - 8 * b)).toByte
        b += 1
      }
      out(wi) = key
      wi += 1
    }
    new GenericArrayData(out)
  }
}

object ZOrderKey {
  /** Bits taken from each coordinate. 16+16 → a 32-bit curve key. */
  val Bits = 16
}

/** Morton (Z-order) interleave of the low 16 bits of two non-negative
  * long coordinates: bit i of x lands at output bit 2i, bit i of y at
  * 2i+1. The clustering key behind multi-dimensional data layout —
  * range-sorting a table by this key co-locates rows that are close in
  * BOTH dimensions, so file-level min/max statistics prune scans on
  * either predicate (the technique behind Delta/Iceberg Z-ordering;
  * the curve math is plain integer bit arithmetic, reproducible in any
  * engine). One fused loop with codegen; elapsed domain is guarded by
  * the caller masking/bucketing, not here (high bits simply do not
  * participate). */
case class ZOrderKey(left: Expression, right: Expression)
    extends BinaryExpression {
  import ZOrderKey.Bits

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.ZOrderFn

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two bigint coordinates, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]; val y = b.asInstanceOf[Long]
    var z = 0L
    var i = 0
    while (i < Bits) {
      z |= ((x >>> i) & 1L) << (2 * i)
      z |= ((y >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val z = ctx.freshName("z"); val i = ctx.freshName("i")
      s"""
         |long $z = 0L;
         |for (int $i = 0; $i < $Bits; $i++) {
         |  $z |= (($a >>> $i) & 1L) << (2 * $i);
         |  $z |= (($b >>> $i) & 1L) << (2 * $i + 1);
         |}
         |${ev.value} = $z;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The shared sliding-window join loop: every k-word window of a token
  * array rendered as space-joined bytes into ONE reusable buffer. The
  * single definition of the hash-input byte layout that both window
  * hashers (BlockWindowHashes, WordShingleHashes) consume — the layout
  * IS their identity contract, so it must not be able to drift between
  * them. */
private[plans] object WindowJoin {
  /** Calls `consume(buf, len)` once per window, in order. The buffer
    * is reused — consumers must not retain it. */
  def foreachWindow(w: ArrayData, k: Int)
                   (consume: (Array[Byte], Int) => Unit): Unit = {
    val n = w.numElements()
    val m = n - k + 1
    if (m <= 0) return
    val words = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { words(i) = w.getUTF8String(i).getBytes; i += 1 }
    var buf = new Array[Byte](256)
    var wi = 0
    while (wi < m) {
      var len = 0
      var j = 0
      while (j < k) {
        val wb = words(wi + j)
        val need = len + wb.length + 1
        if (need > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
        System.arraycopy(wb, 0, buf, len, wb.length)
        len += wb.length
        if (j < k - 1) { buf(len) = ' '; len += 1 }
        j += 1
      }
      consume(buf, len)
      wi += 1
    }
  }
}

object WordShingleHashes {
  /** XXH64 seed for shingle identity hashes. 64 bits is the identity
    * domain every set operation (distinct, intersect, postings join)
    * runs in: two distinct shingles alias with probability ~n²/2^65 —
    * ~3e-9 at a million distinct shingles per compared scope, the same
    * engine-internal-key standard as BlockWindowHashes/BigramHashes
    * (shingle strings never appear in any query output; the DuckDB
    * oracles recompute from the strings). */
  val Seed = 42L

  /** Distinct k-word shingle hashes in first-occurrence order: the
    * shared WindowJoin buffer, one XXH64 per window, deduped by
    * hash. */
  def compute(w: ArrayData, k: Int): GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    WindowJoin.foreachWindow(w, k) { (buf, len) =>
      out.add(XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed))
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }
}

/** Distinct word-k-gram shingles of a token array AS 64-BIT HASHES —
  * the identity-keyed form every shingle consumer (minhash LSH, exact
  * Jaccard verify, contamination postings, repetition gate) computes
  * on. Semantically WordShingles followed by one XXH64 per shingle,
  * fused: the shingle strings are never materialized, so checkpoints,
  * intersects, explodes, and shuffles downstream carry 8-byte longs
  * instead of ~25-byte strings. */
case class WordShingleHashes(child: Expression, k: Int = 3)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.ShingleHashesFn

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> tokens, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    WordShingleHashes.compute(v.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.WordShingleHashes.compute($c, $k);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PhrasePositions {
  /** All 1-based start positions where `phrase` occurs as ADJACENT
    * tokens of `w` — the hot loop of exact phrase search (x67). One
    * fused token-compare scan replaces a `filter(sequence(…), …)`
    * higher-order pipeline: HOF lambdas evaluate interpreted per
    * element (and per phrase term), which measured ~15× slower than
    * this loop at sf0.1. Output order is ascending by construction. */
  def compute(w: ArrayData,
              phrase: Array[org.apache.spark.unsafe.types.UTF8String]): GenericArrayData = {
    val n = w.numElements()
    val k = phrase.length
    val out = new java.util.ArrayList[Integer]()
    var i = 0
    while (i + k <= n) {
      var j = 0
      var ok = true
      while (ok && j < k) {
        val t = w.getUTF8String(i + j)
        if (t == null || !t.equals(phrase(j))) ok = false else j += 1
      }
      if (ok) out.add(i + 1)
      i += 1
    }
    val arr = new Array[Int](out.size)
    var p = 0
    while (p < arr.length) { arr(p) = out.get(p); p += 1 }
    new GenericArrayData(arr)
  }
}

/** 1-based start positions of a constant token phrase inside a token
  * array — `filter(sequence(1, size-k+1), i -> …adjacency…)` fused
  * into one codegen-friendly scan. The phrase is a comma-joined
  * foldable constant (the WordSetCount convention). */
case class PhrasePositions(child: Expression, phraseCsv: String)
    extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.PhrasePosFn

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> tokens, got ${t.simpleString}")
  }

  @transient private lazy val phrase: Array[UTF8String] =
    phraseCsv.split(",").map(UTF8String.fromString)

  override def nullSafeEval(v: Any): Any =
    PhrasePositions.compute(v.asInstanceOf[ArrayData], phrase)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("phrase", phrase,
        "org.apache.spark.unsafe.types.UTF8String[]")
      s"${ev.value} = graft.plans.PhrasePositions.compute($c, $ref);"
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BigramHashes {
  /** XXH64 seed for per-word hashes (any constant; the keys are
    * engine-internal — x27 outputs integer counts/sums only). */
  val Seed = 42L

  def compute(w: ArrayData): GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = w.numElements()
    if (n < 2) return new GenericArrayData(new Array[Any](0))
    // hash each word once, pair neighbors — O(total bytes), not O(2x)
    val h = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = w.getUTF8String(i)
      h(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes, Seed)
      i += 1
    }
    val out = new Array[Any](n - 1)
    i = 0
    while (i < n - 1) {
      out(i) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](h(i), h(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** All adjacent word-pair keys of a token array as 64-bit word hashes —
  * the tokenize+pair stage of the bigram-LM filter (x27), fused into
  * one compiled pass. Replaces `transform(sequence, i -> struct(w[i-1],
  * w[i]))`, which dispatches an interpreted lambda per bigram AND keys
  * the downstream model aggregates/joins by the word STRINGS; with this
  * expression the strings never leave the scan — every shuffle and
  * broadcast in the x27 plan carries only longs. Counts keyed by hash
  * equal counts keyed by word absent 64-bit collisions (expected
  * colliding pairs at 1e9 distinct words ≈ 0.03 — and a collision only
  * perturbs one smoothed denominator of a quality score, not a count
  * the oracle checks at test scale). */
case class BigramHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w1", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("w2", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.BigramHashesFn

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> tokens, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    BigramHashes.compute(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.BigramHashes.compute($c);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** 128-bit content keys for every k-word sliding window of a token
  * array — the hash stage of block-level substring dedup (x26). Fuses
  * `transform(sequence, i -> unhex(md5(array_join(slice(w,i+1,k)))))`
  * (four interpreted HOF layers + an md5 per window, the dominant cost
  * of the x26 plan) into one compiled pass with a reusable buffer. */
case class BlockWindowHashes(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, s"window width must be >= 1, got $k")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.BinaryType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.BlockHashesFn

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> tokens, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    BlockWindowHashes.compute(v.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.BlockWindowHashes.compute($c, $k);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SignedProjection {
  /** Projected dimensionality (SimilarityOps.RpK delegates here). */
  val K = 16
  /** The ±1 sign matrix [k][j] — md5-derived from the coordinates
    * alone (the HyperplaneSignature idiom), so it is a query literal
    * every engine rebuilds bit-identically; the x50 DuckDB oracle
    * recomputes it from the same md5. ONE definition —
    * SimilarityOps.rpSigns is a view of this. */
  lazy val Signs: Array[Array[Double]] =
    Array.tabulate(K, HyperplaneSignature.Dim) { (k, j) =>
      val b0 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp_${j}_$k".getBytes("UTF-8"))(0)
      if (((b0 >> 4) & 1) == 0) 1.0 else -1.0
    }
}

/** x50's JL ±1 random projection as ONE fused loop: all K output
  * coordinates of a Dim-double vector in a single pass, signs baked as
  * a codegen reference object. Replaces the r14 `transform∘aggregate∘
  * zip_with` HOF form, whose per-element interpreted lambdas (K·Dim =
  * 1024 boxed evals per vector) dominated x50's wall at every scale
  * (0.72 s solo at sf0.1, 25.2 s at the 25× rung — the one flagged
  * growth number with a linear output). Arithmetic is IDENTICAL to
  * the HOF form: per k, a left-to-right fold acc += x(j)·sign(k)(j)
  * in ascending j, then ROUND(·, 6) via the same
  * BigDecimal.valueOf∘setScale(HALF_UP) Spark's `round` applies — so
  * the DuckDB hash oracle is unchanged. NULL on dimension mismatch
  * (the CosineSimilarity rule: a truncated projection would silently
  * mask corrupt data). */
case class SignedProjection(child: Expression)
    extends UnaryExpression {
  import SignedProjection._

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = GraftExpressions.SignedProjFn

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${t.simpleString}")
  }

  /** Whether the input array's schema admits null elements. Checked
    * STATICALLY: when false (the common post-cast case) the hot loop
    * carries no per-element branch; when true, a null element yields
    * NULL for the whole projection (the CosineSimilarity rule — a
    * silently-zeroed coordinate would mask corrupt data). */
  private lazy val elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def nullSafeEval(v: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != HyperplaneSignature.Dim) return null
    if (elementsNullable) {
      var j = 0
      while (j < n) { if (xs.isNullAt(j)) return null; j += 1 }
    }
    val out = new Array[Double](K)
    var k = 0
    while (k < K) {
      val row = Signs(k)
      var acc = 0.0
      var j = 0
      while (j < n) { acc += xs.getDouble(j) * row(j); j += 1 }
      out(k) = java.math.BigDecimal.valueOf(acc)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      k += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sRef = ctx.addReferenceObj("rpSigns", Signs, "double[][]")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val k = ctx.freshName("k"); val acc = ctx.freshName("acc")
      val out = ctx.freshName("out"); val row = ctx.freshName("row")
      val nullScan = if (elementsNullable) {
        val z = ctx.freshName("z")
        s"""for (int $z = 0; $z < $n && !${ev.isNull}; $z++) {
           |  if ($c.isNullAt($z)) ${ev.isNull} = true;
           |}""".stripMargin
      } else ""
      s"""
         |int $n = $c.numElements();
         |if ($n != ${HyperplaneSignature.Dim}) {
         |  ${ev.isNull} = true;
         |}
         |$nullScan
         |if (!${ev.isNull}) {
         |  double[] $out = new double[$K];
         |  for (int $k = 0; $k < $K; $k++) {
         |    double[] $row = $sRef[$k];
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $c.getDouble($i) * $row[$i];
         |    }
         |    $out[$k] = java.math.BigDecimal.valueOf($acc)
         |      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HyperplaneSignature {
  val Dim = 64
  val NumPlanes = 8
  /** Coordinate quantization scale: vectors are pre-quantized to
    * round(x·1e6) longs, so the projection below is EXACT integer
    * arithmetic — order-insensitive, retry-stable, and reproducible in
    * any SQL engine (the DuckDB oracle recomputes the same buckets). */
  val Quant = 1e6
  /** md5-derived integer hyperplane weights in [-500, 500], flattened
    * row-major: w(p,i) = md5("p_{p}_{i}")[first 8 hex] % 1001 − 500.
    * md5 is the one hash every engine evaluates identically, which
    * makes the plane matrix itself oracle-reproducible — unlike a
    * JVM-seeded RNG. Integer weights keep every dot product exact
    * (|q·w| ≤ 64·1e6·500 ≈ 3.2e10 ≪ 2^63). */
  val planes: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NumPlanes * Dim) { k =>
      val hex = md.digest(s"p_${k / Dim}_${k % Dim}".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 1001L - 500L
    }
  }
}

/** Random-hyperplane LSH bucket for an INTEGER-QUANTIZED vector
  * (array<long>, coords pre-scaled by round(x·1e6)): bit p = sign of
  * the exact integer dot product with md5-derived plane p. One fused
  * O(planes·dim) loop, no floating point anywhere. */
case class HyperplaneSignature(child: Expression)
    extends UnaryExpression {
  import HyperplaneSignature._

  override def dataType: DataType = LongType
  // strict: a double array passed by mistake would otherwise be
  // bit-reinterpreted by getLong, not cast
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> of round(x*1e6)-quantized " +
        s"coordinates, got ${t.simpleString}")
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = GraftExpressions.HyperplaneFn

  override def nullSafeEval(v: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), Dim)
    var sig = 0L
    var p = 0
    while (p < NumPlanes) {
      var dot = 0L
      var i = 0
      while (i < n) { dot += xs.getLong(i) * planes(p * Dim + i); i += 1 }
      if (dot > 0L) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val pRef = ctx.addReferenceObj("hyperplanes", planes, "long[]")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val p = ctx.freshName("p"); val dot = ctx.freshName("dot")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = java.lang.Math.min($c.numElements(), $Dim);
         |long $sig = 0L;
         |for (int $p = 0; $p < $NumPlanes; $p++) {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $c.getLong($i) * $pRef[$p * $Dim + $i];
         |  }
         |  if ($dot > 0L) $sig |= (1L << $p);
         |}
         |${ev.value} = $sig;
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
