package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING and APPLICATION (Sennrich et al., ACL 2016)
  * — the iterated form of x46's single pair-count round.
  *
  * Scale contract (the reason BPE is corpus-feasible at all, and the
  * same shape x46 documents): the ONLY corpus-sized work is one
  * word-frequency aggregate (map-side combined, shuffle carries
  * distinct words). Every training round after that — pair counting,
  * argmax, merge application — runs on the DISTINCT-WORD vocabulary,
  * Heaps'-law sized, orders of magnitude smaller than the corpus.
  * Application (segmentation) is again vocab-sized: each distinct
  * word is segmented once and the corpus joins the segmentation table
  * on the word — no per-occurrence re-derivation.
  *
  * The merge pick is deterministic (count DESC, pair ASC — x46's
  * rule) and the picked pair rides a one-row broadcast into the merge
  * lambda, so no data-dependent value touches the driver during
  * training. */
object BpeOps {

  /** The x46 word rule, in ONE place (x46's pair count, training's
    * vocabulary, and segmentation all tokenize through here):
    * (`keep`..., word) rows — lowercased whitespace words, ≥ 2 chars. */
  private[graft] def wordRows(docsFrame: DataFrame, keep: Column*): DataFrame = {
    val s = docsFrame.sparkSession
    import s.implicits._
    docsFrame
      .select(keep :+ explode(split(lower(trim($"text")), "\\s+")).as("word"): _*)
      .filter(length($"word") >= 2)
  }

  /** (word, freq) — the weighted vocabulary training iterates on. */
  private[graft] def vocabOf(docsFrame: DataFrame): DataFrame = {
    val s = docsFrame.sparkSession
    import s.implicits._
    wordRows(docsFrame).groupBy($"word").agg(count(lit(1)).as("freq"))
  }

  /** word → its character symbols (`col` is a column NAME). */
  private def charsCol(col: String): Column =
    expr(s"transform(sequence(1, length($col)), i -> substring($col, i, 1))")

  /** Greedy left-to-right application of ONE merge (a, b) to a symbol
    * array — the classic BPE replace pass as a fold: append, or fuse
    * with the previous symbol when (prev, cur) = (a, b). After a fuse
    * the new tail a||b can itself pair with the NEXT symbol only via
    * a later round, exactly like the reference algorithm's scan.
    * When a round has no pair at all (training converged), the left
    * join below leaves a/b NULL, the WHEN predicate is never true,
    * and the fold is the identity — the vocabulary rides through
    * unchanged instead of being annihilated by an empty join. */
  private val applyMergeExpr: String =
    """aggregate(syms, CAST(array() AS ARRAY<STRING>),
      |  (acc, x) -> CASE
      |    WHEN size(acc) > 0 AND element_at(acc, -1) = a AND x = b
      |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(a, b)))
      |    ELSE concat(acc, array(x)) END)""".stripMargin

  /** The full trained tokenizer applied to one word: fold the learned
    * merges over the word's character symbols IN PICK ORDER — each
    * step the same greedy pass as [[applyMergeExpr]]. Training applies
    * merge r to every vocab word before counting round r+1, so this
    * fold reproduces the trained segmentation exactly for any word the
    * trainer saw — and extends it consistently to words it did not
    * (Sennrich's open-vocabulary application). Expects `ms`, an
    * array<struct<round,a,b>> sorted by round, in scope. */
  private val applyAllMergesExpr: String =
    """aggregate(ms,
      |  transform(sequence(1, length(word)), i -> substring(word, i, 1)),
      |  (sy, m) -> aggregate(sy, CAST(array() AS ARRAY<STRING>),
      |    (acc, x) -> CASE
      |      WHEN size(acc) > 0 AND element_at(acc, -1) = m.a AND x = m.b
      |      THEN concat(slice(acc, 1, size(acc) - 1), array(concat(m.a, m.b)))
      |      ELSE concat(acc, array(x)) END))""".stripMargin

  /** Train `nMerges` BPE merges over a (doc_id, text) frame. Returns
    * (merges, segmented vocabulary):
    *
    *  - merges: (round, a, b, n) — the learned merge table in pick
    *    order, the artifact a tokenizer ships. Rounds past the
    *    corpus's last mergeable pair contribute NO row (the table
    *    simply stops growing — converged training is not an error);
    *  - vocab:  (word, freq, syms) — every distinct word's final
    *    segmentation under those merges.
    *
    * Each round: count adjacent symbol pairs weighted by word freq
    * (vocab-sized aggregate; fully-merged single-symbol words are
    * filtered out — they have no pairs, and the filter is what keeps
    * `sequence(1, size-1)` ascending), pick the max (count DESC, pair
    * ASC), broadcast the one-row pick, fuse it everywhere. The
    * per-round checkpoint bounds lineage — rounds are sequential by
    * nature (merge r+1 counts pairs that exist only after merge r). */
  def bpeTrain(docsFrame: DataFrame,
               nMerges: Int): (DataFrame, DataFrame) =
    bpeTrainFromVocab(vocabOf(docsFrame), nMerges)

  /** Train from an ALREADY-AGGREGATED (word, freq) vocabulary — the
    * entry the incrementally-maintained streaming vocab serves
    * (training's one corpus-sized stage is exactly this aggregate, so
    * a maintained vocab makes tokenizer retraining corpus-scan-free). */
  def bpeTrainFromVocab(vocabFrame: DataFrame,
                        nMerges: Int): (DataFrame, DataFrame) = {
    val s = vocabFrame.sparkSession
    import s.implicits._
    var vocab = vocabFrame
      .select($"word", $"freq", charsCol("word").as("syms"))
      .localCheckpoint(false)
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 0 until nMerges) {
      val top = vocab
        .filter(size($"syms") >= 2)
        .select($"freq", explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS a,
            |              element_at(syms, i + 1) AS b))""".stripMargin))
          .as("p"))
        .groupBy($"p.a", $"p.b").agg(sum($"freq").as("n"))
        .orderBy($"n".desc, $"a", $"b").limit(1)
        .withColumn("round", lit(r.toLong))
        .localCheckpoint(false)
      merges += top
      // left cross join, NOT crossJoin: an empty `top` (converged
      // corpus) must leave the vocabulary intact, not annihilate it
      vocab = vocab.join(broadcast(top.select($"a", $"b")), lit(true), "left")
        .select($"word", $"freq", expr(applyMergeExpr).as("syms"))
        .localCheckpoint(false)
    }
    val mergeTable = merges.result()
      .reduceOption(_ unionAll _)
      .map(_.select($"round", $"a", $"b", $"n"))
      .getOrElse(s.emptyDataFrame
        .select(lit(0L).as("round"), lit("").as("a"), lit("").as("b"),
          lit(0L).as("n")).limit(0))
    (mergeTable, vocab)
  }

  /** Row cap for the segmentation broadcasts: a row carries the word
    * plus its symbol array (~500 B hashed at web-text word lengths), so
    * 4M rows ≈ 2 GiB, 4× under Spark's 8 GiB broadcast cap. The counted
    * pin stays here because it measured faster than leaving the joins
    * to AQE: BpeSegmentRun `segment_sec` medians, pinned against
    * unpinned, 10 alternating pairs each, 1.470 against 1.415 s at
    * sf0.1 and 1.902 against 2.666 s (0 of 10 pairs won unpinned) at
    * the 5× corpus (the counted-pins sweep under dev/sweeps/). */
  val SegBroadcastMaxWords = 4000000L

  /** Segment a (doc_id, text) corpus with a TRAINED tokenizer
    * (`merges`, `trainedVocab` — bpeTrain's two outputs): the corpus's
    * distinct words join the vocab segmentation (each word segmented
    * once, at training time); out-of-vocabulary words get the SAME
    * learned merges applied to their character symbols, in pick order
    * — Sennrich's open-vocabulary application, so an unseen word
    * segments exactly as it would have had it been in the training
    * corpus (each distinct OOV word is segmented once, then joined —
    * no per-occurrence re-derivation). Output: (doc_id, word, syms)
    * per word occurrence.
    *
    * Scale shape: the vocab and segmentation tables are word-TYPE-
    * proportional — Heaps' law puts web-scale type counts at 10⁸–10⁹
    * (inflated by URLs and typos) — so neither is assumed broadcastable:
    * the trained vocab and the segmentation table are each counted
    * ([[CountedHint]]) and pinned as broadcasts only under
    * [[SegBroadcastMaxWords]]; above it both joins shuffle on `word`.
    * The merge list stays a one-row broadcast — bounded by
    * construction (nMerges rows folded into one array). */
  def bpeSegment(docsFrame: DataFrame, merges: DataFrame,
                 trainedVocab: DataFrame): DataFrame = {
    val s = docsFrame.sparkSession
    import s.implicits._
    val words = wordRows(docsFrame, $"doc_id")
    // the ordered merge list as a one-row broadcast (array_sort on
    // struct<round,a,b> orders by round — the pick order)
    val mergeList = merges
      .agg(array_sort(collect_list(struct($"round", $"a", $"b"))).as("ms"))
    val tv = trainedVocab.select($"word", $"syms").localCheckpoint(false)
    val hintedV = CountedHint.fn(tv.count(), SegBroadcastMaxWords)
    val oovSegs = words.select($"word").distinct()
      .join(hintedV(tv.select($"word")), Seq("word"), "left_anti")
      .crossJoin(broadcast(mergeList))
      .select($"word", expr(applyAllMergesExpr).as("syms"))
    val segTable =
      CountedHint.counted(tv.unionByName(oovSegs), SegBroadcastMaxWords)
    words.join(segTable, Seq("word"))
      .select($"doc_id", $"word", $"syms")
  }
}
