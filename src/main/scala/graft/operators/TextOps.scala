package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.SmallResult

/** Text-analysis operators for a large-scale training-data pipeline:
  * language ID (stopword/charclass heuristic), quality scoring,
  * token counting (whitespace + BPE-ish regex), and document
  * fingerprinting. All are pure column expressions (whole-stage
  * codegen, no UDFs), so at 100 TB they run as a single narrow
  * map stage over the document scan — no shuffle except the final
  * per-group aggregates.
  *
  * Every formula is written with arithmetic that DuckDB reproduces
  * bit-for-bit (integer counts, one double division, ROUND at the end)
  * so each query has a full hash-match oracle.
  */
object TextOps {

  /** Documents scan rebalanced across cores: every query below runs a
    * battery of per-row text scans — compute-bound, not IO-bound. */
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.rebalance(Tables.documents(s, d))

  private val stopEn = "\\b(the|a|of|and|to|is|in|it)\\b"
  private val stopDe = "\\b(der|die|das|und|ein|ist|nicht)\\b"
  private val stopEs = "\\b(el|la|los|de|que|y|un|es)\\b"
  private val stopFr = "\\b(le|les|la|de|et|un|est|que)\\b"
  private val zhChars = "[\\u4e00-\\u9fff]"

  /** Count of non-overlapping regex matches — regexp_count, which
    * counts without materializing every match into an array (the
    * regexp_extract_all form allocates a string per match just to take
    * its size). Identical greedy-match semantics to DuckDB's
    * len(regexp_extract_all(...)) for the character-class/alternation
    * patterns used here. */
  private def nMatches(c: Column, pattern: String): Column =
    regexp_count(c, lit(pattern)).cast("long")

  /** Stopword count via the fused WordSetCount byte scan — provably
    * equivalent to `regexp_count(c, "\\b(w1|…)\\b")` for all-word-char
    * alternatives (see the expression's doc + property test), at a
    * fraction of the regex engine's per-row cost. The word list is
    * DERIVED from the regex constant the oracle SQL interpolates, so
    * the two can never drift. (call_function resolves at analysis,
    * against the functions `GraftExtensions` put in the session.) */
  private def nStopwords(c: Column, pattern: String): Column = {
    val csv = pattern.stripPrefix("\\b(").stripSuffix(")\\b")
      .replace("|", ",")
    call_function(graft.plans.GraftExpressions.WordSetCountFn, c, lit(csv))
  }

  /** ASCII char-class count via the CharSetCount byte table —
    * equivalent to `regexp_count(c, "[chars]")` for ASCII sets. */
  private def nCharsOf(c: Column, charClass: String): Column =
    call_function(graft.plans.GraftExpressions.CharSetCountFn, c,
      lit(charClass.stripPrefix("[").stripSuffix("]")))

  // ---- language ID ------------------------------------------------------

  /** Stopword-vote language ID. Ties resolve in fixed priority order
    * (en, de, es, fr, zh); zero evidence → "und". */
  def langIdCol(text: Column): Column = {
    val t = lower(text)
    val en = nStopwords(t, stopEn)
    val de = nStopwords(t, stopDe)
    val es = nStopwords(t, stopEs)
    val fr = nStopwords(t, stopFr)
    val zh = nMatches(t, zhChars)
    val mx = greatest(en, de, es, fr, zh)
    when(mx === 0, "und")
      .when(en === mx, "en").when(de === mx, "de")
      .when(es === mx, "es").when(fr === mx, "fr")
      .otherwise("zh")
  }

  def textLangId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", langIdCol($"text").as("pred_lang"))
      .orderBy($"doc_id")
  }

  // ---- mixed-language (code-switching) detection ------------------------

  /** Window width (tokens) for the per-window language votes. */
  val MixWindow = 32

  /** x68 — mixed-language detection: doc-level language ID (x07) hides
    * code-switched documents — a half-English half-German page votes
    * "en" and sails into a monolingual corpus. Chunk each doc into
    * non-overlapping MixWindow-token windows, vote each window with the
    * SAME stopword battery x07 validates, and report the per-doc
    * window-language profile: a doc whose windows disagree is flagged
    * `mixed`. (On the synthetic fixture the mix axis is en/und; on a
    * real crawl it is en/de/es/fr/zh — the mechanism is identical.)
    *
    * Scale shape: one narrow pass — tokenize, window transform, and
    * the per-window explode all in one projection; the generated row
    * count is ~tokens/MixWindow per doc; one map-combined group
    * aggregate back to doc granularity. No joins, no corpus shuffle
    * beyond the aggregate's. */
  def mixedLanguage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id",
        filter(split(lower(trim($"text")), "\\s+"), _ =!= "").as("toks"))
      .select($"doc_id", explode(expr(
        // the empty-doc guard matters: sequence(0, -1) is DESCENDING
        s"""CASE WHEN size(toks) > 0 THEN
           |  transform(sequence(0, CAST(ceil(size(toks) / $MixWindow.0) AS INT) - 1),
           |    w -> array_join(slice(toks, w * $MixWindow + 1, $MixWindow), ' '))
           |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("wt"))
      .select($"doc_id", langIdCol($"wt").as("wlang"))
      .groupBy($"doc_id")
      // distinct langs via a bounded collect_set (≤6 values) — a
      // countDistinct would plan an Expand + two-phase aggregate,
      // doubling the exchanges for a set the vote domain bounds anyway
      .agg(count(lit(1)).as("n_windows"),
        size(collect_set($"wlang")).cast("long").as("n_langs"),
        sum(when($"wlang" === "en", 1L).otherwise(0L)).as("n_en_w"),
        sum(when($"wlang" === "und", 1L).otherwise(0L)).as("n_und_w"))
      .withColumn("mixed", $"n_langs" > 1)
      .orderBy($"doc_id")
  }

  // ---- quality scoring --------------------------------------------------

  def nTokensCol(t: Column): Column = size(split(trim(t), "\\s+")).cast("long")
  def punctRatioCol(t: Column): Column = nCharsOf(t, "[.,;:!?]") / length(t)
  def stopRatioCol(t: Column): Column = nStopwords(lower(t), stopEn) / nTokensCol(t)

  /** Composite quality score in [0,1]: length, stopword density, and
    * punctuation sanity, equally reproducible in DuckDB SQL. */
  def qualityCol(t: Column): Column =
    (least(nTokensCol(t), lit(100L)) / lit(100.0)) * 0.4 +
      least(stopRatioCol(t) * 5.0, lit(1.0)) * 0.4 +
      (lit(1.0) - least(punctRatioCol(t) * 10.0, lit(1.0))) * 0.2

  /** x79 flag thresholds in micro-nats: natural language sits
    * ~2.5–3.5 nats of code-point entropy; below [[LowEntropyMicro]]
    * is repeated-character junk (generation loops, padding), above
    * [[HighEntropyMicro]] is near-uniform noise (base64/hex blobs,
    * minified or binary-ish payloads — random base64 is ~4.16 nats). */
  val LowEntropyMicro = 1500000L
  val HighEntropyMicro = 4000000L

  /** x79 — character-entropy quality signal: code-point Shannon
    * entropy per document in integer micro-nats, plus the two gate
    * flags the filtering literature uses it for (both entropy TAILS
    * are junk — repetition on the left, compressed/encoded blobs on
    * the right — and neither is visible to the token-level heuristics
    * x08 scores or the n-gram signals x21/x51 trip on, because a
    * base64 wall IS one long "word" with zero repeated 5-grams).
    *
    * Exactness: the per-char terms are rounded to integer micro-nats
    * independently and composed in BIGINT arithmetic (the x48
    * integer-log discipline), so both engines land on the identical
    * integer regardless of their summation order, and the flags are
    * integer comparisons on top. Scale shape: ONE codegen expression
    * pass, no shuffle, no explode — the oracle's per-char unnest is
    * the FORMULATION; the operator never materializes a row per
    * character. */
  def charEntropy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", length($"text").cast("long").as("n_chars"),
        call_function(graft.plans.GraftExpressions.EntropyFn, $"text")
          .as("entropy_micro"))
      .withColumn("low_entropy", $"entropy_micro" < LowEntropyMicro)
      .withColumn("high_entropy", $"entropy_micro" > HighEntropyMicro)
      .orderBy($"doc_id")
  }

  def textQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = $"text"
    docs(s, d)
      .select($"doc_id", nTokensCol(t).as("n_tokens"),
              round(punctRatioCol(t), 4).as("punct_ratio"),
              round(stopRatioCol(t), 4).as("stop_ratio"),
              round(qualityCol(t), 4).as("quality"))
      .orderBy($"doc_id")
  }

  // ---- per-source quality gate (x70/x70b) -------------------------------

  /** Gate percentile: keep the top (1−p) of each source by quality. */
  val QualityGateP = 0.75

  /** Quality in integer MICRO-units — the repo's integer-micro idiom:
    * both engines compute the identical double then round once, so the
    * gate compares exact BIGINTs against the percentile threshold. */
  private def qMicroCol(t: Column): Column =
    round(qualityCol(t) * 1e6, 0).cast("long")

  private def gateFrom(scored: DataFrame, th: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    scored.join(broadcast(th), "source")
      .filter($"q_micro" >= $"q_th")
      .select($"doc_id", $"source", $"q_micro")
      .orderBy($"doc_id")
  }

  /** x70 — PER-SOURCE quality flooring (the exact validator): keep
    * documents at or above their OWN source's p75 quality. A single
    * global threshold lets one clean source crowd out a noisy-but-
    * valuable one; per-source quantile gating (the CCNet idiom —
    * Wenzek et al. bucket BY perplexity quantiles per language shard)
    * keeps the best fraction of EVERY source.
    *
    * Scale shape: one pass scores the corpus (narrow map); the exact
    * per-source percentile is one map-combined aggregate over
    * |sources| groups (Spark's percentile agg holds per-group value
    * buffers — the exact path's known cost and why x70b exists); the
    * threshold table (|sources| rows) broadcasts back into a narrow
    * filter. No window, no global sort of the corpus. */
  def qualityGate(s: SparkSession, d: String): DataFrame =
    qualityGateOf(docs(s, d))

  /** The exact gate over an arbitrary (doc_id, source, text) frame —
    * QualityStream's spec comparator. */
  def qualityGateOf(docs0: DataFrame): DataFrame = {
    import docs0.sparkSession.implicits._
    val scored = docs0.select($"doc_id", $"source",
      qMicroCol($"text").as("q_micro"))
    val th = scored.groupBy($"source")
      .agg(percentile($"q_micro", lit(QualityGateP)).as("q_th"))
    gateFrom(scored, th)
  }

  /** Per-batch quality-histogram partial for QualityStream: each
    * source's integer micro-score distribution as (q_micro, cnt)
    * counts — additive across batches, and BOUNDED by the score
    * domain (q_micro ∈ [0, 1e6]) rather than the row count, which is
    * what integer micro-scores buy over a GK sketch: the merged
    * histogram is exact AND mergeable. */
  def qualityPartialsOf(docs0: DataFrame): DataFrame = {
    import docs0.sparkSession.implicits._
    docs0.select($"source", qMicroCol($"text").as("q_micro"))
      .groupBy($"source", $"q_micro")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Scored (doc_id, source, q_micro) for a corpus dir + the gate
    * application — exposed so QualityStream's serving path runs the
    * identical scoring pass and filter as x70. */
  def scoredDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d).select($"doc_id", $"source", qMicroCol($"text").as("q_micro"))
  }

  private[graft] def gateWith(scored: DataFrame, th: DataFrame): DataFrame =
    gateFrom(scored, th)

  /** x70b — the production twin at 100 TB: thresholds from the
    * mergeable Greenwald–Khanna sketch (percentile_approx) instead of
    * exact per-group value buffers — bounded state per source no
    * matter how many rows a source has (the x35b discipline: the
    * estimate is engine-specific, so this entry gets the rows-only
    * check; the exact twin x70 is the hash-matched validator, and
    * TextPipelineSpec pins the two gates' agreement on the fixture). */
  def qualityGateSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = docs(s, d).select($"doc_id", $"source",
      qMicroCol($"text").as("q_micro"))
    val th = scored.groupBy($"source")
      .agg(percentile_approx($"q_micro", lit(QualityGateP), lit(10000))
        .cast("double").as("q_th"))
    gateFrom(scored, th)
  }

  // ---- token counting ---------------------------------------------------

  /** BPE-ish pre-tokenizer: alpha runs, digit runs, single punctuation. */
  private val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def textTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"source",
              size(split(trim($"text"), "\\s+")).cast("long").as("ws_tokens"),
              nMatches($"text", bpeTokenPattern).as("bpe_tokens"))
      .groupBy($"source")
      .agg(count("*").as("n_docs"),
           sum($"ws_tokens").as("ws_tokens"),
           sum($"bpe_tokens").as("bpe_tokens"))
      .smallOrdered($"source")
  }

  // ---- fingerprinting ---------------------------------------------------

  /** Order-insensitive content fingerprint: md5 over the sorted,
    * lowercased token multiset collapsed to a single string. Catches
    * word-order-shuffled duplicates that exact md5(text) misses. */
  def fingerprintCol(text: Column): Column =
    md5(concat_ws(" ", array_sort(split(lower(text), "\\s+"))))

  def textFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", fingerprintCol($"text").as("fp"))
      .orderBy($"doc_id")
  }

  // ---- snapshot diff & length histogram (x74/x75) -----------------------

  /** x74 — CRAWL-TO-CRAWL diff report: per source, how many documents
    * the new snapshot retained, added, and removed, by order-
    * insensitive CONTENT identity (x10's fingerprint — a re-crawled
    * page whose words merely reordered is "retained", not
    * removed+added). Old/new membership is the fixture's stand-in for
    * a real snapshot column: the md5-uniform bit of the exact text
    * (the x19/x23 content-hash idiom — id-scheme-independent, so it
    * mixes within every source; a deployment feeds its crawl ids
    * instead). This is the report an ingest run publishes before
    * anyone decides whether a 40% "removed" spike is a crawler bug or
    * a site purge.
    *
    * Scale shape: one hash shuffle on (source, fp) with map-side
    * partial max; the per-source rollup runs on distinct-fingerprint
    * counts, the final frame is |sources| rows. No join. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame =
    snapshotDiffOf(docs(s, d))

  /** The diff over an arbitrary (source, text) frame with the
    * md5-parity membership stand-in — frame-based so specs can plant
    * reordered twins that exercise the "retained" column. */
  def snapshotDiffOf(docs0: DataFrame): DataFrame = {
    import docs0.sparkSession.implicits._
    docs0
      .select($"source", fingerprintCol($"text").as("fp"),
        (conv(substring(md5($"text"), 1, 8), 16, 10).cast("long") % 2 === 0)
          .as("old"))
      .groupBy($"source", $"fp")
      .agg(max(when($"old", 1).otherwise(0)).as("has_old"),
           max(when(!$"old", 1).otherwise(0)).as("has_new"))
      .groupBy($"source")
      .agg(
        sum(when($"has_old" === 1 && $"has_new" === 1, 1L).otherwise(0L))
          .as("retained"),
        sum(when($"has_old" === 0, 1L).otherwise(0L)).as("added"),
        sum(when($"has_new" === 0, 1L).otherwise(0L)).as("removed"))
      .smallOrdered($"source")
  }

  /** x75 — per-source token-LENGTH histogram in power-of-two buckets
    * (the dataset-card length panel; the packing/truncation planner's
    * input): bucket = floor(log2(n_tokens)), with each bucket's doc
    * count and token mass. One narrow map + one bounded aggregate
    * (≤ sources × 64 keys); integer log2 via bit length, so both
    * engines bucket identically with no floating-point log. */
  def lengthHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // floor(log2(n)) = binary digit count − 1 for n ≥ 1 (n_tokens ≥ 1:
    // split of a trimmed non-empty string yields ≥ 1 token)
    docs(s, d)
      .select($"source", nTokensCol($"text").as("n_toks"))
      .select($"source", $"n_toks",
        (length(conv($"n_toks".cast("string"), 10, 2)) - 1).cast("long")
          .as("bucket"))
      .groupBy($"source", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("tokens"))
      .smallOrdered($"source", $"bucket")
  }

  // ---- curation pipeline (capstone) -------------------------------------

  /** End-to-end corpus curation in ONE narrow plan: language-ID and
    * quality gates, then order-invariant fingerprint dedup, summarized
    * per source. Every stage is a per-row column expression, so the
    * whole pipeline is a single map stage + one aggregate — the shape a
    * 100 TB curation pass wants (no shuffle until the final groupBy). */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = $"text"
    // The gate is CONDITIONAL AGGREGATION, not a filter: a
    // filter(pred_lang === 'en' && q >= 0.4) gets pushed below the
    // project, and the pushed copy re-evaluates the whole langid +
    // quality battery — the most expensive per-row compute in the
    // suite, run twice per surviving row. Gating inside the aggregate
    // keeps one project (each battery evaluated exactly once per row;
    // the stacked projects below stay uncollapsed because q is
    // referenced twice and is not cheap) and aggregates ignore the
    // gated-out rows via NULL. Sources whose every doc fails the gate
    // are dropped afterwards — same result set as the pre-group filter.
    docs(s, d)
      .select($"source", fingerprintCol(t).as("fp"),
              langIdCol(t).as("pred_lang"), round(qualityCol(t), 4).as("q"))
      .select($"source", $"fp", $"q",
              ($"pred_lang" === "en" && $"q" >= 0.4).as("kept"))
      .groupBy($"source")
      // quality total as an e4-scaled integer: summing 4-decimal values
      // and rounding to a whole number is immune to both accumulation
      // order and decimal-midpoint rounding differences across engines
      // (an average of rounded doubles is not — it can land exactly on
      // a ROUND midpoint).
      .agg(count(when($"kept", 1L)).as("n_kept"),
           countDistinct(when($"kept", $"fp")).as("n_unique"),
           round(sum(when($"kept", $"q")) * 10000).cast("long").as("q_sum_e4"))
      .filter($"n_kept" > 0L)
      .smallOrdered($"source")
  }

  // ---- sequence packing (training-batch assembly) ------------------------

  /** Token budget per packed training sequence. */
  val PackBudget = 2048L

  /** Greedy running-total sequence packing: documents are packed into
    * bins of ~PackBudget tokens IN doc_id ORDER WITHIN EACH SOURCE —
    * bin = floor(tokens-before-this-doc / budget), the approximate
    * packing real pipelines use before truncation. Partitioning the
    * window by `source` is the scale design: each shard packs
    * independently (one partitioned window, no global sort), exactly
    * how a 100 TB corpus is packed per input shard. */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(s, d)
      .select($"doc_id", $"source", nTokensCol($"text").as("t"))
      .withColumn("cum", coalesce(sum($"t").over(w), lit(0L)))
      .withColumn("bin", ($"cum" / PackBudget).cast("long"))
      .groupBy($"source", $"bin")
      .agg(count("*").as("n_docs"), sum($"t").as("total_tokens"))
      .orderBy($"source", $"bin")
  }

  // ---- context-window chunking -------------------------------------------

  /** Chunk geometry: ChunkSize tokens per window, ChunkStride tokens
    * between window starts (overlap = ChunkSize − ChunkStride). */
  val ChunkSize = 64
  val ChunkStride = 48

  /** x41 — context-window CHUNKING with stride, the dual of x18's
    * packing: long documents split into overlapping fixed-token
    * windows (the standard preprocessing for context-bounded training
    * and for passage-level retrieval/dedup). Chunk count per doc is
    * 1 + ⌈max(n − size, 0) / stride⌉ — the last window covers the
    * tail, and no fully-redundant trailing window is emitted. Each
    * chunk carries its token count and an md5 fingerprint of the
    * joined window (so downstream exact dedup can run at CHUNK
    * granularity — x01's rule one level down).
    *
    * Scale shape: one narrow pass — tokenize, per-row posexplode of
    * the window starts, slice/fingerprint in the same projection; no
    * shuffle before the presentation sort. Row growth is n/stride per
    * doc, the unavoidable output size of chunking. */
  def chunkDocuments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", filter(split($"text", "\\s+"), t => t =!= "").as("toks"))
      .select($"doc_id", $"toks", size($"toks").cast("long").as("n"))
      .filter($"n" > 0)
      .withColumn("n_chunks",
        lit(1L) + ceil(greatest($"n" - ChunkSize, lit(0L)) /
          lit(ChunkStride.toDouble)).cast("long"))
      .select($"doc_id", $"toks", $"n",
        posexplode(sequence(lit(0L), $"n_chunks" - 1L)).as(Seq("ci", "c")))
      .select($"doc_id", $"c".cast("long").as("chunk_id"),
        least(lit(ChunkSize.toLong), $"n" - $"c" * ChunkStride)
          .as("n_chunk_toks"),
        md5(concat_ws(" ",
          slice($"toks", ($"c" * ChunkStride + 1L).cast("int"),
            lit(ChunkSize))))
          .as("fp"))
      .orderBy($"doc_id", $"chunk_id")
  }

  // ---- deterministic stratified sampling (data mixing) -------------------

  /** Per-source sampling-rate formula constants (per-mille): rate =
    * Base + (last-char-code mod Mod) · Step → 100‰–550‰. Named so the
    * DuckDB oracle interpolates the SAME values. */
  val SampleBasePm = 100L
  val SampleStepPm = 50L
  val SampleMod = 10L

  /** Per-source sampling rate in per-mille, derived from the source
    * name (stand-in for a mixing-weights config table). */
  private def ratePm(source: Column): Column =
    lit(SampleBasePm) +
      (ascii(expr("right(source, 1)")) % SampleMod).cast("long") * SampleStepPm

  /** Content-hash bucket in [0, 1000): md5-derived, so the sample is a
    * pure function of the data — stable across runs, retries, engines,
    * and cluster layouts (a rand()-based sample is none of those). */
  private def hashBucketPm(text: Column): Column =
    conv(substring(md5(text), 1, 8), 16, 10).cast("long") % 1000L

  /** Deterministic stratified sampling / data mixing: keep a document
    * iff its content-hash bucket falls under its source's rate. One
    * narrow scan; the decision is embarrassingly parallel and needs no
    * state, which is what makes hash-sampling the standard mixing
    * mechanism at corpus scale. Emits per-source totals so the mix is
    * auditable. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"source", $"doc_id",
        ratePm($"source").as("rate_pm"),
        (hashBucketPm($"text") < ratePm($"source")).as("kept"))
      .groupBy($"source")
      .agg(count("*").as("n_total"),
           sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
           max($"rate_pm").as("rate_pm"))
      .smallOrdered($"source")
  }

  // ---- train/val/test split assignment -----------------------------------

  /** Split boundaries in per-mille of the content-hash space:
    * [0, 900) → train, [900, 950) → val, [950, 1000) → test. */
  val TrainPm = 900L
  val ValPm = 950L

  /** Deterministic split assignment: every document lands in exactly
    * one of train/val/test by its md5 content-hash bucket — a pure
    * function of the text, so the split survives reshuffles, retries,
    * re-ingestion, and engine changes (row-number- or rand()-based
    * splits survive none of those). Content-keyed splitting also keeps
    * EXACT duplicates on the same side of the boundary, preventing the
    * classic train/test leak. Emits per-(source, split) counts. */
  /** The per-document split label as a column — exposed so pipeline
    * compositions (TrainingDataDemo) assign the same deterministic
    * split the x23 audit reports. */
  def splitCol(text: Column): Column = splitOfDigest(md5(text))

  /** The split rule over an EXISTING md5 digest — one definition
    * shared by the per-doc split (digest of the doc's own text) and
    * x76's cluster-coherent split (the cluster's min member digest),
    * so the two assignments agree by construction on singletons. */
  private[graft] def splitOfDigest(digest: Column): Column = {
    val b = conv(substring(digest, 1, 8), 16, 10).cast("long") % 1000L
    when(b < TrainPm, "train").when(b < ValPm, "val").otherwise("test")
  }

  def splitAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"source", splitCol($"text").as("split"))
      .groupBy($"source", $"split")
      .agg(count("*").as("n"))
      .smallOrdered($"source", $"split")
  }

  // ---- bigram-LM likelihood filter ---------------------------------------

  /** Probability scale for the integer-exact LM scores. */
  val LmProbScale = 1000000L
  /** Flag a doc when its AVG scaled bigram probability falls below
    * this — the low-likelihood tail (≈ lowest decile on the driver
    * fixture, whose per-doc averages span ~30.4k–38.8k). */
  val LmFloorScaled = 33000L

  /** x27 — corpus-trained bigram-LM likelihood filter: the relational
    * form of perplexity filtering (CCNet, Wenzek et al., LREC 2020 —
    * there with a KenLM 5-gram model; here a self-trained bigram model
    * with add-one smoothing, Jurafsky–Martin ch. 3). Per doc: bigram
    * count and the sum of per-bigram scaled probabilities
    * floor((c(w1,w2)+1)·scale / (c(w1)+|V|)) — INTEGER arithmetic end
    * to end, so the score is order-invariant and the oracle
    * hash-matches where a log-prob sum would drift in the last ulp.
    * Low-sum docs are the improbable-word-sequence tail (OCR noise,
    * gibberish, wrong-language leakage).
    *
    * Scale shape: the doc→bigram explode is the big relation; the
    * MODEL relations derived from it are aggregates over a bounded
    * vocabulary — c(w1,w2) ≤ |V|² rows, c(w1) ≤ |V| — hence the
    * broadcast joins (drop the hints past broadcastable vocabulary and
    * the joins shuffle on the same keys). Training and scoring share
    * one corpus scan per side of the aggregate. Words are keyed by
    * 64-bit hash from the scan on (BigramHashes): the checkpoint, both
    * model shuffles, and the scoring join all carry longs instead of
    * word strings, and counts keyed by hash equal counts keyed by word
    * absent collisions (see the expression doc for the math). */
  /** (doc_id, w1, w2) — a doc frame's positioned bigram hashes (one
    * tokenize + fused explode), shared by LM training, scoring, and the
    * incremental model maintenance (LmStream). */
  def bigramsOfFrame(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select($"doc_id", split(lower($"text"), "\\s+").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(call_function(
        graft.plans.GraftExpressions.BigramHashesFn, $"w")).as("p"))
      .select($"doc_id", $"p.w1", $"p.w2")
  }

  private def bigramsOf(s: SparkSession, d: String): DataFrame =
    bigramsOfFrame(docs(s, d))

  /** (w1, w2, c12) → the scoring table (w1, w2, sp): c1 is c12's
    * row-sum over w2, |V| is distinct(w1 ∪ w2) of the distinct-bigram
    * relation (in a ≥2-word doc every position is some bigram's w1 or
    * w2), and sp = (c12+1)·SCALE div (c1+v) — all model-sized
    * aggregates, no corpus re-scan. Shared by the one-shot build and
    * the streamed model (whose merged c12 partials feed it). */
  def lmModelFromCounts(c12in: DataFrame): DataFrame = {
    val s = c12in.sparkSession
    import s.implicits._
    val c12 = c12in.localCheckpoint(true)
    val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
    val v = c12.select($"w1".as("word"))
      .unionAll(c12.select($"w2".as("word")))
      .agg(countDistinct($"word").as("v"))
    c12.join(c1, "w1").crossJoin(broadcast(v))
      .select($"w1", $"w2",
        expr(s"((c12 + 1L) * ${LmProbScale}L) div (c1 + v)").as("sp"))
  }

  /** Score a doc frame against a trained (w1, w2, sp) scoring table:
    * one bigram pass + one broadcast join. The INNER join scores only
    * in-model bigrams — identical to the in-plan form when the model
    * was trained on (a superset of) the scored corpus. */
  def lmScore(docFrame: DataFrame, model: DataFrame): DataFrame = {
    val s = docFrame.sparkSession
    import s.implicits._
    bigramsOfFrame(docFrame)
      .join(broadcast(model), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count("*").as("n_bigrams"), sum($"sp").as("sum_scaled_p"))
      .withColumn("flagged", $"sum_scaled_p" < $"n_bigrams" * LmFloorScaled)
  }

  /** The TRAINED bigram-LM scoring table for a corpus dir, built ONCE
    * (the ensureIvfIndex discipline — content-keyed path, staged
    * rename, `model/_SUCCESS` marker): `model/` holds (w1, w2, sp),
    * the add-one-smoothed scaled score ((c12+1)·SCALE div (c1+v)) with
    * the unigram counts and vocabulary size already folded in, so
    * SERVING is one broadcast join — the 100 TB shape, where the
    * perplexity-filter LM is trained once (or on a reference corpus)
    * and scores every ingest batch thereafter. Training derives c1 and
    * the vocabulary from the (model-sized) distinct-bigram relation,
    * never re-aggregating the corpus: c1(w1) is c12's row-sum, and in
    * a ≥2-word doc every position is some bigram's w1 or w2, so
    * distinct(w1 ∪ w2) is exactly the corpus word set. The artifact
    * also persists the raw counts so an append-only corpus delta
    * refreshes incrementally (EnsureIncrementalSpec). */
  def ensureLmModel(s: SparkSession, d: String,
                    indexRoot: String = sys.props("java.io.tmpdir")): String = {
    import s.implicits._
    val listing = SimilarityOps.listingOf(s, d, Seq("documents.parquet"))
    val parts = listing.map(_._1)
    val path = new org.apache.hadoop.fs.Path(indexRoot,
      SimilarityOps.indexDirName(d, "lm", "v2",
        SimilarityOps.sigOf(parts))).toString
    ArtifactBuild.ensure(s, path, "model/_SUCCESS") { staging =>
      val st = staging.toString
      val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
      // v2 layout persists the MERGEABLE counts (w1, w2, c12) next to
      // the derived model, so an append-only corpus delta refreshes by
      // summing the previous counts with the delta's bigram pass —
      // O(delta text + counts state), no full-corpus re-scan (the
      // LmStream batch-partial algebra, applied to the batch artifact).
      val base = ArtifactBuild.findAppendBase(s, indexRoot,
        SimilarityOps.indexPrefix(d, "lm", "v2"), parts, "model/_SUCCESS")
      val counts = base match {
        case Some((bpath, bparts)) =>
          val deltaPaths = listing.collect {
            case (part, full) if !bparts.contains(part) => full }
          val deltaDocs = s.read.parquet(deltaPaths: _*)
            .select($"doc_id", $"text")
          s.read.parquet(s"$bpath/counts")
            .unionAll(bigramsOfFrame(deltaDocs)
              .groupBy($"w1", $"w2").agg(count("*").as("c12")))
            .groupBy($"w1", $"w2").agg(sum($"c12").as("c12"))
        case None =>
          bigramsOf(s, d).groupBy($"w1", $"w2").agg(count("*").as("c12"))
      }
      counts.write.mode("overwrite").parquet(s"$st/counts")
      ArtifactBuild.writeListing(fs, staging, parts)
      lmModelFromCounts(s.read.parquet(s"$st/counts"))
        .write.mode("overwrite").parquet(s"$st/model")
    }
  }

  /** x27 — LM likelihood served from the MATERIALIZED model: the
    * corpus-sized work at query time is one bigram pass joined against
    * the broadcast scoring table; the model aggregates (c12/c1/v) run
    * once at build and never again. Trained on the same corpus in
    * exact integer arithmetic, so results are identical to the fused
    * in-plan form and the DuckDB oracle validates this entry
    * unchanged (every corpus bigram is in the model by construction —
    * the inner join drops nothing). */
  def lmLikelihood(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = ensureLmModel(s, d)
    lmScore(docs(s, d), ArtifactBuild.readCached(s, s"$root/model"))
      .orderBy($"doc_id")
  }

  // ---- hashed linear quality classifier ---------------------------------

  /** md5-derived classifier weights live in [-ClsHalf, ClsHalf]. */
  val ClsWeightRange = 1001L
  val ClsHalf = 500L

  /** x39 — model-based quality gate: a HASHED LINEAR CLASSIFIER over
    * unigram features, the fastText-architecture filter (Joulin et al.
    * 2016) with feature hashing (Weinberger et al., ICML 2009) that
    * public corpus recipes (CCNet's companion classifier, the
    * LLaMA-style "quality model" gates) run corpus-wide. The weight
    * table is md5-derived integers — the LSH-planes idiom: a trained
    * model is a PARAMETER of this operator; the contract under test is
    * the scoring algebra (hash → weight lookup → integer sum →
    * logistic), which is what must scale and match the oracle.
    *
    * Exactness: per-token weights and the document sum are BIGINT end
    * to end (order-invariant — partial aggregation can never drift a
    * float); `keep` is the integer comparison s_int ≥ 0, and the
    * logistic materializes once per doc from identical doubles,
    * ROUNDed to 4 (the x33 ln precedent).
    *
    * Scale shape: ONE narrow map — no shuffle at all before the
    * presentation sort; the weight "table" needs no join because
    * feature hashing evaluates it in place. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id",
        filter(split(lower($"text"), "\\s+"), t => t =!= "").as("toks"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_toks"),
        aggregate(
          transform($"toks", t =>
            conv(substring(md5(concat(lit("q_"), t)), 1, 8), 16, 10)
              .cast("long") % ClsWeightRange - ClsHalf),
          lit(0L), (acc, v) => acc + v).as("s_int"))
      .withColumn("prob",
        round(lit(1.0) / (lit(1.0) +
          exp(-$"s_int" / (($"n_toks" + 1L) * (ClsHalf * 1.0)))), 4))
      .withColumn("keep", $"s_int" >= 0L)
      .orderBy($"doc_id")
  }

  // ---- weighted sampling without replacement ------------------------------

  /** Sample size for the weighted draw. */
  val WrsK = 25

  /** 2^52 — the md5-prefix uniform's denominator (13 hex chars). */
  private val Wrs52 = 4503599627370496.0

  /** x49 — WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis, IPL 2006, A-Res): each doc draws priority u^(1/w) with
    * u uniform and w its weight; the k largest priorities are a
    * weighted sample without replacement. Here w is the x08 quality
    * score (+1), so the draw is "sample k docs proportional to
    * quality" — the upsampling step mixture recipes apply to
    * high-quality sources — and u is the md5-prefix uniform (the x32
    * idiom), making the draw deterministic and oracle-checkable.
    *
    * Exactness: priorities compare by ln(u)/w (monotone in u^(1/w)),
    * ROUNDed to integer nano-units — both engines divide identical
    * doubles, and the rounding granularity (~1e-5 relative at the
    * smallest magnitudes) sits ten orders above double noise; ties
    * break by doc_id.
    *
    * Scale shape: one narrow map (quality + md5 + ln — no shuffle,
    * no model), then a bounded top-K (TakeOrderedAndProject): k rows
    * cross the wire per partition. This is the whole point of A-Res —
    * a weighted draw over 100 TB without a global sort or a
    * cumulative-weight pass. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id",
        (round(round(qualityCol($"text"), 4) * 10000.0, 0).cast("long")
          + 1L).as("w"),
        conv(substring(md5(concat(lit("wrs_"), $"text")), 1, 13), 16, 10)
          .cast("long").as("h"))
      .select($"doc_id", $"w",
        round(log(($"h" + 1L) / Wrs52) / $"w" * 1e9)
          .cast("long").as("key6"))
      .orderBy($"key6".desc, $"doc_id")
      .limit(WrsK)
  }

  // ---- DSIR importance weighting -----------------------------------------

  /** Hashed-feature space size for the importance model — bounded, so
    * both distribution tables are ≤ DsirBuckets rows at any corpus
    * size (the whole point of feature hashing). */
  val DsirBuckets = 1024L

  /** The language whose documents define the TARGET distribution. */
  val DsirTargetLang = "en"

  /** Per-token selection floor in micro-nats — the x27 calibrated-
    * constant pattern (an absolute >0 cut never fires: add-one
    * smoothing over a larger raw total shifts every ratio negative).
    * On the fixture the per-token score averages ≈ −44.1k for target-
    * language docs vs ≈ −47k…−48.7k for the rest, so −46000 selects
    * the target-like tail. */
  val DsirFloorMicroNats = -46000L

  /** x48 — data-selection importance weighting (DSIR, Xie et al.,
    * NeurIPS 2023): score every raw document by how target-like its
    * hashed bag-of-words distribution is — the standard
    * "select pretraining data to match a target domain" step, run
    * corpus-wide. Features are md5-hashed unigrams in a
    * [[DsirBuckets]]-bounded space; the model is the pair of add-one-
    * smoothed bucket distributions (target = [[DsirTargetLang]] docs,
    * raw = all docs), and a document's importance is the sum over its
    * tokens of the per-bucket log-likelihood ratio. `selected` is the
    * per-token score against [[DsirFloorMicroNats]] — the thresholded
    * form of DSIR's resampling that needs no global rank at serving
    * time (and the fixture-calibrated-constant idiom x27 uses).
    *
    * Exactness: per-bucket ratios are ROUNDed to integer micro-nats
    * (the x33 ln precedent — both engines compute ln on identical
    * doubles and a last-ulp divergence cannot move the 6-decimal
    * rounding), so the per-doc score is a BIGINT sum —
    * order-invariant under partial aggregation. Divisions run before
    * multiplications, so nothing overflows at design-scale counts
    * (the x36 lesson).
    *
    * Scale shape: ONE tokenize+hash pass feeds both the model and the
    * scoring (checkpointed, the x13/x27 discipline); the model
    * aggregate is map-side combined onto ≤ [[DsirBuckets]] keys; the
    * ratio table is a broadcast; scoring is a narrow join + per-doc
    * partial aggregate. No shuffle ever carries more than the
    * distinct-bucket relation except the per-doc aggregate itself. A
    * deployment scoring many ingest batches against a FIXED target
    * snapshots the ratio table with the ensureLmModel pattern. */
  /** (doc_id, is_t, b) — a doc frame's hashed-unigram feature
    * occurrences, shared by model fitting, scoring, and the
    * incremental model maintenance (DsirStream). */
  def dsirToksOf(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select($"doc_id", ($"lang" === DsirTargetLang).as("is_t"),
        explode(filter(split(lower($"text"), "\\s+"), t => t =!= ""))
          .as("t"))
      .select($"doc_id", $"is_t",
        (conv(substring(md5(concat(lit("dsir_"), $"t")), 1, 8), 16, 10)
          .cast("long") % DsirBuckets).as("b"))
  }

  /** (b, ct_r, ct_t) → the broadcast-sized log-ratio table
    * (b, lr6): totals from the bounded bucket relation, add-one
    * smoothing, micro-nat rounding. Shared by the one-shot query and
    * the streamed model (whose merged count partials feed it). */
  def dsirRatiosFromCounts(m: DataFrame): DataFrame = {
    val s = m.sparkSession
    import s.implicits._
    val B = DsirBuckets
    val tot = m.agg(sum($"ct_r").as("r_tot"), sum($"ct_t").as("t_tot"))
    m.crossJoin(broadcast(tot))
      .select($"b",
        round((log(($"ct_t" + 1L) / ($"t_tot" + B)) -
               log(($"ct_r" + 1L) / ($"r_tot" + B))) * 1e6)
          .cast("long").as("lr6"))
  }

  /** Score hashed-feature occurrences against a ratio table. */
  def dsirScore(toksb: DataFrame, lr: DataFrame): DataFrame = {
    val s = toksb.sparkSession
    import s.implicits._
    toksb.join(broadcast(lr), "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"), sum($"lr6").as("score6"))
      .withColumn("selected", $"score6" > $"n_toks" * DsirFloorMicroNats)
  }

  /** The FITTED ratio table for a corpus dir, built once (the
    * ensureLmModel discipline — content-keyed path, staged rename):
    * `model/` holds (b, lr6), ≤ [[DsirBuckets]] rows; `counts/` holds
    * the MERGEABLE per-bucket (ct_r, ct_t) state the model derives
    * from — persisted so an append-only corpus delta refreshes by
    * SUMMING the delta's bucket counts into the previous state
    * (DsirStream's exact batch algebra) and refitting the ≤ Buckets-
    * row model, never re-tokenizing the corpus. */
  def ensureDsirModel(s: SparkSession, d: String,
                      indexRoot: String = sys.props("java.io.tmpdir")): String = {
    import s.implicits._
    val listing = SimilarityOps.listingOf(s, d, Seq("documents.parquet"))
    val parts = listing.map(_._1)
    val path = new org.apache.hadoop.fs.Path(indexRoot,
      SimilarityOps.indexDirName(d, "dsir", "v2",
        SimilarityOps.sigOf(parts))).toString
    def countsOf(df: org.apache.spark.sql.DataFrame) =
      dsirToksOf(df).groupBy($"b")
        .agg(count(lit(1)).as("ct_r"), count_if($"is_t").as("ct_t"))
    ArtifactBuild.ensure(s, path, "model/_SUCCESS") { staging =>
      val st = staging.toString
      val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
      val base = ArtifactBuild.findAppendBase(s, indexRoot,
        SimilarityOps.indexPrefix(d, "dsir", "v2"), parts,
        "model/_SUCCESS")
      val counts = base match {
        case Some((bpath, bparts)) =>
          val deltaPaths = listing.collect {
            case (part, full) if !bparts.contains(part) => full }
          s.read.parquet(s"$bpath/counts")
            .unionAll(countsOf(Tables.rebalance(
              s.read.parquet(deltaPaths: _*))))
            .groupBy($"b")
            .agg(sum($"ct_r").as("ct_r"), sum($"ct_t").as("ct_t"))
        case None => countsOf(docs(s, d))
      }
      counts.write.mode("overwrite").parquet(s"$st/counts")
      ArtifactBuild.writeListing(fs, staging, parts)
      dsirRatiosFromCounts(s.read.parquet(s"$st/counts"))
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(staging, "model").toString)
    }
  }

  /** x48 served from the MATERIALIZED ratio table: query-time corpus
    * work is ONE tokenize+hash pass + a broadcast join — the model
    * aggregates never re-run. Fitted on the same corpus in the same
    * integer arithmetic, so the result is identical to the in-plan
    * form and the DuckDB oracle validates this entry unchanged. */
  def dsirWeights(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = ensureDsirModel(s, d)
    dsirScore(dsirToksOf(docs(s, d)), ArtifactBuild.readCached(s, s"$root/model"))
      .orderBy($"doc_id")
  }

  // ---- PII redaction ------------------------------------------------------

  /** PII patterns shared by the Spark columns and the DuckDB oracle.
    * Deliberately RE2-safe: plain character classes and counted
    * repeats only — no \b (Unicode-vs-ASCII boundary trap), no
    * lookaround (RE2 lacks it), no alternation whose leftmost-first
    * (Java) vs leftmost-longest (RE2) semantics could diverge. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PiiIp = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  val PiiPhone = "[+][0-9][0-9-]{6,}[0-9]"

  /** The corpus with deterministic PII planted per doc — the fixture
    * text carries none, so the scrub would be an untested no-op; the
    * planted contact line is a pure function of doc_id that BOTH
    * engines synthesize identically, making redaction provably
    * effective under the hash-match oracle. */
  private[graft] def piiAugmented(t: Column, id: Column): Column =
    concat(t, lit(" contact user"), id, lit("@example.com or 10.0."),
      id % 256, lit(".7 tel +1-555-01"), lpad((id % 100).cast("string"), 2, "0"))

  /** x28 — PII scrub: the redaction pass every training-data pipeline
    * runs before anything else. One narrow map stage: count each PII
    * class, then redact all occurrences class-by-class (emails → ips →
    * phones) and fingerprint the scrubbed text. Counts and the md5 of
    * the redacted text hash-match DuckDB running the same patterns
    * (regexp_replace with the 'g' flag — DuckDB replaces first-only by
    * default, Spark replaces all). At 100 TB this is embarrassingly
    * parallel and pushes nothing to any shuffle except the final
    * per-doc rows. */
  def piiRedaction(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val aug = piiAugmented($"text", $"doc_id")
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(aug, lit(PiiEmail), lit("<EMAIL>")),
        lit(PiiIp), lit("<IP>")),
      lit(PiiPhone), lit("<PHONE>"))
    docs(s, d)
      .select($"doc_id",
        nMatches(aug, PiiEmail).as("n_emails"),
        nMatches(aug, PiiIp).as("n_ips"),
        nMatches(aug, PiiPhone).as("n_phones"),
        md5(redacted).as("redacted_fp"))
      .orderBy($"doc_id")
  }

  /** Exactly-k-per-stratum sample size (x32). */
  val GroupSampleK = 5

  /** x32 — BOUNDED per-group sampling, the "exactly k docs per source"
    * data-mixing primitive (x19's rate-based sampling keeps a
    * PROPORTION; epoch/eval assembly wants a fixed COUNT per stratum).
    * Selection is by md5-derived rank — the deterministic analogue of
    * per-stratum reservoir sampling: content-keyed, so the sample
    * survives reshuffles, retries, and engine changes, exactly like
    * x19/x23's hash decisions.
    *
    * Scale shape: the rank is a narrow map and the selection runs on
    * the bounded-heap TopKPairs aggregate (x16's operator) — k entries
    * of state per group, merged map-side, so the shuffle carries k rows
    * per source instead of every row. The window-function formulation
    * (row_number then filter) would sort every partition of the corpus;
    * this never sorts anything but the k·|sources| output rows.
    *
    * Oracle-exactness: the rank is the first 13 md5 hex chars = 52
    * bits, exactly representable in the aggregate's DOUBLE score, so
    * DuckDB's BIGINT ranking reproduces the identical order (ties —
    * duplicate texts — break by doc_id ASC on both engines). */
  def groupSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"source", $"doc_id",
        conv(substring(md5(concat(lit("smp_"), $"text")), 1, 13), 16, 10)
          .cast("double").as("rk"))
      .groupBy($"source")
      .agg(call_function(graft.plans.GraftExpressions.TopKFn,
        $"rk", $"doc_id", lit(GroupSampleK)).as("top"))
      .select($"source", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast("long").as("rn"),
        $"col.id".as("doc_id"), $"col.score".cast("long").as("rk"))
      .smallOrdered($"source", $"rn")
  }

  // ---- mixture planning -------------------------------------------------

  /** Budget denominator: the plan allocates total_tokens / 2. */
  val MixtureBudgetDen = 2

  /** x36 — token-budget mixture planning by WATER-FILLING: given a
    * token budget, keep every small source whole and cap the large
    * ones at a common level C chosen so the total hits the budget —
    * the standard "flatten the over-represented sources" step of
    * data-mixing (the max-min fair allocation; same rule as network
    * water-filling, and the capping discipline behind public corpus
    * recipes that bound any one source's share).
    *
    * Scale shape: the corpus-sized stage is exactly x09's per-source
    * token aggregate (one map-combined shuffle); everything after
    * operates on the ≤|sources|-row result — window prefix sums to
    * find the cap level, a one-row broadcast back. The output is the
    * (source → rate, alloc) table a sampler (x19) consumes.
    *
    * Oracle-exactness: the capped test `tokens·r > budget − prefix`
    * is pure BIGINT; the cap level is one bigint/bigint double
    * division; rates ROUND to 6; allocations use the 6-decimal rate
    * as a SCALED INTEGER (tokens · r6 div 10⁶ — integer arithmetic,
    * no float multiply near a floor boundary). */
  def mixturePlan(s: SparkSession, d: String): DataFrame =
    mixturePlanOf(docs(s, d))

  /** The same plan for an arbitrary (source, text) frame — pipeline
    * compositions (TrainingDataDemo) budget their CURRENT corpus, not
    * the raw table. */
  def mixturePlanOf(docsFrame: DataFrame): DataFrame = {
    import docsFrame.sparkSession.implicits._
    // corpus-sized stage: per-source token totals (x09's identity)
    mixtureFromCounts(docsFrame
      .select($"source", nTokensCol($"text").as("nt"))
      .groupBy($"source").agg(sum($"nt").as("tokens")))
  }

  /** The water-filling solve alone, over a pre-aggregated (source,
    * tokens) frame — the streaming report card maintains exactly this
    * relation incrementally (ReportStream), so a deployment re-plans
    * its mixture after every ingest batch WITHOUT a corpus scan. */
  def mixtureFromCounts(tok: DataFrame): DataFrame = {
    import tok.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    // ≤|sources| rows from here on: single-partition windows are the
    // smallOrdered trade — k stays bounded at any corpus size.
    val ord = Window.orderBy($"tokens", $"source")
    val base = tok
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("pbefore", coalesce(sum($"tokens")
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("k", count(lit(1)).over(Window.partitionBy()))
      .withColumn("total", sum($"tokens").over(Window.partitionBy()))
      .withColumn("budget",
        floor($"total" / lit(MixtureBudgetDen.toDouble)).cast("long"))
      .withColumn("r", $"k" - $"i" + 1L)
      // ascending by size: row i is capped iff even spreading the
      // remaining budget evenly over rows i..k can't cover t_i
      .withColumn("capped", $"tokens" * $"r" > ($"budget" - $"pbefore"))
    // the cap level, from the FIRST capped row (one row, broadcast)
    val pivot = base.filter($"capped").orderBy($"i").limit(1)
      .select($"i".as("pi"),
        (($"budget" - $"pbefore") / $"r").as("cap"), lit(1).as("one"))
    base.withColumn("one", lit(1))
      .join(broadcast(pivot), Seq("one"), "left")
      .withColumn("whole", $"pi".isNull || $"i" < $"pi")
      .withColumn("r6i", when($"whole", lit(1000000L))
        .otherwise(round($"cap" / $"tokens" * 1000000.0, 0).cast("long")))
      .select($"source", $"tokens",
        when($"whole", 1.0).otherwise(round($"cap" / $"tokens", 6)).as("rate"),
        // Split the scaled-integer product around the divide so it can
        // never overflow 2^63 inside the design range: tokens·r6i wraps
        // once a capped source passes ~9.2e12 tokens (inside the 100 TB
        // target), while (tokens div 10⁶)·r6i tops out ~10⁶× lower and
        // (tokens mod 10⁶)·r6i < 10¹². Exactly equal to the single
        // product for non-negative inputs (both engines floor-divide).
        when($"whole", $"tokens")
          .otherwise(expr(
            "(tokens div 1000000) * r6i + ((tokens % 1000000) * r6i) div 1000000"))
          .as("alloc"))
      .smallOrdered($"source")
  }

  /** x52 — TEMPERATURE-scaled source mixture, the other standard
    * data-mixing rule (multilingual/multi-source pretraining: sample
    * source s with p_s ∝ n_s^τ, τ < 1, so small sources are
    * up-weighted relative to their natural share — the recipe behind
    * public multilingual models' language balancing). τ is fixed at
    * 1/2: sqrt is CORRECTLY ROUNDED under IEEE-754 in both engines
    * (general pow is not), which is what lets a float temperature
    * produce a bit-reproducible plan. Each source's weight becomes an
    * integer micro-unit s6 = round(√tokens·10⁶); shares and
    * allocations are integer arithmetic on s6 from there on (p6 ≤
    * 10⁶ and s6 ≤ √(2.5·10¹³)·10⁶ ≈ 5·10¹², so every product stays
    * under 2⁶³ at the 100 TB design point; the budget·p6 product is
    * split around the divide, the x36 overflow discipline).
    *
    * Scale shape: identical to x36 — one map-combined corpus
    * aggregate, then ≤|sources|-row arithmetic (the full-frame window
    * is the smallOrdered trade). Output: (source, tokens, p6, rate,
    * alloc) where alloc is the token count a budget-B sampler draws
    * from s. */
  def temperatureMixture(s: SparkSession, d: String): DataFrame =
    temperatureMixtureOf(docs(s, d))

  /** The same plan for an arbitrary (source, text) frame. */
  def temperatureMixtureOf(docsFrame: DataFrame): DataFrame = {
    import docsFrame.sparkSession.implicits._
    temperatureFromCounts(docsFrame
      .select($"source", nTokensCol($"text").as("nt"))
      .groupBy($"source").agg(sum($"nt").as("tokens")))
  }

  /** The temperature solve over a pre-aggregated (source, tokens)
    * frame (servable from the streaming card — see mixtureFromCounts). */
  def temperatureFromCounts(tok: DataFrame): DataFrame = {
    import tok.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    tok
      .withColumn("s6", round(sqrt($"tokens") * 1e6, 0).cast("long"))
      .withColumn("t6", sum($"s6").over(Window.partitionBy()))
      .withColumn("total", sum($"tokens").over(Window.partitionBy()))
      .withColumn("budget",
        floor($"total" / lit(MixtureBudgetDen.toDouble)).cast("long"))
      .withColumn("p6", expr("s6 * 1000000 div t6"))
      .select($"source", $"tokens", $"p6",
        round($"s6" / $"t6", 6).as("rate"),
        expr("(budget div 1000000) * p6 + ((budget % 1000000) * p6) div 1000000")
          .as("alloc"))
      .smallOrdered($"source")
  }

  /** UniMax epoch cap in micro-epochs: no source may be repeated past
    * 1.5 epochs of its own data. */
  val UniMaxEpochCap6 = 1500000L

  /** UniMax token budget = 7/5 (1.4×) of the corpus — the realistic
    * LLM regime where the training budget EXCEEDS the corpus, which is
    * exactly when the epoch cap binds. */
  val UniMaxBudgetNum = 7L
  val UniMaxBudgetDen = 5L

  /** x55 — UNIMAX source mixture (Chung et al. 2023): distribute the
    * token budget as UNIFORMLY as possible across sources, subject to
    * a per-source repetition cap of `UniMaxEpochCap6` epochs — the
    * fairness-first alternative to proportional (x36) and temperature
    * (x52) mixing. The paper's iterative algorithm (give every
    * surviving source an equal share; sources whose cap is below the
    * share take their cap and leave the pool; repeat) is computed here
    * in its closed waterfilling form: sort sources by cap ascending —
    * source i is capped iff cap_j·(n−j+1) + Σ_{l<j} cap_l ≤ budget for
    * EVERY j ≤ i (the prefix-min condition), and the uncapped
    * remainder splits the leftover budget evenly, with the integer
    * remainder going one token each to the first `budget mod m`
    * uncapped sources in the same total order (deterministic integer
    * arithmetic end to end — no float water level). A property test
    * checks the closed form against a driver-side run of the paper's
    * loop.
    *
    * Overflow discipline (the x36 rule): cap = 1.5·tokens is computed
    * as a split product, and cap·(n−i+1) stays under 2⁶³ for any
    * realistic source count (≲10⁵ sources at the 100 TB point).
    *
    * Scale shape: identical to x36/x52 — one map-combined corpus
    * aggregate, then ≤|sources|-row window arithmetic (the full-frame
    * window is the smallOrdered trade). Output: (source, tokens, cap,
    * alloc, epochs) where epochs = alloc/tokens is the repetition rate
    * a budget-B sampler applies to s. */
  def unimaxMixture(s: SparkSession, d: String): DataFrame =
    unimaxMixtureOf(docs(s, d))

  /** The same plan for an arbitrary (source, text) frame. */
  def unimaxMixtureOf(docsFrame: DataFrame): DataFrame = {
    import docsFrame.sparkSession.implicits._
    unimaxFromCounts(docsFrame
      .select($"source", nTokensCol($"text").as("nt"))
      .groupBy($"source").agg(sum($"nt").as("tokens")))
  }

  /** The waterfill solve over a pre-aggregated (source, tokens) frame
    * (servable from the streaming card — see mixtureFromCounts). */
  def unimaxFromCounts(tok: DataFrame,
                       budgetNum: Long = UniMaxBudgetNum,
                       budgetDen: Long = UniMaxBudgetDen): DataFrame = {
    import tok.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val byCap = Window.orderBy($"cap", $"source")
    val pre = byCap.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    tok
      .withColumn("cap", expr(
        s"(tokens div 1000000) * $UniMaxEpochCap6" +
          s" + ((tokens % 1000000) * $UniMaxEpochCap6) div 1000000"))
      .withColumn("i", row_number().over(byCap).cast("long"))
      .withColumn("pbefore", coalesce(
        sum($"cap").over(byCap.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("total", sum($"tokens").over(whole))
      .withColumn("budget", expr(
        s"(total * $budgetNum) div $budgetDen"))
      .withColumn("okc",
        when($"cap" * ($"n" - $"i" + 1L) + $"pbefore" <= $"budget", 1L)
          .otherwise(0L))
      .withColumn("capped", min($"okc").over(pre) === 1L)
      .withColumn("csum",
        coalesce(sum(when($"capped", $"cap")).over(whole), lit(0L)))
      .withColumn("m",
        $"n" - sum(when($"capped", 1L).otherwise(0L)).over(whole))
      .withColumn("level",
        when($"m" > 0L, expr("(budget - csum) div m")).otherwise(lit(0L)))
      .withColumn("extra",
        when($"m" > 0L, expr("(budget - csum) % m")).otherwise(lit(0L)))
      .withColumn("urank",
        sum(when($"capped", 0L).otherwise(1L)).over(pre))
      .withColumn("alloc",
        when($"capped", $"cap")
          .otherwise($"level" +
            when($"urank" <= $"extra", 1L).otherwise(0L)))
      .select($"source", $"tokens", $"cap", $"alloc",
        round($"alloc" / $"tokens", 6).as("epochs"))
      .smallOrdered($"source")
  }

  /** x62's realization budget: 2/5 of the corpus tokens. A fill is a
    * DOWNSAMPLING selection — x55's own 1.4× training budget exceeds
    * every source's physical tokens (repetition territory), which
    * would take every doc; the fill question is which docs survive
    * when the target is SMALLER than the corpus. */
  val FillBudgetNum = 2L
  val FillBudgetDen = 5L

  /** x62 — MIXTURE FILL: materialize a mixture PLAN into a concrete
    * document selection. The planners (x36/x52/x55) end at per-source
    * token ALLOCATIONS; a writer needs the actual doc list. The x55
    * waterfill solves the per-source allocation for a 0.4× corpus
    * budget (fair-uniform across sources, small sources capped); per
    * source, docs are ranked by a seeded content hash (doc_id
    * tie-break — the x53 ordering idiom, so the pick is a property of
    * the corpus, not of scan order) and taken while the tokens BEFORE
    * the doc are under the allocation — the boundary doc that crosses
    * it is included, so the budget is met. Every doc is emitted with
    * its rank, running prefix-sum, and the `taken` verdict — the
    * relation a shard writer (x53) consumes directly.
    *
    * Scale shape: ONE documents scan (the narrow base projection is
    * checkpointed); the per-source totals the waterfill needs derive
    * from that base (map-combined agg over ≤|sources| keys), and the
    * solved allocation (≤|sources| rows) broadcasts back. The only
    * corpus-scale exchange is the per-source window — partition BY
    * source, the same unit the writer lands, never a global sort.
    *
    * Oracle-exactness: all-BIGINT (token counts, prefix sums, the x55
    * waterfill); the order key is a seeded md5 hex string comparing
    * identically in both engines. */
  def mixtureFill(s: SparkSession, d: String): DataFrame =
    mixtureFillOf(docs(s, d))

  /** The same fill for an arbitrary (doc_id, source, text) frame. */
  def mixtureFillOf(docsFrame: DataFrame): DataFrame = {
    import docsFrame.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = docsFrame
      .select($"doc_id", $"source", nTokensCol($"text").as("n_tokens"),
        md5(concat(lit("fill_"), $"text")).as("fk"))
      .localCheckpoint(false)   // one scan: feeds the totals AND the fill
    val alloc = unimaxFromCounts(
        base.groupBy($"source").agg(sum($"n_tokens").as("tokens")),
        FillBudgetNum, FillBudgetDen)
      .select($"source", $"alloc")
    val bySrc = Window.partitionBy($"source").orderBy($"fk", $"doc_id")
    base
      .withColumn("pos", row_number().over(bySrc).cast("long"))
      .withColumn("cum_before", coalesce(
        sum($"n_tokens").over(
          bySrc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(alloc), "source")
      .select($"doc_id", $"source", $"n_tokens", $"pos", $"cum_before",
        ($"cum_before" < $"alloc").as("taken"))
      .orderBy($"doc_id")
  }

  /** Writer fan-out for x53 (a cluster deploy sizes this to
    * O(corpus / shard-size), well above the core count — shards are
    * the parallelism unit). */
  val NumShards = 8

  /** x53 — deterministic TRAINING-ORDER assignment: the "global
    * shuffle" a training-data writer needs, WITHOUT a global sort.
    * Each doc gets a content-keyed shard (seeded md5 bucket) and a
    * position within its shard (ordered by an independent seeded md5,
    * doc_id tie-break for identical texts) — reading shards
    * round-robin replays one fixed, reproducible permutation of the
    * corpus, and re-running the query on the same corpus yields the
    * same order on any cluster (the retry-stable property every
    * operator here keeps).
    *
    * Scale shape: NO global ordering structure is ever built — the
    * row_number window partitions BY SHARD, so the sort is per-shard
    * and shards scale out with the corpus (the writer then lands
    * `partitionBy(shard)` + sortWithinPartitions(pos), which is
    * exactly this plan's shape). */
  def trainingOrder(s: SparkSession, d: String): DataFrame =
    trainingOrderOf(docs(s, d))

  /** Content-keyed shard id — ONE definition shared by the
    * training-order writer (x53) and the shard manifest (x58), so the
    * manifest always describes the placement the writer lands. */
  def shardCol(text: Column): Column =
    (conv(substring(md5(concat(lit("shard_"), text)), 1, 8), 16, 10)
      .cast("long") % NumShards).cast("int")

  /** The same assignment for an arbitrary (doc_id, text) frame. */
  def trainingOrderOf(docsFrame: DataFrame): DataFrame = {
    import docsFrame.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    docsFrame.select($"doc_id",
        shardCol($"text").as("shard"),
        md5(concat(lit("ord_"), $"text")).as("ok"))
      .withColumn("pos", row_number().over(
        Window.partitionBy($"shard").orderBy($"ok", $"doc_id")).cast("long"))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  /** x58 — SHARD MANIFEST: the reproducibility record a training-data
    * release ships next to its shards (the audit half of a data card):
    * per shard, the doc count, the token total (x09's whitespace
    * identity), the doc-id range, and an ORDER-INVARIANT content
    * digest — XOR of each doc's 60-bit md5 prefix. XOR is commutative
    * and associative, so the digest combines map-side, is independent
    * of scan order and partitioning, and lets a consumer re-derive the
    * manifest over a shipped shard to prove content equality without
    * moving the data.
    *
    * Scale shape: one narrow scan + one hash aggregate on the same
    * placement key the x53 writer uses ([[shardCol]] — shared, so the
    * manifest can never drift from the writer). At 100 TB the manifest
    * is computable per-file and merged: counts/sums/XORs are all
    * associative partials. */
  def shardManifest(s: SparkSession, d: String): DataFrame =
    shardManifestOf(docs(s, d))

  /** The same manifest for an arbitrary (doc_id, text) frame. */
  def shardManifestOf(docsFrame: DataFrame): DataFrame = {
    import docsFrame.sparkSession.implicits._
    docsFrame
      .select(shardCol($"text").as("shard"), $"doc_id",
        nTokensCol($"text").as("nt"),
        conv(substring(md5($"text"), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"),
        expr("bit_xor(h)").as("content_digest"),
        min($"doc_id").as("min_doc_id"), max($"doc_id").as("max_doc_id"))
      .orderBy($"shard")
  }

  /** Blocklist for x59 — stands in for the external bad-words /
    * banned-phrases feed (C4 ships a multi-thousand-phrase list; the
    * fixture corpus draws from a 31-word vocabulary, so the stand-in
    * phrases are drawn from it). The oracle SQL interpolates THIS
    * constant — one definition, no drift. */
  val Blocklist: Seq[String] = Seq("dup", "slow join", "big sort", "fast scan")

  /** x59 — C4-style BLOCKLIST PHRASE FILTER (Raffel et al. 2020 §2.2,
    * the "bad words" gate; the reference's own bot-pattern battery,
    * `update-contributor-scores.js:45-66`, is the same shape over
    * actor names): flag every
    * doc containing any blocklist phrase as a whole-word match, with
    * the matched phrases. Phrase presence is a padded substring probe
    * (`' '+lower(text)+' '` contains `' '+phrase+' '`) — no regex
    * engine, no tokenization — and the whole battery runs as ONE
    * higher-order `filter` over the literal phrase array inside
    * whole-stage codegen.
    *
    * Scale shape: a narrow map over the scan (the production form
    * filters on `n_bad = 0` BEFORE any shuffle-bearing stage — the
    * cheapest gate runs first); a real blocklist broadcasts instead of
    * inlining, same plan. */
  def blocklistFilter(s: SparkSession, d: String): DataFrame =
    blocklistFilterOf(docs(s, d))

  /** The same gate for an arbitrary (doc_id, text) frame. */
  def blocklistFilterOf(docsFrame: DataFrame): DataFrame = {
    import docsFrame.sparkSession.implicits._
    val padded = concat(lit(" "), lower($"text"), lit(" "))
    val hits = filter(
      array(Blocklist.map(lit): _*),
      p => instr(padded, concat(lit(" "), p, lit(" "))) > 0)
    docsFrame
      .select($"doc_id", hits.as("hits"))
      .select($"doc_id", size($"hits").cast("long").as("n_bad"),
        array_join(sort_array($"hits"), ",").as("bad_phrases"))
      .filter($"n_bad" > 0)
      .orderBy($"doc_id")
  }

  /** x54 — CCNet-style PERPLEXITY BUCKETS (Wenzek et al. 2020): rank
    * every doc by its per-bigram LM likelihood (x27's integer score,
    * served from the materialized model) and cut the corpus into
    * head / middle / tail thirds — the shards CCNet publishes and the
    * "train on head, downsample tail" recipe consumes. The cut
    * thresholds are the smallest per-token scores whose ascending
    * cumulative doc count passes n/3 and 2n/3 — all BIGINT, so the
    * bucketing is bit-reproducible (no float quantile estimator).
    *
    * Scale shape: the corpus-sized work is x27's one bigram pass; the
    * threshold solve runs on the DISTINCT per-token-score relation
    * (micro-nat integers concentrate into a bounded domain — the
    * ordered cumulative window is the smallOrdered trade, like x36's
    * cap solve), and the thresholds ride a one-row broadcast back
    * onto the doc-level scores. */
  def perplexityBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = ensureLmModel(s, d)
    val ppt = lmScore(docs(s, d), ArtifactBuild.readCached(s, s"$root/model"))
      .select($"doc_id", expr("sum_scaled_p div n_bigrams").as("ppt"))
      .localCheckpoint(false)
    val cum = ppt.groupBy($"ppt".as("p")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(Window.orderBy($"p")))
    val th = cum.crossJoin(broadcast(ppt.agg(count(lit(1)).as("n"))))
      .agg(min(when($"cum" > expr("n div 3"), $"p")).as("t1"),
        min(when($"cum" > expr("(2 * n) div 3"), $"p")).as("t2"))
    ppt.crossJoin(broadcast(th))
      .select($"doc_id", $"ppt",
        when($"ppt" > $"t2", "head")
          .when($"ppt" > $"t1", "middle")
          .otherwise("tail").as("bucket"))
      .orderBy($"doc_id")
  }

  // ---- corpus report card -----------------------------------------------

  /** x37 — the per-source "dataset card" in ONE narrow pass: document
    * and token counts, token-length extrema, language mix, and quality
    * mass, composed from the same column identities x07/x08/x09
    * validate individually (langIdCol / qualityCol / nTokensCol), so
    * the report can never drift from the audited operators. This is
    * the summary a corpus team publishes with a release and re-runs
    * after every pipeline change.
    *
    * Scale shape: one scan, every per-doc feature fused into the same
    * projection (the gate-battery pattern x14 uses), one map-combined
    * group aggregate. Quality sums are 1e4-SCALED LONGS — float
    * summation order never touches the aggregate, so partial
    * aggregation stays order-invariant and the oracle matches bit-wise
    * (the x27 integer-score rule); the average materializes only at
    * the end as one exact-integer division. */
  /** The card's per-source PARTIAL aggregate over an arbitrary
    * documents frame — every column is mergeable (counts/sums add,
    * extrema min/max, quality mass is an exact scaled-long sum), which
    * is what lets the streaming card (ReportStream) keep one partial
    * row-set per micro-batch and recover the exact whole-window card by
    * re-aggregation, including after retention drops batches. */
  private[graft] def reportPartialsOf(docsFrame: DataFrame): DataFrame = {
    import docsFrame.sparkSession.implicits._
    docsFrame
      .select($"source",
        langIdCol($"text").as("lang"),
        nTokensCol($"text").as("nt"),
        round(round(qualityCol($"text"), 4) * 10000.0, 0).cast("long")
          .as("q4"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
           sum($"nt").as("tokens"),
           min($"nt").as("min_tokens"), max($"nt").as("max_tokens"),
           sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en"),
           sum(when($"lang" === "und", 1L).otherwise(0L)).as("n_und"),
           sum($"q4").as("total_q4"))
  }

  /** The finishing step shared by the batch card and the streaming
    * merge: the average materializes ONLY here, as one exact-integer
    * division — float order never touches any aggregate. */
  private[graft] def finishReport(partials: DataFrame): DataFrame = {
    import partials.sparkSession.implicits._
    partials
      .withColumn("avg_quality",
        round($"total_q4" / ($"n_docs" * 10000.0), 4))
      .smallOrdered($"source")
  }

  def corpusReport(s: SparkSession, d: String): DataFrame =
    finishReport(reportPartialsOf(docs(s, d)))

  /** Merge candidates reported per BPE counting round. */
  val BpeTopPairs = 20

  /** x46 — BPE pair counting (Sennrich et al., ACL 2016): the
    * DISTRIBUTED step of tokenizer training — count adjacent symbol
    * pairs over the corpus, weighted by word frequency, and report the
    * top merge candidates (count DESC, pair ASC — the deterministic
    * merge-pick rule). One round is shown; the training loop iterates
    * it against a shrinking vocabulary after each merge.
    *
    * Scale shape — the reason this is corpus-scale feasible at all:
    * the corpus-sized work is ONE word-frequency aggregate (map-side
    * combined, shuffle carries distinct words). Pair explosion runs on
    * the DISTINCT-WORD table — Heaps'-law sized, orders of magnitude
    * smaller than the corpus — so each merge round after the first
    * touches no corpus data whatsoever. */
  def bpePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the vocabulary rule lives in BpeOps (shared with the trainer and
    // the segmenter — one tokenize to drift, not three)
    val vocab = BpeOps.vocabOf(docs(s, d))
    vocab
      .select($"freq", explode(transform(
        sequence(lit(0), length($"word") - 2),
        i => $"word".substr(i + 1, lit(2)))).as("pair"))
      .groupBy($"pair").agg(sum($"freq").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(BpeTopPairs)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x07_text_langid"      -> textLangId _,
    "x68_mixed_language"   -> mixedLanguage _,
    "x08_text_quality"     -> textQuality _,
    "x79_char_entropy"     -> charEntropy _,
    "x70_quality_gate"     -> qualityGate _,
    "x70b_quality_gate_sketch" -> qualityGateSketch _,
    "x74_snapshot_diff"    -> snapshotDiff _,
    "x75_length_histogram" -> lengthHistogram _,
    "x09_text_tokens"      -> textTokens _,
    "x10_text_fingerprint" -> textFingerprint _,
    "x14_curation_pipeline" -> curationPipeline _,
    "x18_pack_sequences"   -> packSequences _,
    "x19_stratified_sample" -> stratifiedSample _,
    "x23_split_assign"     -> splitAssign _,
    "x27_lm_likelihood"    -> lmLikelihood _,
    "x28_pii_redaction"    -> piiRedaction _,
    "x32_group_sample"     -> groupSample _,
    "x36_mixture_plan"     -> mixturePlan _,
    "x52_temperature_mixture" -> temperatureMixture _,
    "x55_unimax_mixture"   -> unimaxMixture _,
    "x62_mixture_fill"     -> mixtureFill _,
    "x53_training_order"   -> trainingOrder _,
    "x54_perplexity_buckets" -> perplexityBuckets _,
    "x58_shard_manifest"   -> shardManifest _,
    "x59_blocklist_filter" -> blocklistFilter _,
    "x37_corpus_report"    -> corpusReport _,
    "x39_quality_classifier" -> qualityClassifier _,
    "x41_chunk_documents"  -> chunkDocuments _,
    "x46_bpe_pairs"        -> bpePairs _,
    "x48_dsir_weights"     -> dsirWeights _,
    "x49_weighted_sample"  -> weightedSample _,
  )

  /** Shared x27/x54 oracle CTE chain — tokenized docs, bigram explode,
    * the integer-exact smoothed score per bigram occurrence (the
    * anti-drift convention: one definition, two consumers). */
  private def LmScoreCtes: String =
    s"""w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
      |           FROM documents
      |           WHERE len(string_split_regex(lower(text), '\\s+')) >= 2),
      |bg AS (SELECT doc_id,
      |         unnest(list_transform(range(1, len(w)),
      |           i -> array_to_string(w[i:i+1], ' '))) AS bg
      |       FROM w),
      |v AS (SELECT count(DISTINCT word) AS v
      |      FROM (SELECT unnest(w) AS word FROM w)),
      |c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg),
      |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
      |       FROM bg GROUP BY 1),
      |sc AS (SELECT d.doc_id,
      |         ((c12.c12 + 1) * $LmProbScale) // (c1.c1 + v.v) AS sp
      |       FROM bg d JOIN c12 USING (bg)
      |       JOIN c1 ON split_part(d.bg, ' ', 1) = c1.w1 CROSS JOIN v)""".stripMargin

  /** The x55 UniMax waterfill as a shared oracle CTE chain ending in
    * `ua(source, tokens, cap, alloc, …)` — ONE definition feeding the
    * x55 and x62 oracles (the sigCtes/ivfServeCtes anti-drift
    * convention). */
  private def unimaxCtes(budgetNum: Long = UniMaxBudgetNum,
                         budgetDen: Long = UniMaxBudgetDen): String =
    s"""tok AS (
       |  SELECT source,
       |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
       |      AS tokens
       |  FROM documents GROUP BY source),
       |b AS (
       |  SELECT source, tokens,
       |    (tokens // 1000000) * $UniMaxEpochCap6
       |      + ((tokens % 1000000) * $UniMaxEpochCap6) // 1000000 AS cap
       |  FROM tok),
       |w AS (
       |  SELECT *, CAST(row_number() OVER o AS BIGINT) AS i,
       |    CAST(coalesce(sum(cap) OVER (o ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pbefore,
       |    CAST(count(*) OVER () AS BIGINT) AS n,
       |    (CAST(sum(tokens) OVER () AS BIGINT) * $budgetNum)
       |      // $budgetDen AS budget
       |  FROM b WINDOW o AS (ORDER BY cap, source)),
       |c AS (
       |  SELECT *,
       |    min(CASE WHEN cap * (n - i + 1) + pbefore <= budget
       |             THEN 1 ELSE 0 END)
       |      OVER (ORDER BY cap, source ROWS BETWEEN UNBOUNDED
       |            PRECEDING AND CURRENT ROW) = 1 AS capped
       |  FROM w),
       |g AS (
       |  SELECT *,
       |    CAST(coalesce(sum(CASE WHEN capped THEN cap END) OVER (), 0)
       |      AS BIGINT) AS csum,
       |    n - CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
       |      AS BIGINT) AS m,
       |    CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END)
       |      OVER (ORDER BY cap, source ROWS BETWEEN UNBOUNDED
       |            PRECEDING AND CURRENT ROW) AS BIGINT) AS urank
       |  FROM c),
       |ua AS (
       |  SELECT source, tokens, cap,
       |    CASE WHEN capped THEN cap
       |         ELSE (budget - csum) // m
       |              + (CASE WHEN urank <= (budget - csum) % m
       |                 THEN 1 ELSE 0 END) END AS alloc
       |  FROM g)""".stripMargin

  /** Shared DuckDB CTE fragment yielding `q(doc_id, source, q_micro)`
    * — the x08/x70 quality double (same IEEE term order as Spark's
    * qMicroCol) rounded once to integer micro-units. One definition so
    * every oracle that gates or RANKS on quality (x70 here, x77's
    * canonical pick in DedupOps) scores identically. */
  private[operators] val QMicroCtes: String =
    s"""c AS (SELECT doc_id, source,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
       |  CAST(len(regexp_extract_all(lower(text), '$stopEn')) AS BIGINT) AS n_stop,
       |  length(text) AS n_chars FROM documents),
       |q AS (SELECT doc_id, source,
       |  CAST(ROUND(((least(n_tokens, 100) / 100.0) * 0.4
       |      + least((n_stop / n_tokens) * 5.0, 1.0) * 0.4
       |      + (1.0 - least((n_punct / n_chars) * 10.0, 1.0)) * 0.2)
       |    * 1000000.0, 0) AS BIGINT) AS q_micro FROM c)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // x49: the quality weight is verbatim the x08/x37 q4 fragment; the
    // priority is ln(u)/w in integer nano-units, u = 52-bit md5 prefix.
    "x49_weighted_sample" ->
      s"""WITH c AS (SELECT doc_id, text,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
         |  CAST(len(regexp_extract_all(lower(text), '$stopEn')) AS BIGINT) AS n_stop,
         |  length(text) AS n_chars FROM documents),
         |q AS (SELECT doc_id, text,
         |  CAST(round(ROUND((least(n_tokens, 100) / 100.0) * 0.4
         |      + least((n_stop / n_tokens) * 5.0, 1.0) * 0.4
         |      + (1.0 - least((n_punct / n_chars) * 10.0, 1.0)) * 0.2, 4)
         |      * 10000.0, 0) AS BIGINT) + 1 AS w
         |  FROM c),
         |p AS (SELECT doc_id, w,
         |  CAST(round(ln((('0x' || substr(md5('wrs_' || text), 1, 13))::BIGINT
         |      + 1) / 4503599627370496.0) / w * 1000000000) AS BIGINT)
         |    AS key6
         |  FROM q)
         |SELECT doc_id, w, key6 FROM p
         |ORDER BY key6 DESC, doc_id LIMIT $WrsK""".stripMargin,
    // x48: the same hashed-unigram model rebuilt in SQL — md5 bucket,
    // fused raw/target counts, micro-nat-rounded log ratios (BIGINT
    // from there on, so the per-doc sum is order-invariant).
    "x48_dsir_weights" ->
      s"""WITH toks AS (
         |  SELECT doc_id, is_t,
         |    ('0x' || substr(md5('dsir_' || t), 1, 8))::BIGINT
         |      % $DsirBuckets AS b
         |  FROM (SELECT doc_id, lang = '$DsirTargetLang' AS is_t,
         |          unnest(list_filter(string_split_regex(lower(text),
         |            '\\s+'), x -> x <> '')) AS t
         |        FROM documents)),
         |m AS (SELECT b, CAST(count(*) AS BIGINT) AS ct_r,
         |        CAST(count(*) FILTER (WHERE is_t) AS BIGINT) AS ct_t
         |      FROM toks GROUP BY b),
         |tot AS (SELECT CAST(sum(ct_r) AS BIGINT) AS r_tot,
         |               CAST(sum(ct_t) AS BIGINT) AS t_tot FROM m),
         |lr AS (SELECT b,
         |    CAST(round((ln((ct_t + 1) / (t_tot + $DsirBuckets)) -
         |                ln((ct_r + 1) / (r_tot + $DsirBuckets)))
         |               * 1000000) AS BIGINT) AS lr6
         |  FROM m, tot)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |  CAST(sum(lr6) AS BIGINT) AS score6,
         |  sum(lr6) > count(*) * $DsirFloorMicroNats AS selected
         |FROM toks t JOIN lr USING (b)
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
    // x37: per-doc features are verbatim the x07 (language vote) and
    // x08 (quality formula) oracle fragments; only the aggregation is
    // new, so a mismatch here isolates to the report, not the features.
    "x37_corpus_report" ->
      s"""WITH c AS (SELECT source,
         |  len(regexp_extract_all(lower(text), '$stopEn')) AS en_n,
         |  len(regexp_extract_all(lower(text), '$stopDe')) AS de_n,
         |  len(regexp_extract_all(lower(text), '$stopEs')) AS es_n,
         |  len(regexp_extract_all(lower(text), '$stopFr')) AS fr_n,
         |  len(regexp_extract_all(lower(text), '[\\x{4e00}-\\x{9fff}]')) AS zh_n,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
         |  CAST(len(regexp_extract_all(lower(text), '$stopEn')) AS BIGINT) AS n_stop,
         |  length(text) AS n_chars FROM documents),
         |d AS (SELECT source, n_tokens,
         |  CASE WHEN greatest(en_n, de_n, es_n, fr_n, zh_n) = 0 THEN 'und'
         |       WHEN en_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'en'
         |       WHEN de_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'de'
         |       WHEN es_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'es'
         |       WHEN fr_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'fr'
         |       ELSE 'zh' END AS lang,
         |  CAST(round(ROUND((least(n_tokens, 100) / 100.0) * 0.4
         |      + least((n_stop / n_tokens) * 5.0, 1.0) * 0.4
         |      + (1.0 - least((n_punct / n_chars) * 10.0, 1.0)) * 0.2, 4)
         |      * 10000.0, 0) AS BIGINT) AS q4
         |  FROM c)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  CAST(sum(CASE WHEN lang = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_und,
         |  CAST(sum(q4) AS BIGINT) AS total_q4,
         |  round(sum(q4) / (count(*) * 10000.0), 4) AS avg_quality
         |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "x36_mixture_plan" ->
      s"""WITH tok AS (
         |  SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS tokens
         |  FROM documents GROUP BY source),
         |base AS (
         |  SELECT source, tokens,
         |    CAST(row_number() OVER w AS BIGINT) AS i,
         |    CAST(coalesce(sum(tokens) OVER (w ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pbefore,
         |    CAST(count(*) OVER () AS BIGINT) AS k,
         |    CAST(sum(tokens) OVER () AS BIGINT) AS total
         |  FROM tok
         |  WINDOW w AS (ORDER BY tokens, source)),
         |t AS (SELECT *,
         |    CAST(floor(total / $MixtureBudgetDen) AS BIGINT) AS budget,
         |    k - i + 1 AS r FROM base),
         |c AS (SELECT *, tokens * r > (budget - pbefore) AS capped FROM t),
         |p AS (SELECT i AS pi, (budget - pbefore) / r AS cap
         |      FROM c WHERE capped ORDER BY i LIMIT 1),
         |j AS (SELECT *,
         |        CAST(round(cap / tokens * 1000000, 0) AS BIGINT) AS r6i
         |      FROM c LEFT JOIN p ON TRUE)
         |SELECT source, tokens,
         |  CASE WHEN pi IS NULL OR i < pi THEN 1.0
         |       ELSE round(cap / tokens, 6) END AS rate,
         |  CASE WHEN pi IS NULL OR i < pi THEN tokens
         |       ELSE (tokens // 1000000) * r6i
         |            + ((tokens % 1000000) * r6i) // 1000000 END AS alloc
         |FROM j ORDER BY source""".stripMargin,
    // x52: sqrt is IEEE-correctly-rounded in both engines and the
    // only float step; everything after s6 = round(sqrt·1e6) is
    // integer (// ≡ div for nonnegative operands). rate's 6-decimal
    // round of a bigint/bigint double division is the established
    // x36 convention.
    "x52_temperature_mixture" ->
      s"""WITH tok AS (
         |  SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS tokens
         |  FROM documents GROUP BY source),
         |b AS (
         |  SELECT source, tokens,
         |    CAST(round(sqrt(tokens) * 1000000, 0) AS BIGINT) AS s6,
         |    CAST(sum(CAST(round(sqrt(tokens) * 1000000, 0) AS BIGINT))
         |      OVER () AS BIGINT) AS t6,
         |    CAST(sum(tokens) OVER () AS BIGINT) AS total
         |  FROM tok),
         |c AS (SELECT *,
         |    CAST(floor(total / $MixtureBudgetDen) AS BIGINT) AS budget,
         |    s6 * 1000000 // t6 AS p6 FROM b)
         |SELECT source, tokens, p6,
         |  round(s6 / t6, 6) AS rate,
         |  (budget // 1000000) * p6 + ((budget % 1000000) * p6) // 1000000
         |    AS alloc
         |FROM c ORDER BY source""".stripMargin,
    // x55: pure BIGINT waterfilling — the only float step is the final
    // 6-decimal round of a bigint/bigint double division (the x36
    // convention). `//` ≡ div for the nonnegative operands here.
    "x55_unimax_mixture" ->
      s"""WITH ${unimaxCtes()}
         |SELECT source, tokens, cap, alloc,
         |  round(alloc / tokens, 6) AS epochs
         |FROM ua ORDER BY source""".stripMargin,
    // x62: the shared x55 waterfill chain solves alloc; the fill is a
    // per-source prefix-sum window in seeded-md5 order (hex strings
    // compare identically in both engines; doc_id tie-break) — all
    // BIGINT, so `taken` is an integer compare.
    "x62_mixture_fill" ->
      s"""WITH ${unimaxCtes(FillBudgetNum, FillBudgetDen)},
         |d AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    md5('fill_' || text) AS fk
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(row_number() OVER ps AS BIGINT) AS pos,
         |    CAST(coalesce(sum(n_tokens) OVER (ps ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM d WINDOW ps AS (PARTITION BY source ORDER BY fk, doc_id))
         |SELECT f.doc_id, f.source, f.n_tokens, f.pos, f.cum_before,
         |  f.cum_before < ua.alloc AS taken
         |FROM f JOIN ua USING (source)
         |ORDER BY f.doc_id""".stripMargin,
    // x41: same chunk-count formula and window slices; DuckDB list
    // slicing is 1-based inclusive, hence [start+1 : start+size].
    "x41_chunk_documents" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
         |      WHERE len(toks) > 0),
         |c AS (SELECT doc_id, toks, n,
         |    1 + CAST(ceil(greatest(n - $ChunkSize, 0)
         |                  / $ChunkStride.0) AS BIGINT) AS n_chunks
         |  FROM n),
         |g AS (SELECT doc_id, toks, n,
         |        unnest(range(0, n_chunks)) AS cid FROM c)
         |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
         |  least($ChunkSize, n - cid * $ChunkStride) AS n_chunk_toks,
         |  md5(array_to_string(
         |    toks[CAST(cid * $ChunkStride + 1 AS INT) :
         |         CAST(cid * $ChunkStride + $ChunkSize AS INT)], ' ')) AS fp
         |FROM g ORDER BY doc_id, chunk_id""".stripMargin,
    // x39: weights recomputed in place from the same md5 rule; the sum
    // is BIGINT (list_sum of an empty list is NULL → coalesce 0, the
    // same zero Spark's aggregate() initial value yields).
    "x39_quality_classifier" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |                x -> x <> '') AS toks
         |  FROM documents),
         |s AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(coalesce(list_sum(list_transform(toks,
         |      x -> ('0x' || substr(md5('q_' || x), 1, 8))::BIGINT
         |           % $ClsWeightRange - $ClsHalf)), 0) AS BIGINT) AS s_int
         |  FROM t)
         |SELECT doc_id, n_toks, s_int,
         |  round(1.0 / (1.0 + exp(-s_int / ((n_toks + 1) * $ClsHalf.0))), 4)
         |    AS prob,
         |  s_int >= 0 AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    "x32_group_sample" ->
      s"""SELECT source, rn, doc_id, rk FROM (
         |  SELECT source, doc_id,
         |    ('0x' || substr(md5('smp_' || text), 1, 13))::BIGINT AS rk,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY ('0x' || substr(md5('smp_' || text), 1, 13))::BIGINT
         |        DESC, doc_id) AS BIGINT) AS rn
         |  FROM documents)
         |WHERE rn <= $GroupSampleK ORDER BY source, rn""".stripMargin,
    // x68: the x07 vote CASE applied per MixWindow-token window —
    // DuckDB's 1-based inclusive list slice w[a:b] clamps at the end
    // exactly like Spark's slice(toks, start, len).
    "x68_mixed_language" ->
      s"""WITH toks AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |              x -> x <> '') AS w
         |  FROM documents),
         |win AS (SELECT doc_id,
         |  unnest(list_transform(range(0, CAST(ceil(len(w) / $MixWindow.0) AS BIGINT)),
         |    i -> array_to_string(w[i * $MixWindow + 1 : i * $MixWindow + $MixWindow], ' '))) AS wt
         |  FROM toks),
         |v AS (SELECT doc_id,
         |  len(regexp_extract_all(wt, '$stopEn')) AS en_n,
         |  len(regexp_extract_all(wt, '$stopDe')) AS de_n,
         |  len(regexp_extract_all(wt, '$stopEs')) AS es_n,
         |  len(regexp_extract_all(wt, '$stopFr')) AS fr_n,
         |  len(regexp_extract_all(wt, '[\\x{4e00}-\\x{9fff}]')) AS zh_n
         |  FROM win),
         |lv AS (SELECT doc_id, CASE
         |  WHEN greatest(en_n, de_n, es_n, fr_n, zh_n) = 0 THEN 'und'
         |  WHEN en_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'en'
         |  WHEN de_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'de'
         |  WHEN es_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'es'
         |  WHEN fr_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'fr'
         |  ELSE 'zh' END AS wlang
         |  FROM v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(count(DISTINCT wlang) AS BIGINT) AS n_langs,
         |  CAST(sum(CASE WHEN wlang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_w,
         |  CAST(sum(CASE WHEN wlang = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_und_w,
         |  count(DISTINCT wlang) > 1 AS mixed
         |FROM lv GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x07_text_langid" ->
      s"""WITH c AS (SELECT doc_id,
         |  len(regexp_extract_all(lower(text), '$stopEn')) AS en_n,
         |  len(regexp_extract_all(lower(text), '$stopDe')) AS de_n,
         |  len(regexp_extract_all(lower(text), '$stopEs')) AS es_n,
         |  len(regexp_extract_all(lower(text), '$stopFr')) AS fr_n,
         |  len(regexp_extract_all(lower(text), '[\\x{4e00}-\\x{9fff}]')) AS zh_n
         |  FROM documents)
         |SELECT doc_id, CASE
         |  WHEN greatest(en_n, de_n, es_n, fr_n, zh_n) = 0 THEN 'und'
         |  WHEN en_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'en'
         |  WHEN de_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'de'
         |  WHEN es_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'es'
         |  WHEN fr_n = greatest(en_n, de_n, es_n, fr_n, zh_n) THEN 'fr'
         |  ELSE 'zh' END AS pred_lang
         |FROM c ORDER BY doc_id""".stripMargin,
    "x08_text_quality" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
         |  CAST(len(regexp_extract_all(lower(text), '$stopEn')) AS BIGINT) AS n_stop,
         |  length(text) AS n_chars FROM documents)
         |SELECT doc_id, n_tokens,
         |  ROUND(n_punct / n_chars, 4) AS punct_ratio,
         |  ROUND(n_stop / n_tokens, 4) AS stop_ratio,
         |  ROUND((least(n_tokens, 100) / 100.0) * 0.4
         |      + least((n_stop / n_tokens) * 5.0, 1.0) * 0.4
         |      + (1.0 - least((n_punct / n_chars) * 10.0, 1.0)) * 0.2, 4) AS quality
         |FROM c ORDER BY doc_id""".stripMargin,
    // x79: the per-char unnest is the oracle FORMULATION of the
    // one-pass codegen expression — per-term micro-nat rounding makes
    // the BIGINT composition order-invariant, so DuckDB's group order
    // cannot matter; substring/len count code points exactly like the
    // expression's codePointAt walk. Both engines truncate the final
    // division toward zero. The final SELECT drives from `documents`
    // with a LEFT JOIN so the oracle stays TOTAL over docs: an
    // empty-text doc has no unnested chars (absent from `e`) but the
    // Spark expression still emits its row — COALESCE reproduces the
    // (0, 0, true, false) verdict for it.
    "x79_char_entropy" ->
      s"""WITH ch AS (SELECT doc_id, substring(text, CAST(i + 1 AS INT), 1) AS c
         |           FROM documents, unnest(range(len(text))) AS t(i)),
         |cnt AS (SELECT doc_id, c, count(*) AS n_c FROM ch GROUP BY 1, 2),
         |e AS (SELECT doc_id,
         |        SUM(CAST(ROUND(n_c * ln(n_c) * 1000000.0, 0) AS BIGINT)) AS st,
         |        SUM(n_c) AS n FROM cnt GROUP BY 1)
         |SELECT d.doc_id, COALESCE(CAST(e.n AS BIGINT), 0) AS n_chars,
         |  COALESCE(CAST((CAST(ROUND(ln(e.n) * 1000000.0, 0) AS BIGINT) * e.n - e.st) // e.n
         |    AS BIGINT), 0) AS entropy_micro,
         |  COALESCE((CAST(ROUND(ln(e.n) * 1000000.0, 0) AS BIGINT) * e.n - e.st) // e.n, 0)
         |    < $LowEntropyMicro AS low_entropy,
         |  COALESCE((CAST(ROUND(ln(e.n) * 1000000.0, 0) AS BIGINT) * e.n - e.st) // e.n, 0)
         |    > $HighEntropyMicro AS high_entropy
         |FROM documents d LEFT JOIN e USING (doc_id) ORDER BY doc_id""".stripMargin,
    // x70: the identical quality double as x08 (same term order →
    // bitwise-equal IEEE arithmetic), scaled to micro-units; the
    // per-source threshold is quantile_cont = Spark's linear-
    // interpolation percentile over exact BIGINTs (the q25 pairing).
    "x70_quality_gate" ->
      s"""WITH $QMicroCtes,
         |th AS (SELECT source, quantile_cont(q_micro, $QualityGateP) AS q_th
         |       FROM q GROUP BY source)
         |SELECT q.doc_id, q.source, q.q_micro
         |FROM q JOIN th USING (source)
         |WHERE q.q_micro >= th.q_th
         |ORDER BY q.doc_id""".stripMargin,
    // x74: x10's fingerprint + md5-uniform snapshot membership,
    // rolled up per source — identical md5/token rules in both engines.
    "x74_snapshot_diff" ->
      """WITH m AS (
        |  SELECT source,
        |    md5(array_to_string(list_sort(string_split_regex(lower(text), '\s+')), ' ')) AS fp,
        |    max(CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS has_old,
        |    max(CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 2 = 1 THEN 1 ELSE 0 END) AS has_new
        |  FROM documents GROUP BY 1, 2)
        |SELECT source,
        |  CAST(sum(CASE WHEN has_old = 1 AND has_new = 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained,
        |  CAST(sum(CASE WHEN has_old = 0 THEN 1 ELSE 0 END) AS BIGINT) AS added,
        |  CAST(sum(CASE WHEN has_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS removed
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    // x75: integer log2 via binary digit count — no float log in
    // either engine's bucketing.
    "x75_length_histogram" ->
      """WITH t AS (SELECT source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents)
        |SELECT source, CAST(length(bin(n_toks)) - 1 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS tokens
        |FROM t GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin,
    "x09_text_tokens" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x10_text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(string_split_regex(lower(text), '\s+')), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x14_curation_pipeline" ->
      s"""WITH m AS (SELECT doc_id, source,
         |  md5(array_to_string(list_sort(string_split_regex(lower(text), '\\s+')), ' ')) AS fp,
         |  CASE
         |    WHEN greatest(
         |      len(regexp_extract_all(lower(text), '$stopEn')),
         |      len(regexp_extract_all(lower(text), '$stopDe')),
         |      len(regexp_extract_all(lower(text), '$stopEs')),
         |      len(regexp_extract_all(lower(text), '$stopFr')),
         |      len(regexp_extract_all(lower(text), '[\\x{4e00}-\\x{9fff}]'))) = 0 THEN 'und'
         |    WHEN len(regexp_extract_all(lower(text), '$stopEn')) = greatest(
         |      len(regexp_extract_all(lower(text), '$stopEn')),
         |      len(regexp_extract_all(lower(text), '$stopDe')),
         |      len(regexp_extract_all(lower(text), '$stopEs')),
         |      len(regexp_extract_all(lower(text), '$stopFr')),
         |      len(regexp_extract_all(lower(text), '[\\x{4e00}-\\x{9fff}]'))) THEN 'en'
         |    ELSE 'other' END AS pred_lang,
         |  ROUND((least(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT), 100) / 100.0) * 0.4
         |    + least((CAST(len(regexp_extract_all(lower(text), '$stopEn')) AS BIGINT)
         |             / CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)) * 5.0, 1.0) * 0.4
         |    + (1.0 - least((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
         |             / length(text)) * 10.0, 1.0)) * 0.2, 4) AS q
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         |       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         |       CAST(round(sum(q) * 10000) AS BIGINT) AS q_sum_e4
         |FROM m WHERE pred_lang = 'en' AND q >= 0.4
         |GROUP BY source ORDER BY source""".stripMargin,
    "x18_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS t
         |  FROM documents),
         |b AS (SELECT source, t,
         |    COALESCE(sum(t) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      // $PackBudget AS bin
         |  FROM t)
         |SELECT source, CAST(bin AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(t) AS BIGINT) AS total_tokens
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x19_stratified_sample" ->
      s"""WITH m AS (SELECT source,
        |    $SampleBasePm + (unicode(right(source, 1)) % $SampleMod) * $SampleStepPm AS rate_pm,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000
        |      < $SampleBasePm + (unicode(right(source, 1)) % $SampleMod) * $SampleStepPm AS kept
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(max(rate_pm) AS BIGINT) AS rate_pm
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "x23_split_assign" ->
      s"""WITH m AS (SELECT source,
        |  CASE
        |    WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 < $TrainPm
        |      THEN 'train'
        |    WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 < $ValPm
        |      THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM documents)
        |SELECT source, split, CAST(count(*) AS BIGINT) AS n
        |FROM m GROUP BY source, split ORDER BY source, split""".stripMargin,
    "x27_lm_likelihood" ->
      s"""WITH $LmScoreCtes
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(sp) AS BIGINT) AS sum_scaled_p,
        |  sum(sp) < count(*) * $LmFloorScaled AS flagged
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    // x54: ppt and both thresholds are BIGINT (// of positives ≡ div);
    // the head/middle cut thresholds are the smallest ppt whose
    // ascending cumulative doc count passes n/3 and 2n/3.
    "x54_perplexity_buckets" ->
      s"""WITH $LmScoreCtes,
        |ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb,
        |         CAST(sum(sp) AS BIGINT) AS ssp
        |       FROM sc GROUP BY 1),
        |ppt AS (SELECT doc_id, ssp // nb AS ppt FROM ds),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ppt),
        |dist AS (SELECT ppt AS p, CAST(count(*) AS BIGINT) AS c
        |         FROM ppt GROUP BY 1),
        |cum AS (SELECT p, sum(c) OVER (ORDER BY p) AS cum FROM dist),
        |t AS (SELECT
        |    min(CASE WHEN cum > n.n // 3 THEN p END) AS t1,
        |    min(CASE WHEN cum > (2 * n.n) // 3 THEN p END) AS t2
        |  FROM cum CROSS JOIN n)
        |SELECT doc_id, ppt,
        |  CASE WHEN ppt > t2 THEN 'head'
        |       WHEN ppt > t1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ppt CROSS JOIN t ORDER BY doc_id""".stripMargin,
    // x53: shard and order keys are seeded md5 hashes of the content
    // (hex strings compare identically in both engines); equal texts
    // fall back to doc_id, so the order is total and deterministic.
    "x53_training_order" ->
      s"""SELECT doc_id,
        |  CAST(('0x' || substr(md5('shard_' || text), 1, 8))::BIGINT
        |    % $NumShards AS INTEGER) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY ('0x' || substr(md5('shard_' || text), 1, 8))::BIGINT
        |      % $NumShards
        |    ORDER BY md5('ord_' || text), doc_id) AS BIGINT) AS pos
        |FROM documents
        |ORDER BY shard, pos""".stripMargin,
    // x58: the shard key is x53's expression verbatim; the digest is
    // bit_xor over 60-bit md5 prefixes — both engines' bit_xor is the
    // plain word-wise XOR aggregate, order-invariant by algebra.
    "x58_shard_manifest" ->
      s"""SELECT CAST(('0x' || substr(md5('shard_' || text), 1, 8))::BIGINT
        |    % $NumShards AS INTEGER) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
        |    AS n_tokens,
        |  bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT)
        |    AS content_digest,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc_id,
        |  CAST(max(doc_id) AS BIGINT) AS max_doc_id
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    // x59: the phrase list is interpolated from the Blocklist constant;
    // list_filter preserves the literal order, so sorting the hits
    // makes the csv deterministic in both engines (plain ASCII).
    "x59_blocklist_filter" ->
      s"""WITH h AS (SELECT doc_id,
        |  list_sort(list_filter(
        |    [${Blocklist.map(p => s"'$p'").mkString(", ")}],
        |    p -> strpos(' ' || lower(text) || ' ', ' ' || p || ' ') > 0))
        |    AS hits
        |  FROM documents)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_bad,
        |       array_to_string(hits, ',') AS bad_phrases
        |FROM h WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin,
    "x28_pii_redaction" ->
      s"""WITH a AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |    || '.7 tel +1-555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
         |    AS aug
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(aug, '$PiiEmail')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(aug, '$PiiIp')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(aug, '$PiiPhone')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
         |    '$PiiEmail', '<EMAIL>', 'g'),
         |    '$PiiIp', '<IP>', 'g'),
         |    '$PiiPhone', '<PHONE>', 'g')) AS redacted_fp
         |FROM a ORDER BY doc_id""".stripMargin,
    // x46: 1-based inclusive slicing — word[i : i+1] is the 2-char
    // pair at position i, i ∈ [1, len-1], matching Spark's
    // substr(i+1, 2) over sequence(0, len-2).
    "x46_bpe_pairs" ->
      s"""WITH vocab AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        |    FROM documents)
        |  WHERE len(word) >= 2 GROUP BY word),
        |pairs AS (
        |  SELECT freq, unnest(list_transform(range(1, len(word)),
        |    i -> word[i : i + 1])) AS pair
        |  FROM vocab)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT $BpeTopPairs""".stripMargin,
  )
}
