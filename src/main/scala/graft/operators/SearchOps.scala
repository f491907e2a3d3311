package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Inverted-index text retrieval: BM25 ranking over the documents
  * corpus (Robertson & Spärck Jones probabilistic relevance framework;
  * the Okapi BM25 formula as published in TREC-3, 1994 — public
  * literature, the de-facto standard first-stage ranker).
  *
  * Why a training-data pipeline needs this: keyword retrieval is the
  * workhorse for corpus forensics at scale — "find the documents that
  * mention X" drives decontamination spot-checks, quality-mining the
  * results of a classifier disagreement, and assembling topical eval
  * slices. The reference engine has no text search; this is a
  * capability extension in the same spirit as the dedup/similarity
  * families.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - The corpus scan is ONE narrow pass: tokenize, compute document
  *    length, and keep only query-term occurrences — the per-row array
  *    filter runs BEFORE the explode, so the generated row count is
  *    bounded by query-term hits, not corpus token count.
  *  - Everything that leaves the scan is tiny: per-(doc, term) counts
  *    for matched docs only (the "postings" of a query-time inverted
  *    index), a ≤|query|-row document-frequency table (broadcast), and
  *    a single-row corpus-stats frame (broadcast crossJoin — the x31
  *    stats pattern).
  *  - The final top-K is an orderBy+limit → TakeOrderedAndProject:
  *    per-partition heaps, no global sort.
  *  - A SERVING deployment would materialize the full inverted index
  *    once (explode all terms, bucket by term — the x06 index pattern);
  *    this operator is the query-time scan form, which is what a
  *    pipeline doing ad-hoc corpus forensics actually runs.
  *
  * Oracle-exactness: tf/df/dl/N are integers; avgdl is one double
  * division; idf is one `ln` on identical doubles. Per-term
  * contributions are ROUNDed to 6 decimals (absorbing any sub-ulp
  * libm divergence), summed in FIXED term order via conditional
  * pivot columns (never a float SUM over an engine-ordered group),
  * and the final score ROUNDs to 4 — DuckDB reproduces every step
  * bit-for-bit.
  */
object SearchOps {

  /** Query terms, fixed: mid-df terms of the fixture vocabulary.
    * Order matters — the score sum is evaluated in THIS order on both
    * engines (float addition is not associative). */
  val QueryTerms: Seq[String] = Seq("spark", "window", "merge", "vector")
  /** Okapi BM25 defaults (TREC-3). */
  val K1 = 1.2
  val B = 0.75
  val TopK = 10

  /** Tokenization shared with the dedup/shingle family: whitespace
    * split of lowercased text (ShingleBaseCtes' identity), empties
    * dropped so leading/trailing whitespace cannot mint ghost terms. */
  private def toksCol = filter(split(lower(col("text")), "\\s+"), _ =!= "")

  /** BM25 scoring over a per-doc frame (doc_id, dl, tf0..tfN) and a
    * single-row stats frame (n_docs, sum_dl, df0..dfN) — ONE shared
    * implementation so the query-time scan (x33) and the index-served
    * probe (x33b) perform bit-identical float arithmetic: per-term
    * contributions round to 6 and sum in fixed QueryTerms order (float
    * addition is not associative), final score rounds to 4. */
  private def scoreBm25(base: DataFrame, stats: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val scored = base.crossJoin(broadcast(stats))
      .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs")
    def w(i: Int): Column = {
      val tf = col(s"tf$i"); val dfc = col(s"df$i")
      round(
        log(($"n_docs" - dfc + 0.5) / (dfc + 0.5) + 1.0) *
          (tf * (K1 + 1.0)) /
          (tf + lit(K1) * (lit(1.0 - B) + lit(B) * $"dl" / $"avgdl")), 6)
    }
    val score = QueryTerms.indices
      .map(i => when(col(s"tf$i") > 0, w(i)).otherwise(0.0))
      .reduceLeft(_ + _)
    val nTerms = QueryTerms.indices
      .map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L))
      .reduceLeft(_ + _)
    scored
      .select($"doc_id", round(score, 4).as("score"), nTerms.as("n_terms"))
      .filter($"n_terms" > 0)
      .orderBy($"score".desc, $"doc_id")
      .limit(TopK)
  }

  def bm25Search(s: SparkSession, d: String): DataFrame =
    bm25SearchOf(Tables.rebalance(Tables.documents(s, d)))

  /** The scan form over an arbitrary (doc_id, text, …) frame — the
    * equivalence witness for the index/streaming serving paths. */
  def bm25SearchOf(docsFrame: DataFrame): DataFrame = {
    val s = docsFrame.sparkSession
    import s.implicits._
    // Per-document term frequencies as NARROW per-row columns — for a
    // fixed small query, tf of each term is an array scan, so the
    // whole retrieval needs no postings shuffle at all: one corpus
    // pass computes (dl, tf₀..tf₃), a tiny aggregate yields
    // (N, Σdl, df₀..df₃) to broadcast back, and scoring is per-row
    // arithmetic feeding a bounded top-K. (An earlier explode →
    // groupBy(doc, term) → pivot formulation measured 0.82 s at
    // sf0.1; this form ~halves it. The MATERIALIZED inverted index —
    // explode all terms, bucket by term — is the serving-path variant,
    // x06's pattern, worthwhile when queries arrive repeatedly.)
    val tfCols = QueryTerms.zipWithIndex.map { case (t, i) =>
      size(filter($"toks", x => x === t)).cast("long").as(s"tf$i") }
    // base feeds BOTH the stats aggregate and the scoring branch —
    // materialize the scan+tokenize once (the lmLikelihood/x13
    // checkpoint pattern) instead of re-parsing the corpus per branch.
    val base = docsFrame
      .select($"doc_id", toksCol.as("toks"))
      .select(Seq($"doc_id", size($"toks").cast("long").as("dl")) ++ tfCols: _*)
      .localCheckpoint(false)

    // Corpus stats + per-term document frequencies: ONE tiny
    // aggregate → single-row broadcast (the x31 stats pattern).
    val dfCols = QueryTerms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      Seq(sum($"dl").as("sum_dl")) ++ dfCols: _*)
    scoreBm25(base, stats)
  }

  // ---- materialized inverted index (the serving path) -------------------

  /** Term-bucket count for the postings partitioning: enough that a
    * probe reads a small corpus fraction, few enough that the
    * directory count stays trivial. */
  val TermBuckets = 64

  /** The term's bucket as a Spark column — md5-derived (the repo's
    * content-hash idiom), so the bucket of a term is a pure function of
    * the string on any engine or session. */
  private[graft] def termBucketCol(t: Column): Column =
    pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
      lit(TermBuckets.toLong)).cast("int")

  /** The same bucket function evaluated driver-side, for turning a
    * QUERY's literal terms into partition-pruning literals. A spec
    * (SearchSpec) pins JVM≡Spark agreement. */
  private[graft] def termBucketJvm(t: String): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % TermBuckets).toInt
  }

  /** (doc_id, toks, dl) — the tokenized frame the index build and the
    * streaming postings partials (SearchStream) share. */
  private[graft] def tokenizedOf(docsFrame: DataFrame): DataFrame = {
    import docsFrame.sparkSession.implicits._
    docsFrame
      .select($"doc_id", toksCol.as("toks"))
      .select($"doc_id", $"toks", size($"toks").cast("long").as("dl"))
  }

  /** The postings relation (doc_id, term, tf, dl, tb) of a tokenized
    * frame — one (doc_id, term) shuffle, term-bucket column attached. */
  private[graft] def postingsOf(tokenized: DataFrame): DataFrame = {
    import tokenized.sparkSession.implicits._
    tokenized.select($"doc_id", $"dl", explode($"toks").as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"), max($"dl").as("dl"))
      .withColumn("tb", termBucketCol($"term"))
  }

  /** The one-row corpus stats (n_docs, sum_dl) of a tokenized frame —
    * covers docs that produce no postings row. */
  private[graft] def statsOf(tokenized: DataFrame): DataFrame = {
    import tokenized.sparkSession.implicits._
    tokenized.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
  }

  /** BM25 top-K from a query-term postings frame (doc_id, term, tf,
    * dl) plus a one-row (n_docs, sum_dl) frame: df falls out of the
    * hits, the per-doc tf vector pivots out of them too, and scoring is
    * the shared scoreBm25 arithmetic — used by the materialized-index
    * probe (x33b) and the streaming postings state (SearchStream). */
  private[graft] def scoreFromHits(hits: DataFrame,
                                   stats0: DataFrame): DataFrame = {
    import hits.sparkSession.implicits._
    val dfs = hits.agg(
      QueryTerms.zipWithIndex.map { case (t, i) =>
        sum(when($"term" === t, 1L).otherwise(0L)).as(s"df$i") }.head,
      QueryTerms.zipWithIndex.drop(1).map { case (t, i) =>
        sum(when($"term" === t, 1L).otherwise(0L)).as(s"df$i") }: _*)
    val stats = stats0.crossJoin(broadcast(dfs))
    val base = hits.groupBy($"doc_id")
      .agg(max($"dl").as("dl"),
        QueryTerms.zipWithIndex.map { case (t, i) =>
          max(when($"term" === t, $"tf").otherwise(0L)).as(s"tf$i") }: _*)
    scoreBm25(base, stats)
  }

  /** The materialized inverted index for a corpus dir, built ONCE
    * (the x06/x12 ensure pattern — staged-rename build, content-keyed
    * path):
    *  - `postings/`: (term, doc_id, tf, dl) PARTITIONED BY tb (the
    *    term's bucket) — a query's terms map to bucket literals and the
    *    probe scan reads only those directories.
    *  - `stats/`: one row (n_docs, sum_dl) — corpus-wide constants a
    *    probe must not rescan the corpus for (they cover docs with no
    *    postings row).
    * The build pays one corpus tokenize + one (doc_id, term) shuffle —
    * the standard index-construction cost, amortized over every
    * subsequent query (repeated-query serving is the production mode
    * for decontamination triage / eval-slice assembly).
    *
    * INCREMENTAL refresh (the ensureOverlapIndex discipline): when a
    * completed sibling artifact covers a strict subset of this corpus
    * listing — a true append — the new artifact merges instead of
    * re-tokenizing the corpus. Both pieces are merge-EXACT: postings
    * rows are per-document (base and delta doc_ids are disjoint, so
    * the merged relation is the bag union — base partition files
    * carry over byte-for-byte, delta files layer in), and stats is a
    * two-long sum. Cost is O(delta text + base-index copy IO), never
    * O(corpus text); the old corpus files are not read at all. */
  def ensureBm25Index(s: SparkSession, d: String,
                      indexRoot: String = sys.props("java.io.tmpdir")): String = {
    import s.implicits._
    val listing = SimilarityOps.listingOf(s, d, Seq("documents.parquet"))
    val parts = listing.map(_._1)
    val path = new org.apache.hadoop.fs.Path(indexRoot,
      SimilarityOps.indexDirName(d, "bm25", "v2",
        SimilarityOps.sigOf(parts))).toString
    ArtifactBuild.ensure(s, path, "postings/_SUCCESS") { staging =>
      val st = staging.toString
      val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
      val base = ArtifactBuild.findAppendBase(s, indexRoot,
        SimilarityOps.indexPrefix(d, "bm25", "v2"), parts,
        "postings/_SUCCESS")
      val merged = base.isDefined && {
        val (bpath, bparts) = base.get
        val deltaPaths = listing.collect {
          case (part, full) if !bparts.contains(part) => full }
        val delta = tokenizedOf(Tables.rebalance(
          s.read.parquet(deltaPaths: _*))).localCheckpoint(false)
        s.read.parquet(s"$bpath/stats").unionAll(statsOf(delta))
          .agg(sum($"n_docs").as("n_docs"), sum($"sum_dl").as("sum_dl"))
          .write.mode("overwrite").parquet(s"$st/stats")
        ArtifactBuild.copyPiece(s, new org.apache.hadoop.fs.Path(bpath, "postings"),
          new org.apache.hadoop.fs.Path(staging, "postings"))
        val deltaTmp = new org.apache.hadoop.fs.Path(st + "-delta")
        postingsOf(delta).write.mode("overwrite").partitionBy("tb")
          .parquet(deltaTmp.toString)
        ArtifactBuild.layerPartitioned(s, deltaTmp,
          new org.apache.hadoop.fs.Path(staging, "postings"), "delta")
        true
      }
      if (!merged) {
        val docs = tokenizedOf(Tables.rebalance(Tables.documents(s, d)))
          .localCheckpoint(false)
        // stats FIRST (tiny), postings LAST — postings/_SUCCESS is the
        // completion marker, so a crash between the writes re-builds
        statsOf(docs).write.mode("overwrite")
          .parquet(new org.apache.hadoop.fs.Path(staging, "stats").toString)
        postingsOf(docs)
          .write.mode("overwrite").partitionBy("tb")
          .parquet(new org.apache.hadoop.fs.Path(staging, "postings").toString)
      }
      ArtifactBuild.writeListing(fs, staging, parts)
    }
  }

  /** x33b — BM25 served from the materialized index: the query's terms
    * become bucket LITERALS (static partition pruning — only the
    * probed term directories are read), document frequencies fall out
    * of the pruned postings themselves, corpus stats come from the
    * persisted one-row table, and scoring is the SAME shared arithmetic
    * as x33 — so the identical DuckDB oracle validates this entry
    * bit-for-bit. Per-query work is proportional to the query terms'
    * posting lists, not the corpus. */
  def bm25SearchIndexed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = ensureBm25Index(s, d)
    val stats0 = ArtifactBuild.readCached(s, s"$root/stats")
    val tbs = QueryTerms.map(termBucketJvm).distinct
    // Pruned-bucket scan, exact term filter pushed to parquet. The df
    // and tf branches each read the pruned postings directly — NO
    // checkpoint here (unlike x33's corpus-wide base): the pruned read
    // is |query-term postings|-sized, and a checkpoint would hide the
    // partition-pruned scan from the plan the audit pins.
    val hits = ArtifactBuild.readCached(s, s"$root/postings")
      .filter($"tb".isin(tbs: _*) && $"term".isin(QueryTerms: _*))
      .select($"doc_id", $"term", $"tf", $"dl")
    scoreFromHits(hits, stats0)
  }

  // ---- exact phrase search ----------------------------------------------

  /** The fixed test phrase — three consecutive tokens that occur in
    * several fixture documents (multi-doc hits, still selective). */
  val PhraseTerms: Seq[String] = Seq("window", "fast", "query")
  val PhraseTopK = 20

  /** x67 — exact phrase search: the docs containing PhraseTerms as
    * ADJACENT tokens, with occurrence counts and the first match
    * position. BM25 (x33) ranks by bag-of-words and cannot distinguish
    * "window fast query" from the words scattered apart — but
    * decontamination triage, quote detection, and blocklist audits all
    * ask for the exact sequence. This is the query-time scan form: ONE
    * narrow pass (tokenize → per-row position filter → size/first),
    * no shuffle before the bounded top-K; `phraseSearchIndexed` (x67b)
    * is the serving form — per-term position arrays in a
    * bucket-partitioned positional index, adjacency as a per-row
    * array intersection over the probed postings only.
    *
    * Oracle-exactness: positions are 1-based integers from the same
    * whitespace tokenization both engines share; counts and positions
    * are exact integers. */
  def phraseSearch(s: SparkSession, d: String): DataFrame =
    phraseSearchOf(Tables.rebalance(Tables.documents(s, d)))

  def phraseSearchOf(docsFrame: DataFrame): DataFrame = {
    val s = docsFrame.sparkSession
    import s.implicits._
    // positions via the fused codegen scan (graft_phrase_positions) —
    // the equivalent filter(sequence(…), …) HOF pipeline evaluates its
    // lambda interpreted per element and measured ~15× slower at sf0.1
    docsFrame
      .select($"doc_id", toksCol.as("toks"))
      .select($"doc_id", call_function(
        graft.plans.GraftExpressions.PhrasePosFn,
        $"toks", lit(PhraseTerms.mkString(","))).as("ps"))
      .filter(size($"ps") > 0)
      .select($"doc_id", size($"ps").cast("long").as("n_hits"),
        element_at($"ps", 1).cast("long").as("first_pos"))
      .orderBy($"n_hits".desc, $"doc_id")
      .limit(PhraseTopK)
  }

  /** The positional inverted index (the serving path for phrase
    * queries): (doc_id, term, positions[]) PARTITIONED BY the term's
    * bucket — x33b's layout plus per-term sorted position arrays, kept
    * as a SEPARATE artifact so the BM25 postings stay lean (most
    * queries never need positions; shipping them in every postings row
    * would tax the common case). Build cost is one corpus tokenize +
    * one (doc_id, term) shuffle.
    *
    * Incremental refresh mirrors ensureBm25Index exactly: positions
    * rows are per-document, so an append merges as bag union — base
    * partition files carry over byte-for-byte, only the delta is
    * tokenized. */
  def ensurePhraseIndex(s: SparkSession, d: String,
                        indexRoot: String = sys.props("java.io.tmpdir")): String = {
    import s.implicits._
    val listing = SimilarityOps.listingOf(s, d, Seq("documents.parquet"))
    val parts = listing.map(_._1)
    val path = new org.apache.hadoop.fs.Path(indexRoot,
      SimilarityOps.indexDirName(d, "phrase", "v2",
        SimilarityOps.sigOf(parts))).toString
    def positionsOf(docsFrame: org.apache.spark.sql.DataFrame) =
      tokenizedOf(docsFrame)
        .select($"doc_id", posexplode($"toks"))
        .toDF("doc_id", "pos", "term")
        .groupBy($"doc_id", $"term")
        // 1-based positions, sorted so element_at(·, 1) is the first hit
        .agg(sort_array(collect_list($"pos" + 1)).as("positions"))
        .withColumn("tb", termBucketCol($"term"))
    ArtifactBuild.ensure(s, path, "positions/_SUCCESS") { staging =>
      val st = staging.toString
      val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
      val base = ArtifactBuild.findAppendBase(s, indexRoot,
        SimilarityOps.indexPrefix(d, "phrase", "v2"), parts,
        "positions/_SUCCESS")
      val merged = base.isDefined && {
        val (bpath, bparts) = base.get
        val deltaPaths = listing.collect {
          case (part, full) if !bparts.contains(part) => full }
        ArtifactBuild.copyPiece(s,
          new org.apache.hadoop.fs.Path(bpath, "positions"),
          new org.apache.hadoop.fs.Path(staging, "positions"))
        val deltaTmp = new org.apache.hadoop.fs.Path(st + "-delta")
        positionsOf(Tables.rebalance(s.read.parquet(deltaPaths: _*)))
          .write.mode("overwrite").partitionBy("tb").parquet(deltaTmp.toString)
        ArtifactBuild.layerPartitioned(s, deltaTmp,
          new org.apache.hadoop.fs.Path(staging, "positions"), "delta")
        true
      }
      if (!merged)
        positionsOf(Tables.rebalance(Tables.documents(s, d)))
          .write.mode("overwrite").partitionBy("tb")
          .parquet(new org.apache.hadoop.fs.Path(staging, "positions").toString)
      ArtifactBuild.writeListing(fs, staging, parts)
    }
  }

  /** x67b — phrase search served from the positional index: the
    * phrase's terms become bucket literals (partition pruning), each
    * matched doc pivots its terms' position arrays into columns, and
    * adjacency is a per-row array intersection — start position i
    * matches iff term j's positions contain i+j for every j. Per-query
    * work ∝ the phrase terms' posting lists, never the corpus; output
    * is bit-identical to the x67 scan (one shared oracle). */
  def phraseSearchIndexed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = ensurePhraseIndex(s, d)
    val tbs = PhraseTerms.map(termBucketJvm).distinct
    val hits = ArtifactBuild.readCached(s, s"$root/positions")
      .filter($"tb".isin(tbs: _*) && $"term".isin(PhraseTerms: _*))
    val pivoted = hits.groupBy($"doc_id")
      .agg(PhraseTerms.zipWithIndex.map { case (t, j) =>
        max(when($"term" === t, $"positions")).as(s"p$j") }.head,
        PhraseTerms.zipWithIndex.drop(1).map { case (t, j) =>
          max(when($"term" === t, $"positions")).as(s"p$j") }: _*)
      .filter(PhraseTerms.indices.map(j => col(s"p$j").isNotNull)
        .reduceLeft(_ && _))
    val adjacency = PhraseTerms.indices.drop(1)
      .map(j => s"array_contains(p$j, CAST(i + $j AS INT))")
      .mkString(" AND ")
    pivoted
      .select($"doc_id",
        expr(s"filter(p0, i -> $adjacency)").as("ps"))
      .filter(size($"ps") > 0)
      .select($"doc_id", size($"ps").cast("long").as("n_hits"),
        element_at($"ps", 1).cast("long").as("first_pos"))
      .orderBy($"n_hits".desc, $"doc_id")
      .limit(PhraseTopK)
  }

  // ---- hybrid retrieval: BM25 ⊕ dense ANN via RRF -----------------------

  /** RRF smoothing constant — k=60, the value recommended in the
    * original reciprocal-rank-fusion paper (Cormack, Clarke &
    * Büttcher, SIGIR 2009). */
  val RrfK = 60

  /** x64 — hybrid retrieval: the lexical top-$TopK (BM25 served from
    * the materialized inverted index — the x33b probe) fused with the
    * dense top-${SimilarityOps.TopK} (cosine ANN served from the
    * materialized LSH index — the x06 probe) by reciprocal rank
    * fusion: score(d) = Σ_legs 1/(k + rank_leg(d)). This is the
    * production shape of "semantic + keyword" retrieval every RAG /
    * eval-slice-assembly stack runs, and it composes the two serving
    * indexes this library already maintains — per-query work is two
    * pruned index probes, never a corpus scan.
    *
    * Scale shape: each leg ends in a bounded top-K
    * (TakeOrderedAndProject), the ranks come from single-partition
    * windows over ≤K rows, and the fusion is a union + hash aggregate
    * of ≤K+K rows — every corpus-sized structure stays behind the
    * index probes. A full-outer join formulation would force a
    * SortMergeJoin (broadcast cannot serve full-outer); the
    * union-then-pivot keeps the suite's zero-SMJ invariant.
    *
    * Oracle-exactness: ranks are integers with deterministic
    * (score DESC, id) tiebreaks; each leg's contribution rounds to 6
    * decimals; the per-doc sum has ≤2 addends and IEEE addition is
    * commutative, so group order cannot perturb the double. */
  def hybridRrf(s: SparkSession, d: String): DataFrame =
    fuseRrf(bm25SearchIndexed(s, d), SimilarityOps.annLsh(s, d))

  /** The fusion over ANY (doc_id, score, …) lexical top-K and
    * (vec_id, sim) dense top-K — one implementation serving both the
    * batch indexes (x64) and the incrementally-maintained streaming
    * state (SearchStream.servedHybrid), so the two paths cannot drift. */
  def fuseRrf(lexTop: DataFrame, vecTop: DataFrame): DataFrame = {
    val s = lexTop.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.Tables.SmallResult
    val lex = lexTop
      .select($"doc_id",
        row_number().over(Window.orderBy($"score".desc, $"doc_id"))
          .cast("long").as("r"),
        lit("lex").as("leg"))
    val vec = vecTop
      .select($"vec_id".as("doc_id"),
        row_number().over(Window.orderBy($"sim".desc, $"vec_id"))
          .cast("long").as("r"),
        lit("vec").as("leg"))
    lex.unionByName(vec)
      .groupBy($"doc_id")
      .agg(
        sum(round(lit(1.0) / (lit(RrfK) + $"r"), 6)).as("rrf"),
        max(when($"leg" === "lex", $"r")).as("r_lex"),
        max(when($"leg" === "vec", $"r")).as("r_vec"))
      .smallOrdered($"rrf".desc, $"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x33_bm25_search" -> bm25Search _,
    "x33b_bm25_search_indexed" -> bm25SearchIndexed _,
    "x64_hybrid_rrf" -> hybridRrf _,
    "x67_phrase_search" -> phraseSearch _,
    "x67b_phrase_search_indexed" -> phraseSearchIndexed _,
  )

  /** ONE oracle definition for both the scan form and the index-served
    * form — they are the same query (shared scoring arithmetic; the
    * index changes only what gets read), so they must hash-match the
    * same SQL. */
  /** The BM25 pipeline as a reusable CTE chain ending in `agg`
    * (doc_id, w0..wN pivot columns, n_terms) — shared verbatim between
    * the x33/x33b oracle and the lexical leg of the x64 hybrid oracle,
    * the same anti-drift convention as SimilarityOps.sigCtes. */
  private def bm25Ctes: String = {
      val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
      val cases = QueryTerms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN w END) AS w$i" }.mkString(",\n        |       ")
      s"""d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
        |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
        |       WHERE term IN ($terms) GROUP BY doc_id, term),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |w AS (SELECT doc_id, term,
        |        round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
        |              (tf * ($K1 + 1.0)) /
        |              (tf + $K1 * (1.0 - $B + $B * dl / avgdl)), 6) AS w
        |      FROM tf JOIN dft USING (term) CROSS JOIN stats),
        |agg AS (SELECT doc_id,
        |       $cases,
        |       CAST(count(*) AS BIGINT) AS n_terms
        |      FROM w GROUP BY doc_id)""".stripMargin
  }

  /** The fixed-order score sum over agg's pivot columns. */
  private def bm25SumExpr: String =
    QueryTerms.indices.map(i => s"coalesce(w$i, 0)").mkString(" + ")

  private lazy val bm25OracleSql: String =
    s"""WITH $bm25Ctes
      |SELECT doc_id, round($bm25SumExpr, 4) AS score, n_terms
      |FROM agg ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin

  /** x64's oracle: the x33 lexical top-$TopK and the x06 dense
    * top-${SimilarityOps.TopK} (both CTE chains reused verbatim from
    * their own green oracles) ranked, unioned, and RRF-summed — every
    * rank is an integer, each leg contribution rounds to 6 decimals
    * before a two-value commutative sum, so the fused doubles are
    * bitwise identical cross-engine. */
  private lazy val hybridOracleSql: String =
    s"""WITH $bm25Ctes,
      |lex AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
      |  FROM (SELECT doc_id, round($bm25SumExpr, 4) AS score
      |        FROM agg ORDER BY score DESC, doc_id LIMIT $TopK)),
      |${SimilarityOps.sigCtes},
      |probe AS (
      |  SELECT e.embedding::DOUBLE[] AS qe, s.bucket AS qb
      |  FROM embeddings e JOIN sig s USING (vec_id) WHERE e.vec_id = 0),
      |vectop AS (
      |  SELECT e.vec_id,
      |    ROUND(list_dot_product(e.embedding::DOUBLE[], probe.qe) /
      |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |       sqrt(list_dot_product(probe.qe, probe.qe))), 4) AS sim
      |  FROM embeddings e JOIN sig s ON s.vec_id = e.vec_id, probe
      |  WHERE e.vec_id <> 0
      |    AND bit_count(xor(s.bucket, probe.qb)) <= ${SimilarityOps.ProbeRadius}
      |  ORDER BY sim DESC, e.vec_id LIMIT ${SimilarityOps.TopK}),
      |vec AS (
      |  SELECT vec_id AS doc_id,
      |    CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS r
      |  FROM vectop),
      |fused AS (
      |  SELECT doc_id, r, 'lex' AS leg FROM lex
      |  UNION ALL
      |  SELECT doc_id, r, 'vec' AS leg FROM vec)
      |SELECT doc_id,
      |       sum(round(1.0 / ($RrfK + r), 6)) AS rrf,
      |       max(CASE WHEN leg = 'lex' THEN r END) AS r_lex,
      |       max(CASE WHEN leg = 'vec' THEN r END) AS r_vec
      |FROM fused GROUP BY doc_id
      |ORDER BY rrf DESC, doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x33_bm25_search" -> bm25OracleSql,
    "x33b_bm25_search_indexed" -> bm25OracleSql,
    "x64_hybrid_rrf" -> hybridOracleSql,
    // x67/x67b: DuckDB's range(1, n) is [1, n) and list indexing is
    // 1-based, so the position semantics line up with Spark's sequence
    // + element_at form exactly; counts/positions are exact integers.
    // ONE oracle validates both the scan and the index-served form
    // (the index changes only what gets read — the x33/x33b pattern).
    "x67b_phrase_search_indexed" -> phraseOracleSql,
    "x67_phrase_search" -> phraseOracleSql,
  )

  private lazy val phraseOracleSql: String = {
      val n = PhraseTerms.size
      val cond = PhraseTerms.zipWithIndex.map { case (t, j) =>
        s"w[CAST(i + $j AS BIGINT)] = '$t'" }.mkString(" AND ")
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\\s+'),
        |                x -> x <> '') AS w
        |  FROM documents),
        |ph AS (
        |  SELECT doc_id,
        |    list_filter(range(1, len(w) - ${n - 2}), i -> $cond) AS ps
        |  FROM toks)
        |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_hits,
        |       CAST(ps[1] AS BIGINT) AS first_pos
        |FROM ph WHERE len(ps) > 0
        |ORDER BY n_hits DESC, doc_id LIMIT $PhraseTopK""".stripMargin
  }
}
