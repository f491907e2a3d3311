package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan contracts: the physical-plan properties the 100 TB design
  * depends on, locked in as assertions so a refactor that silently
  * loses a pushdown, a broadcast, or a top-K operator fails the build
  * rather than just getting slower. */
class PlanAuditSpec extends AnyFunSuite with SparkTestSession {

  /** Execute first: under AQE the final plan (incl. WholeStageCodegen
    * wrapping and runtime join choices) only exists after execution.
    * AdaptiveSparkPlan.toString appends the pre-execution plan after an
    * "Initial Plan" marker — keep only the final plan. */
  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def formatted(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q09: shipdate filter and column pruning reach the parquet scan") {
    // IsNotNull(l_shipdate) is inferred by constraint propagation,
    // which GraftSession turns off (ConstraintPropParitySpec pins that
    // no plan's IO changes with it); the pushdown is pinned with it on
    val f = withConf("spark.sql.constraintPropagation.enabled", "true")(
      formatted("q09_pricing_summary"))
    assert(f.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!f.contains("l_orderkey"), "scan must not read unused columns")
  }

  test("q10: all three dimension joins broadcast, fact side streams") {
    val p = plan("q10_join_4way")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q08/q16: top-K plans as TakeOrderedAndProject (no global sort)") {
    assert(plan("q08_recent_events").contains("TakeOrderedAndProject"))
    assert(plan("q16_knn_cosine").contains("TakeOrderedAndProject"))
  }

  test("q16: probe-side pushdown (vec_id = 0 reaches the scan)") {
    val f = formatted("q16_knn_cosine")
    assert(f.contains("EqualTo(vec_id,0)"))
  }

  test("x02: candidate verification broadcasts, corpus scanned once") {
    val p = plan("x02_dedup_minhash_lsh")
    assert(p.contains("BroadcastHashJoin"))
    // one corpus scan in the verify join (plus one in the signature
    // branch): the documents file appears at most twice in the plan
    assert("documents\\.parquet".r.findAllIn(p).size <= 2)
  }

  test("x04: narrow shingle pipeline — only the top-K exchange remains") {
    val p = plan("x04_dedup_ngram_jaccard")
    // no hash-partitioned exchange: shingling is per-row, probe is
    // broadcast, the only ordering work is the final TakeOrdered.
    assert(!p.contains("hashpartitioning"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("x06: probe pushdown, codegen signature, top-K — no full scan rank") {
    // the signature expression now lives in the broadcast PROBE subtree
    // (the corpus side reads the materialized index instead of
    // recomputing signatures) — the formatted mode prints subqueries,
    // the executed-plan string truncates them.
    val f = formatted("x06_ann_lsh")
    assert(f.contains("EqualTo(vec_id,0)"))
    assert(f.contains("graft_hyperplane_sig"))
    val p = plan("x06_ann_lsh")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("x06: serving probe scan is bucket-pruned on the materialized index") {
    // the corpus side must be the bucket-PARTITIONED index scan with a
    // dynamic partition-pruning filter fed by the probe's exploded
    // bucket keys — i.e. a probe reads only probed bucket directories,
    // never the whole index (and never recomputes corpus signatures).
    val p = plan("x06_ann_lsh")
    assert(p.contains("graft-ann-index"), "must scan the materialized index")
    assert(p.contains("dynamicpruning"),
      "index scan must carry a dynamic partition-pruning filter")
  }

  test("x12: centroid work rides broadcasts; corpus never sort-merges") {
    val p = plan("x12_ann_ivf")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("x12: served from the materialized IVF index, probe list-pruned") {
    // training must be absent from the query path (the plan reads the
    // persisted centroids + assignments, never re-runs Lloyd), and the
    // cid-partitioned assignment scan must carry a dynamic
    // partition-pruning filter fed by the probed centroid ids
    val p = plan("x12_ann_ivf")
    assert(p.contains("graft-ivf-index"), "must scan the materialized index")
    assert(p.contains("dynamicpruning"),
      "assignment scan must carry a dynamic partition-pruning filter")
  }

  test("x38: IVF-PQ serves from materialized codes, probed lists only") {
    // codes + codebook come from the persisted index (no re-encode on
    // the query path); the codes scan partition-prunes to the probed
    // cids; every join broadcasts; the rerank top-K is bounded
    val p = plan("x38_ann_ivfpq")
    assert(p.contains("graft-ivfpq-index"), "must scan the materialized codes")
    assert(p.contains("dynamicpruning"),
      "codes scan must carry a dynamic partition-pruning filter")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("x17: served from the materialized label artifact — no convergence at serve") {
    // labels are maintained by ClusterStream / periodic rebuilds; a
    // query reads the artifact (the x66/x27 discipline). No corpus
    // scan, no join, no iteration in the serve plan.
    val p = plan("x17_dedup_clusters")
    assert(p.contains("graft-cc-index"),
      "labels must serve from the materialized artifact")
    assert(!p.contains("documents.parquet"),
      "corpus scan must not run at serve time")
    assert(!p.contains("Join"), "no join at serve time")
  }

  test("x17 inline witness: isolated docs rejoin via broadcast, not a corpus shuffle") {
    val df = graft.operators.DedupOps.dedupClusters(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("x28: the scrub is one narrow stage — no exchange before the sort") {
    val p = plan("x28_pii_redaction")
    // rebalance round-robin + final range sort are the only exchanges;
    // no hash-partitioned shuffle (nothing aggregates or joins)
    assert(!p.contains("hashpartitioning"))
    assert(!p.contains("BroadcastHashJoin"))
  }

  test("x29: counters broadcast to the probe join; top-K is bounded") {
    val p = plan("x29_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("x30: stats side is a single-row broadcast, fact side streams") {
    val p = plan("x30_zorder_layout")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // the curve key is computed per row in codegen
    assert(p.contains("graft_zorder"))
  }

  test("x13b: the production sketch plan carries no distinct-rewrite Expand") {
    // x13 keeps the exact-countDistinct branch for oracle-ability; the
    // registered production entry must be the pure HLL++ aggregation —
    // no Expand, no per-distinct-value shuffle, no join back
    val p = plan("x13b_approx_distinct_sketch")
    assert(!p.contains("Expand"), "sketch-only plan must not Expand")
    assert(!p.contains("Join"), "sketch-only plan must not join")
  }

  test("x33: postings join broadcasts; top-K bounded; no corpus re-sort") {
    // df table (≤|query| rows) and the single-row stats frame both
    // broadcast; the only ordering operator is the final bounded top-K.
    val p = plan("x33_bm25_search")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"))
    // the checkpointed base feeds both the stats and scoring branches:
    // the corpus is parsed once, never re-tokenized per branch
    assert("documents\\.parquet".r.findAllIn(p).size <= 1,
      "stats + scoring must share one tokenized corpus pass")
  }

  test("x33b: served from the inverted index, probed buckets only") {
    // the corpus must be absent from the query path — the plan reads
    // the persisted postings with the query terms' bucket literals as
    // partition filters and the term filter pushed to parquet
    val p = plan("x33b_bm25_search_indexed")
    assert(p.contains("graft-bm25-index"), "must scan the materialized index")
    assert(!p.contains("documents.parquet"),
      "the corpus must not be rescanned at query time")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"))
    val f = formatted("x33b_bm25_search_indexed")
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(f).isDefined,
      "postings scan must prune on the term-bucket partition column")
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(f).isDefined,
      "term membership must push down to the postings scan")
  }

  test("x67: phrase search is one narrow pass into a bounded top-K") {
    // tokenize + position filter + count run in the same projection;
    // nothing shuffles before the TakeOrdered cut
    val p = plan("x67_phrase_search")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!"HashAggregate".r.findFirstIn(p).isDefined,
      "no aggregate belongs in a per-row phrase scan")
  }

  test("x68: window votes are one narrow pass into the doc aggregate") {
    // tokenize + window transform + explode + vote run in one
    // projection; the only exchange is the doc-grain aggregate's
    val p = plan("x68_mixed_language")
    assert(!p.contains("Join"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Expand"),
      "n_langs must ride collect_set, not a distinct-rewrite Expand")
    assert("Exchange".r.findAllIn(p).size <= 3,
      "only the aggregate and the doc-order sort may exchange")
  }

  test("x67b: served from the positional index, probed buckets only") {
    val p = plan("x67b_phrase_search_indexed")
    assert(p.contains("graft-phrase-index"), "must scan the positional index")
    assert(!p.contains("documents.parquet"),
      "the corpus must not be rescanned at query time")
    assert(!p.contains("SortMergeJoin"))
    val f = formatted("x67b_phrase_search_indexed")
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(f).isDefined,
      "positions scan must prune on the term-bucket partition column")
  }

  test("x66: served from the materialized rank artifact — no iteration at serve") {
    // the convergence loop (graph build + PrIters propagation rounds)
    // runs at index build only; the serve plan is one FileScan of the
    // converged (node, r) table + projection + bounded top-K — no
    // join, no fact-table scan, no aggregate (the x27/x12 discipline)
    val p = plan("x66_pagerank")
    assert(p.contains("graft-pagerank-index"),
      "ranks must serve from the materialized artifact")
    assert(!p.contains("lineitem.parquet"),
      "fact-table scan must not run at serve time")
    assert(!p.contains("Join"), "no join at serve time")
    assert(!p.contains("HashAggregate"), "no aggregate at serve time")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("x66 inline witness: each PageRank round is one shuffle; no SMJ") {
    // the build-path form keeps the iteration-body contract: fabric
    // and rank state broadcast (or AQE-shuffle) — a SortMergeJoin or
    // cartesian there would multiply by the round count at 100 TB
    val df = graft.operators.GraphOps.pageRankInline(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("x64: hybrid fusion is two index probes, no corpus scan, no SMJ") {
    // both legs must serve from their materialized indexes (the x33b
    // postings probe + the x06 LSH-bucket probe); the fusion itself is
    // a union + hash aggregate of ≤K+K rows — a full-outer join here
    // would force a SortMergeJoin (broadcast cannot serve full-outer)
    val p = plan("x64_hybrid_rrf")
    assert(p.contains("graft-bm25-index"), "lexical leg must probe the postings index")
    assert(p.contains("graft-ann-index"), "dense leg must probe the LSH index")
    assert(!p.contains("documents.parquet"),
      "the corpus must not be rescanned at query time")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("x34b: the production overlap plan is one scan, no Expand, no join") {
    // three conditional HLL++ buffers in ONE aggregation: a
    // distinct-rewrite Expand or a join-back means the set-algebra
    // sketch stopped being single-pass.
    val p = plan("x34b_corpus_overlap_sketch")
    assert(!p.contains("Expand"), "sketch-only plan must not Expand")
    assert(!p.contains("Join"), "sketch-only plan must not join")
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
  }

  test("x35: sketch and exact branches rejoin via broadcast on 3 rows") {
    // the GK-sketch aggregate and the distributed exact validator meet
    // in a broadcast join of two ≤|groups|-row frames — never a
    // SortMergeJoin. The fused sketch+histogram pass runs once behind
    // a localCheckpoint (a tiny pinned frame every consumer reuses),
    // so the served plan itself re-scans lineitem exactly once
    // (pass 2's semi-joined bucket re-scan) — 2 corpus passes total,
    // never the round-11 5-scan amplification.
    val p = plan("x35_approx_quantiles")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert("lineitem\\.parquet".r.findAllIn(p).size === 1)
  }

  test("x35 pass 1: one scan, one fused aggregate — pinned pre-checkpoint") {
    // the localCheckpoint hides pass 1 behind a LogicalRDD in the
    // served plan, so the pin above cannot see a scan-count regression
    // INSIDE pass 1 (e.g. the GK sketch and graft_hist unfusing into
    // two aggregates, or a second lineitem read creeping in); audit
    // the pass-1 frame's own plan separately
    val df = graft.operators.SketchOps.quantilePass1(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllIn(p).size === 1)
    assert(!p.contains("Join"), "pass 1 is a single grouped aggregate")
    // one aggregate = one partial/final pair = exactly one exchange
    assert("Exchange".r.findAllIn(p).size === 1,
      "GK + count + graft_hist must stay fused in ONE aggregate")
  }

  test("x35b: the production quantile plan is GK-only — no group buffers") {
    // x35 keeps the sort_array(collect_list) exact branch for the
    // oracle; the registered production entry must be the pure
    // percentile_approx aggregation — no per-group value buffer, no
    // join back, one lineitem scan
    val p = plan("x35b_approx_quantiles_sketch")
    assert(!p.contains("collect_list"), "sketch-only plan must not buffer groups")
    assert(!p.contains("sort_array"))
    assert(!p.contains("Join"), "sketch-only plan must not join")
    assert("lineitem\\.parquet".r.findAllIn(p).size === 1)
  }

  test("x36: corpus work is one aggregate; the cap solve never shuffles it") {
    // the only corpus-sized operation is the per-source token
    // aggregate; the water-filling algebra must ride tiny frames
    // (single-partition window + broadcast), never a SortMergeJoin or
    // a second documents scan
    val p = plan("x36_mixture_plan")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
  }

  test("x37: the report card is one scan and one aggregation, no joins") {
    val p = plan("x37_corpus_report")
    assert(!p.contains("Join"))
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
  }

  test("x57: served from the materialized labels; closure is one broadcast probe") {
    // takedown feeds recur against a corpus snapshot, so the
    // production shape is label-LOOKUP: the plan must read the
    // persisted cluster-label artifact, never re-run the x17
    // convergence (no corpus scan), and the listed-rep set is tiny by
    // construction (a takedown list) so the closure must cost ONE
    // broadcast-hash probe — a SortMergeJoin or cartesian against the
    // label frame would be a 100 TB regression
    val p = plan("x57_removal_propagation")
    assert(p.contains("graft-cc-index"), "must serve from the labels artifact")
    assert(!p.contains("documents.parquet"),
      "the corpus must not be rescanned (no in-query re-convergence)")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("x58: the manifest is one scan, one aggregate, no joins") {
    // counts/sums/XORs are algebraic partials — the whole manifest must
    // plan as a single hash aggregate over a single corpus scan (the
    // per-file-then-merge shape a 100 TB release audit runs)
    val p = plan("x58_shard_manifest")
    assert(!p.contains("Join"))
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
    assert("HashAggregate".r.findAllIn(p).nonEmpty)
  }

  test("x59: the blocklist gate is a narrow map — no exchange but the sort") {
    // the phrase battery must fold into the scan's projection (no
    // shuffle, no join): the gate runs BEFORE the shuffle-bearing
    // stages of a pipeline, so any exchange here taxes every downstream
    // consumer
    val p = plan("x59_blocklist_filter")
    assert(!p.contains("hashpartitioning"))
    assert(!p.contains("Join"))
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
  }

  test("x39/x41: narrow per-row queries — no hash exchange, no join") {
    // classifier scoring and chunking are pure per-row maps: the only
    // exchange either plan may carry is the presentation range sort
    for (q <- Seq("x39_quality_classifier", "x41_chunk_documents")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"), q)
      assert(!p.contains("Join"), q)
    }
  }

  test("x40: banding join shape — no cartesian, no sort-merge") {
    val p = plan("x40_media_phash_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("x42: self-join sides share one cid exchange; drop set broadcasts") {
    val p = plan("x42_dedup_semantic")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
    // m1/m2 are identical projections of the checkpointed member frame:
    // the second side must reuse the first's cid hash exchange, not
    // re-shuffle the corpus
    assert(p.contains("ReusedExchange"))
    // the per-vector verdict joins the bounded drop set as a broadcast
    assert("BroadcastHashJoin \\[vec_id".r.findAllIn(p).nonEmpty)
  }

  test("x43: corpus scanned once — gram branches share the rebalance exchange") {
    val p = plan("x43_dedup_substrings")
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
    assert(p.contains("ReusedExchange"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("x44: one tokenize feeds spans/tokens/rejoin — no re-scan per branch") {
    // the tokenized corpus is checkpointed once; the three consumers
    // read the materialized frame, so the parquet file appears at most
    // once (the checkpoint's own evaluation) in the final plan
    val p = plan("x44_remove_dup_spans")
    assert("documents\\.parquet".r.findAllIn(p).size <= 1)
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("x27: served from the materialized LM model — no model aggregates in the query plan") {
    val p = plan("x27_lm_likelihood")
    // the scoring table is a FileScan of the built model; the corpus
    // appears once (the bigram scoring pass) and the c12/c1/v training
    // aggregates are absent from the serve plan
    assert(p.contains("graft-lm-index"))
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
    assert(!p.contains("countDistinct"), "vocabulary aggregate must not serve")
  }

  test("x48: served from the materialized DSIR ratio table — no model aggregates in the query plan") {
    val p = plan("x48_dsir_weights")
    // the ratio table is a FileScan of the fitted model; the corpus
    // appears once (the scoring pass) and the count_if model aggregate
    // is absent from the serve plan
    assert(p.contains("graft-dsir-index"))
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
    assert(!p.toLowerCase.contains("count_if"),
      "model fit must not run at serve time")
  }

  test("x52: one corpus aggregate; the plan solve never re-scans or sorts globally") {
    val p = plan("x52_temperature_mixture")
    // the corpus appears exactly once (the per-source token aggregate);
    // everything after runs on the ≤|sources|-row frame
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("x55: one corpus aggregate; the waterfill solve never re-scans") {
    val p = plan("x55_unimax_mixture")
    // the corpus appears exactly once (the per-source token aggregate);
    // the prefix-min windows all run on the ≤|sources|-row frame
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("x56: the candidate join keys on (band, key); verify broadcasts") {
    // the candidate frame is localCheckpoint-materialized and COUNTED
    // before the verify join is planned (the counted broadcast pin,
    // DedupOps.VerifyBroadcastMaxPairs), so the band-key stage is not
    // visible in the SERVED plan. Pin each stage where it lives (the
    // x35 pass-1 pre-checkpoint precedent):
    //  - candidate stage, built exactly as snapshotDedupOf builds it:
    //    batch bands meet corpus bands as an equi-join ON the 8-byte
    //    (band, key) pair, never a cartesian pairing;
    //  - served plan: the exact-verify join is a BroadcastHashJoin
    //    (the under-cap measured pin at this SF), no cartesian.
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    import graft.operators.DedupOps
    val cand = DedupOps.bandKeys(DedupOps.minhashSignatures(
        DedupOps.shingleSetsOf(docs.filter($"doc_id" % 2 === 1))))
      .join(DedupOps.bandKeys(DedupOps.minhashSignatures(
          DedupOps.shingleSetsOf(docs.filter($"doc_id" % 2 === 0))))
        .withColumnRenamed("doc_id", "cdoc"), Seq("band", "key"))
    cand.collect()
    val cp = cand.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(cp.contains("hashpartitioning(band") ||
      "BroadcastHashJoin \\[band".r.findFirstIn(cp).isDefined,
      "candidate stage must join on the (band, key) pair:\n" + cp)
    assert(!cp.contains("CartesianProduct"))

    val p = plan("x56_snapshot_dedup")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("x62: the fill windows per source; the solved allocation broadcasts back") {
    // the narrow base projection is lazily checkpointed (ONE corpus
    // scan feeding both the totals aggregate and the fill — the scan
    // itself is hidden from this view, the x54 shape): the visible
    // contract is the fill topology — a per-source window exchange,
    // the ≤|sources|-row allocation returning as a broadcast, and no
    // degenerate join
    val p = plan("x62_mixture_fill")
    assert(p.contains("hashpartitioning(source"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("documents.parquet"),
      "the corpus hides behind the shared checkpointed base")
  }

  test("x53: the permutation sorts per shard — no join, one corpus scan") {
    val p = plan("x53_training_order")
    assert("documents\\.parquet".r.findAllIn(p).size === 1)
    // the window partitions by shard (hash exchange), and the only
    // range partitioning is the final presentation sort
    assert(p.contains("hashpartitioning(shard"))
    assert("rangepartitioning".r.findAllIn(p).size <= 1)
    assert(!p.contains("Join"), "a permutation needs no join")
  }

  test("x54: thresholds broadcast back onto the checkpointed scores") {
    // the scoring pass (model FileScan + bigram join) sits behind the
    // ppt localCheckpoint and is invisible here — x27's pin covers
    // that serve shape. Visible contract: the cut solve joins the
    // doc-level scores only via one-row broadcasts (cross joins of a
    // 1-row frame plan as BNLJ), never a shuffled join, and never
    // re-scans the corpus.
    val p = plan("x54_perplexity_buckets")
    assert(!p.contains("documents.parquet"), "scores come from the checkpoint")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2)
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("countDistinct"), "vocabulary aggregate must not serve")
  }

  test("x45: the range join plans as a hash equi-join, never a nested loop") {
    // the whole point of the bucketization: a raw BETWEEN predicate
    // would plan as BroadcastNestedLoopJoin (O(probe × intervals))
    val p = plan("x45_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
    assert("(BroadcastHashJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined)
  }

  test("custom expressions appear in codegen'd projections") {
    // q16's BroadcastNestedLoopJoin doesn't do whole-stage codegen (the
    // projection above it still compiles the expression); x05's
    // broadcast-hash-join plan hosts graft_cosine inside a whole-stage
    // codegen span — AQE plan text marks those with "*(n)".
    assert(plan("q16_knn_cosine").contains("graft_cosine"))
    val x05 = plan("x05_dedup_embedding")
    assert("""\*\(\d+\) Project \[.*graft_cosine""".r
      .findFirstIn(x05).isDefined,
      "graft_cosine must sit inside a whole-stage-codegen projection")
  }

  test("x69/x72: mining serves from the materialized IVF index — no Lloyd training at serve") {
    // the probe stage reads the materialized index and partition-prunes
    // the cid-partitioned assignment scan to the probed cids (the x12
    // discipline); no SMJ, no cartesian, and AQE broadcasts the
    // anchor-sized joins at this SF
    Seq("x69_hard_negatives", "x72_contrastive_triplets").foreach { q =>
      val p = plan(q)
      assert(p.contains("graft-ivf-index"),
        s"$q must read the materialized index:\n" + p)
      assert(p.contains("dynamicpruning"),
        s"$q: assignment scan must partition-prune to probed cids:\n" + p)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), q)
      assert(p.contains("BroadcastHashJoin"), s"$q must broadcast at fixture scale")
    }
  }

  /** Spark jobs started while `body` runs. A sentinel job submitted
    * after `body` proves every earlier job start has reached the
    * listener (the bus delivers a queue's events in order). */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.audit.sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null)) sentinel.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(key, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("building a former counted-pin site's DataFrame runs no Spark job") {
    // these sites once counted a frame while the DataFrame was built, to
    // pick a broadcast; AQE now picks it at run time. Run each once
    // first, so artifacts are ensured and table reads are cached. (x72
    // still materializes its x05 pairs while built, see
    // contrastiveTriplets; x56 kept its counted pin.)
    Seq("x26_dedup_blocks", "x57_removal_propagation",
        "x69_hard_negatives").foreach { q =>
      SparkEntry.queries(q)(spark, sf).collect()
      assert(jobsDuring(SparkEntry.queries(q)(spark, sf)) === 0, q)
    }
    // the inline closure converges its labels while it is built; its
    // listed-rep probe adds no job on top of that
    val s = spark
    import s.implicits._
    import graft.operators.DedupOps
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val isListed = (c: org.apache.spark.sql.Column) =>
      c % DedupOps.RemovalIdStride === 0
    DedupOps.removalPropagationOf(docs, isListed).collect()
    assert(jobsDuring(DedupOps.removalPropagationOf(docs, isListed)) ===
      jobsDuring(DedupOps.dedupClustersOf(docs)), "removalPropagationOf")
  }

  test("x70: exact thresholds broadcast back; x70b plans the sketch, not the exact buffers") {
    val e = plan("x70_quality_gate")
    assert(e.contains("BroadcastHashJoin") && !e.contains("SortMergeJoin"))
    assert(!e.contains("Window"), "gate must not window the corpus")
    val s2 = plan("x70b_quality_gate_sketch")
    assert(s2.contains("percentile_approx"),
      "production twin must aggregate via the GK sketch")
    assert(!s2.contains("Window") && !s2.contains("SortMergeJoin"))
  }

  test("x71: served from the materialized overlap artifact — no shingle pass at serve") {
    // the corpus shingle pass runs at artifact build only; the serve
    // plan is one FileScan of the ≤C(S,2)-row matrix + the bounded
    // presentation sort (the x66/x17 discipline)
    val p = plan("x71_source_overlap")
    assert(p.contains("graft-overlap-index"),
      "the matrix must serve from the materialized artifact")
    assert(!p.contains("documents.parquet"),
      "corpus scan must not run at serve time")
    assert(!p.contains("graft_shingle_hashes"),
      "no shingle pass at serve time")
    assert(!p.contains("Join"), "no join at serve time")
    assert(!p.contains("HashAggregate"), "no aggregate at serve time")
  }

  test("x73: artifact matrix + broadcast sizes — no corpus work at serve") {
    val p = plan("x73_source_similarity")
    assert(p.contains("graft-overlap-index"),
      "must serve from the materialized artifact")
    assert(!p.contains("documents.parquet"),
      "corpus scan must not run at serve time")
    assert(!p.contains("graft_shingle_hashes"),
      "no shingle pass at serve time")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("x71 inline witness: one shuffle, join-free — pair expansion stays in-row") {
    val df = graft.operators.DedupOps.sourceOverlapMatrixInline(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), "the matrix plan must not join")
    // exchanges: the shingle aggregate's + the bounded matrix
    // aggregate's (both hash) and nothing else
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("x76: serves from the materialized label artifact — no propagation at serve") {
    val p = plan("x76_cluster_split")
    assert(p.contains("graft-cc-index"),
      "must read the converged labels, not re-run the component loop")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("x77: label artifact + one window on rep — no propagation, no shingles") {
    val p = plan("x77_cluster_canonical")
    assert(p.contains("graft-cc-index"),
      "must read the converged labels, not re-run the component loop")
    assert(!p.contains("graft_shingle_hashes"),
      "no shingle pass at serve time")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("x78: one checkpointed shingle pass, no corpus×corpus join") {
    val df = SparkEntry.queries("x78_novelty_scores")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the shingle relation must come from the checkpoint, not be
    // re-derived per consumer: zero shingle expressions survive in the
    // executed plan (both consumers scan the checkpointed RDD)
    assert(!p.contains("graft_shingle_hashes"),
      "shingle pass must run once into the checkpoint")
    assert(p.contains("ExistingRDD") || p.contains("Scan"),
      "consumers read the checkpointed shingle relation")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }
}
