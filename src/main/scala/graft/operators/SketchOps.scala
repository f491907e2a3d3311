package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.SmallResult

/** Sketch-based aggregates — the approximate path for cardinalities at
  * 100 TB, where exact COUNT(DISTINCT) shuffles every distinct value.
  * `approx_count_distinct` is Spark's HyperLogLog++: mergeable partial
  * sketches, one small state per group, no distinct-value shuffle.
  *
  * The raw HLL estimates are engine-specific, so they cannot be
  * hash-compared directly; instead the query emits the EXACT distinct
  * counts plus booleans asserting the sketch landed within tolerance.
  * DuckDB reproduces the exact counts and expects the booleans TRUE —
  * a full hash-match oracle that genuinely validates the sketch
  * (SketchSpec additionally bounds the raw estimates). */
object SketchOps {

  /** 10× the configured rsd: HLL++ at rsd=0.02 is (empirically and per
    * Heule et al., EDBT 2013) well inside ±5σ; 20% leaves no realistic
    * flake while still catching a broken sketch outright. */
  val Tolerance = 0.2

  /** The shared (event_type, user_id, pk) projection both x13 variants
    * aggregate over. */
  private def evFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type", $"user_id",
        get_json_object($"props", "$.k").as("pk"))
  }

  /** The PRODUCTION sketch aggregation: 5 groups, HLL++ partials, no
    * distinct-value shuffle and no Expand anywhere in the plan. */
  private def sketchAgg(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
           approx_count_distinct(col("pk"), rsd = 0.02).as("approx_props"),
           count("*").as("n"))

  /** x13b — the production artifact on its own: the sketch aggregation
    * WITHOUT the exact-countDistinct validation branch that x13 carries
    * for oracle-ability. The HLL estimates are engine-specific, so this
    * entry has no SQL oracle (rows-only check); x13 remains the
    * tolerance-validated twin proving the same sketch lands within 20%
    * of exact. This is the query a deployment actually runs — and the
    * one the bench should price. */
  def approxDistinctSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sketchAgg(evFrame(s, d)).smallOrdered($"event_type")
  }

  /** exact == 0 (e.g. a group where every value is null) would make
    * the ratio NaN and report a perfectly-correct sketch as not-ok —
    * an all-null group is "within tolerance" iff the sketch also says
    * 0. Shared by the x13 and x34 validation twins. */
  private def withinTol(approx: Column, exact: Column): Column =
    when(exact === 0L, approx === 0L)
      .otherwise(abs(approx.cast("double") / exact - 1.0) <= Tolerance)

  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val within = withinTol _
    // Sketches and exact counts run as SEPARATE aggregations joined on
    // the 5-row group key. Mixing them in one agg plans the
    // distinct-rewrite Expand with the HLL++ partial state (2 × ~3 KB
    // sketches) allocated per FIRST-STAGE group — i.e. one sketch
    // buffer per distinct (event_type, user_id) pair, gigabytes of
    // buffer churn for kilobytes of answer (measured: +0.7 s at sf0.1).
    // Split, the sketch pass has 5 groups (the true production query,
    // one narrow scan, no distinct-value shuffle) and the exact pass
    // carries only count buffers through its Expand. The branches scan
    // independently — measured faster than sharing one repartition
    // exchange, whose shuffle costs more than the second columnar scan.
    // One materialized pass of the parsed projection (the lmLikelihood
    // checkpoint pattern): the sketch aggregate, the users branch, and
    // the props branch would otherwise each rescan events and the
    // json-path extraction would run per branch — the measured cost of
    // this query was the repeated parse, not the aggregation.
    val ev = evFrame(s, d).localCheckpoint(false)
    val sketch = sketchAgg(ev)
    // Exact counts as a distinct-PAIR pre-aggregation, not a
    // multi-countDistinct (whose distinct-rewrite Expand doubles the
    // occurrence stream through the exchange): the tagged union's
    // distinct() combines map-side, so the exchange carries only the
    // surviving (event_type, value, which) pairs, and the counts are
    // a second tiny conditional aggregate — the x34 presence trick.
    // countDistinct semantics preserved: null values drop before the
    // distinct (the cast to string is injective, so pair counts are
    // unchanged), a NULL event_type remains a legitimate group (the
    // groupBy keeps it; a join on the key could not), and a group
    // whose values are all null coalesces to 0 under the left join.
    val exact = ev
      .select($"event_type".as("et"), $"user_id".cast("string").as("v"),
        lit("u").as("w"))
      .unionAll(ev.select($"event_type".as("et"), $"pk".as("v"),
        lit("p").as("w")))
      .filter($"v".isNotNull).distinct()
      .groupBy($"et")
      .agg(sum(when($"w" === "u", 1L).otherwise(0L)).as("exact_users"),
           sum(when($"w" === "p", 1L).otherwise(0L)).as("exact_props"))
    sketch.join(broadcast(exact), $"event_type" <=> $"et", "left").drop("et")
      .select($"event_type",
        coalesce($"exact_users", lit(0L)).as("exact_users"),
        coalesce($"exact_props", lit(0L)).as("exact_props"), $"n",
        within($"approx_users", coalesce($"exact_users", lit(0L)))
          .as("users_ok"),
        within($"approx_props", coalesce($"exact_props", lit(0L)))
          .as("props_ok"))
      .smallOrdered($"event_type")
  }

  // ---- relational Bloom filter ------------------------------------------

  /** Position domain m. Small on purpose: the "bitmap" relation stays
    * broadcastable AND false positives are real at fixture scale, so
    * the oracle genuinely exercises sketch semantics. */
  val BloomBits = 4096L
  val BloomHashes = 3

  /** md5-derived position j of a value — the one hash construction
    * every engine computes identically (same convention as the LSH
    * planes and stratified-sample buckets). */
  private def bloomPos(v: Column, j: Int): Column =
    conv(substring(md5(concat(lit(s"b$j"), v)), 1, 8), 16, 10)
      .cast("long") % BloomBits

  /** Bloom-filter membership sweep, fully relational: the filter over
    * the member set ("purchase" users) is the DISTINCT set of k
    * md5-derived bit positions — a ≤ m-row relation standing in for the
    * bitmap — and a probe hits iff ALL k of its positions are present.
    * The classic approximate-membership contract emerges exactly: zero
    * false negatives structurally, false positives at ~(1-e^{-kn/m})^k.
    *
    * Because every position is exact md5 arithmetic, the ENTIRE sketch
    * — bitmap, hits, and false-positive count — is bit-reproducible in
    * the DuckDB oracle: unlike HLL (x13), nothing here needs a
    * tolerance check. At 100 TB the bitmap relation broadcasts (m
    * rows max); past broadcastable m it becomes a bit-packed aggregate
    * with the same position arithmetic. */
  def bloomFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val members = ev.filter($"event_type" === "purchase")
      .filter($"user_id".isNotNull).select($"user_id").distinct()
    val users = ev.filter($"user_id".isNotNull).select($"user_id").distinct()
    def positions(df: DataFrame): DataFrame =
      df.select(col("user_id"), explode(array(
        (1 to BloomHashes).map(j => bloomPos(col("user_id"), j)): _*)).as("pos"))
    val bits = positions(members).select($"pos").distinct()
    val hits = positions(users)
      .join(broadcast(bits), Seq("pos"), "left_semi")
      .groupBy($"user_id").agg(count("*").as("nmatch"))
      .filter($"nmatch" === BloomHashes)
      .select($"user_id", lit(1L).as("hit"))
    users
      .join(members.withColumn("m", lit(1L)), Seq("user_id"), "left")
      .join(hits, Seq("user_id"), "left")
      .select(coalesce($"m", lit(0L)).as("m"),
        coalesce($"hit", lit(0L)).as("hit"))
      .agg(count("*").as("n_users"),
        sum($"m").as("n_members"),
        sum($"hit").as("n_bloom_hits"),
        sum(when($"m" === 1L && $"hit" === 0L, 1L).otherwise(0L))
          .as("n_false_neg"),
        sum(when($"m" === 0L && $"hit" === 1L, 1L).otherwise(0L))
          .as("n_false_pos"))
  }

  /** x25b — the PRODUCTION Bloom-membership twin: Spark's native
    * `bloom_filter_agg` builds the filter as ONE single-pass aggregate
    * (no per-hash explode, no distinct shuffle of positions — the
    * engine-optimized form of x25's relational filter), the one-row
    * binary rides a broadcast, and `might_contain` probes it in place.
    * Filter BITS are engine-specific (xxhash64-positioned), so this
    * entry is rows-only registered (the x13b convention) — x25's
    * exact relation is the validated twin, and SketchSpec pins the
    * structural guarantees here: ZERO false negatives and a false-
    * positive count bounded at the same geometry. At 100 TB this is
    * the membership shape that matters: probing a corpus against a
    * reference set costs one broadcast byte-array instead of a join
    * against the reference. */
  def bloomFilterNative(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    ev.filter($"event_type" === "purchase" && $"user_id".isNotNull)
      .select($"user_id").distinct()
      .createOrReplaceTempView("graft_x25b_members")
    ev.filter($"user_id".isNotNull).select($"user_id").distinct()
      .createOrReplaceTempView("graft_x25b_users")
    // might_contain's analysis rule requires the filter binary as a
    // CONSTANT or SCALAR SUBQUERY (the shape Spark's own runtime
    // row-level filtering injects) — so the build rides a scalar
    // subquery, executed once and broadcast into the probe expression
    s.sql(
      s"""WITH probed AS (
         |  SELECT u.user_id,
         |    ${graft.plans.GraftExpressions.BloomProbeFn}(
         |      (SELECT ${graft.plans.GraftExpressions.BloomAggFn}(
         |         xxhash64(user_id), 1024L, ${BloomBits}L)
         |       FROM graft_x25b_members),
         |      xxhash64(u.user_id)) AS hit,
         |    u.user_id IN (SELECT user_id FROM graft_x25b_members) AS m
         |  FROM graft_x25b_users u)
         |SELECT count(1) AS n_users, count_if(m) AS n_members,
         |  count_if(hit) AS n_bloom_hits,
         |  count_if(m AND NOT hit) AS n_false_neg
         |FROM probed""".stripMargin)
  }

  // ---- count-min sketch: heavy hitters ------------------------------------

  /** Sketch geometry. Width 512 at fixture cardinality (~1k distinct
    * users) forces real counter sharing, so overestimates actually
    * occur and the oracle exercises CMS semantics, not a lookup
    * table. */
  val CmsRows = 3
  val CmsWidth = 512L
  /** How many top users (by true count) the query reports. */
  val CmsTopK = 20

  /** md5-derived counter column of a value in row r — same
    * engine-neutral hash construction as the Bloom positions. */
  private def cmsPos(v: Column, r: Int): Column =
    conv(substring(md5(concat(lit(s"c$r"), v)), 1, 8), 16, 10)
      .cast("long") % CmsWidth

  /** (user_id, r, pos) — each value's d counter coordinates. */
  def cmsPositions(df: DataFrame): DataFrame =
    df.select(col("user_id"), explode(array(
      (1 to CmsRows).map(r =>
        struct(lit(r).as("r"), cmsPos(col("user_id"), r).as("pos"))): _*))
      .as("rp"))
      .select(col("user_id"), col("rp.r"), col("rp.pos"))

  /** The d×w counter relation of a (user_id) frame — the CMS itself.
    * Counters over a union of frames equal the SUM of per-frame
    * counters (they are plain counts), which is what makes the sketch
    * mergeable across shards and micro-batches; the streaming path
    * (SketchStream) relies on exactly this. */
  def cmsCounters(df: DataFrame): DataFrame =
    cmsPositions(df).groupBy(col("r"), col("pos"))
      .agg(count("*").as("cnt"))

  /** x29 — count-min heavy hitters, fully relational (Cormode &
    * Muthukrishnan, J. Algorithms 2005): the sketch is the d×w counter
    * relation — ONE aggregate over the event stream with bounded state
    * (d·w rows regardless of corpus size, and mergeable: counters sum
    * across shards/micro-batches, which is why CMS is the standard
    * streaming-frequency sketch at 100 TB). A heavy-hitter probe reads
    * back min over its d counters. The report joins the CMS estimate
    * against the true counts of the top-K users: `cms_est ≥ true_n`
    * is a STRUCTURAL invariant (count-min never underestimates), and
    * every value is exact md5/integer arithmetic, so the whole sketch
    * — counters, estimates, overshoot — hash-matches the DuckDB oracle
    * with no tolerance anywhere (the x25 standard). */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .filter($"user_id".isNotNull).select($"user_id")
    val top = ev.groupBy($"user_id").agg(count("*").as("true_n"))
      .orderBy($"true_n".desc, $"user_id").limit(CmsTopK)
    cmsEstimates(cmsCounters(ev), top.select($"user_id"))
      .join(broadcast(top), "user_id")
      .select($"user_id", $"true_n", $"cms_est",
        ($"cms_est" - $"true_n").as("overshoot"))
      .orderBy($"true_n".desc, $"user_id")
  }

  /** CMS point estimates for a probe frame: min over the d counters at
    * each probe's coordinates. `counters` broadcasts — it is ≤ d·w
    * rows by construction, at any corpus size. LEFT join: a counter
    * relation is sparse (only touched cells have rows, and retention
    * can drop cells back out), and an absent cell is a ZERO counter —
    * an inner join would overestimate from the surviving coordinates,
    * or silently drop a probe whose every cell is absent, instead of
    * answering 0. */
  def cmsEstimates(counters: DataFrame, probes: DataFrame): DataFrame =
    cmsPositions(probes)
      .join(broadcast(counters), Seq("r", "pos"), "left")
      .groupBy(col("user_id"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  // ---- HLL set algebra: corpus overlap ----------------------------------

  /** (half, shingle-hash) occurrences for the two-corpus overlap
    * fixture: the document corpus split by source parity stands in for
    * "two crawls of the same web" — the question a dedup planner asks
    * before merging corpora is exactly |A ∩ B|. Shingle identity is
    * the canonical tokenize + ≥3-words + word-3-gram rule (DedupOps'
    * shingleFrames / ShingleBaseCtes), hashed by WordShingleHashes;
    * distinct counts over hashes equal counts over strings absent
    * 64-bit collisions, the same contract every dedup oracle uses. */
  private[graft] def halfShinglesOf(docs: DataFrame): DataFrame = {
    docs
      .select(
        // Half = md5(source) parity — the repo's content-keyed idiom.
        // A positional parse of the fixture's srcN names would null out
        // (and silently bucket as "b") any other source value, and this
        // helper is also the production streaming path
        // (SketchStream.processOverlapBatch) where arbitrary sources
        // are expected.
        when(conv(substring(md5(col("source")), 1, 8), 16, 10)
          .cast("long") % 2 === 0, "a")
          .otherwise("b").as("half"),
        split(lower(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("half"),
        explode(call_function(
          graft.plans.GraftExpressions.ShingleHashesFn, col("w"))).as("sh"))
  }

  private def halfShingles(s: SparkSession, d: String): DataFrame =
    halfShinglesOf(Tables.rebalance(Tables.documents(s, d)))

  /** The PRODUCTION set-algebra aggregation: per-corpus Datasketches
    * HLL objects (hll_sketch_agg — ONE sketch update per occurrence),
    * union by sketch MERGE (hll_union_agg = register-max, the actual
    * set-union operation on sketches, not a third pass over the data),
    * overlap by inclusion-exclusion on the three estimates. This is
    * the whole point of sketch objects at 100 TB: |A ∩ B| of two
    * 50 TB corpora without joining them — each side's sketch is a few
    * KB, mergeable across shards and reusable later (the union here
    * IS that merge), and a planner reads the overlap before
    * committing to a full dedup join. */
  private def overlapSketchAgg(sh: DataFrame): DataFrame = {
    val perHalf = sh.groupBy(col("half"))
      .agg(hll_sketch_agg(col("sh")).as("sk"))
    perHalf.agg(
      max(when(col("half") === "a", hll_sketch_estimate(col("sk"))))
        .as("est_a"),
      max(when(col("half") === "b", hll_sketch_estimate(col("sk"))))
        .as("est_b"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
      .withColumn("est_overlap", col("est_a") + col("est_b") - col("est_union"))
  }

  /** x34b — the sketch-only production artifact (no oracle: HLL
    * estimates are engine-specific → rows-only check; x34 is the
    * tolerance-validated twin, the x13/x13b pattern). */
  def corpusOverlapSketch(s: SparkSession, d: String): DataFrame =
    overlapSketchAgg(halfShingles(s, d))

  /** x34 — corpus overlap, validated: exact distinct counts (the
    * hash-comparable columns) plus booleans asserting each estimate —
    * and the inclusion-exclusion overlap — landed within tolerance.
    * The overlap bound is ABSOLUTE in units of the union (three
    * estimate errors stack through A + B − A∪B, so a relative bound on
    * a small intersection would flake even when every sketch is
    * perfect). */
  def corpusOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = halfShingles(s, d)
    val est = overlapSketchAgg(sh)
    // Exact counts via per-shingle presence bits, NOT three
    // countDistinct()s: multiple distinct aggregates plan a 3×-Expand
    // of the full occurrence stream (measured ~1 s extra at sf0.1),
    // while groupBy(sh) + max-presence is ONE map-side-combined
    // shuffle of the distinct shingles, and the union/side counts
    // fall out of a narrow sum. Also the right exact plan at 100 TB —
    // the shuffle carries each shingle once, not every occurrence.
    val exact = sh.groupBy($"sh")
      .agg(max(when($"half" === "a", 1L).otherwise(0L)).as("ina"),
           max(when($"half" === "b", 1L).otherwise(0L)).as("inb"))
      .agg(sum($"ina").as("exact_a"), sum($"inb").as("exact_b"),
           count(lit(1)).as("exact_union"))
      .withColumn("exact_overlap", $"exact_a" + $"exact_b" - $"exact_union")
    est.crossJoin(broadcast(exact))
      .select($"exact_a", $"exact_b", $"exact_union", $"exact_overlap",
        withinTol($"est_a", $"exact_a").as("a_ok"),
        withinTol($"est_b", $"exact_b").as("b_ok"),
        withinTol($"est_union", $"exact_union").as("union_ok"),
        (abs($"est_overlap" - $"exact_overlap").cast("double")
          <= lit(Tolerance) * $"exact_union").as("overlap_ok"))
  }

  // ---- quantile sketch ----------------------------------------------------

  /** Greenwald–Khanna accuracy parameter: rank error ≤ n/QuantAccuracy. */
  val QuantAccuracy = 10000
  /** Validation margin as a rank FRACTION: 2× the sketch's guarantee
    * plus 4 order-statistic gaps at the smallest fixture (n ≈ 2k per
    * group at sf0.001). The sketch returns an actual element within
    * ±⌈εn⌉ RANKS of the target, but the exact bounds are continuous
    * quantiles — at small n, ε alone spans less than ONE order
    * statistic and a perfectly-correct sketch fails the check. The
    * additive term covers ≥4 ranks at every test scale and shrinks to
    * a 0.2% rank window at corpus scale — still a real validation. */
  val QuantDelta = 2.0 / QuantAccuracy + 0.002

  /** x35 — approximate percentiles via Spark's GK quantile summary
    * (percentile_approx: bounded-state, MERGEABLE partials — the only
    * shape that computes percentiles of 100 TB without sorting it;
    * q25's exact interpolation is the small-data twin). Validation:
    * the sketch guarantees a value whose RANK is within n/accuracy of
    * the target, so the emitted booleans assert each estimate lies
    * between the exact continuous quantiles at p ± QuantDelta. The
    * hash-compared columns are the exact quantiles (q25 arithmetic);
    * the estimates live only inside the booleans — TRUE in the oracle,
    * computed here.
    *
    * The exact branch is DISTRIBUTED order statistics in exactly TWO
    * corpus passes, never a per-group buffer (the earlier
    * sort_array(collect_list) form put a whole group in one
    * aggregation buffer — a single hot group at 100× OOMs that task):
    *   pass 1  a graft_hist fixed-grid histogram (IEEE-754 sortable
    *           buckets: no min/max needed, so it FUSES into the GK
    *           sketch's own scan as one more grouped aggregate);
    *           cumulative bucket counts locate, for each of the 12
    *           needed order-statistic ranks, its bucket and rank
    *           offset within that bucket;
    *   pass 2  re-scan ONLY rows in located buckets (graft_dbucket +
    *           broadcast semi join), collapse to distinct-value
    *           counts, and take the rank-r statistic as the smallest
    *           value whose running count inside its bucket reaches
    *           the local rank.
    * The fused pass-1 result (≤|groups| rows, each holding a
    * few-thousand-entry histogram) sits behind a localCheckpoint so
    * its four consumers (needs, the rank location, and the final
    * rejoin) reuse ONE materialization — without it each reference
    * re-derived the full-corpus aggregate (the round-11 5-scan plan).
    * All whole-corpus operations are hash aggregates; the windows run
    * over per-group histogram frames (≤ distinct buckets present) and
    * per-bucket distinct values (~n/256 per octave) — bounded either
    * way. The interpolation arithmetic is bit-identical to the
    * sorted-array form: lo + (pos − ⌊pos⌋)·(hi − lo) at ranks
    * ⌊pos⌋+1 / ⌈pos⌉+1. */
  /** Pass 1 of x35, exposed for the plan audit: the checkpoint below
    * hides this subtree behind a LogicalRDD in every downstream plan,
    * so the served-plan "exactly one lineitem scan" pin cannot see a
    * scan-count regression INSIDE pass 1 — PlanAuditSpec pins this
    * frame's own plan separately (one scan, one fused aggregate).
    *
    * THE corpus aggregate: GK sketch + row count + pass-1 histogram,
    * one scan, all three mergeable bounded-state partials. `n` is
    * count(v), not count(*): percentile_approx and graft_hist both
    * skip null v, so on a nullable column a count(*) n would set rank
    * targets past the histogram's total mass and the rank-location
    * join would silently drop those needs (l_extendedprice happens to
    * be non-null; the rank algebra must not depend on that). */
  private[graft] def quantilePass1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.plans.GraftExpressions.HistFn
    Tables.lineitem(s, d)
      .select($"l_returnflag".as("rf"), $"l_extendedprice".cast("double").as("v"))
      .groupBy($"rf")
      .agg(count($"v").as("n"),
        percentile_approx($"v", array(lit(0.5), lit(0.95)),
          lit(QuantAccuracy)).as("ap"),
        call_function(HistFn, $"v").as("hist"))
  }

  def approxQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.plans.GraftExpressions.DBucketFn
    val li = Tables.lineitem(s, d)
      .select($"l_returnflag".as("rf"), $"l_extendedprice".cast("double").as("v"))

    // localCheckpoint trade, stated plainly: it truncates lineage, so
    // losing an executor that holds checkpointed blocks fails the
    // query (no recompute path) — the driver restarts it, paying the
    // whole plan again. The alternative (persist + materialize) keeps
    // lineage but re-inlines this subtree into all four consumers'
    // plans, which is exactly the round-11 5-scan amplification when
    // the cache is evicted under memory pressure. For a ≤|groups|-row
    // frame the rerun-on-loss trade is the right one; a deployment
    // that cannot tolerate query-level retry uses reliable
    // checkpoint(), same plan shape.
    val ap = quantilePass1(s, d).localCheckpoint(false)

    // the 6 probed quantiles × 2 neighboring ranks each (1-indexed):
    // pos = p·(n−1), ranks ⌊pos⌋+1 and ⌈pos⌉+1. The probe list is a
    // LITERAL exploded array (not a broadcast crossJoin): a 6-row
    // constant frame as a broadcast exchange costs a whole extra job
    // at Spark's scheduling floor.
    val ps = Seq(0.5 - QuantDelta, 0.5, 0.5 + QuantDelta,
                 0.95 - QuantDelta, 0.95, 0.95 + QuantDelta)
    val pArr = array(ps.zipWithIndex.map { case (p, i) =>
      struct(lit(i).as("pid"), lit(p).as("p")) }: _*)
    val needs = ap.select($"rf", $"n", explode(pArr).as("pp"))
      .select($"rf", $"pp.pid".as("pid"),
        ($"pp.p" * ($"n" - 1).cast("double")).as("pos"))
      .select($"rf", $"pid", $"pos", explode(array(
          struct(lit("lo").as("side"),
            (floor($"pos") + 1).cast("long").as("rank")),
          struct(lit("hi").as("side"),
            (ceil($"pos") + 1).cast("long").as("rank")))).as("nd"))
      .select($"rf", $"pid", $"pos", $"nd.side", $"nd.rank")

    // rank location: running totals over each group's (already
    // computed, checkpointed) histogram — tiny frames, no corpus scan
    val hist = ap.select($"rf", explode($"hist").as("h"))
      .select($"rf", $"h.b".as("b"), $"h.cnt".as("cnt"))
    val wB = Window.partitionBy($"rf").orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumHist = hist
      .withColumn("cumBefore", coalesce(sum($"cnt").over(wB), lit(0L)))
    // ≤ 12×|groups| rows (each (rf,pid,side) rank lands in exactly
    // one bucket); lazily checkpointed so its two consumers (nb's
    // semi-join broadcast and vals' rank-lookup broadcast) share one
    // computation of the histogram window instead of re-running it
    val located = cumHist.join(broadcast(needs),
        cumHist("rf") === needs("rf") &&
          $"rank" > $"cumBefore" && $"rank" <= $"cumBefore" + $"cnt")
      .select(cumHist("rf"), $"b", $"pid", $"pos", $"side",
        ($"rank" - $"cumBefore").as("localRank"))
      .localCheckpoint(false)

    // pass 2: running row ranks INSIDE located buckets only; the
    // rank-r statistic is the smallest value whose running count
    // reaches the local rank. row_number over the bucket is equivalent
    // to cumulative distinct-value counts: tied rows share v, so the
    // min-v pick lands on the same value — and costs ONE shuffle
    // where a distinct-count aggregate + running-sum window cost two.
    // Bucket population: the fixed grid bounds bucket WIDTH, not row
    // count — for spread-out values a bucket holds ~n/(256·octaves)
    // rows, but a heavy-tie distribution (one dominant exact value)
    // puts O(n) rows in its one bucket and this window degrades to a
    // single sort-spilling task for that bucket: slow, not OOM
    // (window sort spills), and only when the data is one giant tie.
    val nb = located.select($"rf", $"b").distinct()
    val wV = Window.partitionBy($"rf", $"b").orderBy($"v")
    val dvc = li.withColumn("b", call_function(DBucketFn, $"v"))
      .join(broadcast(nb), Seq("rf", "b"), "left_semi")
      .withColumn("cum", row_number().over(wV).cast("long"))

    // interpolate — identical arithmetic to the sorted-array form
    // (lo + (pos − ⌊pos⌋)·(hi − lo)), pivoted over the 6 probes so
    // ONE grouped aggregate replaces the (rf,pid,side)→(rf,pid)→(rf)
    // cascade — two fewer sub-second shuffle stages on the tail
    val aggs = ps.indices.flatMap { i => Seq(
      min(when($"pid" === i && $"side" === "lo", $"v")).as(s"lo$i"),
      min(when($"pid" === i && $"side" === "hi", $"v")).as(s"hi$i"),
      max(when($"pid" === i, $"pos")).as(s"pos$i")) }
    def q(i: Int) =
      col(s"lo$i") +
        (col(s"pos$i") - floor(col(s"pos$i"))) * (col(s"hi$i") - col(s"lo$i"))
    val exact = dvc.join(broadcast(located), Seq("rf", "b"))
      .where($"cum" >= $"localRank")
      .groupBy($"rf").agg(aggs.head, aggs.tail: _*)
      .select($"rf", q(0).as("q50lo"), q(1).as("q50"), q(2).as("q50hi"),
        q(3).as("q95lo"), q(4).as("q95"), q(5).as("q95hi"))

    ap.join(broadcast(exact), "rf")
      .select($"rf", $"n",
        round($"q50", 4).as("p50"), round($"q95", 4).as("p95"),
        ($"ap"(0) >= $"q50lo" && $"ap"(0) <= $"q50hi").as("ok50"),
        ($"ap"(1) >= $"q95lo" && $"ap"(1) <= $"q95hi").as("ok95"))
      .smallOrdered($"rf")
  }

  /** x35b — the sketch-only production artifact (no oracle: GK
    * estimates depend on partial-merge order → rows-only check; x35 is
    * the tolerance-validated twin — the x13b/x34b pattern). ONE grouped
    * aggregate of bounded mergeable GK summaries; the exact
    * sort_array(collect_list) validator branch never enters this plan,
    * which is what a 100 TB deployment actually runs. */
  def approxQuantilesSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_returnflag".as("rf"), $"l_extendedprice".cast("double").as("v"))
      .groupBy($"rf")
      // count(v), not count(*) — same null rule as the GK sketch (x35's
      // pass-1 rationale); equal on this non-null column
      .agg(count($"v").as("n"),
        percentile_approx($"v", array(lit(0.5), lit(0.95)),
          lit(QuantAccuracy)).as("ap"))
      .select($"rf", $"n",
        round($"ap"(0), 4).as("p50_est"), round($"ap"(1), 4).as("p95_est"))
      .smallOrdered($"rf")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x13_approx_distinct"  -> approxDistinct _,
    "x13b_approx_distinct_sketch" -> approxDistinctSketch _,
    "x25_bloom_filter"     -> bloomFilter _,
    "x25b_bloom_filter_native" -> bloomFilterNative _,
    "x29_heavy_hitters"    -> heavyHitters _,
    "x34_corpus_overlap"   -> corpusOverlap _,
    "x34b_corpus_overlap_sketch" -> corpusOverlapSketch _,
    "x35_approx_quantiles" -> approxQuantiles _,
    "x35b_approx_quantiles_sketch" -> approxQuantilesSketch _,
  )

  val oracleSql: Map[String, String] = Map(
    "x13_approx_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(count(DISTINCT json_extract_string(props, '$.k')) AS BIGINT)
        |    AS exact_props,
        |  CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS users_ok, TRUE AS props_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x25_bloom_filter" ->
      s"""WITH members AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |users AS (SELECT DISTINCT user_id FROM events
        |          WHERE user_id IS NOT NULL),
        |bits AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5('b' || j.range || user_id), 1, 8))::BIGINT
        |      % $BloomBits AS pos
        |  FROM members, range(1, ${BloomHashes + 1}) j),
        |hits AS (
        |  SELECT p.user_id FROM (
        |    SELECT u.user_id,
        |      ('0x' || substr(md5('b' || j.range || u.user_id), 1, 8))::BIGINT
        |        % $BloomBits AS pos
        |    FROM users u, range(1, ${BloomHashes + 1}) j) p
        |  JOIN bits USING (pos)
        |  GROUP BY p.user_id HAVING count(*) = $BloomHashes)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM users) AS n_users,
        |  (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
        |  (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_bloom_hits,
        |  (SELECT CAST(count(*) AS BIGINT) FROM members m
        |   WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.user_id = m.user_id))
        |    AS n_false_neg,
        |  (SELECT CAST(count(*) AS BIGINT) FROM hits h
        |   WHERE NOT EXISTS (SELECT 1 FROM members m WHERE m.user_id = h.user_id))
        |    AS n_false_pos""".stripMargin,
    "x29_heavy_hitters" ->
      s"""WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
        |pos AS (
        |  SELECT user_id, r.range AS r,
        |    ('0x' || substr(md5('c' || r.range || user_id), 1, 8))::BIGINT
        |      % $CmsWidth AS pos
        |  FROM ev, range(1, ${CmsRows + 1}) r),
        |counters AS (SELECT r, pos, count(*) AS cnt FROM pos GROUP BY 1, 2),
        |top AS (SELECT user_id, CAST(count(*) AS BIGINT) AS true_n FROM ev
        |        GROUP BY 1 ORDER BY true_n DESC, user_id LIMIT $CmsTopK),
        |est AS (
        |  SELECT p.user_id, min(c.cnt) AS cms_est
        |  FROM (SELECT t.user_id, r.range AS r,
        |          ('0x' || substr(md5('c' || r.range || t.user_id), 1, 8))::BIGINT
        |            % $CmsWidth AS pos
        |        FROM top t, range(1, ${CmsRows + 1}) r) p
        |  JOIN counters c ON c.r = p.r AND c.pos = p.pos
        |  GROUP BY 1)
        |SELECT t.user_id, t.true_n, CAST(e.cms_est AS BIGINT) AS cms_est,
        |  CAST(e.cms_est - t.true_n AS BIGINT) AS overshoot
        |FROM top t JOIN est e USING (user_id)
        |ORDER BY t.true_n DESC, t.user_id""".stripMargin,
    // x34: exact counts recomputed from shingle STRINGS (the same
    // string-vs-hash identity contract as the x02/x04 oracles); the
    // tolerance booleans are TRUE by assertion, computed Spark-side.
    "x34_corpus_overlap" ->
      """WITH w AS (
        |  SELECT CASE WHEN ('0x' || substr(md5(source), 1, 8))::BIGINT % 2 = 0
        |              THEN 'a' ELSE 'b' END AS half,
        |         string_split_regex(lower(text), '\s+') AS w
        |  FROM documents
        |  WHERE len(string_split_regex(lower(text), '\s+')) >= 3),
        |sh AS (SELECT DISTINCT half,
        |       unnest(list_transform(range(1, len(w) - 1),
        |                             i -> array_to_string(w[i:i+2], ' '))) AS sh
        |       FROM w)
        |SELECT
        |  CAST(count(DISTINCT CASE WHEN half = 'a' THEN sh END) AS BIGINT)
        |    AS exact_a,
        |  CAST(count(DISTINCT CASE WHEN half = 'b' THEN sh END) AS BIGINT)
        |    AS exact_b,
        |  CAST(count(DISTINCT sh) AS BIGINT) AS exact_union,
        |  CAST(count(DISTINCT CASE WHEN half = 'a' THEN sh END)
        |     + count(DISTINCT CASE WHEN half = 'b' THEN sh END)
        |     - count(DISTINCT sh) AS BIGINT) AS exact_overlap,
        |  TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok, TRUE AS overlap_ok
        |FROM sh""".stripMargin,
    "x35_approx_quantiles" ->
      """SELECT l_returnflag AS rf, CAST(count(l_extendedprice) AS BIGINT) AS n,
        |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50,
        |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95), 4) AS p95,
        |  TRUE AS ok50, TRUE AS ok95
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
