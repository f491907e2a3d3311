package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables.SmallResult

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline at 100 TB:
  *
  *  - exact:       hash-groupBy on md5(text); one shuffle on the hash.
  *  - MinHash+LSH: shingle → 128-perm minhash signature → 32 bands of 4
  *                 → bucket-join for candidates → exact-Jaccard verify.
  *                 Never compares all pairs: work is bounded by bucket
  *                 sizes, so it scales linearly in corpus size.
  *  - SimHash:     64-bit signature; 16-bit chunk banding (pigeonhole:
  *                 hamming ≤ 3 ⇒ some chunk of 4 equal) → verify.
  *  - n-gram Jaccard: exact top-K similarity against one probe doc.
  *  - embedding cosine: near-dup pairs blocked by label (the blocking
  *                 key stands in for an LSH bucket at scale).
  *
  * Literature: MinHash resemblance estimation is Broder's (On the
  * resemblance and containment of documents, 1997); the band/row
  * analysis follows Leskovec–Rajaraman–Ullman, Mining of Massive
  * Datasets ch. 3; SimHash is Charikar's similarity-preserving
  * fingerprint (STOC 2002) with the pigeonhole chunk trick from
  * Manku–Jain–Sarma (WWW 2007).
  *
  * The LSH parameters (b=32, r=4) are chosen for the 0.8 threshold:
  * a true pair at j ≥ 0.9 is missed with prob (1-0.9^4)^32 ≈ 1e-15,
  * so the LSH output provably equals the exact all-pairs oracle on any
  * corpus whose near-dup pairs clear 0.9 — which the driver data does
  * (observed: 25 pairs ≥ 0.9, all others < 0.3).
  */
object DedupOps {

  val JaccardThreshold = 0.8
  private val Bands = 32
  private val RowsPerBand = 4   // Bands * RowsPerBand == MinHashSignature.NumHashes

  /** doc_id → lowercased word array for an arbitrary (doc_id, text)
    * frame (the common tokenization). Rebalanced: everything downstream
    * (shingling, 128-perm minhash, simhash votes) is compute-bound per
    * row. */
  private def wordsOf(docs: DataFrame): DataFrame = wordsOf(docs, Nil)

  private def wordsOf(docs: DataFrame, keep: Seq[String]): DataFrame =
    Tables.rebalance(docs)
      .select((col("doc_id") +: keep.map(col)) :+
        split(lower(col("text")), "\\s+").as("w"): _*)

  private def words(s: SparkSession, d: String): DataFrame =
    wordsOf(Tables.documents(s, d))

  /** doc_id → (token array, DISTINCT word-3-gram shingle set AS 64-BIT
    * HASHES), computed NARROWLY as array columns — no explode, no
    * shuffle. The single definition of tokenize + ≥3-words guard +
    * shingling that every shingle consumer shares (so none can drift
    * from ShingleBaseCtes). Hash identity: every downstream set
    * operation (distinct size, intersect, postings) is hash-keyed —
    * equal to string-keyed absent 64-bit collisions (the math is on
    * WordShingleHashes; shingle strings never reach a query output,
    * and the DuckDB oracles recompute from strings). */
  private def shingleFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    words(s, d)
      .filter(size($"w") >= 3)
      .select($"doc_id", $"w",
        call_function(graft.plans.GraftExpressions.ShingleHashesFn, $"w").as("s"))
  }

  /** doc_id → DISTINCT shingle set only (the common projection; the
    * exploded inverted-index form exists only transiently inside the
    * LSH banding step — every set-vs-set comparison works directly on
    * these arrays). */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    shingleFrames(s, d).drop("w")

  /** Shingle sets for an arbitrary (doc_id, text) frame — the SAME
    * tokenize + ≥3-words + distinct word-3-gram rules as the corpus
    * pipeline, so frame-based operators (contaminationFrames, the
    * streaming dedup index) cannot drift from the corpus queries. */
  def shingleSetsOf(docs: DataFrame): DataFrame = shingleSetsTagged(docs, Nil)

  /** shingleSetsOf carrying `keep` columns through the same narrow
    * pass (x71's source tag) — one shared tokenize/guard/shingle
    * definition, so tagged consumers cannot drift from it. */
  def shingleSetsTagged(docs: DataFrame, keep: Seq[String]): DataFrame = {
    wordsOf(docs, keep)
      .filter(size(col("w")) >= 3)
      .select((col("doc_id") +: keep.map(col)) :+
        call_function(graft.plans.GraftExpressions.ShingleHashesFn,
          col("w")).as("s"): _*)
  }

  // ---- exact dedup ------------------------------------------------------

  /** Exact dedup over documents UNION ALL'd with itself (the corpus has
    * no planted exact dups, so the self-union provides them): keep the
    * min doc_id per content hash. One hash-shuffle; at 100 TB this is
    * the canonical groupBy-on-digest pattern. */
  def dedupExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    docs.unionAll(docs)
      .groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("doc_id"), count("*").as("n_copies"))
      .select($"doc_id", $"fp", $"n_copies")
      .orderBy($"doc_id")
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** (doc_id, s: array<long> shingle hashes) → minhash signature
    * (array of 128 longs). The 64-bit identity hashes reduce to the
    * 32-bit domain the universal-hash coefficients require (a·x+b must
    * stay in signed-64), then the fused codegen MinHashSignature
    * expression computes all 128 permutation-mins in one pass — a
    * fully NARROW map stage: zero shuffles until banding. */
  def minhashSignatures(sets: DataFrame): DataFrame = {
    sets.select(col("doc_id"),
      call_function(graft.plans.GraftExpressions.MinHashFn,
        transform(col("s"), x => pmod(x, lit(4294967296L))))
        .as("sig"))
  }

  /** Candidate pairs from banding: docs sharing any (band, band-key)
    * bucket. Bucket sizes stay small, so the per-bucket pair expansion
    * is bounded — the step that keeps this linear at scale. */
  def lshCandidates(sigs: DataFrame): DataFrame =
    candidatesFromBands(bandKeys(sigs))

  /** (doc_id, band, key) — each doc's 32 band keys. Band key = xxhash64
    * of the band's slice of the signature — an 8-byte shuffle key
    * instead of a concatenated string (the shuffle payload is the
    * dominant cost of banding at scale); a band-hash collision can
    * only ADD a candidate, which exact-verify removes. This is also
    * the persisted relation of the streaming dedup index (a doc's band
    * keys are a pure function of its text, the AnnStream property). */
  def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(Bands - 1)),
          b => xxhash64(slice(col("sig"), b * RowsPerBand + 1,
            lit(RowsPerBand))))))
      .toDF("doc_id", "band", "key")

  /** Candidate pairs from a band-key relation: docs sharing any
    * (band, key) bucket, melted per bucket. */
  def candidatesFromBands(bands: DataFrame): DataFrame =
    bands.groupBy("band", "key")
      .agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .filter(col("da") < col("db"))
      .distinct()

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * identity sets (exact up to 64-bit shingle-hash identity — BAND
    * collisions cannot inflate scores; see shingleFrames for the
    * identity-domain math).
    *
    * Melt-join-pivot shape: candidate pairs unpivot to one row per
    * (pair, side), joined against a SINGLE scan of the corpus-sized
    * set relation, then pivot back per pair — half the scans of the
    * naive two-join form.
    *
    * NO static broadcast hint on the melted side: the candidate
    * relation is LSH-bounded but grows with the corpus's true-dup
    * density, and a pinned hint is a crash at the 8 GiB broadcast cap
    * exactly when dedup matters most — the 125× rung measured 10 GiB
    * of melted candidates and died (dev/sweeps/r14_125x.json), taking
    * the x17/x57 cluster-artifact builds down with it. AQE's dynamic
    * join selection makes the right call per run: under the adaptive
    * broadcast threshold the shuffled side converts to a broadcast
    * join at runtime (bench scale), over it the join stays a shuffle
    * on doc_id (the corpus is still scanned once either way). A caller
    * that counted its candidates passes the pin as `meltSide` (x56,
    * [[VerifyBroadcastMaxPairs]]). */
  def verifyJaccard(candidates: DataFrame, sets: DataFrame,
                    threshold: Double,
                    meltSide: DataFrame => DataFrame = identity): DataFrame = {
    val melted = candidates
      .select(col("da"), col("db"),
        explode(array(
          struct(col("da").as("doc_id"), lit("a").as("side")),
          struct(col("db").as("doc_id"), lit("b").as("side")))).as("m"))
      .select(col("da"), col("db"), col("m.doc_id"), col("m.side"))
    val joined = meltSide(melted).join(sets, "doc_id")
    val paired = joined.groupBy(col("da"), col("db"))
      .agg(max(when(col("side") === "a", col("s"))).as("sa"),
           max(when(col("side") === "b", col("s"))).as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("long")
    val jac = inter / (size(col("sa")) + size(col("sb")) - inter)
    paired
      .select(col("da"), col("db"), round(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    dedupMinhashLshOf(
      Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** The full x02 pipeline over an arbitrary (doc_id, text) frame (the
    * streaming index's equivalence witness). The tokenize+shingle
    * stage feeds BOTH the signature branch and the exact-verify join —
    * a lazy localCheckpoint materializes it on first use so the
    * regex+shingling compute (the dominant narrow cost) runs once
    * instead of twice: the single-job analogue of persisting the
    * shingle table, which is exactly what a 100 TB pipeline does
    * before fanning out to multiple dedup consumers. */
  def dedupMinhashLshOf(docs: DataFrame): DataFrame = {
    val sets = shingleSetsOf(docs).localCheckpoint(false)
    verifyJaccard(lshCandidates(minhashSignatures(sets)), sets,
        JaccardThreshold)
      // in-job work-unit counter (pass-through CollectMetrics; the
      // sweep ladder adjudicates this family per OUTPUT PAIR — pairs
      // grow ~copies² on the key-shifted corpus by construction)
      .observe("x02_dup_pairs", count(lit(1)).as("rows"))
      .orderBy(col("da"), col("db"))
  }

  // ---- incremental snapshot dedup ---------------------------------------

  /** x56 — INCREMENTAL dedup of a new batch against an existing corpus
    * snapshot: which newly-ingested docs are near-duplicates of docs
    * already held? The fixture split is arrival-keyed (even doc_ids =
    * existing corpus, odd = new batch — a snapshot boundary IS an
    * arrival boundary). Candidates come from joining the BATCH's band
    * keys against the CORPUS's band-key relation — the same relation
    * the streaming dedup index persists (see bandKeys), so in
    * production the corpus side is a pre-built index and the
    * incremental cost is O(batch), never O(corpus): the corpus is not
    * re-paired against itself (x02 on the union would redo all
    * corpus×corpus work every ingest). Exact-Jaccard verification then
    * runs only on the cross-set candidates. Output: (new_id, dup_of,
    * jaccard ≥ 0.8) — the rows an ingest gate would drop. */
  def snapshotDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    snapshotDedupOf(docs.filter($"doc_id" % 2 === 0),
                    docs.filter($"doc_id" % 2 === 1))
  }

  /** Candidate-pair count at or under which x56 pins its melted
    * verify side as a broadcast: 10M pairs ≈ 20M melted rows ≈ 2 GB
    * hashed, a 4× margin under Spark's 8 GiB broadcast cap. The pin is
    * the one AQE cannot make itself: it re-elects a broadcast only
    * under its ~10 MB adaptive threshold, which x56's candidates pass
    * at the 125× rung (1.92 M pairs). DevProf medians there, 3
    * alternating pairs on a 4-core host: 43.3 s pinned against 78.1 s
    * left to AQE, which shuffles and spills 3.8 GB (0 of 3 pairs to
    * AQE; dev/sweeps/pr10_counted_pins_ab.json); r14 measured the same
    * loss as 34.1 s against 62.9 s. Under 10 MB (sf0.1 to 25×) the two
    * plans are the same broadcast. */
  val VerifyBroadcastMaxPairs = 10000000L

  /** The same plan for arbitrary corpus/batch (doc_id, text) frames
    * (the streaming ingest gate's equivalence witness). Each side's
    * shingle sets are checkpointed, so their tokenize and hash pass
    * runs once for the band keys and the verify join; the candidate
    * pairs are checkpointed and counted while the frame is built, for
    * the [[VerifyBroadcastMaxPairs]] pin ([[CountedHint]]), and the
    * verify join reuses that checkpoint. */
  def snapshotDedupOf(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val cSets = shingleSetsOf(corpus).localCheckpoint(false)
    val bSets = shingleSetsOf(batch).localCheckpoint(false)
    val cand = bandKeys(minhashSignatures(bSets))
      .join(bandKeys(minhashSignatures(cSets))
        .withColumnRenamed("doc_id", "cdoc"), Seq("band", "key"))
      .select(col("doc_id").as("da"), col("cdoc").as("db"))
      .distinct()
      .localCheckpoint(false)
    verifyJaccard(cand, cSets.unionAll(bSets), JaccardThreshold,
      CountedHint.fn(cand.count(), VerifyBroadcastMaxPairs))
      .select(col("da").as("new_id"), col("db").as("dup_of"),
        col("jaccard"))
      // in-job per-pair denominator for the sweep ladder (x02 rule)
      .observe("x56_dup_pairs", count(lit(1)).as("rows"))
      .orderBy(col("new_id"), col("dup_of"))
  }

  // ---- SimHash ----------------------------------------------------------

  val SimhashMaxHamming = 3
  private val SimhashChunks = 4   // 4 chunks of 16 bits; ≤3 flips ⇒ a chunk matches

  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sigs = simhashSig(words(s, d))
    // band on 16-bit chunks → candidates → exact hamming verify
    val chunkBits = 64 / SimhashChunks
    val chunkMask = (1L << chunkBits) - 1
    val chunks = sigs.select($"doc_id", $"sig",
        posexplode(expr(s"transform(sequence(0, ${SimhashChunks - 1}), " +
          s"c -> shiftright(sig, c * $chunkBits) & $chunkMask)")))
      .toDF("doc_id", "sig", "chunk", "key")
    val cands = chunks.groupBy("chunk", "key")
      .agg(collect_set(struct($"doc_id", $"sig")).as("ds"))
      .filter(size($"ds") > 1)
      .select(explode($"ds").as("a"), $"ds")
      .select($"a", explode($"ds").as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db"),
              $"a.sig".as("siga"), $"b.sig".as("sigb"))
      .distinct()
    cands
      .select($"da", $"db",
        bit_count($"siga".bitwiseXOR($"sigb")).cast("long").as("hamming"))
      .filter($"hamming" <= SimhashMaxHamming)
      // in-job per-pair denominator for the sweep ladder (x02 rule)
      .observe("x03_dup_pairs", count(lit(1)).as("rows"))
      .orderBy($"da", $"db")
  }

  /** (doc_id, chunk, key) — the 16-bit simhash chunk bands of each doc,
    * the SAME banding key space dedupSimhash buckets on (pigeonhole:
    * hamming ≤ 3 ⇒ some chunk equal), exposed for the streaming
    * near-dup gate: two docs within hamming-3 always share at least one
    * (chunk, key) row. */
  def simhashBands(docs: DataFrame): DataFrame = {
    val chunkBits = 64 / SimhashChunks
    val chunkMask = (1L << chunkBits) - 1
    simhashSig(wordsOf(docs.select(col("doc_id"), col("text"))))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${SimhashChunks - 1}), " +
          s"c -> shiftright(sig, c * $chunkBits) & $chunkMask)")))
      .toDF("doc_id", "chunk", "key")
  }

  /** (doc_id, w: array<string>) → SimHash: per bit, majority vote of
    * token hashes (+1 if the bit is set, −1 if not), packed into one
    * long by the fused codegen SimHash64 expression. NARROW — no
    * explode/groupBy; the signature is computed inline per row.
    *
    * The per-token hash is the top 60 bits of md5 (15 hex chars →
    * conv base-16), NOT xxhash64: md5 is the one hash every engine
    * computes identically, which makes the whole simhash pipeline
    * reproducible in the DuckDB oracle. 60 bits keeps the value inside
    * a signed long; the 4 always-zero top bits vote uniformly −1 and
    * never differ between docs, so banding and hamming are unaffected. */
  def simhashSig(docWords: DataFrame): DataFrame = {
    docWords.select(col("doc_id"),
      call_function(graft.plans.GraftExpressions.SimHashFn,
        transform(col("w"),
          t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))).as("sig"))
  }

  // ---- exact n-gram Jaccard vs a probe document -------------------------

  /** Top-10 documents most similar to doc_id 0 by word-3-gram Jaccard —
    * the exact-similarity serving query (probe side broadcast). */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Shingle sets are NARROW per-row arrays: the probe branch scans one
    // pushdown-filtered row, the candidate branch streams the corpus —
    // zero shuffles before the final top-K.
    val sets = shingleSets(s, d)
    val probe = sets.filter($"doc_id" === 0).select($"s".as("qs"))
    val inter = size(array_intersect($"s", $"qs")).cast("long")
    val jac = inter / (size($"s") + size($"qs") - inter)
    sets.filter($"doc_id" =!= 0).crossJoin(broadcast(probe))
      .select($"doc_id", round(jac, 4).as("jaccard"))
      .orderBy($"jaccard".desc, $"doc_id")
      .limit(10)
  }

  // ---- near-dup clustering (connected components) -----------------------

  /** Canonical representative per document: connected components over
    * the exact-verified near-dup pair graph, labeled by the minimum
    * doc_id in each component (docs with no near-dup represent
    * themselves). Min-label propagation over the edge list — the
    * standard distributed connected-components loop: each round is one
    * join + aggregate, and the driver only iterates rounds
    * (O(component diameter), capped), never touches rows. Labels are
    * localCheckpoint'ed per round to keep the plan from growing with
    * the iteration count.
    *
    * The loop runs ONLY over nodes that appear in an edge — an
    * LSH-bounded set that is vastly smaller than the corpus (near-dup
    * pairs are rare by construction at 100 TB too). Isolated docs
    * never enter the iteration; they join their identity label back in
    * one final broadcast left-join. Round 1 iterated every document
    * every round, which made the corpus scan the per-round cost. */
  /** x17's inline form — the full shingle→minhash→LSH→verify→converge
    * chain in one plan. Runs at ensureClusterIndex BUILD and as the
    * equivalence witness for the artifact-served registered entry
    * (DedupSpec pins served ≡ inline ≡ driver union-find). */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    dedupClustersOf(
      Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** x17 — near-dup cluster labels SERVED from the materialized
    * ensureClusterIndex artifact (the x66/x27/x12 discipline: label
    * maintenance is periodic-batch or streaming work — ClusterStream —
    * while queries ask for current labels constantly; the convergence
    * loop must not re-run per query). The build runs the inline chain
    * whose integer label math is exact, so the artifact replays the
    * convergence bit for bit and the unrolled DuckDB oracle validates
    * THIS entry. */
  def dedupClustersServed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ArtifactBuild.readCached(s, s"${ensureClusterIndex(s, d)}/labels")
      .orderBy($"doc_id")
  }

  /** Label-row cap under which the label rejoins pin the labels as a
    * broadcast: 20 M two-long rows ≈ 2 GiB hashed, 4× under Spark's
    * 8 GiB broadcast cap. The labels are one row per edge-incident doc,
    * which a dup-heavy crawl (30–50% dup pre-dedup) grows toward corpus
    * size; AQE broadcasts them only while they sit under its ~10 MB
    * adaptive threshold (about 650 k rows) and shuffles both sides on
    * doc_id past it. The rejoin alone (dev/label_join_ab.py: docs
    * LEFT JOIN labels, pinned against unpinned, 10 alternating pairs
    * in one JVM on a 4-core host) at 3.1 M label rows, the 625× rung's
    * size: 1.21 against 1.85 s, 10 of 10 to the pin. At 625 k rows
    * (125×), where AQE broadcasts too, the unpinned join was
    * 0.35 → 0.30 s (the count's cost). `ccLabelsOf` returns a checkpointed frame, so the count is
    * one action over materialized rows. */
  val LabelBroadcastMaxRows = 20000000L

  /** The same labeling for an arbitrary (doc_id, text) frame, with the
    * label rejoin pinned under [[LabelBroadcastMaxRows]]. */
  def dedupClustersOf(docsFrame: DataFrame): DataFrame = {
    val s = docsFrame.sparkSession
    import s.implicits._
    val labels = ccLabelsOf(dedupMinhashLshOf(docsFrame).select($"da", $"db"))
    val hintedL = CountedHint.fn(labels.count(), LabelBroadcastMaxRows)
    docsFrame.select($"doc_id")
      .join(hintedL(labels.select($"doc_id", $"rep".as("erep"))),
        Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"erep", $"doc_id").as("rep"))
      .orderBy($"doc_id")
  }

  /** Connected-component labels of an undirected pair graph — the x17
    * Observation-fused min-label loop over an arbitrary (da, db) edge
    * frame, extracted so the INCREMENTAL label maintenance
    * (streaming.ClusterStream) can run the identical convergence on
    * its batch-sized contracted graph. Returns (doc_id, rep) for
    * EDGE-INCIDENT nodes only. */
  private[graft] def ccLabelsOf(pairs0: DataFrame): DataFrame = {
    val s = pairs0.sparkSession
    import s.implicits._
    val pairs = pairs0.select($"da", $"db")
      .localCheckpoint(true)
    val edges = pairs.select($"da".as("a"), $"db".as("b"))
      .unionAll(pairs.select($"db".as("a"), $"da".as("b")))
    // 1-hop initialization: rep = min(self, neighbors) in ONE aggregate.
    // For the common near-dup shape (small dense clusters) this is
    // already the fixed point, so the loop below typically runs a single
    // verification round instead of propagating from identity labels.
    var labels = edges.groupBy($"a")
      .agg(least($"a", min($"b")).as("rep"))
      .select($"a".as("doc_id"), $"rep")
    var converged = false
    var rounds = 0
    while (!converged && rounds < 15) {
      val viaNeighbor = edges
        .join(labels.select($"doc_id".as("b"), $"rep".as("brep")), "b")
        .groupBy($"a").agg(min($"brep").as("nrep"))
      // The convergence test rides the SAME action that materializes the
      // round's labels: an Observation on the checkpoint job counts
      // changed labels, so each round is exactly ONE job — not a
      // checkpoint plus a separate isEmpty scan. (Serial driver rounds
      // are the scale-limiting axis of distributed CC; halving the
      // per-round action count attacks it directly.)
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$rounds")
      val next = labels
        .join(viaNeighbor.select($"a".as("doc_id"), $"nrep"), Seq("doc_id"), "left")
        .select($"doc_id", least($"rep", coalesce($"nrep", $"rep")).as("rep"),
                $"rep".as("prev_rep"))
        .observe(obs, sum(when($"rep" < $"prev_rep", 1L).otherwise(0L))
          .as("changed"))
        .drop("prev_rep")
        .localCheckpoint(true)
      // sum() over an empty frame observes NULL — an empty label set is
      // trivially converged.
      converged = Option(obs.get("changed"))
        .forall(_.asInstanceOf[Long] == 0L)
      labels = next
      rounds += 1
    }
    // a component whose min label needs more hops than the cap would
    // otherwise return silently-wrong labels; fail loudly instead.
    require(converged,
      s"label propagation did not converge within $rounds rounds")
    labels
  }

  /** x76 — CLUSTER-COHERENT train/val/test split: x23's deterministic
    * content-hash assignment, lifted to near-dup CLUSTER granularity.
    * Per-doc splitting leaks — two near-duplicates hashing to train
    * and test hand the eval set to the model — so the unit of
    * assignment is the x17 component: every member gets the split of
    * its cluster's MIN member digest (order-invariant, content-keyed,
    * so the assignment survives re-crawls and reshuffles exactly like
    * x23's). Singleton clusters reduce to x23's own rule bit for bit
    * (shared splitOfDigest definition), so the two assignments
    * disagree only where per-doc splitting was unsafe.
    *
    * Scale shape: rides the MATERIALIZED x17 label artifact (no
    * propagation at serve); one groupBy(rep) min-digest aggregate and
    * one equi-join back to the labels — at fixture scale both sides
    * broadcast, at corpus scale the join shuffles on rep, the same
    * class as every label probe. */
  def clusterSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val labels = ArtifactBuild
      .readCached(s, s"${ensureClusterIndex(s, d)}/labels")
      .select($"doc_id", $"rep")
    val withRep = Tables.documents(s, d).select($"doc_id", $"text")
      .join(labels, "doc_id")
    val clusterDigest = withRep.groupBy($"rep")
      .agg(min(md5($"text")).as("cd"))
    withRep.select($"doc_id", $"rep")
      .join(clusterDigest, "rep")
      .select($"doc_id", $"rep", TextOps.splitOfDigest($"cd").as("split"))
      .orderBy($"doc_id")
  }

  /** x77 — CANONICAL-REPRESENTATIVE retention (the keep-one dedup
    * policy): per x17 near-dup cluster, keep the single best member by
    * the x70 quality score, tie-broken by doc_id — the
    * RefinedWeb/FineWeb discipline (Penedo et al.) where dedup does
    * not just FLAG duplicate clusters but picks which copy survives
    * into training. Choosing the highest-quality copy (not an
    * arbitrary one) matters precisely when near-dups differ: a clean
    * article and its boilerplate-wrapped mirror are one cluster, and
    * the gate should keep the clean one. Emits one row per cluster:
    * the survivor, its cluster rep, its quality, and the cluster size
    * (`n_members` — 1 for singletons, so `sum(n_members)` replays the
    * corpus count and `count(*)` is the post-dedup corpus).
    *
    * Scale shape: rides the MATERIALIZED x17 label artifact (no
    * propagation at serve — the x76 discipline); one narrow quality
    * pass over the corpus, one join onto the label relation (broadcast
    * at fixture scale, doc-keyed shuffle at corpus scale), and one
    * window over rep — a single exchange on rep whose per-group state
    * is bounded by cluster size, the same key the label family already
    * shuffles on. No global sort beyond the bounded presentation
    * order. */
  def clusterCanonical(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val labels = ArtifactBuild
      .readCached(s, s"${ensureClusterIndex(s, d)}/labels")
      .select($"doc_id", $"rep")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"rep")
    TextOps.scoredDocs(s, d).select($"doc_id", $"q_micro")
      .join(labels, "doc_id")
      .withColumn("rn",
        row_number().over(w.orderBy($"q_micro".desc, $"doc_id")))
      .withColumn("n_members", count(lit(1)).over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"rep", $"q_micro", $"n_members")
      .orderBy($"doc_id")
  }

  /** Takedown-list membership for x57 — stands in for the external
    * opt-out / copyright-removal feed (every 43rd doc id — chosen so the list intersects real near-dup clusters and the sweep path is exercised, not vacuous). The oracle
    * SQL mirrors the same predicate. */
  val RemovalIdStride = 43

  /** x57 — REMOVAL PROPAGATION (opt-out compliance): given a takedown
    * list, excise the listed docs AND every near-duplicate in their
    * x17 cluster closure. Deleting only the listed copy while its
    * near-dups stay in the corpus does not honor the removal — the
    * model still trains on the content — so the unit of deletion is
    * the whole near-dup cluster. Emits each removed doc with its
    * cluster rep and whether it was on the list (`listed`) or swept in
    * as a near-dup (`neardup`); the production pass anti-joins this
    * frame against the corpus (and feeds the same ids to the band /
    * ANN index maintenance).
    *
    * Scale shape: the closure rides the already-converged x17 labels —
    * NO new propagation rounds. The listed docs collapse to a tiny
    * distinct rep set that broadcasts back onto the label frame, so
    * the only corpus-sized work beyond x17's own is one broadcast-hash
    * probe. */
  /** Materialized x17 cluster labels (the ensure discipline every
    * serving artifact follows — content-keyed path, staged-rename
    * build): `labels/` holds the converged (doc_id, rep) relation.
    * Takedown feeds arrive repeatedly against the same corpus
    * snapshot, so the production mode is label-lookup, not
    * re-convergence — the propagation loop runs ONCE at build and
    * every subsequent removal request is a probe. */
  def ensureClusterIndex(s: SparkSession, d: String,
                         indexRoot: String = sys.props("java.io.tmpdir")): String = {
    import s.implicits._
    val listing = SimilarityOps.listingOf(s, d, Seq("documents.parquet"))
    val parts = listing.map(_._1)
    val path = new org.apache.hadoop.fs.Path(indexRoot,
      SimilarityOps.indexDirName(d, "cc", "v2",
        SimilarityOps.sigOf(parts))).toString
    ArtifactBuild.ensure(s, path, "labels/_SUCCESS") { staging =>
      val st = staging.toString
      val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
      // v2 layout persists the dedup partials (`sets/`, `bands/`) next
      // to the converged labels, so an append-only delta refreshes by
      // REP CONTRACTION — ClusterStream's algebra applied to the batch
      // artifact: delta partials probe the persisted band index for
      // cross edges (the x56 ingest-gate join), old endpoints contract
      // to their reps, and the min-label loop converges a graph
      // bounded by the delta's edges — O(delta + state), no corpus
      // re-shingling. Min-label survives contraction exactly (an old
      // rep IS its component's min), so the served labels are
      // bit-for-bit the one-shot rebuild's (EnsureIncrementalSpec).
      val base = ArtifactBuild.findAppendBase(s, indexRoot,
        SimilarityOps.indexPrefix(d, "cc", "v2"), parts, "labels/_SUCCESS")
      val labelsOut = base match {
        case Some((bpath, bparts)) =>
          val deltaPaths = listing.collect {
            case (part, full) if !bparts.contains(part) => full }
          val deltaDocs = s.read.parquet(deltaPaths: _*)
            .select($"doc_id", $"text")
          val bSets = shingleSetsOf(deltaDocs).localCheckpoint(false)
          val bBands = bandKeys(minhashSignatures(bSets))
            .localCheckpoint(false)
          val cSets = s.read.parquet(s"$bpath/sets").select($"doc_id", $"s")
          val cBands = s.read.parquet(s"$bpath/bands")
            .select($"doc_id".as("cdoc"), $"band", $"key")
          val cand = bBands.join(cBands, Seq("band", "key"))
            .filter($"doc_id" =!= $"cdoc")
            .select($"doc_id".as("da"), $"cdoc".as("db")).distinct()
          val cross = verifyJaccard(cand, cSets.unionAll(bSets),
              JaccardThreshold).select($"da", $"db")
          val within = verifyJaccard(
              candidatesFromBands(bBands.select($"doc_id", $"band", $"key")),
              bSets, JaccardThreshold)
            .select($"da", $"db")
          val oldLabels = s.read.parquet(s"$bpath/labels")
            .select($"doc_id", $"rep")
          val crossC = cross
            .join(oldLabels.select($"doc_id".as("db"), $"rep".as("brep")),
              Seq("db"))
            .select($"da", $"brep".as("db"))
          // comp is delta-edge-bounded, but a bulk append can make the
          // delta itself corpus-sized, so its two rejoins ride the
          // counted label cap (one count pins both projections)
          val comp = ccLabelsOf(within.unionAll(crossC))
          val hintedC = CountedHint.fn(comp.count(), LabelBroadcastMaxRows)
          cSets.unionAll(bSets).write.mode("overwrite").parquet(s"$st/sets")
          s.read.parquet(s"$bpath/bands").select($"doc_id", $"band", $"key")
            .unionAll(bBands.select($"doc_id", $"band", $"key"))
            .write.mode("overwrite").parquet(s"$st/bands")
          val oldFinal = oldLabels
            .join(hintedC(comp.select($"doc_id".as("rep"),
              $"rep".as("nrep"))), Seq("rep"), "left")
            .select($"doc_id", coalesce($"nrep", $"rep").as("rep"))
          val deltaFinal = deltaDocs.select($"doc_id")
            .join(hintedC(comp.select($"doc_id", $"rep".as("nrep"))),
              Seq("doc_id"), "left")
            .select($"doc_id", coalesce($"nrep", $"doc_id").as("rep"))
          oldFinal.unionAll(deltaFinal)
        case None =>
          val docsAll = Tables.documents(s, d).select($"doc_id", $"text")
          val sets = shingleSetsOf(docsAll).localCheckpoint(false)
          sets.write.mode("overwrite").parquet(s"$st/sets")
          bandKeys(minhashSignatures(sets))
            .write.mode("overwrite").parquet(s"$st/bands")
          // derive edges/labels from the WRITTEN state so the shingle
          // pass runs once across all three pieces
          val setsW = s.read.parquet(s"$st/sets")
          val edges = verifyJaccard(
              candidatesFromBands(s.read.parquet(s"$st/bands")),
              setsW, JaccardThreshold)
            .select($"da", $"db")
          val cc = ccLabelsOf(edges)
          // the full-build label rejoin, pinned under the counted cap
          val hintedCc = CountedHint.fn(cc.count(), LabelBroadcastMaxRows)
          docsAll.select($"doc_id")
            .join(hintedCc(cc.select($"doc_id", $"rep".as("erep"))),
              Seq("doc_id"), "left")
            .select($"doc_id", coalesce($"erep", $"doc_id").as("rep"))
      }
      ArtifactBuild.writeListing(fs, staging, parts)
      labelsOut.write.mode("overwrite").parquet(s"$st/labels")
    }
  }

  def removalPropagation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Served from the materialized labels: the only corpus-sized work
    // is one scan of the label relation + the rep probe — the
    // convergence loop never runs on the query path (plan-pinned).
    // The listed-rep set is takedown-list-proportional (a mass
    // takedown scales with the corpus), so AQE sizes the probe join.
    val labels = ArtifactBuild.readCached(s, s"${ensureClusterIndex(s, d)}/labels")
    val isListed = (c: Column) => c % RemovalIdStride === 0
    val listedReps =
      labels.filter(isListed($"doc_id")).select($"rep").distinct()
    labels.join(listedReps, Seq("rep"))
      .select($"doc_id", $"rep",
        when(isListed($"doc_id"), lit("listed"))
          .otherwise(lit("neardup")).as("reason"))
      .orderBy($"doc_id")
  }

  /** The same closure for an arbitrary (doc_id, text) frame and an
    * arbitrary takedown-list membership predicate over doc_id. */
  def removalPropagationOf(docsFrame: DataFrame,
      isListed: Column => Column): DataFrame = {
    val s = docsFrame.sparkSession
    import s.implicits._
    val labels = dedupClustersOf(docsFrame) // (doc_id, rep) for EVERY doc
    val listedReps =
      labels.filter(isListed($"doc_id")).select($"rep").distinct()
    labels.join(listedReps, Seq("rep"))
      .select($"doc_id", $"rep",
        when(isListed($"doc_id"), lit("listed"))
          .otherwise(lit("neardup")).as("reason"))
      .orderBy($"doc_id")
  }

  // ---- repetition filter (quality gate) ----------------------------------

  /** Docs whose duplicate-3-gram ratio exceeds this are repetitive
    * (boilerplate, spam, generation loops). */
  val MaxDupShingleRatio = 0.2

  /** Repetition quality gate: per doc, the fraction of word-3-gram
    * occurrences that are repeats of an earlier shingle —
    * (total − distinct) / total. A single narrow map stage (the
    * shingle set is the same per-row array the dedup path uses; total
    * is just len(words) − 2) — the C4/Gopher-style repetition rule at
    * corpus scale. Emits every doc's ratio plus its gate decision (a
    * production pass would filter on `flagged`; emitting all rows
    * keeps the oracle check meaningful on a mostly-clean corpus). */
  def repetitionFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    shingleFrames(s, d)
      .select($"doc_id",
        (size($"w") - 2).cast("long").as("total"),
        size($"s").cast("long").as("distinct_sh"))
      .select($"doc_id", $"total",
        round(($"total" - $"distinct_sh") / $"total", 4).as("dup_ratio"))
      .withColumn("flagged", $"dup_ratio" > MaxDupShingleRatio)
      .orderBy($"doc_id")
  }

  // ---- Gopher repetition signals (intra-doc) ------------------------------

  /** Gopher/MassiveText repetition thresholds (Rae et al. 2021, table
    * A1): reject when > 20% of a doc's characters sit in its single
    * most frequent word 2-gram, or > 15% of its tokens are covered by
    * word 5-grams that repeat WITHIN the doc. */
  val MaxTop2CharRatio = 0.20
  val MaxDup5TokenRatio = 0.15

  /** The gram size for the intra-doc duplicate-coverage signal. */
  val GopherGramK = 5

  /** x51 — the Gopher repetition signals x21 does not cover: per doc,
    * (a) the fraction of characters contained in the doc's MOST
    * FREQUENT word 2-gram (count DESC, gram ASC tie-break — boilerplate
    * and generation loops concentrate mass in one gram), and (b) the
    * fraction of tokens covered by word 5-grams occurring ≥ 2 times in
    * the SAME doc — the intra-doc twin of x43's cross-doc span rule,
    * sharing its gram fingerprinting and gaps-and-islands merge so the
    * coverage arithmetic cannot drift. Both ratios are emitted as
    * exact integer millionths (numerator·1e6 div denominator), so the
    * oracle hash-matches bitwise.
    *
    * Scale shape: ONE corpus scan (the tokenized base is checkpointed
    * and feeds both signals plus the final join); each signal is an
    * explode → partial-aggregated shuffle KEYED BY (doc_id, gram) —
    * per-doc keys, so corpus growth adds partitions, not skew. The
    * 2-gram argmax is a per-doc window over the per-doc counts, never
    * a global sort. */
  def gopherRepetition(s: SparkSession, d: String): DataFrame =
    gopherRepetitionOf(Tables.documents(s, d))

  /** The x51 signals over an arbitrary (doc_id, text) frame — the
    * frame form every curation composition (and the planted-doc spec)
    * uses, so the corpus query cannot drift from it. */
  def gopherRepetitionOf(docsFrame: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = docsFrame.sparkSession
    import s.implicits._
    val w = wordsOf(docsFrame).filter(size($"w") >= 2)
      .select($"doc_id", $"w", size($"w").cast("long").as("n_tokens"),
        expr("aggregate(w, 0L, (acc, x) -> acc + length(x))").as("n_chars"))
      .localCheckpoint(false)
    // (a) most frequent 2-gram's character mass. The argmax is a
    // SECOND aggregate — min(struct(-c, a, b, covered)) — not a
    // window: both aggregates partial-combine map-side, and the
    // (count DESC, gram ASC) pick order rides the struct's
    // lexicographic compare ((-c, a, b) is unique per gram, so the
    // trailing covered field never influences the pick).
    val top2 = w
      .select($"doc_id", $"n_chars", explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) AS a,
          |              element_at(w, i + 1) AS b))""".stripMargin)).as("p"))
      .groupBy($"doc_id", $"n_chars", $"p.a", $"p.b")
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"n_chars")
      .agg(min(struct((-$"c").as("nc"), $"a", $"b",
        ($"c" * (length($"a") + length($"b"))).as("covered"))).as("t"))
      .select($"doc_id",
        expr("t.covered * 1000000L div n_chars").as("top2_frac6"))
    // (b) tokens covered by intra-doc duplicated 5-grams: the ≥2 mark
    // is a count over the SAME (doc_id, gram) key the aggregate would
    // use, as a window — one exchange, no join-back
    val g5 = substringGramsOfWords(
      w.filter(size($"w") >= GopherGramK).select($"doc_id", $"w"), GopherGramK)
    val cov = substringSpansFromHits(
        g5.withColumn("c",
            count(lit(1)).over(Window.partitionBy($"doc_id", $"g")))
          .filter($"c" >= 2)
          .select($"doc_id", $"n_tokens", $"pos"), GopherGramK)
      .groupBy($"doc_id")
      .agg(sum($"e" - $"s" + 1).cast("long").as("dup5_tokens"))
    w.select($"doc_id", $"n_tokens", $"n_chars")
      .join(top2, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"n_chars",
        coalesce($"top2_frac6", lit(0L)).as("top2_frac6"),
        coalesce($"dup5_tokens", lit(0L)).as("dup5_tokens"))
      .withColumn("dup5_frac6",
        expr("dup5_tokens * 1000000L div n_tokens"))
      .withColumn("flagged",
        $"top2_frac6" > (MaxTop2CharRatio * 1e6).toLong ||
          $"dup5_frac6" > (MaxDup5TokenRatio * 1e6).toLong)
      .orderBy($"doc_id")
  }

  // ---- block-level exact substring dedup ---------------------------------

  /** Words per sliding window for block-level dedup. 8 words ≈ the
    * granularity at which exact repeats are meaningful boilerplate
    * rather than idiom (the suffix-array literature uses ~50 BPE
    * tokens; at word granularity the same intent lands near 8–10). */
  val BlockWords = 8

  /** x26 — block-level EXACT substring dedup: the relational form of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022), which finds verbatim text shared across
    * documents at sub-document granularity (their suffix-array pass;
    * here sliding word-windows, the join-friendly equivalent). A
    * window is duplicated iff its exact text occurs in ≥ 2 distinct
    * docs; per doc the query emits total windows, duplicated windows,
    * and the gate flag — all integers, so the oracle hash-matches.
    *
    * Scale shape: windows explode to ~L rows/doc but carry only a
    * 16-byte digest through the shuffle, never the window string
    * (the key is internal — outputs are counts, so engine-specific
    * keying is safe and the DuckDB oracle keeps md5 windows; the
    * two-seed XXH64 key in BlockWindowHashes keeps 128 bits, so the
    * collision expectation stays ~1e-13 even at 1e13 windows, the same
    * exact-up-to-hash standard the x01
    * fingerprint path sets). The duplicated-key relation is the aggregate's
    * ≥2-distinct-doc survivors — tiny whenever duplication is the
    * exception, but it GROWS with the corpus's duplicated-window count
    * (which boilerplate-heavy crawls maximize), so the count-back join
    * carries no hint: AQE broadcasts the survivors while they are
    * small and shuffles on the key once they are not. */
  def dedupBlocks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the window explode feeds both the dup-key aggregate and the
    // count-back join. Both read `words`' one rebalance exchange, which
    // AQE runs once, but the tokenize and BlockWindowHashes pass after
    // it runs once per consumer. Left unmaterialized it still measured
    // faster than the checkpoint that ran it once, and building the
    // frame runs no job (DevProf medians, 10 alternating pairs, 4
    // cores: sf0.1 1.052 → 0.946 s, 5× 2.357 → 2.076 s, 25× 4.862 →
    // 4.082 s); re-measure at 125×, where the doubled pass is 5× longer.
    val wins = words(s, d).filter(size($"w") >= BlockWords)
      .select($"doc_id", explode(call_function(
        graft.plans.GraftExpressions.BlockHashesFn,
        $"w", lit(BlockWords))).as("k"))
    // ≥2 distinct docs ⟺ min(doc_id) < max(doc_id): one plain agg pass,
    // not the distinct-rewrite Expand a countDistinct would plan
    val dup = wins.groupBy($"k")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .filter($"mn" < $"mx").select($"k", lit(1L).as("dup"))
    wins.join(dup, Seq("k"), "left")
      .groupBy($"doc_id")
      .agg(count("*").as("n_windows"),
           sum(coalesce($"dup", lit(0L))).as("n_dup_windows"))
      .withColumn("flagged", $"n_dup_windows" > 0L)
      .orderBy($"doc_id")
  }

  // ---- benchmark decontamination ----------------------------------------

  /** Stand-in eval-set membership: every 50th doc_id (a real pipeline
    * joins an actual benchmark corpus here; the operator shape is
    * identical). */
  val ContaminationEvalStep = 50
  /** A train/eval pair counts as contaminated at ≥ this many shared
    * word-3-gram shingles. */
  val MinSharedShingles = 5
  /** Shingles occurring in more than this many docs are boilerplate:
    * they carry no contamination evidence AND they are exactly the
    * hot keys that would skew the inverted-index join — one cap serves
    * both purposes. */
  val MaxShingleDf = 10

  /** Train↔eval contamination check over ARBITRARY (doc_id, text)
    * frames: inverted-index join on shingles (never all-pairs — work is
    * proportional to shared-shingle postings), document-frequency-capped
    * over BOTH sides' postings to drop boilerplate and hot keys, then a
    * shared-shingle count per (train, eval) pair. At 100 TB this is the
    * standard decontamination sweep: explode to postings, semi-join the
    * df-capped vocabulary, shuffle on the shingle, count. Both postings
    * relations feed the df count and the join; lazily checkpointing the
    * PRE-explode shingle sets (one compact row per doc) runs the
    * regex+shingle compute once per side. */
  def contaminationFrames(train: DataFrame, eval: DataFrame): DataFrame =
    contaminationSets(
      shingleSetsOf(train).localCheckpoint(false),
      shingleSetsOf(eval).localCheckpoint(false))

  /** The postings sweep over PRE-SHINGLED (doc_id, s) set frames —
    * split out so callers whose train and eval sides derive from the
    * same corpus scan (x20's modulo split) shingle once and filter,
    * instead of running the tokenize+shingle battery per side. */
  def contaminationSets(trainSets: DataFrame,
                        evalSets: DataFrame): DataFrame = {
    val tp = trainSets
      .select(col("doc_id").as("train_id"), explode(col("s")).as("sh"))
    val ep = evalSets
      .select(col("doc_id").as("eval_id"), explode(col("s")).as("sh"))
    // df-cap by ANTI join against the HOT set (df > MaxShingleDf) —
    // the COMPLEMENT of the r16 semi-join's rare side. Same partition
    // of the vocabulary, so each posting survives iff its shingle's df
    // is ≤ the cap, exactly as before — but the join side shrinks from
    // nearly-the-whole-vocabulary (rare shingles are the common case;
    // at sf0.1 the rare relation was ~990k of ~1M hashes) to the
    // boilerplate tail (~600 rows at sf0.1), so both prunes become
    // tiny broadcast builds instead of two vocabulary-sized hash
    // builds (guide §3.1: broadcast the side that fits — and pick the
    // FORMULATION whose small side is small). The hot relation is
    // corpus-coupled (boilerplate vocabulary grows with the crawl), so
    // it carries NO pinned hint: its join strategy is decided by AQE's
    // RUNTIME size measurement — a measured bound, not hope — and a
    // corpus whose hot set outgrows the broadcast threshold degrades
    // to the keyed shuffle automatically. (A counted-cap pin was
    // measured here and rejected: the count's construction barrier
    // serializes the df aggregate ahead of the query and cost more
    // than the tiny broadcasts save.) Prune BOTH sides: hot shingles are exactly the hot
    // join keys of the pair join, and the guard has to hold for
    // whichever side is bigger.
    val hot = tp.select(col("sh")).unionAll(ep.select(col("sh")))
      .groupBy(col("sh")).agg(count("*").as("df"))
      .filter(col("df") > MaxShingleDf).select(col("sh"))
    tp.join(hot, Seq("sh"), "left_anti")
      .join(ep.join(hot, Seq("sh"), "left_anti"), "sh")
      .groupBy(col("train_id"), col("eval_id")).agg(count("*").as("n_shared"))
      .filter(col("n_shared") >= MinSharedShingles)
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** x20 harness: the modulo split of the corpus into train/eval — the
    * oracle-reproducible stand-in driving contaminationFrames. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one shingle pass over the corpus; the train/eval modulo split
    // happens on the materialized sets
    val sets = shingleSets(s, d).localCheckpoint(false)
    contaminationSets(
      sets.filter($"doc_id" % ContaminationEvalStep =!= 0),
      sets.filter($"doc_id" % ContaminationEvalStep === 0))
  }

  /** How many leading words of a doc the x24 eval fixture keeps. */
  val EvalTruncWords = 40

  /** x24 — decontamination against a GENUINELY DISTINCT eval frame:
    * the eval set is the 40-word prefix of every 50th-plus-one
    * document (a benchmark whose items leaked into the training
    * corpus), checked against the FULL corpus as train side. Each
    * leaked prefix shares its ~38 shingles with its source doc (df ≈ 2
    * — rare), so the sweep must recover every (source, eval) pair plus
    * any near-dups of sources. Exercises the two-frame signature with
    * frames of different shapes and row counts. */
  def contaminationEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val eval = docs.filter($"doc_id" % ContaminationEvalStep === 1)
      .select($"doc_id",
        concat_ws(" ", slice(split($"text", "\\s+"), 1, EvalTruncWords))
          .as("text"))
    contaminationFrames(docs, eval)
  }

  // ---- cross-source overlap matrix (x71) --------------------------------

  /** x71 — the SOURCE-pair contamination matrix: for every pair of
    * sources, how many DISTINCT word-3-gram shingles they share — the
    * all-pairs generalization of x20's two-frame decontamination and
    * the overlap panel a corpus report leads with (which sources are
    * near-copies of each other; where a leak between subsets would
    * come from). Exact counts on the canonical shingle rule, so the
    * matrix is comparable with every other shingle-based verdict.
    *
    * Scale shape: ONE shuffle — the narrow tagged shingle pass
    * explodes to (shingle, source) rows and a single hash aggregate
    * collects each shingle's distinct source set (bounded by the
    * source count, which stays small at any corpus size); pair
    * fan-out per shingle is ≤ C(|sources|, 2) rows computed by an
    * in-row HOF, and the final matrix aggregate runs on ≤ C(|sources|,
    * 2) keys. No join anywhere in the plan. */
  /** Materialized overlap index for a corpus dir — the ensure
    * discipline (content-keyed path, staged rename, marker = the
    * LAST-written piece) applied to the overlap family. The corpus
    * shingle pass — the irreducible cost of x71/x73, and the suite's
    * top wall when it re-ran per call — now runs ONCE per corpus
    * snapshot; every query is an artifact read. The artifact holds:
    *
    *  - `masks/` (≤ 64 sources: the (sh, mask) relation) or `pairs/`
    *    (beyond: the distinct (source, sh) relation) — the MERGEABLE
    *    state, the same algebra OverlapStream's per-batch partials
    *    fold into, kept so an incremental refresh can merge instead
    *    of rebuild;
    *  - `sizes/` — per-source distinct-shingle counts (≤ |sources|
    *    rows), derived from the state in the same build;
    *  - `matrix/` — the pair-count matrix (≤ C(|sources|, 2) rows),
    *    written last so its `_SUCCESS` marks the artifact complete.
    *
    * Serving x71 is then a FileScan of `matrix/` + the bounded
    * presentation sort; x73 adds two broadcast joins against
    * `sizes/`. No shingle work, no corpus scan, no corpus-scale
    * shuffle on any serve path (plan-pinned). */
  def ensureOverlapIndex(s: SparkSession, d: String,
                         indexRoot: String = sys.props("java.io.tmpdir")): String = {
    val listing = SimilarityOps.listingOf(s, d, Seq("documents.parquet"))
    val parts = listing.map(_._1)
    val path = new org.apache.hadoop.fs.Path(indexRoot,
      SimilarityOps.indexDirName(d, "overlap", "v2",
        SimilarityOps.sigOf(parts))).toString
    ArtifactBuild.ensure(s, path, "matrix/_SUCCESS") { staging =>
      val st = staging.toString
      val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
      // INCREMENTAL refresh: if a completed sibling artifact covers a
      // strict subset of this corpus listing (a true append — any
      // in-place file change breaks the part match), merge ITS
      // mergeable state with the DELTA files' partial instead of
      // re-shingling the whole corpus. The merge is the same algebra
      // OverlapStream folds per batch: BIT_OR over (sh, mask) at ≤ 64
      // sources, distinct-union over (source, sh) beyond. Cost is
      // O(delta text + state), never O(corpus text) — the old files
      // are not read at all.
      val base = ArtifactBuild.findAppendBase(s, indexRoot,
        SimilarityOps.indexPrefix(d, "overlap", "v2"), parts,
        "matrix/_SUCCESS")
      val incremental = base.flatMap { case (bpath, bparts) =>
        val deltaPaths = listing.collect {
          case (part, full) if !bparts.contains(part) => full }
        val deltaDocs = s.read.parquet(deltaPaths: _*)
          .select(col("doc_id"), col("source"), col("text"))
        val prevSrcs = s.read.parquet(s"$bpath/sources")
          .collect().map(_.getString(0)).sorted
        val deltaSrcs = sortedSourcesOf(deltaDocs.select(col("source")))
        val newSrcs = (prevSrcs ++ deltaSrcs).distinct.sorted
        if (prevSrcs.nonEmpty && prevSrcs.length <= 64 && newSrcs.length <= 64) {
          val prevMasks = s.read.parquet(s"$bpath/masks")
          val remapped =
            if (newSrcs.sameElements(prevSrcs)) prevMasks
            else remapMasks(prevMasks, prevSrcs, newSrcs)
          remapped.unionAll(sourceMasks(sourcePairsOf(deltaDocs), newSrcs))
            .groupBy(col("sh")).agg(bit_or(col("mask")).as("mask"))
            .write.mode("overwrite").parquet(s"$st/masks")
          val masks = s.read.parquet(s"$st/masks")
          Some((newSrcs,
            matrixFromMasks(masks, newSrcs), sizesFromMasks(masks, newSrcs)))
        } else if (prevSrcs.length > 64) {
          s.read.parquet(s"$bpath/pairs")
            .unionAll(sourcePairsOf(deltaDocs).distinct())
            .distinct()
            .write.mode("overwrite").parquet(s"$st/pairs")
          val pairs = s.read.parquet(s"$st/pairs")
          Some((newSrcs, overlapMatrixFrom(pairs),
            pairs.groupBy(col("source")).agg(count(lit(1)).as("n"))))
        } else None   // masks-state base crossing 64 sources: rebuild
      }
      val (srcsOut, matrix, sizes) = incremental.getOrElse {
        val docs0 = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
        val srcs = sortedSourcesOf(docs0.select(col("source")))
        val ss = sourcePairsOf(docs0)
        // land the mergeable state FIRST and read it back, so the
        // corpus shingle pass runs exactly once across matrix and sizes
        if (srcs.nonEmpty && srcs.length <= 64) {
          sourceMasks(ss, srcs).write.mode("overwrite").parquet(s"$st/masks")
          val masks = s.read.parquet(s"$st/masks")
          (srcs, matrixFromMasks(masks, srcs), sizesFromMasks(masks, srcs))
        } else {
          ss.distinct().write.mode("overwrite").parquet(s"$st/pairs")
          val pairs = s.read.parquet(s"$st/pairs")
          (srcs, overlapMatrixFrom(pairs),
            pairs.groupBy(col("source")).agg(count(lit(1)).as("n")))
        }
      }
      import s.implicits._
      srcsOut.toSeq.toDF("source").coalesce(1)
        .write.mode("overwrite").parquet(s"$st/sources")
      ArtifactBuild.writeListing(fs, staging, parts)
      sizes.write.mode("overwrite").parquet(s"$st/sizes")
      matrix.write.mode("overwrite").parquet(s"$st/matrix")
    }
  }

  /** Re-express a BIT_OR mask state over a GROWN source list: bit b of
    * the old ordering moves to position newIdx(b) — an in-row HOF over
    * each 64-bit mask, no shuffle. (Appends can only grow the source
    * list, so old ⊆ new and every old bit has a new home.) */
  private def remapMasks(prevMasks: DataFrame, oldSrcs: Array[String],
                         newSrcs: Array[String]): DataFrame = {
    import prevMasks.sparkSession.implicits._
    val newIdx = array(oldSrcs.map(o => lit(newSrcs.indexOf(o))): _*)
    prevMasks.select($"sh",
      aggregate(
        filter(sequence(lit(0), lit(oldSrcs.length - 1)),
          b => call_function("shiftright", $"mask", b)
            .bitwiseAND(lit(1L)) === lit(1L)),
        lit(0L),
        (acc, b) => acc + call_function("shiftleft", lit(1L),
          element_at(newIdx, (b + 1).cast("int")))
      ).as("mask"))
  }

  /** x71 — SERVED from the materialized overlap artifact: the plan is
    * one FileScan of the ≤ C(|sources|, 2)-row matrix plus the bounded
    * presentation sort (the x66/x17 discipline). The inline form below
    * remains the equivalence witness. */
  def sourceOverlapMatrix(s: SparkSession, d: String): DataFrame = {
    val root = ensureOverlapIndex(s, d)
    ArtifactBuild.readCached(s, s"$root/matrix")
      .smallOrdered(col("src_a"), col("src_b"))
  }

  /** The one-shot x71 (shingle pass + mask aggregate in a single
    * query) — the equivalence witness for the artifact-served form,
    * and the body the artifact build stages. */
  def sourceOverlapMatrixInline(s: SparkSession, d: String): DataFrame =
    overlapMatrixOfDocs(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text")))

  /** The matrix for an arbitrary (doc_id, source, text) frame, with
    * the runtime-chosen aggregate: at ≤ 64 sources the per-shingle
    * state is a single BIT_OR-folded long inside a whole-stage-codegen
    * hash aggregate, so the corpus shuffle carries (long, long) rows
    * and reducers hold one word per shingle — the collect_set form
    * drags an object-hash set of strings through the same exchange
    * (equal at fixture scale, where the narrow shingle pass dominates;
    * the bound is what matters when the shuffle is the cost). Beyond
    * 64 sources the collect_set form takes over unchanged
    * (equivalence spec-pinned on both paths). The source list is read
    * up front from the docs frame's source column alone (a
    * dictionary-encoded column scan, no shingle work) — bounded by
    * the source count, the repo's metadata-collect class. */
  def overlapMatrixOfDocs(docs0: DataFrame): DataFrame = {
    val srcs = sortedSourcesOf(docs0.select(col("source")))
    val ss = sourcePairsOf(docs0)
    if (srcs.nonEmpty && srcs.length <= 64)
      matrixFromMasks(sourceMasks(ss, srcs), srcs)
    else overlapMatrixFrom(ss)
  }

  private[graft] def sortedSourcesOf(srcCol: DataFrame): Array[String] =
    srcCol.distinct().collect().map(_.getString(0)).sorted

  /** (sh, mask): bit i of mask = "source i contains this shingle" —
    * the per-shingle source set as ONE long, folded by the codegen'd
    * BIT_OR aggregate through the single corpus shuffle. */
  private[graft] def sourceMasks(ss: DataFrame,
                                 srcs: Array[String]): DataFrame = {
    import ss.sparkSession.implicits._
    val idx = map(srcs.zipWithIndex.flatMap {
      case (s, i) => Seq(lit(s), lit(i)) }: _*)
    ss.select($"sh",
        call_function("shiftleft", lit(1L), element_at(idx, $"source"))
          .as("bit"))
      .groupBy($"sh").agg(bit_or($"bit").as("mask"))
  }

  /** Pair counts from the mask relation: set-bit extraction and the
    * i<j pair fan-out run IN-ROW over each 64-bit mask; only masks
    * with ≥ 2 bits reach the fan-out. */
  private[graft] def matrixFromMasks(masks: DataFrame,
                                     srcs: Array[String]): DataFrame = {
    import masks.sparkSession.implicits._
    val names = array(srcs.map(lit): _*)
    def bits(mask: Column): Column =
      filter(sequence(lit(0), lit(srcs.length - 1)),
        b => call_function("shiftright", mask, b)
          .bitwiseAND(lit(1L)) === lit(1L))
    masks
      .filter(call_function("bit_count", $"mask") > 1)
      .select(explode(flatten(transform(bits($"mask"), i =>
          transform(filter(bits($"mask"), j => j > i), j =>
            struct(element_at(names, (i + 1).cast("int")).as("src_a"),
                   element_at(names, (j + 1).cast("int")).as("src_b"))))))
        .as("p"))
      .select($"p.src_a", $"p.src_b")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("shared"))
      .smallOrdered($"src_a", $"src_b")
  }

  /** The exploded (source, sh) pair relation for an arbitrary
    * (doc_id, source, text) frame — the canonical-shingle narrow pass
    * both the one-shot x71 and OverlapStream's per-batch partials run
    * (one definition, so the streamed matrix cannot drift). */
  def sourcePairsOf(docs: DataFrame): DataFrame =
    shingleSetsTagged(docs, Seq("source"))
      .select(col("source"), explode(col("s")).as("sh"))

  /** x73 — SOURCE-similarity ranking: x71's shared counts normalized
    * to the Jaccard of each pair's distinct-shingle sets. The matrix
    * answers "how many n-grams do these share"; the Jaccard answers
    * the curation question "are these two sources near-copies" on a
    * size-free [0,1] scale (a mirror of a small source is invisible
    * in raw counts next to two unrelated huge ones).
    *
    * Scale shape: SERVED from the same materialized overlap artifact
    * as x71 — the ≤ C(S,2)-row matrix FileScan plus two broadcast
    * joins against the ≤ |sources|-row sizes table. The corpus-scale
    * work (shingle pass + ONE shuffle feeding both matrix and sizes)
    * runs once at artifact build; the inline form below keeps that
    * plan as the equivalence witness. */
  def sourceSimilarity(s: SparkSession, d: String): DataFrame = {
    val root = ensureOverlapIndex(s, d)
    similarityOf(ArtifactBuild.readCached(s, s"$root/matrix"),
      ArtifactBuild.readCached(s, s"$root/sizes"))
  }

  /** The one-shot x73 — ONE corpus shuffle: the mask relation feeds
    * both the matrix and the per-source sizes (bit i's population
    * count across masks IS source i's distinct-shingle count).
    * >64 sources falls back to the distinct-pair form, same result. */
  def sourceSimilarityInline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs0 = Tables.documents(s, d)
      .select($"doc_id", $"source", $"text")
    val srcs = sortedSourcesOf(docs0.select(col("source")))
    val ss = sourcePairsOf(docs0)
    val (m, sizes) =
      if (srcs.nonEmpty && srcs.length <= 64) {
        val masks = sourceMasks(ss, srcs).localCheckpoint(false)
        (matrixFromMasks(masks, srcs), sizesFromMasks(masks, srcs))
      } else {
        val dd = ss.distinct().localCheckpoint(false)
        (overlapMatrixFrom(dd),
          dd.groupBy($"source").agg(count(lit(1)).as("n")))
      }
    similarityOf(m, sizes)
  }

  /** Per-source distinct-shingle counts from the mask relation: bit
    * i's population count across masks IS source i's size — an
    * in-row bit explode over ≤ 64 set bits, aggregated on ≤ |sources|
    * keys. */
  private[graft] def sizesFromMasks(masks: DataFrame,
                                    srcs: Array[String]): DataFrame = {
    import masks.sparkSession.implicits._
    val names = array(srcs.map(lit): _*)
    masks
      .select(explode(filter(sequence(lit(0), lit(srcs.length - 1)),
        b => call_function("shiftright", $"mask", b)
          .bitwiseAND(lit(1L)) === lit(1L))).as("i"))
      .groupBy($"i").agg(count(lit(1)).as("n"))
      .select(element_at(names, ($"i" + 1).cast("int")).as("source"), $"n")
  }

  /** x78 — NOVEL n-gram fraction per document: what share of a doc's
    * distinct word-3-gram shingles appears NOWHERE else in the corpus.
    * The dedup-era contribution metric (the per-document inverse of
    * x71's between-source view): a doc at novelty 0 is fully covered
    * by the rest of the corpus even if no single near-dup pair crosses
    * the x02 threshold — the long tail exact/near-dup dedup leaves
    * behind — while a doc at 1.0 is all-new content. Emitted in the
    * repo's integer-micro idiom (`novelty_micro` = ⌊1e6·novel/total⌋,
    * exact BIGINT arithmetic in both engines) plus the raw counts.
    *
    * Scale shape: the checkpointed canonical shingle pass runs ONCE
    * (8-byte hash rows, the x71 economics); a shingle that is novel
    * has exactly ONE owner, so ownership folds into the same
    * per-shingle hash aggregate that counts occurrences — no
    * corpus×corpus join on the shingle relation. The novel counts
    * (≤ one row per doc) come back over a doc-keyed aggregate and one
    * doc-keyed left join (broadcast at fixture scale, the corpus's
    * standard doc-key shuffle at 100 TB). Skews safely: a shingle
    * repeated a billion times is ONE reducer key carrying a count,
    * never a pair expansion. */
  def noveltyScores(s: SparkSession, d: String): DataFrame =
    noveltyScoresOf(Tables.documents(s, d)
      .select(col("doc_id"), col("text")))

  /** The same scoring for an arbitrary (doc_id, text) frame —
    * NoveltyStream's spec comparator. */
  def noveltyScoresOf(docs0: DataFrame): DataFrame = {
    import docs0.sparkSession.implicits._
    noveltyFromPairs(shingleSetsOf(docs0)
      .select($"doc_id", explode($"s").as("sh"))
      .localCheckpoint(false))
  }

  /** x78's counting core over a DISTINCT (doc_id, sh) pair relation —
    * ONE definition shared by the one-shot form and NoveltyStream's
    * serve, so the streamed scores cannot drift from the query's. */
  private[graft] def noveltyFromPairs(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val novel = pairs
      .groupBy($"sh")
      .agg(count(lit(1)).as("nd"), min($"doc_id").as("owner"))
      .filter($"nd" === 1)
      .groupBy($"owner").agg(count(lit(1)).as("n_novel"))
      .select($"owner".as("doc_id"), $"n_novel")
    pairs.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_novel", lit(0L)).as("n_novel"))
      .withColumn("novelty_micro",
        expr("(n_novel * 1000000) div n_shingles"))
      .orderBy($"doc_id")
  }

  /** x73's presentation: matrix counts normalized by the broadcast
    * per-source sizes. Shared by the artifact-served and inline
    * forms so the two cannot drift. */
  private def similarityOf(m: DataFrame, sizes: DataFrame): DataFrame = {
    import m.sparkSession.implicits._
    m.join(broadcast(sizes.select($"source".as("src_a"), $"n".as("na"))),
        "src_a")
      .join(broadcast(sizes.select($"source".as("src_b"), $"n".as("nb"))),
        "src_b")
      .select($"src_a", $"src_b", $"shared", $"na", $"nb",
        round($"shared" / ($"na" + $"nb" - $"shared"), 6).as("jaccard"))
      .smallOrdered($"src_a", $"src_b")
  }

  /** The matrix aggregate over an exploded (source, sh) relation —
    * shared by x71 and the streamed serving view. */
  private[graft] def overlapMatrixFrom(ss: DataFrame): DataFrame = {
    import ss.sparkSession.implicits._
    ss.groupBy($"sh")
      .agg(sort_array(collect_set($"source")).as("srcs"))
      .filter(size($"srcs") > 1)
      .select(explode(flatten(transform($"srcs", (x, i) =>
          transform(slice($"srcs", i + lit(2), size($"srcs")),
            y => struct(x.as("src_a"), y.as("src_b")))))).as("p"))
      .select($"p.src_a", $"p.src_b")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("shared"))
      .smallOrdered($"src_a", $"src_b")
  }

  // ---- embedding-cosine near-dup ----------------------------------------

  val CosineThreshold = 0.4

  /** x05 — embedding near-dup pairs, LSH-BUCKET blocked: candidates are
    * the pairs whose hyperplane signatures lie within hamming
    * ProbeRadius (the x06/x22/x65 multiprobe machinery), each candidate
    * verified by exact cosine ≥ threshold. This is the same
    * candidates-then-verify contract as x02 (MinHash) and x03
    * (SimHash): the operator's DECLARED semantics is
    * "signature-collision ∧ cosine ≥ τ", reproduced exactly by the
    * DuckDB oracle (sigCtes + bit_count radius), so the result is
    * hash-checkable — approximation lives in the declared candidate
    * rule, never in unverified output.
    *
    * Honest coverage bound (measured, not assumed): at τ = 0.4 (a 66°
    * angle) signature hamming of qualifying pairs SPREADS — on the
    * sf0.01 fixture the 59 all-pairs matches sit at hamming 0–6, so
    * radius-2 probing sees 24, and no sub-quadratic blocking is
    * complete there (k-means cell blocking measures 31/59). That is a
    * property of the threshold, not the machinery: completeness rises
    * steeply with similarity (DedupSpec pins that crafted near-dup
    * pairs at cosine ≈ 1 are ALL caught), and real corpus dup clusters
    * (verbatim copies, sim = 1, hamming = 0) are caught by
    * construction. The exact all-pairs form remains available —
    * label-blocked as x80 (dedupEmbeddingBlocked, its own oracle) — as
    * the witness the bucketed plan is spec-compared against.
    *
    * Scale shape: one multiprobe bucket equi-join (37 masks × corpus,
    * never corpus × corpus), cosine only on collision survivors; a
    * qualifying pair matches on exactly one mask (the xor of its two
    * signatures), so no post-join dedup. The probe side is explicitly
    * repartitioned so a single-split local read cannot serialize the
    * compute-bound explode+cosine stage. */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dedupEmbeddingFrame(s, Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e")))
  }

  /** Frame form over (vec_id, e: array<double>) — the spec entry point
    * for crafted-corpus coverage pins. */
  def dedupEmbeddingFrame(s: SparkSession, emb0: DataFrame): DataFrame = {
    import s.implicits._
    val emb = emb0.withColumn("bucket",
      SimilarityOps.lshSignature($"e"))
    val par = math.max(s.sessionState.conf.numShufflePartitions,
      s.sparkContext.defaultParallelism)
    val probes = emb
      .select($"vec_id".as("va"), $"e".as("ea"), $"bucket")
      .repartition(par, $"va")
      .select($"va", $"ea", explode(array(SimilarityOps.ProbeMasks.map(m =>
        $"bucket".bitwiseXOR(lit(m))): _*)).as("pb"))
    probes
      .join(emb.select($"vec_id".as("vb"), $"e".as("eb"),
        $"bucket".as("pb")), "pb")
      .filter($"va" < $"vb")
      .select($"va", $"vb",
        round(CoreQueries.cosine($"ea", $"eb"), 4).as("sim"))
      // in-job candidate-volume denominator: the verify stage's true
      // work unit is the collision-survivor pair fed to exact cosine
      // (counted AFTER the 1:1 cosine projection so scan pruning and
      // the join stage are untouched), not the final qualifying pair —
      // the rung ladder adjudicates µs/candidate with it
      .observe("x05_candidates", count(lit(1)).as("rows"))
      .filter($"sim" >= CosineThreshold)
      // in-job per-pair denominator for the sweep ladder (x02 rule)
      .observe("x05_dup_pairs", count(lit(1)).as("rows"))
      .orderBy($"va", $"vb")
  }

  /** x80 — the exact label-blocked near-dup twin: ALL same-label pairs
    * with cosine ≥ threshold, no candidate approximation. Quadratic in
    * block size by construction — kept as the oracle-exact witness the
    * bucketed x05 is spec-compared against (and for corpora whose
    * block key genuinely bounds block size). */
  def dedupEmbeddingBlocked(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("e"))
    val a = emb.select($"label", $"vec_id".as("va"), $"e".as("ea"))
    val b = emb.select($"label", $"vec_id".as("vb"), $"e".as("eb"))
    a.join(b, "label")
      .filter($"va" < $"vb")
      .select($"va", $"vb",
        round(CoreQueries.cosine($"ea", $"eb"), 4).as("sim"))
      .filter($"sim" >= CosineThreshold)
      .orderBy($"va", $"vb")
  }

  // ---- exact duplicated substrings --------------------------------------

  /** Duplicated-window width in word tokens. Lee et al. use 50 BPE
    * tokens at web scale; the width is an operating constant, not part
    * of the span-merging semantics. */
  val SubstringGramK = 8

  /** x43 — exact duplicated-SUBSTRING spans (the suffix-array stage of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022, re-expressed relationally): a word 8-gram
    * occurring in ≥ 2 DISTINCT documents marks a duplicated window at
    * its position; overlapping windows merge into MAXIMAL spans
    * (gaps-and-islands over each doc's marked positions — positions are
    * sorted, so a new island starts exactly when a position clears the
    * previous window), and each affected document reports its span
    * count and duplicated-token budget. This is the substring-level
    * dedup the document-level family (x01–x05) can't see: two long
    * documents sharing one boilerplate paragraph are untouched by
    * whole-doc or near-dup rules but carry removable duplicated spans.
    *
    * Scale shape: ONE corpus scan — both gram derivations (df counting
    * and position marking) hang off the same rebalance exchange, which
    * the planner reuses (pinned in PlanAuditSpec). Grams travel as
    * engine-internal 16-byte XXH64 window keys (graft_block_hashes —
    * the fingerprint never reaches any output, and the oracle
    * recomputes its own md5 windows over the same text, so both
    * engines group identically without sharing a hash);
    * the work is hash shuffles on those fingerprints (two-phase exact
    * distinct-doc counting, then the mark join) plus one per-document
    * window — ∝ total tokens, never pairwise in documents. The gram
    * explode is the same posexplode discipline as the banding ops:
    * transient, never materialized wider than (doc, pos, fingerprint). */
  /** The maximal duplicated spans of an arbitrary (doc_id, text) frame:
    * (doc_id, n_tokens, s, e) with [s, e] disjoint per doc — the shared
    * core of the x43 report, the x44 surgical removal, and the demo's
    * train-corpus audit (one definition, so none can drift). */
  def substringSpansOf(docs: DataFrame): DataFrame =
    substringSpansOfWords(substringWordsOf(docs))

  /** The span core over an already-tokenized (doc_id, w) frame — split
    * out so x44 can derive the tokenized corpus ONCE and feed spans,
    * token explode, and the final rejoin from the same materialized
    * frame instead of re-scanning per branch. */
  private def substringSpansOfWords(w: DataFrame): DataFrame = {
    val grams = substringGramsOfWords(w)
    val dup = grams.groupBy(col("g"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("g"))
    substringSpansFromHits(
      grams.join(dup, "g").select("doc_id", "n_tokens", "pos"))
  }

  /** (doc_id, n_tokens, pos, g) — each doc's positioned, fingerprinted
    * word 8-grams. Public as the per-document (corpus-independent)
    * stage of the span pipeline: the streaming index persists exactly
    * this relation per batch.
    *
    * `g` is the 16-byte two-seed-XXH64 window key from
    * [[graft.plans.BlockWindowHashes]] (the x26 standard): the
    * fingerprint is ENGINE-INTERNAL — every consumer (x43 spans, x44
    * excision, x51 intra-doc coverage, the streaming index) compares
    * grams only among themselves and outputs counts/positions, never
    * the key, and the DuckDB oracles recompute their own md5 windows
    * from the strings. Collision standard unchanged from the md5 form
    * (128 bits → ~1e-13 expected collisions at 1e13 windows). The
    * r17 switch replaces four interpreted HOF layers + a MessageDigest
    * md5 per window (`transform∘sequence∘slice∘concat_ws∘md5`) with
    * one fused compiled pass, and halves the shuffled key width
    * (16-byte binary vs 32-char hex string). */
  def substringGramsOfWords(w: DataFrame,
                            k: Int = SubstringGramK): DataFrame = {
    w.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        posexplode(call_function(
          graft.plans.GraftExpressions.BlockHashesFn, col("w"), lit(k))))
      .select(col("doc_id"), col("n_tokens"), col("pos"), col("col").as("g"))
  }

  /** Tokenized (doc_id, w) for an arbitrary (doc_id, text) frame — the
    * x43/x44 tokenize + ≥k guard, shared with the streaming index. */
  def substringWordsOf(docs: DataFrame): DataFrame =
    wordsOf(docs).filter(size(col("w")) >= SubstringGramK)

  /** Marked positions → maximal spans (the gaps-and-islands merge) —
    * shared by the one-shot and streaming forms so the merge rule
    * cannot drift. */
  def substringSpansFromHits(hits: DataFrame,
                             k: Int = SubstringGramK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(lag(col("pos"), 1).over(byDoc).isNull ||
          col("pos") > lag(col("pos"), 1).over(byDoc) + (k - 1), 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("n_tokens"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (k - 1)).as("e"))
  }

  def dedupSubstrings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    substringSpansOf(Tables.documents(s, d).select($"doc_id", $"text"))
      .groupBy($"doc_id", $"n_tokens")
      .agg(count(lit(1)).as("n_spans"),
        sum($"e" - $"s" + 1).cast("long").as("dup_tokens"))
      .select($"doc_id", $"n_tokens", $"n_spans", $"dup_tokens",
        round($"dup_tokens" / $"n_tokens", 4).as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** x44 — SURGICAL duplicated-span removal (the "remove, don't drop"
    * arm of Lee et al.): every x43 span is excised from its document,
    * and what remains is fingerprinted — per doc, the surviving token
    * count and the md5 of the cleaned text (so the whole rewrite is
    * bitwise-checkable without shipping the texts). Docs whose every
    * token sat in a span survive as explicit zero-token rows (a real
    * outcome at real dup rates — whole-doc copies clean to empty).
    *
    * Scale shape: the tokenized corpus is derived ONCE
    * (localCheckpoint — the x13 repeated-parse rule) and feeds span
    * derivation plus the final rejoin; the excision itself NEVER
    * shuffles tokens — each doc's (few, disjoint) spans collect to one
    * array row (the only shuffle beyond x43's, carrying span triples,
    * not tokens), hash-join back to the tokenized row, and a single
    * narrow lambda keeps the tokens outside every span and
    * fingerprints the remainder in the same projection. Per-row work
    * is O(tokens × spans) with spans per doc tiny; an earlier
    * token-level anti-join formulation shuffled every token twice and
    * measured ~3× slower at sf0.1. */
  def removeDupSpans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val w = substringWordsOf(docs).localCheckpoint(false)
    val spanArr = substringSpansOfWords(w)
      .groupBy($"doc_id")
      .agg(collect_list(struct($"s", $"e")).as("spans"))
    w.join(spanArr, Seq("doc_id"), "left")
      .select($"doc_id", size($"w").cast("long").as("n_tokens"),
        filter(
          transform($"w", (tok, i) => struct(i.as("i"), tok.as("tok"))),
          p => coalesce(
            !exists($"spans", sp => p.getField("i")
              .between(sp.getField("s"), sp.getField("e"))),
            lit(true))).as("kept"))
      .select($"doc_id", $"n_tokens",
        size($"kept").cast("long").as("kept_tokens"),
        md5(concat_ws(" ", transform($"kept", k => k.getField("tok"))))
          .as("clean_fp"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_dedup_exact"         -> dedupExact _,
    "x02_dedup_minhash_lsh"   -> dedupMinhashLsh _,
    "x56_snapshot_dedup"      -> snapshotDedup _,
    "x03_dedup_simhash"       -> dedupSimhash _,
    "x04_dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "x05_dedup_embedding"     -> dedupEmbedding _,
    "x80_dedup_embedding_blocked" -> dedupEmbeddingBlocked _,
    "x17_dedup_clusters"      -> dedupClustersServed _,
    "x57_removal_propagation" -> removalPropagation _,
    "x43_dedup_substrings"    -> dedupSubstrings _,
    "x44_remove_dup_spans"    -> removeDupSpans _,
    "x20_contamination"       -> contamination _,
    "x21_repetition_filter"   -> repetitionFilter _,
    "x51_gopher_repetition"   -> gopherRepetition _,
    "x24_contamination_eval"  -> contaminationEval _,
    "x26_dedup_blocks"        -> dedupBlocks _,
    "x71_source_overlap"      -> sourceOverlapMatrix _,
    "x73_source_similarity"   -> sourceSimilarity _,
    "x76_cluster_split"       -> clusterSplit _,
    "x77_cluster_canonical"   -> clusterCanonical _,
    "x78_novelty_scores"      -> noveltyScores _,
  )

  /** x02's oracle is the EXACT all-pairs Jaccard — valid because the
    * banded LSH provably reaches recall ~1-1e-15 at the observed
    * similarity gap (see class doc). x03's oracle is the EXACT
    * all-pairs hamming scan — valid with NO probabilistic caveat: the
    * 16-bit-chunk pigeonhole guarantees every pair at hamming ≤ 3
    * shares a chunk, so the banded output equals all-pairs exactly. */
  /** Shared DuckDB oracle fragments: word-3-gram shingle sets and the
    * all-pairs intersection counts. One definition keeps the x02/x04/
    * x17 oracles and the Spark-side threshold/tokenization in lockstep
    * (the threshold is interpolated from JaccardThreshold). */
  private val ShingleBaseCtes: String =
    """w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |      FROM documents WHERE len(string_split_regex(lower(text), '\s+')) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |       unnest(list_transform(range(1, len(w) - 1),
      |                             i -> array_to_string(w[i:i+2], ' '))) AS sh
      |       FROM w),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)""".stripMargin

  private val AllPairsCte: String =
    """inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
      |          GROUP BY 1, 2)""".stripMargin

  /** Transitive-closure cluster labels (recursive CTE) — shared by the
    * x17 and x57 oracles so the two can never disagree on what a
    * cluster is. Requires ShingleBaseCtes + AllPairsCte upstream;
    * yields `lab(doc_id, rep)` covering every document. */
  private def ClusterCtes: String =
    s"""pairs AS (SELECT da, db
      |          FROM inter JOIN sizes sa ON sa.doc_id = da
      |                     JOIN sizes sb ON sb.doc_id = db
      |          WHERE ROUND(i / (sa.n + sb.n - i), 4) >= $JaccardThreshold),
      |edges AS (SELECT da AS a, db AS b FROM pairs
      |          UNION SELECT db, da FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      |reps AS (SELECT src AS doc_id, min(dst) AS rep FROM reach GROUP BY src),
      |lab AS (SELECT d.doc_id, CAST(COALESCE(r.rep, d.doc_id) AS BIGINT) AS rep
      |        FROM documents d LEFT JOIN reps r USING (doc_id))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x01_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, md5(text) AS fp,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id, text FROM documents)
        |GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "x02_dedup_minhash_lsh" ->
      s"""WITH $ShingleBaseCtes,
        |$AllPairsCte
        |SELECT da, db, ROUND(i / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
        |WHERE ROUND(i / (sa.n + sb.n - i), 4) >= $JaccardThreshold
        |ORDER BY da, db""".stripMargin,
    // x56: the oracle is the exact cross-set Jaccard — every (odd id,
    // even id) pair at or over threshold; the LSH banding on the Spark
    // side is expected to reach full recall at 32×4 bands (same
    // contract as x02).
    "x56_snapshot_dedup" ->
      s"""WITH $ShingleBaseCtes,
        |inter AS (SELECT a.doc_id AS new_id, b.doc_id AS dup_of,
        |                 count(*) AS i
        |          FROM sh a JOIN sh b USING (sh)
        |          WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |          GROUP BY 1, 2)
        |SELECT new_id, dup_of, ROUND(i / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = new_id
        |           JOIN sizes sb ON sb.doc_id = dup_of
        |WHERE ROUND(i / (sa.n + sb.n - i), 4) >= $JaccardThreshold
        |ORDER BY new_id, dup_of""".stripMargin,
    // x71: the oracle recomputes the matrix from shingle STRINGS (the
    // ShingleBaseCtes sh relation) via the self-join formulation —
    // identical counts to the hash-keyed aggregate absent collisions,
    // the module's standing hash-identity assumption.
    "x71_source_overlap" ->
      s"""WITH $ShingleBaseCtes,
        |ss AS (SELECT DISTINCT d.source, s.sh
        |       FROM sh s JOIN documents d USING (doc_id))
        |SELECT a.source AS src_a, b.source AS src_b,
        |       CAST(count(*) AS BIGINT) AS shared
        |FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // x73: x71's counts joined to per-source distinct-shingle sizes;
    // jaccard = shared/(na+nb−shared) on exact BIGINTs, ROUND 6.
    "x73_source_similarity" ->
      s"""WITH $ShingleBaseCtes,
        |ss AS (SELECT DISTINCT d.source, s.sh
        |       FROM sh s JOIN documents d USING (doc_id)),
        |sz AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
        |m AS (SELECT a.source AS src_a, b.source AS src_b,
        |             CAST(count(*) AS BIGINT) AS shared
        |      FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT m.src_a, m.src_b, m.shared,
        |       CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
        |       ROUND(m.shared / (sa.n + sb.n - m.shared), 6) AS jaccard
        |FROM m JOIN sz sa ON sa.source = m.src_a
        |       JOIN sz sb ON sb.source = m.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "x17_dedup_clusters" ->
      s"""WITH RECURSIVE
        |$ShingleBaseCtes,
        |$AllPairsCte,
        |$ClusterCtes
        |SELECT doc_id, rep FROM lab ORDER BY doc_id""".stripMargin,
    // x76: the x17 closure + per-cluster min member digest + the x23
    // per-mille split CASE on that digest.
    "x76_cluster_split" ->
      s"""WITH RECURSIVE
        |$ShingleBaseCtes,
        |$AllPairsCte,
        |$ClusterCtes,
        |cd AS (SELECT l.rep, min(md5(d.text)) AS cd
        |       FROM lab l JOIN documents d USING (doc_id) GROUP BY 1)
        |SELECT l.doc_id, l.rep, CASE
        |  WHEN ('0x' || substr(cd.cd, 1, 8))::BIGINT % 1000 < ${TextOps.TrainPm} THEN 'train'
        |  WHEN ('0x' || substr(cd.cd, 1, 8))::BIGINT % 1000 < ${TextOps.ValPm} THEN 'val'
        |  ELSE 'test' END AS split
        |FROM lab l JOIN cd ON cd.rep = l.rep
        |ORDER BY l.doc_id""".stripMargin,
    // x77: the x17 closure + the shared q_micro CTE; the survivor is
    // row_number() over (rep, q_micro DESC, doc_id) = 1 — exact BIGINT
    // ordering, so the pick cannot disagree across engines.
    "x77_cluster_canonical" ->
      s"""WITH RECURSIVE
        |$ShingleBaseCtes,
        |$AllPairsCte,
        |$ClusterCtes,
        |${TextOps.QMicroCtes},
        |m AS (SELECT q.doc_id, q.q_micro, l.rep
        |      FROM q JOIN lab l USING (doc_id)),
        |r AS (SELECT doc_id, rep, q_micro,
        |        row_number() OVER (PARTITION BY rep
        |                           ORDER BY q_micro DESC, doc_id) AS rn,
        |        CAST(count(*) OVER (PARTITION BY rep) AS BIGINT) AS n_members
        |      FROM m)
        |SELECT doc_id, rep, q_micro, n_members FROM r
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // x78: shingle STRINGS via the shared base CTEs (the x71
    // hash-identity assumption); a novel shingle has exactly one
    // owner, so ownership folds into the occurrence count aggregate.
    "x78_novelty_scores" ->
      s"""WITH $ShingleBaseCtes,
        |own AS (SELECT sh, count(*) AS nd, min(doc_id) AS owner
        |        FROM sh GROUP BY 1),
        |nov AS (SELECT owner AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
        |        FROM own WHERE nd = 1 GROUP BY 1)
        |SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_shingles,
        |       COALESCE(nov.n_novel, 0) AS n_novel,
        |       CAST((COALESCE(nov.n_novel, 0) * 1000000) // s.n AS BIGINT)
        |         AS novelty_micro
        |FROM sizes s LEFT JOIN nov USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,
    // x57: the closure is x17's lab relation; a doc is removed iff its
    // rep appears among the listed docs' reps.
    "x57_removal_propagation" ->
      s"""WITH RECURSIVE
        |$ShingleBaseCtes,
        |$AllPairsCte,
        |$ClusterCtes,
        |bad AS (SELECT DISTINCT rep FROM lab
        |        WHERE doc_id % $RemovalIdStride = 0)
        |SELECT lab.doc_id, lab.rep,
        |  CASE WHEN lab.doc_id % $RemovalIdStride = 0
        |       THEN 'listed' ELSE 'neardup' END AS reason
        |FROM lab JOIN bad USING (rep) ORDER BY doc_id""".stripMargin,
    "x03_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        |          FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM t),
        |bits AS (SELECT doc_id, b.range AS b,
        |           sum(CASE WHEN (hv >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h, range(60) b GROUP BY 1, 2),
        |sig AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
        |        FROM bits GROUP BY 1)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= $SimhashMaxHamming
        |ORDER BY da, db""".stripMargin,
    "x04_dedup_ngram_jaccard" ->
      s"""WITH $ShingleBaseCtes,
        |q AS (SELECT sh FROM sh WHERE doc_id = 0),
        |qn AS (SELECT count(*) AS n FROM q),
        |inter AS (SELECT s.doc_id, count(*) AS i FROM sh s JOIN q USING (sh)
        |          WHERE s.doc_id <> 0 GROUP BY 1)
        |SELECT s.doc_id AS doc_id,
        |       ROUND(COALESCE(i.i, 0) / (s.n + qn.n - COALESCE(i.i, 0)), 4) AS jaccard
        |FROM sizes s CROSS JOIN qn LEFT JOIN inter i ON i.doc_id = s.doc_id
        |WHERE s.doc_id <> 0
        |ORDER BY jaccard DESC, s.doc_id LIMIT 10""".stripMargin,
    "x21_repetition_filter" ->
      s"""WITH $ShingleBaseCtes
        |SELECT w.doc_id, CAST(len(w.w) - 2 AS BIGINT) AS total,
        |  ROUND((len(w.w) - 2 - sizes.n) / (len(w.w) - 2), 4) AS dup_ratio,
        |  ROUND((len(w.w) - 2 - sizes.n) / (len(w.w) - 2), 4)
        |    > $MaxDupShingleRatio AS flagged
        |FROM w JOIN sizes USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // x51: the 2-gram argmax tie-breaks (count DESC, a ASC, b ASC) on
    // both sides; the 5-gram coverage reuses the x43/x44 md5 gram
    // fingerprint and gaps-and-islands merge with k = 5; ratios are
    // integer millionths (· 1000000 div/-// denominator — both engines
    // truncate for nonnegative operands), so the compare is bitwise.
    "x51_gopher_repetition" ->
      s"""WITH w0 AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |  FROM documents
        |  WHERE len(string_split_regex(lower(text), '\\s+')) >= 2),
        |base AS (
        |  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
        |      AS n_chars
        |  FROM w0),
        |p AS (
        |  SELECT doc_id, n_chars,
        |    unnest(list_transform(range(0, len(w) - 1), i -> w[i + 1])) AS a,
        |    unnest(list_transform(range(0, len(w) - 1), i -> w[i + 2])) AS b
        |  FROM base),
        |pc AS (
        |  SELECT doc_id, n_chars, a, b, CAST(count(*) AS BIGINT) AS c
        |  FROM p GROUP BY doc_id, n_chars, a, b),
        |t2 AS (
        |  SELECT doc_id,
        |    c * (length(a) + length(b)) * 1000000 // n_chars AS top2_frac6,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY c DESC, a, b) AS rn
        |  FROM pc),
        |g AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    unnest(range(0, len(w) - $GopherGramK + 1)) AS pos,
        |    unnest(list_transform(range(0, len(w) - $GopherGramK + 1),
        |      i -> md5(array_to_string(w[i + 1 : i + $GopherGramK], ' '))))
        |      AS g
        |  FROM base WHERE len(w) >= $GopherGramK),
        |dup AS (SELECT doc_id, g FROM g
        |        GROUP BY doc_id, g HAVING count(*) >= 2),
        |hits AS (SELECT g.doc_id, g.n_tokens, g.pos
        |         FROM g JOIN dup USING (doc_id, g)),
        |isl AS (
        |  SELECT doc_id, n_tokens, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |                    + ${GopherGramK - 1}
        |         THEN 1 ELSE 0 END AS brk
        |  FROM hits),
        |isl2 AS (
        |  SELECT doc_id, n_tokens, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, n_tokens, island, min(pos) AS s,
        |    max(pos) + ${GopherGramK - 1} AS e
        |  FROM isl2 GROUP BY doc_id, n_tokens, island),
        |cov AS (
        |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS dup5_tokens
        |  FROM spans GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, b.n_chars,
        |  coalesce(t.top2_frac6, 0) AS top2_frac6,
        |  coalesce(cov.dup5_tokens, 0) AS dup5_tokens,
        |  coalesce(cov.dup5_tokens, 0) * 1000000 // b.n_tokens AS dup5_frac6,
        |  (coalesce(t.top2_frac6, 0) > ${(MaxTop2CharRatio * 1e6).toLong}
        |   OR coalesce(cov.dup5_tokens, 0) * 1000000 // b.n_tokens
        |      > ${(MaxDup5TokenRatio * 1e6).toLong}) AS flagged
        |FROM base b
        |LEFT JOIN (SELECT doc_id, top2_frac6 FROM t2 WHERE rn = 1) t
        |  USING (doc_id)
        |LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "x20_contamination" ->
      s"""WITH $ShingleBaseCtes,
        |rare AS (SELECT sh FROM sh GROUP BY sh
        |         HAVING count(*) <= $MaxShingleDf),
        |inv AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
        |ev AS (SELECT doc_id AS eval_id, sh FROM inv
        |       WHERE doc_id % $ContaminationEvalStep = 0),
        |tr AS (SELECT doc_id AS train_id, sh FROM inv
        |       WHERE doc_id % $ContaminationEvalStep <> 0)
        |SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (sh)
        |GROUP BY 1, 2 HAVING count(*) >= $MinSharedShingles
        |ORDER BY 1, 2""".stripMargin,
    "x24_contamination_eval" ->
      s"""WITH ev_docs AS (
        |  SELECT doc_id,
        |    array_to_string((string_split_regex(text, '\\s+'))[1:$EvalTruncWords], ' ') AS text
        |  FROM documents WHERE doc_id % $ContaminationEvalStep = 1),
        |tw AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |       FROM documents
        |       WHERE len(string_split_regex(lower(text), '\\s+')) >= 3),
        |ew AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |       FROM ev_docs
        |       WHERE len(string_split_regex(lower(text), '\\s+')) >= 3),
        |tsh AS (SELECT DISTINCT doc_id,
        |          unnest(list_transform(range(1, len(w) - 1),
        |                                i -> array_to_string(w[i:i+2], ' '))) AS sh
        |        FROM tw),
        |esh AS (SELECT DISTINCT doc_id,
        |          unnest(list_transform(range(1, len(w) - 1),
        |                                i -> array_to_string(w[i:i+2], ' '))) AS sh
        |        FROM ew),
        |rare AS (SELECT sh
        |         FROM (SELECT sh FROM tsh UNION ALL SELECT sh FROM esh)
        |         GROUP BY sh HAVING count(*) <= $MaxShingleDf),
        |tp AS (SELECT doc_id AS train_id, sh FROM tsh JOIN rare USING (sh)),
        |ep AS (SELECT doc_id AS eval_id, sh FROM esh JOIN rare USING (sh))
        |SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tp JOIN ep USING (sh)
        |GROUP BY 1, 2 HAVING count(*) >= $MinSharedShingles
        |ORDER BY 1, 2""".stripMargin,
    "x26_dedup_blocks" ->
      s"""WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        |           FROM documents
        |           WHERE len(string_split_regex(lower(text), '\\s+')) >= $BlockWords),
        |wins AS (SELECT doc_id,
        |           unnest(list_transform(range(1, len(w) - ${BlockWords - 2}),
        |             i -> array_to_string(w[i:i+${BlockWords - 1}], ' '))) AS blk
        |         FROM w),
        |dup AS (SELECT blk FROM wins GROUP BY blk
        |        HAVING count(DISTINCT doc_id) >= 2)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(count(d.blk) AS BIGINT) AS n_dup_windows,
        |  count(d.blk) > 0 AS flagged
        |FROM wins s LEFT JOIN dup d ON s.blk = d.blk
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x05: candidates-then-verify — the oracle recomputes the identical
    // hyperplane buckets (sigCtes) and states the candidate rule as the
    // bit_count radius (≡ the multiprobe mask-explode's match set),
    // then the same exact-cosine verify. Same convention as x65.
    "x05_dedup_embedding" ->
      s"""WITH ${SimilarityOps.sigCtes},
        |v AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS ve, s.bucket
        |      FROM embeddings e JOIN sig s USING (vec_id))
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        |  ROUND(list_dot_product(a.ve, b.ve) /
        |    (sqrt(list_dot_product(a.ve, a.ve)) *
        |     sqrt(list_dot_product(b.ve, b.ve))), 4) AS sim
        |FROM v a JOIN v b
        |  ON a.vec_id < b.vec_id
        |  AND bit_count(xor(a.bucket, b.bucket)) <= ${SimilarityOps.ProbeRadius}
        |WHERE ROUND(list_dot_product(a.ve, b.ve) /
        |    (sqrt(list_dot_product(a.ve, a.ve)) *
        |     sqrt(list_dot_product(b.ve, b.ve))), 4) >= $CosineThreshold
        |ORDER BY va, vb""".stripMargin,
    "x80_dedup_embedding_blocked" ->
      """SELECT a.vec_id AS va, b.vec_id AS vb,
        |  ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) >= 0.4
        |ORDER BY va, vb""".stripMargin,
    // x43/x44: positions are 0-based on both sides; the parallel unnest
    // zips range(...) with its list_transform (DuckDB's lateral-range
    // restriction), and the fingerprint md5(gram string) is recomputed
    // identically, so marking/merging cannot drift from Spark's.
    "x43_dedup_substrings" ->
      s"""WITH $SubstringSpanCtes
        |SELECT doc_id, n_tokens, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        |  ROUND(CAST(sum(e - s + 1) AS BIGINT) / n_tokens, 4) AS dup_frac
        |FROM spans GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,
    // x44: spans explode to covered positions; the cleaned fingerprint
    // is the md5 of the surviving tokens re-joined in position order —
    // fully-covered docs coalesce to the md5('') empty fingerprint.
    "x44_remove_dup_spans" ->
      s"""WITH $SubstringSpanCtes,
        |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM spans),
        |toks AS (
        |  SELECT doc_id, unnest(range(0, len(w))) AS pos, unnest(w) AS tok
        |  FROM w),
        |keptagg AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    md5(string_agg(t.tok, ' ' ORDER BY t.pos)) AS clean_fp
        |  FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
        |  WHERE c.pos IS NULL GROUP BY t.doc_id)
        |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
        |  coalesce(k.n_kept, 0) AS kept_tokens,
        |  coalesce(k.clean_fp, md5('')) AS clean_fp
        |FROM w LEFT JOIN keptagg k USING (doc_id) ORDER BY w.doc_id""".stripMargin,
  )

  /** Shared x43/x44 oracle CTE chain — tokenized docs, fingerprinted
    * 8-grams, ≥2-distinct-doc marking, and the gaps-and-islands merge
    * to maximal spans (the ShingleBaseCtes anti-drift convention). */
  private def SubstringSpanCtes: String =
    s"""w AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
      |  FROM documents
      |  WHERE len(string_split_regex(lower(text), '\\s+')) >= $SubstringGramK),
      |g AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |    unnest(range(0, len(w) - ${SubstringGramK - 1})) AS pos,
      |    unnest(list_transform(range(0, len(w) - ${SubstringGramK - 1}),
      |      i -> md5(array_to_string(w[i + 1 : i + $SubstringGramK], ' ')))) AS g
      |  FROM w),
      |dup AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT doc_id, n_tokens, pos FROM g JOIN dup USING (g)),
      |isl AS (
      |  SELECT doc_id, n_tokens, pos,
      |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
      |                    + ${SubstringGramK - 1}
      |         THEN 1 ELSE 0 END AS brk
      |  FROM hits),
      |isl2 AS (
      |  SELECT doc_id, n_tokens, pos,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, n_tokens, island, min(pos) AS s,
      |    max(pos) + ${SubstringGramK - 1} AS e
      |  FROM isl2 GROUP BY 1, 2, 3)""".stripMargin
}
