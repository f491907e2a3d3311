package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runnable end-to-end composition of the training-data operators —
  * the path a corpus actually takes from raw documents to training
  * shards, each stage one of the library's audited operators:
  *
  *   PII scrub audit (x28) → language/quality gates + exact dedup
  *   (x14's rules via DocCuration.curateBatch) → classifier quality
  *   gate (x39) → Gopher repetition gate (x51) → DSIR target-domain
  *   selection (x48) → near-dup
  *   cluster representatives (x02 pairs → x17 components) → benchmark
  *   decontamination (x24's leaked-prefix eval) → deterministic
  *   content-hash split (x23) → split-partitioned parquet shards →
  *   token-budget mixture (x36) → training-order sharding (x53).
  *
  * {{{
  *   sbt "runMain graft.TrainingDataDemo [sfDir] [outDir]"
  * }}}
  *
  * Every stage is the SAME code the oracle-checked queries run — the
  * demo adds only composition, so its numbers reconcile against the
  * x14/x17/x24/x23 audits by construction.
  */
object TrainingDataDemo {

  /** The composed pipeline: returns the final training corpus
    * (doc_id, source, text, split) and writes it split-partitioned
    * under `outDir` when given. Stage counts land in `report`. */
  def run(spark: SparkSession, sfDir: String,
          outDir: Option[String]): (DataFrame, Seq[(String, Long)]) = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
    val report = Seq.newBuilder[(String, Long)]
    report += ("raw_documents" -> docs.count())

    // 1. PII audit (the scrub itself is a projection; the demo records
    // how much PII the corpus carried)
    val pii = operators.TextOps.piiRedaction(spark, sfDir)
      .agg(sum($"n_emails" + $"n_ips" + $"n_phones")).as[Long].head()
    report += ("pii_occurrences_found" -> pii)

    // 2. language/quality gates + exact (order-invariant fingerprint)
    // dedup — keeps the min doc_id per fingerprint
    val gated = streaming.DocCuration.curateBatch(docs)
      .select($"doc_id").localCheckpoint(false)
    report += ("after_gates_and_exact_dedup" -> gated.count())

    // 2b. model-based quality gate (x39): the hashed linear classifier
    // complements the heuristic gates the way public recipes pair a
    // quality model with rule filters — keep docs it scores ≥ 0
    val kept = operators.TextOps.qualityClassifier(spark, sfDir)
      .filter($"keep").select($"doc_id")
    val classed = gated.join(kept, "doc_id").localCheckpoint(false)
    report += ("after_classifier_gate" -> classed.count())

    // 2b1-audit. per-source quality flooring (x70): the demo's gates
    // are corpus-global; this line quantifies what the PER-SOURCE
    // quantile policy would change — how many docs sit in their own
    // source's top quartile yet below the GLOBAL p75 (the docs a
    // global cut would lose from clean-but-modest sources, the CCNet
    // fairness argument in one number). Audit only: the demo keeps
    // its global policy, a deployment picks one.
    val perSrc = operators.TextOps.qualityGate(spark, sfDir)
      .select($"doc_id", $"q_micro")
    val gq = operators.TextOps.textQuality(spark, sfDir)
      .select($"doc_id", round($"quality" * 1e6, 0).cast("long").as("q_micro"))
    val gth = gq.agg(percentile($"q_micro", lit(operators.TextOps.QualityGateP))
      .as("th"))
    val savedByPerSource = perSrc
      .crossJoin(broadcast(gth)).filter($"q_micro" < $"th").count()
    report += ("saved_by_per_source_quality_gate" -> savedByPerSource)

    // 2b2. repetition gate (x51): drop docs whose repetition signals
    // trip the Gopher thresholds (top-2-gram char mass or intra-doc
    // duplicated-5-gram coverage) — generation loops and boilerplate
    // that survive the heuristic and classifier gates
    val unrepetitive = operators.DedupOps.gopherRepetition(spark, sfDir)
      .filter(!$"flagged").select($"doc_id")
    val unrep = classed.join(unrepetitive, "doc_id").localCheckpoint(false)
    report += ("after_repetition_gate" -> unrep.count())

    // 2c. target-domain selection (x48): the DSIR importance scorer
    // ranks docs by how target-like their hashed-unigram distribution
    // is — the "match the pretraining mix to the domain you care
    // about" stage, run after quality so the model selects among
    // clean docs. The demo keeps docs whose per-token importance
    // exceeds the CORPUS mean per-token importance, Σscore6/Σtoks (a
    // relative cut — x48's absolute floor is a per-corpus
    // calibration; the mean adapts to any scale), with the totals
    // riding a one-row broadcast, not a driver value. The cut is the
    // exact integer cross-multiplication score6·Σtoks > Σscore6·toks
    // in width-bounded decimals (operand precisions sum to ≤ 37, so
    // the products are exact) — no floating-point mean is ever
    // formed, keeping the stage retry-stable and order-invariant like
    // every other count in the report.
    val scores = operators.TextOps.dsirWeights(spark, sfDir)
      .select($"doc_id", $"score6", $"n_toks")
    val totals = scores.agg(
      sum($"score6".cast("decimal(20,0)")).cast("decimal(25,0)").as("ts"),
      sum($"n_toks".cast("decimal(20,0)")).cast("decimal(21,0)").as("tt"))
    val targetSel = scores.crossJoin(broadcast(totals))
      .filter($"score6".cast("decimal(16,0)") * $"tt" >
        $"ts" * $"n_toks".cast("decimal(12,0)"))
      .select($"doc_id")
    val selected = unrep.join(targetSel, "doc_id").localCheckpoint(false)
    report += ("after_dsir_selection" -> selected.count())

    // 3. near-dup components (MinHash LSH pairs → connected-component
    // labels): keep ONE doc per component, re-picked AMONG the gate
    // survivors by x77's canonical policy — highest x70 quality, then
    // min doc_id (a clean article should outlive its boilerplate-
    // wrapped mirror, not lose to a smaller id). Picking among
    // SURVIVORS matters: filtering to the corpus-global representative
    // would silently drop a whole cluster whenever its canonical
    // member had already failed a gate — the surviving near-dups would
    // be discarded for not being the rep of a doc that was itself
    // already gone. The (q, −id) struct max keeps the pick one
    // map-combined aggregate, no window.
    val labels = operators.DedupOps.dedupClusters(spark, sfDir)
    val scored = operators.TextOps.scoredDocs(spark, sfDir)
      .select($"doc_id", $"q_micro")
    val deduped = selected.join(labels, "doc_id").join(scored, "doc_id")
      .groupBy($"rep")
      .agg(max(struct($"q_micro", (-$"doc_id").as("nid"))).as("m"))
      .select((-$"m.nid").as("doc_id"))
    report += ("after_near_dup_clustering" -> deduped.count())

    // 4. decontamination: drop every training doc the leaked-prefix
    // eval sweep implicates
    val contaminated = operators.DedupOps.contaminationEval(spark, sfDir)
      .select($"train_id".as("doc_id")).distinct()
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    report += ("after_decontamination" -> clean.count())

    // 5. deterministic content-hash split + final corpus
    val corpus = docs.join(clean, "doc_id")
      .withColumn("split", operators.TextOps.splitCol($"text"))

    // 5-audit. cluster-coherent splitting (x76): how many surviving
    // docs the leakage-safe rule would place differently — each such
    // doc is a near-dup whose cluster straddled the per-doc split,
    // i.e. a train/eval leak the per-doc rule would have shipped
    val moved = operators.DedupOps.clusterSplit(spark, sfDir)
      .select($"doc_id", $"split".as("csplit"))
      .join(corpus.select($"doc_id", $"split"), "doc_id")
      .filter($"csplit" =!= $"split")
      .count()
    report += ("leaks_prevented_by_cluster_split" -> moved)
    outDir.foreach(o =>
      corpus.write.mode("overwrite").partitionBy("split").parquet(o))

    // 6. token-budget mixture over the TRAIN split: the water-filling
    // plan (x36) computed on the corpus that actually survived
    // curation, applied by the same content-hash rule as x19 — keep a
    // doc iff its md5 ppm-bucket falls under its source's planned
    // rate. Small sources pass whole (rate 1.0); capped sources thin
    // deterministically toward their allocation.
    val train = corpus.filter($"split" === "train")
      .localCheckpoint(false)

    // 6a. residual substring-duplication audit (x43's span core over
    // the train split): whole-doc dedup is done by now, but distinct
    // documents can still SHARE long verbatim passages — this reports
    // the duplicated-token budget a surgical x44 pass would excise
    // (an audit stage like the PII count, not a mutation)
    val spanTokens = operators.DedupOps
      .substringSpansOf(train.select($"doc_id", $"text"))
      .agg(coalesce(sum($"e" - $"s" + 1), lit(0L)).cast("long"))
      .as[Long].head()
    report += ("train_dup_span_tokens" -> spanTokens)

    val plan = operators.TextOps
      .mixturePlanOf(train.select($"source", $"text"))
    report += ("mixture_budget_tokens" ->
      plan.agg(sum($"alloc")).as[Long].head())
    val rates = plan.select($"source",
      round($"rate" * 1e6, 0).cast("long").as("rate_ppm"))
    val mixed = train.join(broadcast(rates), "source")
      .filter(conv(substring(md5($"text"), 1, 8), 16, 10).cast("long")
        % 1000000L < $"rate_ppm")
    report += ("train_after_mixture_budget" -> mixed.count())

    // 6a2-audit. entropy-tail audit (x79): how many TRAIN survivors
    // sit in either junk tail (repeated-char padding / encoded blobs)
    // — content the token-level gates above cannot see (a base64 wall
    // is one long word with zero repeated 5-grams). Audit only, like
    // the PII count: a deployment decides whether to gate on it.
    val entropyFlagged = operators.TextOps.charEntropy(spark, sfDir)
      .filter($"low_entropy" || $"high_entropy").select($"doc_id")
      .join(train.select($"doc_id"), "doc_id").count()
    report += ("train_in_entropy_tails" -> entropyFlagged)

    // 6b-audit. source-overlap panel (x73): the highest cross-source
    // n-gram Jaccard in the corpus — the "are any two sources
    // near-copies" number a dataset card leads with (a high value
    // here means the mixture plan above double-budgeted one corpus
    // wearing two names)
    val maxJac = operators.DedupOps.sourceSimilarity(spark, sfDir)
      .agg(coalesce(max(round($"jaccard" * 1e6, 0).cast("long")), lit(0L)))
      .as[Long].head()
    report += ("max_source_jaccard_ppm" -> maxJac)

    // 6c-audit. diversity-slate coverage certificate (x61b): the
    // k-center slate a curation ships (eval seeding, inspection
    // panels) carries its own corpus-radius EVIDENCE — the max
    // cosine distance from any corpus vector to its nearest slate
    // center, straight off the slate frame's `coverage` column (the
    // one-scan certificate the sampled twin computes anyway),
    // reported in ppm so the line is integer-exact. The x70/x71
    // convention: an audit number in this report is the operator's
    // own, reconciled bit-stable by DemoSpec.
    val slateCov = operators.SimilarityOps
      .kcenterCoresetSampled(spark, sfDir)
      .agg(max(round($"coverage" * 1e6, 0).cast("long")))
      .as[Long].head()
    report += ("kcenter_slate_coverage_ppm" -> slateCov)

    // 7. training order (x53): the corpus that survived everything
    // gets its reproducible permutation — content-keyed shard +
    // per-shard position, the exact `partitionBy(shard)` +
    // `sortWithinPartitions(pos)` shape the shard writer lands. No
    // global sort exists anywhere in the pipeline.
    val ordered = operators.TextOps.trainingOrderOf(
      mixed.select($"doc_id", $"text"))
    report += ("train_order_shards" ->
      ordered.select($"shard").distinct().count())
    (corpus, report.result())
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val (corpus, report) = run(spark, sfDir, Some(out))
    report.foreach { case (stage, n) => println(f"[curate] $stage%-32s $n") }
    println(s"[curate] final corpus written to $out, by (split, source):")
    corpus.groupBy("split", "source").count()
      .orderBy("split", "source").show(100, truncate = false)
    spark.stop()
  }
}
