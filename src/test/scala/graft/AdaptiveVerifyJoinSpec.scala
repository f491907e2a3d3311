package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.operators.DedupOps

/** Pins the round-14 verifyJaccard fix: the melted candidate relation
  * must carry NO static broadcast hint (a pinned hint crossed Spark's
  * 8 GiB broadcast cap at the 125× rung — 10 GiB of candidates — and
  * crashed x02 plus the x17/x57 cluster-artifact builds that embed its
  * chain; dev/sweeps/r14_125x.json). The cheap path is not lost:
  * AQE's dynamic join selection still converts the verify join to a
  * broadcast at fixture scale, pinned by EXECUTING the dataset itself
  * (count() spawns a separate QueryExecution whose plan never
  * finalizes) and then finding a BroadcastHashJoinExec keyed on
  * doc_id — the verify join's key — inside the finalized adaptive
  * plan, descending through materialized QueryStageExec boundaries
  * (query stages are leaf nodes, so a plain collect over the root sees
  * none of the executed stages' internals). If these fail, someone
  * re-pinned the hint or the small-scale verify join degraded to a
  * shuffle join. x56 is the one caller that pins the verify broadcast,
  * from its counted candidates (DedupOps.VerifyBroadcastMaxPairs).
  */
class AdaptiveVerifyJoinSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf).select($"doc_id", $"text")
  private def x02 = DedupOps.dedupMinhashLshOf(docs)

  /** Collect across the whole finalized plan, including the insides of
    * materialized query stages and reused exchanges (all leaf nodes to
    * a plain collect). */
  private def collectEverywhere[T](p: SparkPlan)(
      pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val nested = p.collect {
      case q: QueryStageExec => collectEverywhere(q.plan)(pf)
      case a: AdaptiveSparkPlanExec => collectEverywhere(a.executedPlan)(pf)
      case r: ReusedExchangeExec => collectEverywhere(r.child)(pf)
    }.flatten
    p.collect(pf) ++ nested
  }

  test("x02's plan carries no static broadcast hint") {
    // x02's analyzed plan is truncated at the shingle-set
    // localCheckpoint's LogicalRDD, so scan BOTH sides of that
    // boundary: the downstream verify chain (where the round-14 hint
    // lived) and the upstream shingle chain.
    val downstream = x02.queryExecution.analyzed.collect {
      case h: ResolvedHint => h
    }
    val upstream =
      DedupOps.shingleSetsOf(docs).queryExecution.analyzed.collect {
        case h: ResolvedHint => h
      }
    assert(downstream.isEmpty && upstream.isEmpty,
      s"static join hints found in x02's plan: ${downstream ++ upstream}")
  }

  test("x56 pins the verify broadcast only under the MEASURED pair cap") {
    // snapshotDedupOf counts its checkpointed candidate pairs while the
    // frame is built and pins broadcast(…) on the melted side when the
    // count sits at or under DedupOps.VerifyBroadcastMaxPairs. The
    // fixture sits under the cap; CountedPinSpec checks the decision
    // above it and that x56's rows do not depend on the join strategy.
    val df = SparkEntry.queries("x56_snapshot_dedup")(spark, sf)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.nonEmpty, "fixture candidates sit under the cap: the " +
      "verify broadcast must be pinned from the counted pairs")
    val (joins, finalPlan) = verifyBroadcasts(df)
    assert(joins.nonEmpty, "expected x56's doc_id-keyed verify join to " +
      "broadcast at fixture scale; final plan:\n" + finalPlan)
  }

  /** Execute THIS dataset so ITS adaptive plan finalizes, then find
    * the doc_id-keyed broadcast hash joins in the final plan (returned
    * with it). */
  private def verifyBroadcasts(
      df: org.apache.spark.sql.DataFrame): (Seq[SparkPlan], SparkPlan) = {
    df.foreach(_ => ())
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (collectEverywhere(finalPlan) {
      case b: BroadcastHashJoinExec
          if (b.leftKeys ++ b.rightKeys)
            .exists(_.references.exists(_.name == "doc_id")) => b
    }, finalPlan)
  }

  test("AQE broadcasts the verify join itself at fixture scale") {
    val (joins, finalPlan) = verifyBroadcasts(x02)
    assert(joins.nonEmpty,
      "expected AQE to convert the doc_id-keyed verify join to a " +
        "broadcast hash join at fixture scale; final plan:\n" + finalPlan)
  }
}
