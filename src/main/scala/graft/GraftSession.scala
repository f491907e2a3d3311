package graft

import org.apache.spark.sql.SparkSession

/** The one session profile: every main and the test suites build their
  * session from `GraftSession()`, so a DevProf solo run, the oracle dump
  * (Verify) and the bench time the same optimizer config.
  *
  * The builder already carries `GraftExtensions`, so every `graft_*`
  * function is in the session's registry from the start — and in every
  * session derived from it (`newSession`, the clone a `foreachBatch`
  * batch runs on). A caller that needs another master or warehouse dir
  * chains it onto the returned builder:
  *
  * {{{
  *   val spark = GraftSession().master("local[4]").getOrCreate()
  * }}}
  *
  * Env: `SPARK_GRAFT_CPUS` sizes `local[N]` (default: every core), and
  * `SPARK_GRAFT_CONF="spark.x=1;spark.y=2"` adds or overrides session
  * confs for A/B experiments (big-rung solo runs also use it for e.g.
  * zstd shuffle compression, to fit a small disk). */
object GraftSession {

  def apply(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new plans.GraftExtensions)
      // Shuffle width ≠ compute width: narrow CPU-bound stages get their
      // parallelism from Tables.rebalance (defaultParallelism = all
      // cores), while post-shuffle reduce stages at bench scale carry
      // orders of magnitude less data than their inputs — AQE was
      // already coalescing them to 1–4 partitions BY SIZE, but the map
      // side still wrote (and the scheduler still launched) `cpus`
      // buckets per exchange first. Right-sizing the initial width to 8
      // measured 26.3 → 19.6 s on the full 67-query suite (same host,
      // back-to-back; the dedup family −0.3..−1.0 s each, worst
      // regression +0.1 s). Cluster deploys size this to their own data,
      // as SCALE.md documents.
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Post-shuffle partitions coalesce by the data's actual size
      // instead of stopping at the core count: the aggregate/join
      // stages downstream of a big scan are usually orders of magnitude
      // smaller than their input, and scheduling 32 near-empty tasks
      // per stage is pure overhead. CPU-heavy narrow stages are
      // unaffected — `Tables.rebalance` uses an explicit partition
      // count, which AQE never coalesces.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // ObjectHashAggregateExec (TypedImperativeAggregate hosts: the
      // graft_topk heap, percentile, collect_*) falls back to
      // SORT-BASED aggregation after this many distinct keys per
      // partition — default 128, which silently re-introduces a full
      // per-partition sort for any grouped sketch/top-K over more than
      // a few groups. Heap state is ~(k+1)·16 bytes per group, so a
      // million in-memory groups cost tens of MB; deployments size
      // this to executor heap like any other aggregate buffer knob.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // Optimizer-LATENCY knob for the serving-shaped workload the
      // bench measures: constraint propagation re-derives inferred
      // predicates (IsNotNull from joins/filters, transitive
      // equalities) on EVERY plan construction, quadratic-ish in
      // predicate count — measured 9% of the whole 115-query suite
      // (44.5 vs 49.0 s, same host back-to-back) with ZERO plan-IO
      // change (ConstraintPropParitySpec pins that): every pinned
      // plan's filters are explicit, so the inferred extras never reach
      // a scan here. Semantics are unaffected either way (the rule only
      // ADDS implied predicates). A long-scan deployment (hours of
      // execution per plan) should leave it on — this is a
      // repeated-sub-second-query latency trade, like the shuffle
      // width above.
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(confs(_).foreach {
      case (k, v) => b.config(k, v)
    })
    b
  }

  /** `k=v` pairs of a `SPARK_GRAFT_CONF` value; empty segments (a
    * trailing `;`) and segments without a key are skipped. */
  private[graft] def confs(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ => None
      }
    }
}
