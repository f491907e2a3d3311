package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CoreQueries, DedupOps, GraphOps, LayoutOps, MultimodalOps, SearchOps, SimilarityOps, SketchOps, SkewOps, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names to `(spark, sfDir) => DataFrame`;
  * `oracleSql` gives the DuckDB-dialect equivalent for the driver's
  * hash compare. Column names/types are aligned pairwise (the compare
  * sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The 4-way star join + aggregate (Q10 shape) — exercises scan,
    * broadcast joins, hash aggregation, and total ordering in one plan. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.join4way(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * training-data-pipeline extensions (dedup, similarity, text,
    * multimodal).
    *
    * CONSTRUCTION IS NOT FREE for every entry: queries that pin
    * broadcasts BY MEASUREMENT (the `verifyJaccardCounted` pattern —
    * x56, and the x69/x72 mining chain) localCheckpoint-and-COUNT an
    * intermediate frame while the DataFrame is being BUILT, i.e. they
    * run Spark jobs before any action on the returned frame. Plan-only
    * consumers (PlanSweep, plan audits, explain tooling) therefore
    * execute those candidate stages, and the returned plan's lineage
    * is truncated at the checkpoint. This is by design: the measured
    * count is what makes the broadcast pin safe at scale. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ DedupOps.queries ++ SimilarityOps.queries ++
      TextOps.queries ++ MultimodalOps.queries ++ SketchOps.queries ++
      LayoutOps.queries ++ SearchOps.queries ++ SkewOps.queries ++
      GraphOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. Every registered query has one except
    * the six sketch/sampled twins (x13b/x25b/x34b/x35b/x70b/x61b), whose
    * output no SQL reproduces: TwinAgreement pins them against their
    * exact counterparts. The index-building ops (x03/x06/x12) construct
    * their structures in exact engine-neutral arithmetic precisely so
    * SQL can reproduce them, and the HLL sketch (x13) emits exact
    * counts plus within-tolerance booleans. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ DedupOps.oracleSql ++ SimilarityOps.oracleSql ++
      TextOps.oracleSql ++ MultimodalOps.oracleSql ++ SketchOps.oracleSql ++
      LayoutOps.oracleSql ++ SearchOps.oracleSql ++ SkewOps.oracleSql ++
      GraphOps.oracleSql
}
