package graft

import org.apache.spark.sql.functions._
import graft.operators.{SimilarityOps, SketchOps, TextOps}

/** Twin-agreement gate for the six sketch/sampled production twins
  * (x13b/x25b/x34b/x35b/x70b/x61b) at an ARBITRARY scale factor — the
  * fixture specs pin these contracts at sf0.001; this main re-judges
  * them wherever sketch error actually matters (the 5× sweep corpus),
  * and prints ONE JSON line whose `twin_agreement` block the sweep
  * protocol embeds.
  *
  *   sbt "Test/runMain graft.TwinAgreement [sfDir]"
  *
  * Contracts (each the same rule the fixture spec pins, with bounds
  * that scale where the fixture's constant was scale-specific):
  *  - x13b: every HLL estimate within SketchOps.Tolerance of exact;
  *  - x25b: ZERO false negatives; exact fields agree with x25;
  *  - x34b: inclusion-exclusion identity on the raw estimates, and
  *    each estimate within Tolerance of x34's exact counterpart;
  *  - x35b: estimates inside the exact rank bounds at p ± QuantDelta;
  *  - x70b: per-source gate disagreement within the GK rank-error
  *    budget (accuracy 10000 → ≤ max(1, ceil(4·n/10000)+1) docs);
  *  - x61b: sampled slate's corpus coverage radius ≤ 2× the exact
  *    Gonzalez slate's (the KCenterTwinSpec certificate, re-judged
  *    where the pool is a vanishing corpus fraction). */
object TwinAgreement {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val results = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    val notes = scala.collection.mutable.LinkedHashMap[String, String]()

    // x13b ≈ x13: sketch distinct-user estimates within tolerance
    {
      val exact = Tables.events(spark, sf).groupBy($"event_type")
        .agg(countDistinct($"user_id").as("u"))
        .as[(String, Long)].collect().toMap
      val est = SparkEntry.queries("x13b_approx_distinct_sketch")(spark, sf)
        .select($"event_type", $"approx_users")
        .as[(String, Long)].collect().toMap
      val worst = exact.map { case (t, e) =>
        math.abs(est(t).toDouble / e - 1.0) }.max
      results("x13b_vs_exact") = worst <= SketchOps.Tolerance
      notes("x13b_worst_rel_err") = f"$worst%.4f"
    }

    // x25b: zero false negatives; exact fields agree with x25
    {
      val r = SparkEntry.queries("x25b_bloom_filter_native")(spark, sf)
        .collect().head
      val exact = SparkEntry.queries("x25_bloom_filter")(spark, sf)
        .collect().head
      results("x25b_zero_false_negatives") = r.getLong(3) == 0L
      results("x25b_exact_fields_agree") =
        (r.getLong(0), r.getLong(1)) == ((exact.getLong(0), exact.getLong(1)))
      notes("x25b_false_positives") = (r.getLong(2) - r.getLong(1)).toString
    }

    // x34b: IE identity + estimates within tolerance of x34's exacts
    {
      val est = SparkEntry.queries("x34b_corpus_overlap_sketch")(spark, sf)
        .collect().head
      val ex = SparkEntry.queries("x34_corpus_overlap")(spark, sf)
        .collect().head
      results("x34b_inclusion_exclusion") =
        est.getLong(3) == est.getLong(0) + est.getLong(1) - est.getLong(2)
      val rel = (0 to 2).map(i =>
        math.abs(est.getLong(i).toDouble / ex.getLong(i) - 1.0)).max
      results("x34b_vs_exact") = rel <= SketchOps.Tolerance
      notes("x34b_worst_rel_err") = f"$rel%.4f"
    }

    // x35b: estimates inside the exact rank bounds at p ± QuantDelta.
    // The exact bound values are computed DISTRIBUTED (r16): the old
    // check collected every lineitem price driver-side, which silently
    // OOM'd the twin gate at the 125x rung without 64g and is a hard
    // wall at 625x (375M values). Same arithmetic as before — value at
    // sorted position p·(n−1) with linear interpolation — but realized
    // as a per-flag row_number window + a rank-probe filter, so only
    // the ≤8 probed rows per flag ever reach the driver.
    {
      import org.apache.spark.sql.expressions.Window
      val rows = SparkEntry.queries("x35b_approx_quantiles_sketch")(spark, sf)
        .collect()
      val li = Tables.lineitem(spark, sf)
        .select($"l_returnflag".as("flag"),
          $"l_extendedprice".cast("double").as("v"))
      val nByFlag = li.groupBy($"flag").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      val probes = Seq(0.5 - SketchOps.QuantDelta, 0.5 + SketchOps.QuantDelta,
        0.95 - SketchOps.QuantDelta, 0.95 + SketchOps.QuantDelta)
      // 0-based sorted positions needed per flag (floor+ceil per probe)
      val wanted: Map[String, Set[Long]] = nByFlag.map { case (f, n) =>
        f -> probes.flatMap { p =>
          val pos = p * (n - 1)
          Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
        }.toSet
      }
      val ranked = li.withColumn("rn",
        row_number().over(Window.partitionBy($"flag").orderBy($"v")) - 1)
      val probeFilter = wanted.map { case (f, rns) =>
        $"flag" === f && $"rn".isin(rns.toSeq: _*)
      }.reduce(_ || _)
      val picked = ranked.filter(probeFilter)
        .select($"flag", $"rn", $"v")
        .as[(String, Long, Double)].collect()
        .groupBy(_._1).map { case (f, rs) =>
          f -> rs.map(t => (t._2, t._3)).toMap }
      def quantileOf(f: String, p: Double): Double = {
        val pos = p * (nByFlag(f) - 1)
        val lo = picked(f)(math.floor(pos).toLong)
        val hi = picked(f)(math.ceil(pos).toLong)
        lo + (pos - math.floor(pos)) * (hi - lo)
      }
      val ok = rows.forall { r =>
        val f = r.getString(0)
        val (p50, p95) = (r.getDouble(2), r.getDouble(3))
        p50 >= quantileOf(f, 0.5 - SketchOps.QuantDelta) &&
          p50 <= quantileOf(f, 0.5 + SketchOps.QuantDelta) &&
          p95 >= quantileOf(f, 0.95 - SketchOps.QuantDelta) &&
          p95 <= quantileOf(f, 0.95 + SketchOps.QuantDelta)
      }
      results("x35b_within_rank_bounds") = ok && rows.nonEmpty
    }

    // x70b: per-source gate disagreement within the GK error budget
    {
      val exact = SparkEntry.queries("x70_quality_gate")(spark, sf)
        .select($"doc_id", $"source").as[(Long, String)].collect()
        .groupBy(_._2).map { case (s, xs) => s -> xs.map(_._1).toSet }
      val sk = SparkEntry.queries("x70b_quality_gate_sketch")(spark, sf)
        .select($"doc_id", $"source").as[(Long, String)].collect()
        .groupBy(_._2).map { case (s, xs) => s -> xs.map(_._1).toSet }
      val nBySrc = Tables.documents(spark, sf).groupBy($"source")
        .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
      var worst = 0L
      val ok = (exact.keySet ++ sk.keySet).forall { src =>
        val e = exact.getOrElse(src, Set.empty[Long])
        val s2 = sk.getOrElse(src, Set.empty[Long])
        val diff = ((e diff s2) ++ (s2 diff e)).size.toLong
        worst = math.max(worst, diff)
        diff <= math.max(1L, 4L * nBySrc.getOrElse(src, 0L) / 10000L + 1L)
      }
      results("x70b_gate_agreement") = ok
      notes("x70b_worst_src_diff") = worst.toString
    }

    // x61b: sampled coverage certificate within 2× of the exact slate's
    {
      val emb = Tables.embeddings(spark, sf)
        .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      val sampled = SparkEntry.queries("x61b_kcenter_sampled")(spark, sf)
        .select($"coverage").head().getDouble(0)
      val exactIds = SparkEntry.queries("x61_kcenter_coreset")(spark, sf)
        .select($"vec_id").collect().map(_.getLong(0))
      val vecs = emb.filter($"vec_id".isin(exactIds: _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val exact = SimilarityOps.kcenterCoverage(spark, emb,
        exactIds.toSeq.map(vecs)).head().getDouble(0)
      results("x61b_coverage_within_2x") = exact > 0.0 && sampled <= 2.0 * exact
      notes("x61b_coverage_ratio") = f"${sampled / exact}%.3f"
    }

    val agg = results.values.forall(identity)
    val block = results.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val noteJson = notes.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    println(s"""{"twin_agreement":$block,"all":$agg,"notes":$noteJson,"sf":"$sf"}""")
    spark.stop()
    if (!agg) sys.exit(1)
  }
}
