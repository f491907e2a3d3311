package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query and total seconds.
  *
  * Queries are driven through the `noop` sink, not count(): a count lets
  * Catalyst prune every computed column and eliminate final sorts, so
  * narrow queries (langid, fingerprints, quality) would measure a
  * parquet-footer count instead of the query. The noop write forces full
  * materialization of every output column with zero sink cost.
  *
  * A warmup pass at the smallest scale factor runs first (not measured):
  * JVM/JIT warmup, whole-stage codegen compilation, and parquet footer
  * caching are one-time costs that would otherwise land arbitrarily on
  * whichever queries happen to run first and swamp their numbers.
  *
  * Failed queries are reported in a "failed" array (and excluded from
  * per-query timings) instead of masquerading as fast successes. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession().getOrCreate()
    // ERROR, not WARN: the JSON line must be the only stdout content a
    // driver without prefix-stripping has to parse, and repeated
    // function-registry WARNs were the round-1 noise.
    spark.sparkContext.setLogLevel("ERROR")

    // Work-unit denominators self-reported by queries via
    // Dataset.observe (x45 matched pairs, x72 triplets, the banded
    // dedup pair counts): ObservedMetrics collects every named
    // CollectMetrics result so the sweep ladder's per-unit-output
    // adjudication reads its denominator from the SAME run — no second
    // execution, no extrapolation. The read path is drained
    // DETERMINISTICALLY (sentinel barrier, no fixed sleep) and the map
    // is CLEARED between warmup and measured phases, so a lagging bus
    // can never leave a warmup-scale count in the committed artifact.
    val observed = new ObservedMetrics(spark)

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
            dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()

    // Optional comma-separated query filter for local iteration
    // (e.g. SPARK_GRAFT_ONLY=x17_dedup_clusters,x02_dedup_minhash_lsh).
    // Unknown names fail loudly — a typo would otherwise print a
    // success-looking zero-query JSON.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }

    // Warmup dir is env-overridable for other hosts/layouts, and the
    // JSON records whether warmup actually ran — a skipped warmup skews
    // whichever queries run first (JIT + codegen land on them). Only
    // the SELECTED queries warm up, so a filtered run stays quick.
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.001")
    val warmedUp =
      new java.io.File(warmupDir).isDirectory && warmupDir != sfDir
    if (warmedUp) {
      // warmup-only mute of the known-benign accumulator burst: the
      // counted-pin construction jobs' checkpoint cleanup races
      // straggler task-end updates and sprays "Failed to update
      // accumulator" at ERROR with zero result effect (SCALE.md
      // "Known-benign log burst") — scoped to this phase and this
      // message so real accumulator failures elsewhere still surface
      withAccumulatorErrorMuted {
        selected.foreach { case (_, fn) =>
          try run(fn, warmupDir) catch { case _: Throwable => () }
        }
      }
    }
    // phase boundary: warmup executed the same instrumented queries,
    // so barrier-drain its listener events and drop them — only
    // measured-phase (sfDir) counts may reach the artifact.
    val warmupDrained = observed.drain("graft_bench_drain_warmup")
    observed.clear()
    // Warm the BENCH scale factor's files too (byte-level pre-read →
    // OS page cache): the sf0.001 warmup never touches the sfDir
    // parquet, so without this the first query to scan each bench
    // table pays cold I/O — min-of-N usually discards it, but under
    // host interference it leaked into r6's artifact as 6–9× phantom
    // regressions on whichever queries ran first (q09/x21). The whole
    // fixture is a few tens of MB, so this costs well under a second.
    try {
      val dir = new java.io.File(sfDir)
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val in = new java.io.FileInputStream(f)
          try { val buf = new Array[Byte](1 << 20)
            while (in.read(buf) >= 0) () } finally in.close()
        }
    } catch { case _: Throwable => () }
    // Per-query time = MIN over SPARK_GRAFT_REPS runs (default 7): the
    // minimum is the standard interference-robust estimator for a
    // deterministic workload — observed machine-load swings move a
    // single-shot total by ±25%. Seven reps because the flag below
    // needs the two BEST steady reps to agree: most suite queries run
    // 20–60 ms, where Spark's own job-scheduling floor jitters by
    // ±10 ms, so with few reps the second-best is often still a
    // jittered sample; extra reps cost seconds and buy the flag its
    // signal.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "7").toInt.max(1)
    // The reported statistic is the MIN, so the instability flag
    // measures the reliability of exactly that: the agreement of the
    // two BEST steady reps ((2nd-best − best)/best over all reps but
    // rep 1). Rep 1 always carries the query's one-time planning/
    // codegen/listing cost (at small SF that alone exceeds 30% of a
    // tiny runtime — measured 97/102 flagged when rep 1 was
    // included); and a GC pause or scheduler hiccup on a shared host
    // lands on single mid reps of a 40 ms query as 3× outliers that
    // say nothing about whether the reported minimum reproduces. If
    // even the two fastest runs disagree >30%, the per-query claim
    // is genuinely soft — that is what the flag marks.
    def measure(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                n: Int): (Double, Boolean, Double) = {
      // GC hygiene between queries (JMH's between-iteration discipline):
      // without it, the previous query's garbage collects DURING this
      // one's reps and lands as phantom 2–5× outliers
      System.gc()
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { run(fn, sfDir); true } catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val okTimes = times.filter(_._2).map(_._1)
      val steady = times.drop(1).filter(_._2).map(_._1).sorted
      val spread = if (steady.size >= 2 && steady.head > 0)
        (steady(1) - steady.head) / steady.head else 0.0
      (okTimes.minOption.getOrElse(0.0), times.exists(_._2), spread)
    }
    var results = selected.toSeq.map { case (name, fn) =>
      val (t, ok, sp) = measure(fn, reps)
      (name, t, ok, sp, fn)
    }
    // ADAPTIVE retry: a flagged query gets its OWN reps doubled (up to
    // two rounds) instead of the whole suite paying a global bump —
    // the min merges across rounds, the spread is re-judged on the
    // larger retry sample. A query still flagged after 4× reps is
    // genuinely soft on this host and stays flagged.
    var adaptiveRounds = 0
    while (adaptiveRounds < 2 && results.exists(r => r._3 && r._4 > 0.3)) {
      adaptiveRounds += 1
      val factor = 1 << adaptiveRounds
      results = results.map {
        case (name, t, ok, sp, fn) if ok && sp > 0.3 =>
          val (t2, ok2, sp2) = measure(fn, reps * factor)
          if (ok2) (name, math.min(t, t2), true, sp2, fn)
          else (name, t, ok, sp, fn)
        case r => r
      }
    }
    val good = results.map { case (n, t, ok, sp, _) => (n, t, ok, sp) }
      .filter(_._3)
    val failed = results.filterNot(_._3).map(_._1)
    val qs = good.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val unstable = good.filter(_._4 > 0.3)
      .map { case (k, _, _, sp) =>
        s"\"" + k + "\":" + (math.round(sp * 100) / 100.0) }
      .mkString("{", ",", "}")
    val total = good.map(_._2).sum

    // Same-boot comparator: raw totals are not comparable across VM
    // boots (README's matched-pair A/B measured ±25% swings on
    // identical code), so the artifact carries its OWN DuckDB run of
    // the identical oracle SQL on the same parquet, same boot — the
    // ratio is the portable number. Skipped quietly (nulls) when
    // python3/duckdb aren't present or SPARK_GRAFT_DUCK=off. The
    // ratio compares like with like: Spark seconds summed over the
    // ORACLE-CHECKED queries only (the sketch-only twins have no SQL).
    val duck: Option[(Double, Double, Int, String, String)] =
      if (sys.env.getOrElse("SPARK_GRAFT_DUCK", "auto") == "off") None
      else try {
        val oracles = SparkEntry.oracleSql.filter(o => selected.contains(o._1))
        val esc = (s: String) => Json.str(s)
        val tmp = java.io.File.createTempFile("graft-oracle-", ".json")
        tmp.deleteOnExit()
        val w = new java.io.PrintWriter(tmp, "UTF-8")
        try w.print(oracles.map { case (k, v) => s"${esc(k)}: ${esc(v)}" }
          .mkString("{", ",", "}")) finally w.close()
        val duckReps = sys.env.getOrElse("SPARK_GRAFT_DUCK_REPS", "5")
        val pb = new ProcessBuilder("python3", "dev/duckbench.py",
          tmp.getPath, sfDir, duckReps)
        pb.redirectErrorStream(false)
        val proc = pb.start()
        val out = new String(proc.getInputStream.readAllBytes, "UTF-8")
        proc.waitFor()
        "\"value\": *([0-9.Ee+-]+)".r.findFirstMatchIn(out).map { m =>
          val d = m.group(1).toDouble
          val sparkOracle = good.filter(g => oracles.contains(g._1)).map(_._2).sum
          // duckbench's own per-query min-of-N map, embedded verbatim
          // so the ≤2× adjudication works per query, not just per suite
          val perQuery = "\"queries\": *(\\{[^}]*\\})".r
            .findFirstMatchIn(out).map(_.group(1)).getOrElse("{}")
          // …and its per-query instability, symmetric with ours
          val duckUnstable = "\"unstable\": *(\\{[^}]*\\})".r
            .findFirstMatchIn(out).map(_.group(1)).getOrElse("{}")
          (d, sparkOracle, oracles.size, perQuery, duckUnstable)
        }
      } catch { case _: Throwable => None }
    val duckJson = duck match {
      case Some((d, so, n, perQuery, duckUnstable)) =>
        val ratio = if (d > 0) so / d else -1.0
        s""","duckdb":$d,"spark_oracle":$so,"n_oracle":$n,"ratio":${math.round(ratio * 1000) / 1000.0},"duckdb_queries":$perQuery,"duckdb_unstable":$duckUnstable"""
      case None => ""","duckdb":null,"ratio":null"""
    }
    // deterministic drain of the async execution-listener bus before
    // reading the observed-metric map: a sentinel observe query +
    // FIFO delivery proves every measured-phase event arrived — a
    // timeout is RECORDED (observed_drained:false), never swallowed
    // as a silently-stale denominator
    val obsDrained = observed.drain("graft_bench_drain_final")
    val obsJson = observed.json
    // every surviving observed value is measured-phase by
    // construction (the map was cleared at the warmup boundary), so
    // the corpus dir of the whole map is sfDir — recorded so a sweep
    // reader can detect a mismatched harvest
    val obsMeta =
      s""","observed_dir":${Json.str(sfDir)},"observed_drained":${obsDrained && warmupDrained}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs,"unstable":$unstable,"observed":$obsJson$obsMeta,"reps":$reps,"warmup":$warmedUp$duckJson,"sf":${Json.str(sfDir)}}"""
    // The full line grows with the query count and a tail-windowed
    // reader can clip its head (round-4 BENCH parsed:null), so the full
    // JSON also lands in a file and the LAST stdout line is a compact
    // self-contained summary that survives any tail window.
    val outFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    Option(outFile.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.println(full) finally w.close()
    println(full)
    // compact tail line: totals only (no per-query maps) so a
    // tail-windowed reader always gets a parseable self-contained JSON
    val duckCompact = duck match {
      case Some((d, so, n, _, _)) =>
        val ratio = if (d > 0) so / d else -1.0
        s""","duckdb":$d,"spark_oracle":$so,"n_oracle":$n,"ratio":${math.round(ratio * 1000) / 1000.0}"""
      case None => ""","duckdb":null,"ratio":null"""
    }
    // the observed work-unit map rides the compact line too (it is
    // bounded by the instrumented-query count, not the suite size), so
    // the committed round artifact itself carries the per-unit
    // denominators the growth adjudication needs
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${good.size},"n_failed":${failed.size},"n_unstable":${good.count(_._4 > 0.3)},"observed":$obsJson$obsMeta,"reps":$reps,"warmup":$warmedUp$duckCompact,"sf":${Json.str(sfDir)},"detail":${Json.str(outFile.getPath)}}""")
    spark.stop()
  }

  /** Scoped log filter for the known-benign warmup accumulator burst
    * (VERDICT r16 #3 / SCALE.md "Known-benign log burst"): DENY only
    * messages matching "Failed to update accumulator" while `body`
    * runs, then restore. Anything else — including other ERROR-level
    * accumulator failures — passes through untouched, and if the
    * log4j2 core API is absent the body just runs unmuted. */
  private def withAccumulatorErrorMuted[A](body: => A): A = {
    // the filter setup is guarded separately from body — a logging-API
    // failure must mean "run unmuted", never "run body twice"
    val restore: () => Unit = try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.Filter.Result
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val lc = ctx.getConfiguration
        .getLoggerConfig("org.apache.spark.scheduler.DAGScheduler")
      val f = RegexFilter.createFilter(
        ".*Failed to update accumulator.*", null, java.lang.Boolean.FALSE,
        Result.DENY, Result.NEUTRAL)
      f.start()
      lc.addFilter(f)
      ctx.updateLoggers()
      () => { lc.removeFilter(f); ctx.updateLoggers() }
    } catch { case _: LinkageError | _: Exception => () => () }
    try body finally restore()
  }
}
