package graft

import org.apache.spark.sql.SparkSession

/** Multi-executor-JVM execution evidence: runs representative queries
  * under `local-cluster[2,4,2048]` — Spark's standalone-mode test
  * master that forks TWO REAL EXECUTOR JVMs — and pins every result
  * bit-for-bit against the same queries on in-process `local[8]`.
  *
  * `local[32]` (the bench/test mode) never serializes a task, a
  * broadcast, or an aggregation buffer across a process boundary;
  * this smoke is the piece of "would it run on a cluster" that IS
  * checkable in the sandbox. Specifically exercised across JVMs:
  *   - task + closure serialization for every plan shape in the set;
  *   - BroadcastExchange to remote executors (q10's dimension joins);
  *   - the custom TypedImperativeAggregates' partial-state
  *     serialize/merge path (x13b's HLL registers, x65's graft_topk
  *     bounded heap) — in local mode partials can short-circuit
  *     within one JVM, here they MUST cross the wire;
  *   - codegen Catalyst expressions compiled on executors from the
  *     shipped classpath (x02's graft_minhash/shingle chain);
  *   - a persisted artifact written by executor tasks and probed by
  *     a second job's executors (x33b's BM25 index).
  *
  * Executors get the library via spark.executor.extraClassPath (same
  * host), so no jar packaging step is needed. The worker dirs are
  * LocalSparkCluster-managed temp dirs, deleted on stop.
  *
  *   SPARK_HOME=/opt/spark sbt "Test/runMain graft.ClusterSmoke [sfDir]"
  *
  * Prints one JSON line {"cluster_smoke":{...},"all":true|false}. */
object ClusterSmoke {

  /** Queries chosen to cover distinct cross-JVM machinery (see above). */
  val Smoke: Seq[String] = Seq(
    "q10_join_4way",
    "x02_dedup_minhash_lsh",
    "x13b_approx_distinct_sketch",
    "x65_bitext_margin",
    "x33b_bm25_search_indexed")

  private def session(master: String, extraCp: Option[String]): SparkSession = {
    val b = GraftSession().master(master)
    extraCp.foreach { cp =>
      b.config("spark.executor.extraClassPath", cp)
      // JDK 17 module opens for the forked executor JVMs (the driver
      // JVM gets them from build.sbt; standalone executors need them
      // in executor opts).
      b.config("spark.executor.extraJavaOptions", ModuleOpens)
      b.config("spark.executor.memory", "2g")
      // The worker builds the executor command via the launcher, which
      // resolves the distro's scala dir from this env (normally set by
      // load-spark-env.sh; the in-JVM worker never sources it).
      b.config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val ModuleOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** Canonical row-set form: rows as sorted strings, schema prefixed,
    * so the comparison is bitwise over values AND column names. */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val header = df.schema.fields.map(f => s"${f.name}:${f.dataType.sql}")
      .mkString("|")
    header +: df.collect().map(_.toSeq.map {
      case null => "NULL"
      case a: Array[_] => a.mkString("[", ",", "]")
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => v.toString
    }.mkString("|")).sorted.toSeq
  }

  private def runAll(s: SparkSession, sf: String): Map[String, Seq[String]] =
    Smoke.map(n => n -> canon(SparkEntry.queries(n)(s, sf))).toMap

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    // Worker launch resolves the distro through SPARK_HOME (env) or
    // spark.test.home (sysprop); set the sysprop fallback so the run
    // works under plain `sbt Test/runMain` too.
    if (sys.env.get("SPARK_HOME").isEmpty)
      sys.props("spark.test.home") = "/opt/spark"

    // Executor classpath: executors are on the same host, so the
    // driver's full classpath (graft classes + the same Spark jars)
    // is directly reusable. sbt's forked runner may hide it behind a
    // @argfile/manifest wrapper, so fall back to the repo layout.
    val cp = System.getProperty("java.class.path")
    val mainClasses =
      if (cp.contains("target/scala-2.13")) cp
      else Seq("target/scala-2.13/classes", "target/scala-2.13/test-classes")
        .map(new java.io.File(_).getAbsolutePath)
        .mkString(java.io.File.pathSeparator)

    val local = session("local[8]", None)
    val want = runAll(local, sf)
    local.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    val clus = session("local-cluster[2,4,2048]", Some(mainClasses))
    val (got, nExec) =
      try {
        val r = runAll(clus, sf)
        // Prove we really ran on remote executor JVMs, not a local
        // backend: sampled AFTER the queries (registration is async),
        // minus the driver's own BlockManager entry.
        (r, clus.sparkContext.statusTracker.getExecutorInfos.length - 1)
      } finally clus.stop()

    val results = Smoke.map(n => n -> (want(n) == got(n) && want(n).size > 1))
    val all = results.forall(_._2)
    val block = results
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"cluster_smoke":$block,"all":${all && nExec == 2},""" +
      s""""n_executors":$nExec,"sf":"$sf"}""")
    if (!all) {
      Smoke.foreach { n =>
        if (want(n) != got(n)) {
          System.err.println(s"== $n: local ${want(n).size - 1} rows, " +
            s"cluster ${got(n).size - 1} rows")
          want(n).diff(got(n)).take(5).foreach(r =>
            System.err.println(s"  local-only: $r"))
          got(n).diff(want(n)).take(5).foreach(r =>
            System.err.println(s"  cluster-only: $r"))
        }
      }
      sys.exit(1)
    }
  }
}
