package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run measured, handed to run.py as a JSON file. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val checks = ArrayBuffer[(String, Boolean, String)]()
  /** Outputs run.py checks against its own DuckDB computation. */
  val outputs = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
  }

  def json(error: Option[String]): String = Js(mutable.LinkedHashMap[String, Any](
    "error" -> error, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics, "layers" -> layers,
    "checks" -> checks.map { case (n, ok, d) =>
      mutable.LinkedHashMap[String, Any]("name" -> n, "ok" -> ok, "detail" -> d) },
    "outputs" -> outputs))
}

/** Timings of repeated operations, with the two summary statistics
  * the benchmark reports: the median and the tail, the highest
  * percentile with at least ten samples beyond it. Below 21 samples
  * that percentile would fall under the median, so the tail is then
  * the maximum. */
final class Samples {
  val xs = ArrayBuffer[Double]()
  def +=(x: Double): Unit = xs += x
  def p50: Double = Samples.median(xs.toSeq)
  def tail: Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length < 21) s.last
    else s(s.length - 11)
  }
}

object Samples {
  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** One benchmark run in one JVM:
  * {{{
  *   perfbench.Main --workload W --seed N --trace 0|1 --inputs DIR --work DIR --out FILE
  * }}}
  * Inputs come ready-made from gen.py; the workload's own state lives
  * under `--work`. Set-up, from JVM start to the first timed
  * operation, is timed separately from the workload. */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val res = new Result
    val error =
      try { run(a, res); None }
      catch { case e: Throwable =>
        e.printStackTrace()
        Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000)) }
    Files.write(Paths.get(a("out")), res.json(error).getBytes("UTF-8"))
    // a lingering non-daemon thread must never hold the run open
    System.exit(if (error.isEmpty) 0 else 1)
  }

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the confs graft.Bench runs the query suite with
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.constraintPropagation.enabled", "false")
      // every micro-batch of a drain stays readable from the query
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session set-up as a deployment pays it: build the session with the
    * program's extensions, register its functions, run a first query. */
  def setUp(cores: Int, work: String): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val s = session(cores, work)
    val t1 = System.nanoTime()
    graft.plans.GraftExpressions.register(s)
    s.range(1000).selectExpr("sum(id)").collect()
    val t2 = System.nanoTime()
    (s, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }

  def run(a: Map[String, String], res: Result): Unit = {
    val work = a("work")
    val inputs = a("inputs")
    val traced = a.get("trace").contains("1")
    val workload: Workload = a("workload") match {
      case "live_ingest" => LiveIngest
      case "archive_backfill" => ArchiveBackfill
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // set-up is everything from JVM start to the first timed operation:
    // JVM boot, the session, and the workload's untimed warm-up pass
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    res.layers("session.jvm_boot_ms") = (System.currentTimeMillis() - jvmStart).toDouble
    val (session0, start, warm) = setUp(Cores, work)
    var spark = session0
    res.layers("session.start_ms") = start
    res.layers("session.warmup_ms") = warm
    val w0 = System.nanoTime()
    val dir = s"$work/run"
    workload.warm(spark, inputs, dir)
    res.layers("session.workload_warm_ms") = (System.nanoTime() - w0) / 1e6
    res.metrics("setup_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    note(s"set-up and warm-up done: ${res.metrics("setup_s")} s")
    val gc0 = gcMs
    // the gated runs record no spans and register no listeners; a
    // traced run does both, and its per-layer numbers come from there
    val counters = new Counters
    if (traced) counters.register(spark)
    val tracer = new Tracer(traced, () => spark, counters)
    val wall = workload.run(spark, tracer, inputs, dir, res)
    note(s"timed pass done: $wall s")
    if (traced) {
      counters.unregister(spark)
      workload.layers(tracer, res)
      res.layers("jvm.gc_ms") = gcMs - gc0
      // the tracer's own work (listener callbacks, bus drains, counter
      // snapshots), as a share of the traced wall time
      res.layers("tracing_overhead_frac") = (tracer.ownNs + counters.ownNs) / 1e9 / wall
      val roots = tracer.spans.filter(_.parent == 0)
      res.layers("trace.wall_ms") = wall * 1000
      res.layers("trace.self_ms") = tracer.selfNs.values.sum / 1e6
      res.layers("trace.gap_ms") = wall * 1000 - roots.map(_.ms).sum
      res.layers("trace.spans") = tracer.spans.size.toDouble
      Files.write(Paths.get(a("out") + ".spans.json"), tracer.json.getBytes("UTF-8"))
      if (workload == LiveIngest) {
        // the single-thread baseline of the ingest drain, reported, not gated
        spark.stop()
        spark = session(1, work)
        val (rate, p50) = LiveIngest.baseline(spark, inputs, s"$work/local1")
        res.layers("baseline_local1.ingest_events_per_s") = rate
        res.layers("baseline_local1.ingest_trigger_p50_ms") = p50
      }
    }
    res.metrics("peak_rss_mb") = peakRssMb
    spark.stop()
  }

  private val started = System.nanoTime()
  def note(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  def gcMs: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  // ---- small file helpers shared by the workloads ----------------------

  def list(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else Files.list(d).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
  }

  /** Land files in a streamed directory the way an uploader does:
    * write under a hidden name, then rename. Modification times
    * increase in landing order, since the file source takes the oldest
    * files first. */
  def land(files: Seq[Path], dir: String, prefix: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val base = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (f, i) =>
      val name = prefix + f.getFileName.toString
      val tmp = Paths.get(dir, "." + name)
      Files.copy(f, tmp)
      Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(base + i))
      Files.move(tmp, Paths.get(dir, name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def drain(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq
  }
}

/** A benchmark workload. `warm` runs an untimed first pass on state
  * under `dir`, so that the timed pass sees loaded classes, generated
  * code and existing tables; it counts as set-up. `run` then performs
  * the timed work on the same `dir`, records end-to-end metrics and
  * outputs into `res` and returns the timed wall time in seconds;
  * `layers` turns a traced pass's spans into the per-layer metrics. */
trait Workload {
  def warm(spark: SparkSession, inputs: String, dir: String): Unit
  def run(spark: SparkSession, t: Tracer, inputs: String, dir: String,
          res: Result): Double
  def layers(t: Tracer, res: Result): Unit

  /** Sum of a counter over the spans of one name. */
  protected def count(t: Tracer, span: String, key: String): Double =
    t.spans.filter(_.name == span).map(_.counts.getOrElse(key, 0L)).sum.toDouble

  protected def ms(t: Tracer, span: String): Double =
    t.spans.filter(_.name == span).map(_.ms).sum

  protected def p50(t: Tracer, span: String): Double =
    Samples.median(t.spans.filter(_.name == span).map(_.ms).toSeq)
}
