package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Spans of one request
  * (a drop wave, a suite query, a stream drain) share `trace`; `parent`
  * is the enclosing span (0 for a root). `counts` are the listener
  * counters that moved while the span was open. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long, counts: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Engine counters fed by Spark's public listener interfaces. Every
  * field is a running total; a span records the difference between its
  * end and start snapshots. */
final class Counters extends SparkListener {
  private val c = scala.collection.concurrent.TrieMap[String, AtomicLong]()
  def add(k: String, v: Long): Unit =
    if (v != 0) c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
  def snapshot: Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap

  /** Time spent in the listener callbacks below, on Spark's listener
    * threads. */
  private val own = new AtomicLong
  def ownNs: Long = own.get
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    own.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(add("jobs", 1))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(add("stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    add("tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("task_gc_ms", m.jvmGCTime)
    }
  }

  /** Query planning phases of every completed action (parsing,
    * analysis, optimization, planning), from its QueryPlanningTracker. */
  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = timed {
      add("actions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"phase_${phase}_us", (s.durationMs * 1000L)) }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      timed(add("actions_failed", 1))
  }

  /** Micro-batches and their input rows, from each query progress. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      timed(add("stream_starts", 1))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      add("stream_batches", 1)
      add("stream_input_rows", e.progress.numInputRows)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }
}

/** In-memory span recorder. Disabled, it only runs the body: the gated
  * (untraced) runs time their operations with their own clocks. Spans
  * are kept in memory and written once, at the end of the run. */
final class Tracer(val enabled: Boolean, spark: () => SparkSession,
                   counters: Counters) {
  val spans = new ArrayBuffer[Span]()
  private val ids = new AtomicLong(0)
  private var stack: List[(Long, Long)] = Nil
  val originNs: Long = System.nanoTime()
  private val originMs: Long = System.currentTimeMillis()

  /** Listener events are delivered asynchronously; a span's counts are
    * read only after everything posted so far has been delivered. */
  private def settled(): Map[String, Long] = {
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.BusDrain(spark().sparkContext)
    val snap = counters.snapshot
    own += System.nanoTime() - t0
    snap
  }

  /** Time spent in the tracer's own bookkeeping. */
  private var own = 0L
  def ownNs: Long = own

  def current: Long = stack.headOption.map(_._1).getOrElse(0L)

  def span[A](name: String, newTrace: Boolean = false)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      val trace =
        if (newTrace || stack.isEmpty) id else stack.head._2
      val before = settled()
      stack = (id, trace) :: stack
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        stack = stack.tail
        val after = settled()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
          .filter(_._2 != 0)
        spans += Span(id, trace, parent, name, s, e, delta)
      }
    }

  /** Child spans for the micro-batches a finished stream drain ran,
    * placed on the tracer clock from each progress' own start stamp. */
  def addTriggers(name: String, parent: Long,
                  ps: Seq[StreamingQueryProgress]): Unit =
    if (enabled) {
      val p = spans.find(_.id == parent)
      ps.foreach { prog =>
        val startMs = java.time.Instant.parse(prog.timestamp).toEpochMilli
        val s = originNs + (startMs - originMs) * 1000000L
        val e = s + prog.batchDuration * 1000000L
        // clamp into the parent: the two clocks differ by well under a ms
        val (cs, ce) = p.map(q => (s.max(q.startNs), e.min(q.endNs)))
          .getOrElse((s, e))
        spans += Span(ids.incrementAndGet(), p.map(_.trace).getOrElse(0L),
          parent, name, cs, ce.max(cs),
          Map("input_rows" -> prog.numInputRows))
      }
    }

  /** Self time per span: its duration minus the union of the intervals
    * its children cover. */
  def selfNs: Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += (curE - curS).max(0L); curS = a; curE = b }
        else curE = curE.max(b)
      }
      covered += (curE - curS).max(0L)
      s.id -> ((s.endNs - s.startNs) - covered).max(0L)
    }.toMap
  }

  def json: String = {
    val self = selfNs
    spans.sortBy(_.startNs).map { s =>
      val counts = s.counts.map { case (k, v) => s"${Js.str(k)}:$v" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},""" +
        s""""name":${Js.str(s.name)},"start_us":${(s.startNs - originNs) / 1000},""" +
        s""""end_us":${(s.endNs - originNs) / 1000},"self_us":${self(s.id) / 1000},""" +
        s""""counts":$counts}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** JSON rendering of nested maps and sequences for the result file. */
object Js {
  def str(s: String): String = graft.Json.str(s)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}
