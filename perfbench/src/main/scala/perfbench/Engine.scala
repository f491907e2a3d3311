package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.SparkEntry
import graft.operators.{DedupOps, SearchOps, SketchOps}
import graft.streaming.{DedupStream, SearchStream, SketchStream}

/** The engine's own surfaces, run as phases of the batch workload over
  * the generated corpus (`documents`, `events`):
  *
  *  - a fixed slice of `SparkEntry.queries`, each query constructed,
  *    planned and executed through the `noop` sink: one query of the
  *    event surface (CoreQueries) and the batch operators the three doc
  *    streams maintain incrementally (DedupOps x02, SearchOps x33,
  *    SketchOps x29). A query per family did not fit the run's time
  *    budget;
  *  - one drain of each incremental doc stream (`DedupStream`,
  *    `SearchStream`, `SketchStream`) over the corpus' parquet drops,
  *    one file per micro-batch, then each stream's merged serve, then
  *    one `DedupStream.compact` of all but the last batch. */
object Engine {
  val Slice: Seq[(String, String)] = Seq(
    "CoreQueries" -> "q02_hourly_user_scores",
    "DedupOps" -> "x02_dedup_minhash_lsh",
    "SketchOps" -> "x29_heavy_hitters",
    "SearchOps" -> "x33_bm25_search")
  val Streams = Seq("DedupStream", "SearchStream", "SketchStream")

  private def sf(inputs: String) = s"$inputs/corpus/sf"

  /** Untimed: each slice query once, its result written for the oracle
    * check. The doc streams get no warm-up pass, which did not fit the
    * run's time budget: the first micro-batch of each drain pays its
    * code generation. */
  def warm(spark: SparkSession, inputs: String, dir: String): Unit =
    Slice.foreach { case (_, q) =>
      SparkEntry.queries(q)(spark, sf(inputs)).write.parquet(s"$dir/suite-out/$q")
    }

  /** Land the drops, drain the three streams, serve each, compact the
    * dedup state. Returns the serves' rows and the drains' micro-batches,
    * per stream. */
  private def streams(spark: SparkSession, t: Tracer, inputs: String, dir: String,
                      drops: Int): Map[String, (Array[Row], Seq[StreamingQueryProgress])] = {
    Seq("docs", "events").foreach { d =>
      Main.land(Main.list(s"$inputs/corpus/$d"), s"$dir/in-$d", "")
    }
    def drain(name: String)(start: => org.apache.spark.sql.streaming.StreamingQuery) =
      t.span(s"$name.drain", newTrace = true) {
        val sid = t.current
        val ps = Main.drain(start).filter(_.numInputRows > 0)
        t.addTriggers(s"$name.batch", sid, ps)
        ps
      }
    val dedup = drain("DedupStream")(DedupStream.startDocStream(spark, s"$dir/in-docs",
      s"$dir/dedup", s"$dir/ck-dedup", maxFilesPerTrigger = Some(1)))
    val search = drain("SearchStream")(SearchStream.startPostingsStream(spark,
      s"$dir/in-docs", s"$dir/search", s"$dir/ck-search", maxFilesPerTrigger = Some(1)))
    val sketch = drain("SketchStream")(SketchStream.startHeavyHitterStream(spark,
      s"$dir/in-events", s"$dir/sketch", s"$dir/ck-sketch", maxFilesPerTrigger = Some(1)))
    val pairs = t.span("DedupStream.serve", newTrace = true)(
      DedupStream.servedDupPairs(spark, s"$dir/dedup").collect())
    val bm25 = t.span("SearchStream.serve", newTrace = true)(
      SearchStream.servedBm25(spark, s"$dir/search").collect())
    val counters = t.span("SketchStream.serve", newTrace = true)(
      SketchStream.mergedCounters(spark, s"$dir/sketch").orderBy("r", "pos").collect())
    t.span("StateMaintenance.compact", newTrace = true)(
      DedupStream.compact(spark, s"$dir/dedup", upTo = drops - 2L))
    Map("DedupStream" -> (pairs, dedup), "SearchStream" -> (bm25, search),
      "SketchStream" -> (counters, sketch))
  }

  /** Per-stream micro-batch progress of the timed pass. */
  private var progress: Map[String, Seq[StreamingQueryProgress]] = Map.empty

  /** The timed phases; returns their wall time in seconds. Output
    * checks run afterwards, untimed. */
  def run(spark: SparkSession, t: Tracer, inputs: String, dir: String,
          res: Result): Double = {
    val t0 = System.nanoTime()
    Slice.foreach { case (_, q) =>
      t.span(s"suite.$q", newTrace = true) {
        val df = t.span("suite.construct")(SparkEntry.queries(q)(spark, sf(inputs)))
        t.span("suite.plan")(df.queryExecution.executedPlan)
        t.span("suite.exec")(df.write.format("noop").mode("overwrite").save())
      }
    }
    Main.note("suite slice done")
    val drops = Main.list(s"$inputs/corpus/docs").size
    val served = streams(spark, t, inputs, s"$dir/docs", drops)
    val wall = (System.nanoTime() - t0) / 1e9
    Main.note("doc streams done")
    res.attempted += Slice.size + 2L * Streams.size + 1
    progress = served.map { case (k, v) => k -> v._2 }

    // the suite's results are checked against DuckDB by checks.py
    res.outputs("suite_dir") = s"$dir/suite-out"
    res.outputs("suite_sql") = Slice.map { case (_, q) => q -> SparkEntry.oracleSql(q) }.toMap
    // each serve equals the one-shot batch operator over the same rows
    val docs = graft.Tables.documents(spark, sf(inputs))
    res.check("docs.dedup_served_eq_x02", served("DedupStream")._1.toSeq ==
      DedupOps.dedupMinhashLshOf(docs).collect().toSeq, "served pairs differ from x02")
    res.check("docs.dedup_nonempty", served("DedupStream")._1.nonEmpty,
      "no near-duplicate pair served")
    res.check("docs.compact_keeps_serve", served("DedupStream")._1.toSeq ==
      DedupStream.servedDupPairs(spark, s"$dir/docs/dedup").collect().toSeq,
      "compaction changed the served pairs")
    res.check("docs.bm25_served_eq_x33", served("SearchStream")._1.toSeq ==
      SearchOps.bm25Search(spark, sf(inputs)).collect().toSeq, "served BM25 differs from x33")
    val ev = graft.Tables.events(spark, sf(inputs)).filter(col("user_id").isNotNull)
      .select(col("user_id"))
    res.check("docs.sketch_served_eq_batch", served("SketchStream")._1.toSeq ==
      SketchOps.cmsCounters(ev).orderBy("r", "pos").collect().toSeq,
      "merged counters differ from the batch sketch")
    res.check("docs.batches", served.values.forall(_._2.size == drops),
      s"micro-batches ${served.map { case (k, v) => k -> v._2.size }} != $drops")
    if (t.enabled) {
      val state = Paths.get(s"$dir/docs")
      val files = Files.walk(state).iterator().asScala.toSeq
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .filter(p => Seq("dedup", "search", "sketch").exists(s =>
          state.relativize(p).toString.startsWith(s + "/")))
      res.layers("docs.state_bytes") = files.map(Files.size).sum.toDouble
      res.layers("docs.state_partitions") = files.map(_.getParent).distinct.size.toDouble
      // both document streams index every document
      res.layers("docs.docs_per_s") = 2 * docs.count() /
        (t.spans.filter(s => Set("DedupStream.drain", "SearchStream.drain")(s.name))
          .map(_.ms).sum / 1000)
    }
    wall
  }

  def layers(res: Result, ms: String => Double, count: (String, String) => Double): Unit = {
    Seq("construct", "plan", "exec").foreach { p =>
      res.layers(s"suite.${p}_s") = ms(s"suite.$p") / 1000 }
    res.layers("suite.construct_jobs") = count("suite.construct", "jobs")
    val queries = Slice.map { case (_, q) => s"suite.$q" }
    Seq("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes").foreach { k =>
      res.layers(s"suite.$k") = queries.map(q => count(q, k)).sum }
    Slice.foreach { case (family, q) => res.layers(s"suite.${family}_s") = ms(s"suite.$q") / 1000 }
    res.outputs("suite_s") = Slice.map { case (_, q) => q -> ms(s"suite.$q") / 1000 }.toMap
    Streams.foreach { s =>
      res.layers(s"$s.batch_ms") =
        Samples.median(progress(s).map(_.batchDuration.toDouble))
      res.layers(s"$s.serve_ms") = ms(s"$s.serve")
    }
    res.layers("StateMaintenance.compact_ms") = ms("StateMaintenance.compact")
  }
}
