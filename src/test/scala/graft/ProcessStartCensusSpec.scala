package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.streaming.{GhBackfill, GhIngest, ReportStream, SubstringStream}

/** The processes the write paths start, counted by JFR's
  * `jdk.ProcessStart` event in this JVM: creating local files and
  * directories must not fork a `chmod` each, as Hadoop's local file
  * system does without libhadoop. */
class ProcessStartCensusSpec extends AnyFunSuite with SparkTestSession {
  import ProcessStartCensusSpec.processesStarted

  test("an ingest drain, a scoring drain, a backfill and a compaction on a fresh session start no chmod process") {
    val fixture = Files.createTempDirectory("graft-census-fixture")
    Files.copy(getClass.getResourceAsStream("/gh_events.ndjson"),
      fixture.resolve("gh_events.ndjson"))
    val root = Files.createTempDirectory("graft-census").toString
    val docDrop = s"$root/docs"
    Tables.documents(spark, sf).select("doc_id", "text").limit(20).write.parquet(docDrop)
    val fresh = spark.newSession()
    def drained(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      assert(q.awaitTermination(120000), String.valueOf(q.id))
      q.exception.foreach(e => throw e)
    }
    val steps = Seq[(String, () => Unit)](
      "backfillMissingHours" -> (() => GhBackfill.backfillMissingHours(fresh,
        GhIngest.cleanEvents(GhIngest.readEventsJson(fresh, fixture.toString)),
        s"$root/backfill")),
      "startIngest" -> (() =>
        drained(GhIngest.startIngest(fresh, fixture.toString, s"$root/bronze", s"$root/ckpt"))),
      "startScoring" -> (() =>
        drained(GhIngest.startScoring(fresh, s"$root/bronze", s"$root/hourly", s"$root/ckpt-s"))),
      // two partial batches and their fold, whose marker the driver writes
      "compact" -> { () =>
        val docs = Tables.documents(fresh, sf)
        for (b <- 0L to 1L)
          ReportStream.processReportBatch(docs.filter(col("doc_id") % 2 === b), s"$root/report", b)
        ReportStream.compact(fresh, s"$root/report", 1L)
      },
      // its first batch stamps the state dir's `_format` marker
      "SubstringStream" -> (() => drained(SubstringStream.startDocStream(
        fresh, docDrop, s"$root/substring", s"$root/ckpt-d"))))
    val started = steps.map { case (name, run) => name -> processesStarted(run()) }
    val chmods = started.map { case (name, cmds) =>
      val own = cmds.filter(_.startsWith("chmod"))
      (name, own.size, own.take(3))
    }
    assert(chmods.forall(_._2 == 0), chmods)
    // the census sees a process this JVM starts
    assert(processesStarted(new ProcessBuilder("true").start().waitFor())
      .exists(_.startsWith("true")))
  }
}

object ProcessStartCensusSpec {

  /** The command line of every process this JVM starts while `body` runs. */
  def processesStarted(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-census", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }
}
