package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round evidence tool for the x69/x72 mining core: the
  * served plans truncate at the counted-pin localCheckpoint (the
  * x56/x35 precedent), so the probe stage's own plan — where the
  * per-anchor centroid ranking lives — never appears in PlanDump
  * output. This dumps hardNegProbeStage's candidate-side plan the same
  * way PlanAuditSpec pins it.
  *
  *   sbt "Test/runMain graft.ProbeStagePlan <sfDir> <outFile>"
  */
object ProbeStagePlan {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("plans/r18/x72_probe_stage.txt")
    val spark = GraftSession().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val aids = graft.Tables.embeddings(spark, sf)
      .select($"vec_id".as("qid")).limit(600).localCheckpoint(false)
    val (_, candidates) = graft.operators.SimilarityOps
      .hardNegProbeStage(spark, sf, aids, pinAnchors = true)
    val formatted = candidates.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    candidates.write.format("noop").mode("overwrite").save()
    val executed = candidates.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    Option(new java.io.File(out).getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println(s"== probe-stage candidates: explain(formatted) @ $sf ==")
      w.println(formatted)
      w.println("== Final AQE executed plan ==")
      w.println(executed)
    } finally w.close()
    println(s"dumped probe stage to $out")
    spark.stop()
  }
}
