package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round evidence tool: dump `.explain("formatted")` for
  * registered queries to one file per query, plus the FINAL AQE
  * executed plan (after a noop-sink run) appended under a separator —
  * the formatted section shows PushedFilters/ReadSchema/codegen spans,
  * the executed section shows what AQE actually did (coalesced reads,
  * runtime join strategy).
  *
  *   sbt "Test/runMain graft.PlanDump <sfDir> <outDir> [q1,q2,...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/r17/dump")
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    new java.io.File(outDir).mkdirs()
    val spark = GraftSession().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sf)
        val formatted =
          df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        df.write.format("noop").mode("overwrite").save()
        val executed = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val w = new java.io.PrintWriter(s"$outDir/$name.txt", "UTF-8")
        try {
          w.println(s"== explain(formatted) @ $sf ==")
          w.println(formatted)
          w.println("== Final AQE executed plan ==")
          w.println(executed)
        } finally w.close()
        println(s"dumped $name")
      } catch {
        case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
