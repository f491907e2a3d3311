package graft

/** Rung runner for the BPE SEGMENT path: bpeSegment is an
  * LLM-pipeline operator with no registered query, so the bench ladder
  * never exercises its word-type-proportional joins — this main trains
  * a tokenizer on the rung corpus, segments the corpus through the
  * noop sink, and prints one JSON line with the training and
  * segmentation walls.
  *
  *   SPARK_DRIVER_MEM=... sbt "Test/runMain graft.BpeSegmentRun <dir> [nMerges]"
  */
object BpeSegmentRun {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = GraftSession().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val t0 = System.nanoTime()
    val (merges, vocab) = graft.operators.BpeOps.bpeTrain(docs, nMerges)
    // force the training chain (its checkpoints are lazy)
    val nMergeRows = merges.count()
    val trainSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    graft.operators.BpeOps.bpeSegment(docs, merges, vocab)
      .write.format("noop").mode("overwrite").save()
    val segSec = (System.nanoTime() - t1) / 1e9
    println(s"""BPESEG {"dir":${Json.str(dir)},"n_merges":$nMerges,""" +
      s""""merge_rows":$nMergeRows,"train_sec":$trainSec,""" +
      s""""segment_sec":$segSec}""")
    spark.stop()
  }
}
