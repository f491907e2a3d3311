package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The partial-state policy of the 13 incremental serving structures,
  * in one place. Each structure keeps one or more [[PartialTable]]s:
  * every micro-batch lands its partial rows in its own batch_id
  * partition by dynamic overwrite, so an at-least-once foreachBatch
  * replay rewrites the batch's own partition instead of
  * double-counting it, and retention is dropping a batch_id partition.
  * A table's associative `merge` (sums re-sum, HLL unions re-union,
  * extrema re-extreme, disjoint rows pass through) both serves the
  * retained window and compacts it, so the two cannot drift apart.
  *
  * Compaction: after a long retention window the state accumulates one
  * partition per micro-batch, and while the MERGED view stays correct
  * at any partition count, thousands of tiny directories are an
  * operational cost (listing, open-per-file) every merge pays.
  * Compaction folds all partials with batch_id ≤ upTo into ONE partial
  * stored at batch_id = upTo; the merged view is unchanged because the
  * merge is associative — the compacted partial is just a pre-merged
  * prefix.
  *
  * SAFETY CONTRACT (documented, spec-pinned):
  *  - Call with upTo ≤ the stream's last COMMITTED batch id. foreachBatch
  *    replays target only uncommitted ids, so a replay can never
  *    overwrite a compacted prefix.
  *  - The fold is not atomic across the overwrite and the deletes. A
  *    `_graft_compacting` marker written first makes the operation
  *    RECOVERABLE: if a previous compaction died mid-way, the next
  *    `compact` call on the dir finishes its deletes before
  *    doing anything else. Readers between a crash and the recovery
  *    may double-count the prefix — run compaction from the single
  *    maintenance process that owns the state dir (the same ownership
  *    the stream's checkpoint already implies), as parquet compaction
  *    jobs do everywhere.
  *
  * Stream starts: every stream here starts through `startStream`. It
  * points the session's local file writes at [[LocalCheckpointFileManager]]
  * and [[NioLocalFileSystem]] (`installLocalFileIo`, which `GhBackfill`'s
  * hour write also runs), unless the deployment chose its own. On a
  * local path each checkpoint log write is then a temp file plus one
  * POSIX rename, not Spark's default FileContext rename, and no file or
  * directory a write creates forks a `chmod` process (Hadoop's way
  * without libhadoop); other schemes keep Spark's and Hadoop's defaults.
  * Those settings stay on the session after `start()`: the file source
  * writes its first log after `start()` returns, from the stream
  * thread, and reads the manager off the caller's session. The query's
  * own settings (a state width, artifact isolation off) hold only
  * while `start()` clones the session, so a restarted drain reuses the
  * code its previous run generated.
  */
object StateMaintenance {

  // the session's Hadoop conf, as its queries get it: the compaction
  // and removal markers are created through the file system that
  // `installLocalFileIo` set, like the partials themselves
  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** A parquet table read through the `schema` its writer fixes: no
    * schema-inference job, and a missing dir (nothing written yet) or one
    * whose partitions were all dropped reads as an empty frame of that
    * schema instead of throwing. */
  def readDeclared(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir)))
      spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** One batch_id-partitioned partial-state table: `sub` is its
    * directory under the state dir ("" = the state dir itself), `data`
    * the schema of the rows a batch lands (the `extras` partition
    * columns included), and `merge` the associative re-aggregation of
    * batch_id-stripped partial rows into one partial row-set. Every
    * write (append, compaction, removal) sorts each file's rows by
    * `sortBy`, so parquet's row-group statistics can skip rows on a
    * filter over those columns where a partition column would have
    * pruned directories. */
  final class PartialTable(sub: String, data: StructType,
                           extras: Seq[String] = Seq.empty,
                           merge: DataFrame => DataFrame = identity,
                           sortBy: Seq[String] = Seq.empty) {
    // data columns, then batch_id, then the extra partition columns —
    // the order partition discovery gives
    private val schema = StructType(
      data.filterNot(f => extras.contains(f.name)) ++
        (StructField("batch_id", LongType) +: extras.map(data(_))))

    private def path(stateDir: String) =
      if (sub.isEmpty) stateDir else s"$stateDir/$sub"

    /** The table's dir, after refusing one whose oldest batch is split
      * by an undeclared partition column (a `bands/` written while
      * `band` was one, a `postings/` while `tb` was): a write would mix
      * two layouts, which no read can list. A listing; reads no data. */
    private def writable(spark: SparkSession, stateDir: String): String = {
      val dir = path(stateDir)
      batchPartitions(spark, dir).minByOption(_._1).foreach { case (_, p) =>
        val undeclared = fs(spark, dir).listStatus(p).filter(_.isDirectory)
          .map(_.getPath.getName.takeWhile(_ != '=')).find(!extras.contains(_))
        require(undeclared.isEmpty, s"state table '$sub' at $dir splits its " +
          s"batches by '${undeclared.get}', which it does not partition by " +
          "(an earlier engine's layout) — wipe the state dir and rebuild " +
          "the state from its batch inputs")
      }
      dir
    }

    /** Land one micro-batch's partial in its own batch_id partition. */
    def append(part: DataFrame, stateDir: String, batchId: Long): Unit =
      overwrite(part.withColumn("batch_id", lit(batchId)), stateDir)

    /** Land rows that already carry their batch_id: every partition
      * they touch commits in ONE job. */
    def overwrite(rows: DataFrame, stateDir: String): Unit =
      overwritePartitions(rows, writable(rows.sparkSession, stateDir), extras, sortBy)

    /** Every retained partial row with its batch_id, or an empty frame
      * when no batch has landed yet — first-serve-before-first-batch
      * behaves identically for every structure. */
    def read(spark: SparkSession, stateDir: String): DataFrame =
      readDeclared(spark, path(stateDir), schema)

    /** The retained window: `merge` over every retained partial. */
    def merged(spark: SparkSession, stateDir: String): DataFrame =
      merge(read(spark, stateDir).drop("batch_id"))

    /** Fold every partial with batch_id ≤ upTo into one partial at
      * batch_id = upTo by `merge` (the algebra the merged view applies,
      * so the fold leaves it unchanged), keeping the `extras`
      * partitions. No-op when ≤ 1 partition is in range. */
    def compact(spark: SparkSession, stateDir: String, upTo: Long): Unit = {
      val dir = writable(spark, stateDir)
      recover(spark, dir)
      val inRange = batchPartitions(spark, dir).filter(_._1 <= upTo)
      if (inRange.size > 1) {
        val f = fs(spark, dir)
        // materialize the merged prefix BEFORE touching the directory —
        // Spark refuses to overwrite a path it is still reading from,
        // and a crash before any mutation must leave the state untouched
        val folded = merge(read(spark, stateDir)
            .filter(col("batch_id") <= upTo).drop("batch_id"))
          .withColumn("batch_id", lit(upTo))
          .localCheckpoint(true)
        overwritePartitions(folded, dir, extras, sortBy)
        // marker AFTER the merged write: from here the fold is complete
        // at upTo and recovery only needs to finish the deletes
        val out = f.create(marker(dir), true)
        try out.write(upTo.toString.getBytes("UTF-8")) finally out.close()
        inRange.filter(_._1 < upTo)
          .foreach { case (_, p) => f.delete(p, true) }
        f.delete(marker(dir), true)
      }
    }

    /** Excise a set of doc_ids from the table — the serving-path half
      * of x57's removal propagation (right-to-be-forgotten must reach
      * the index, or the ingest gate keeps matching content the corpus
      * no longer holds). Only the partitions that actually contain a
      * removed doc are rewritten (metadata-scale driver listing, same
      * class as compaction's); partitions left with zero survivors are
      * deleted outright, since a dynamic overwrite that writes no rows
      * for a partition leaves its old files in place. That deletion is
      * by batch_id, so the table may have no `extras`.
      *
      * Takedown lists are driver-small by nature (ids arrive as a list,
      * not a relation), which also makes the operation RECOVERABLE the
      * simple way: the ids are persisted into a `_graft_removing`
      * marker BEFORE any mutation, and removal is idempotent (anti-join
      * of an already-clean partition rewrites it unchanged), so a
      * crashed removal is re-applied from the marker on the next call.
      * Same single-owner contract as compaction. */
    def remove(spark: SparkSession, stateDir: String,
               removedIds: Seq[Long]): Unit = {
      require(extras.isEmpty, s"state table '$sub' has extra partitions")
      val dir = writable(spark, stateDir)
      val f = fs(spark, dir)
      if (!f.exists(new org.apache.hadoop.fs.Path(dir))) return
      // finish a crashed removal first (ids from its marker)
      if (f.exists(removalMarker(dir))) {
        val in = f.open(removalMarker(dir))
        val prior = try new String(in.readAllBytes(), "UTF-8").trim
          finally in.close()
        if (prior.nonEmpty)
          applyRemoval(spark, stateDir, prior.split("\n").map(_.toLong).toSeq)
        f.delete(removalMarker(dir), true)
      }
      if (removedIds.isEmpty) return
      val out = f.create(removalMarker(dir), true)
      try out.write(removedIds.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      applyRemoval(spark, stateDir, removedIds)
      f.delete(removalMarker(dir), true)
    }

    private def applyRemoval(spark: SparkSession, stateDir: String,
                             removedIds: Seq[Long]): Unit = {
      val dir = path(stateDir)
      val state = read(spark, stateDir)
      val affected = state.filter(col("doc_id").isin(removedIds: _*))
        .select(col("batch_id")).distinct()
        .collect().map(_.getLong(0)).toSeq
      if (affected.isEmpty) return
      // materialize survivors BEFORE mutating (Spark refuses to overwrite
      // a path it is reading; a crash before any mutation changes nothing)
      val survivors = state.filter(col("batch_id").isin(affected: _*))
        .filter(!col("doc_id").isin(removedIds: _*))
        .localCheckpoint(true)
      overwritePartitions(survivors, dir, extras, sortBy)
      val still = survivors.select(col("batch_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      affected.filterNot(still).foreach(b => fs(spark, dir).delete(
        new org.apache.hadoop.fs.Path(dir, s"batch_id=$b"), true))
    }
  }

  /** The replay-safe write: dynamic overwrite replaces exactly the
    * (batch_id +: extras) partitions `rows` carries and no other. With
    * `sortBy`, each task's rows are sorted by the partition columns and
    * then `sortBy`, which the writer's own partition ordering accepts
    * as is. */
  private def overwritePartitions(rows: DataFrame, dir: String,
                                  extras: Seq[String],
                                  sortBy: Seq[String]): Unit =
    (if (sortBy.isEmpty) rows
     else rows.sortWithinPartitions((("batch_id" +: extras) ++ sortBy).map(col): _*))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: extras: _*)
      .parquet(dir)

  /** Point `spark`'s local file writes at graft's two local writers:
    * stream checkpoints at [[LocalCheckpointFileManager]], and every
    * per-query Hadoop configuration (driver listings, task writers, the
    * checkpoint and state-store managers) at [[NioLocalFileSystem]] for
    * `file:`. Each is set only when neither the session nor its Hadoop
    * configuration names one already: a deployment's own manager or
    * file system wins. Called by `startStream` and by `GhBackfill`'s
    * hour write.
    *
    * The file system needs `fs.file.impl.disable.cache`: Hadoop caches
    * file systems by scheme and user, not by configuration, and the
    * session's warehouse check has already cached the default `file:`
    * one. So the file system is per session: driver code that resolves
    * a path through `sparkContext.hadoopConfiguration` gets the default.
    *
    * The settings are not restored after `start()`, unlike
    * `startStream`'s `confs`: a file source creates its `sources/0`
    * log on the stream thread after `start()` returns, through the
    * caller's session, so restored settings would send that log back
    * through Spark's defaults. */
  def installLocalFileIo(spark: SparkSession): Unit = {
    def unset(key: String) = spark.conf.getOption(key).isEmpty &&
      spark.sparkContext.hadoopConfiguration.get(key) == null
    if (unset(LocalCheckpointFileManager.ClassKey))
      spark.conf.set(LocalCheckpointFileManager.ClassKey,
        classOf[LocalCheckpointFileManager].getName)
    if (unset(NioLocalFileSystem.ImplKey)) {
      spark.conf.set(NioLocalFileSystem.ImplKey, classOf[NioLocalFileSystem].getName)
      spark.conf.set(s"${NioLocalFileSystem.ImplKey}.disable.cache", "true")
    }
  }

  /** The shared file-drop reader: a parquet readStream over `inputDir`
    * with the schema sniffed from the files already there, and at most
    * `maxFilesPerTrigger` files per micro-batch when given. */
  def fileDropReader(spark: SparkSession, inputDir: String,
                     maxFilesPerTrigger: Option[Int]): DataFrame = {
    val schema = spark.read.parquet(inputDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(inputDir)
  }

  /** The artifact-isolation key: the clone session `start()` makes for
    * the query copies it with the rest of the caller's conf. */
  private val IsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Start `writer`'s query: the one stream start of the program.
    * Local file IO is installed first (`installLocalFileIo`, kept on
    * the session). Then `confs`, plus `IsolationKey` = false unless the
    * session set that key itself, are set on `spark` around
    * `writer.start()`, which clones the session (conf included) into
    * the query, and every value is restored once it returns: a key the
    * session had not set is unset again, so other queries on `spark`
    * keep theirs.
    *
    * Why isolation is off: Spark caches generated code by (context
    * class loader, code). With isolation on, which is Spark's default,
    * the executors give each query's clone session a class loader of
    * its own, so every restart of a drain compiles its whole plan again
    * (about 17 classes for an ingest drain, 6 to 8 for a scoring drain).
    * Without it the clone runs in the executors' shared class loader
    * and a restart compiles only what changed, such as the watermark
    * predicates of a new batch. The trade:
    *  - a clone without isolation cannot see artifacts the caller added
    *    with `addArtifact`;
    *  - the stream plans here use only classes on the application class
    *    path, so they need none;
    *  - a deployment that sets the key keeps its value. The key is read
    *    from `spark.conf.getAll`, not `getOption`, which would report
    *    the default as a value the session set;
    *  - Spark fixes a session's own isolation at its first use of its
    *    artifacts, so a session whose first action is a stream start
    *    fixes it there, with the key false, and runs its later queries
    *    without isolation too. */
  def startStream(spark: SparkSession, writer: DataStreamWriter[_],
                  confs: Map[String, String] = Map.empty): StreamingQuery = {
    installLocalFileIo(spark)
    val own = spark.conf.getAll
    val set = confs ++
      (if (own.contains(IsolationKey)) Map.empty else Map(IsolationKey -> "false"))
    try {
      set.foreach { case (k, v) => spark.conf.set(k, v) }
      writer.start()
    }
    finally set.keys.foreach(k => own.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
  }

  /** The shared file-drop maintenance-stream skeleton: `fileDropReader`
    * → foreachBatch(processor) → AvailableNow
    * (drain-and-stop; a 24/7 deployment swaps in a processing-time
    * trigger). One definition so the trigger/checkpoint discipline of
    * every incremental structure changes in one place. */
  def startFileDropStream(spark: SparkSession, inputDir: String,
                          checkpointDir: String,
                          maxFilesPerTrigger: Option[Int])(
      processor: (DataFrame, Long) => Unit): StreamingQuery =
    startStream(spark, fileDropReader(spark, inputDir, maxFilesPerTrigger)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(processor)
      .trigger(Trigger.AvailableNow()))

  private def batchPartitions(spark: SparkSession,
                              dir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .map(st => (st.getPath.getName.stripPrefix("batch_id=").toLong, st.getPath))
  }

  private def marker(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_graft_compacting")

  /** Read the marker's upTo if a previous compaction died mid-way. */
  private def pendingUpTo(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    if (!f.exists(marker(dir))) None
    else {
      val in = f.open(marker(dir))
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** Finish an interrupted compaction: the merged prefix already lives
    * at batch_id = upTo (it is written before the marker's deletes
    * begin), so recovery = delete the remaining strictly-older
    * partitions and drop the marker. */
  private def recover(spark: SparkSession, dir: String): Unit =
    pendingUpTo(spark, dir).foreach { upTo =>
      val f = fs(spark, dir)
      batchPartitions(spark, dir)
        .filter(_._1 < upTo)
        .foreach { case (_, path) => f.delete(path, true) }
      f.delete(marker(dir), true)
    }

  private def removalMarker(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_graft_removing")
}
