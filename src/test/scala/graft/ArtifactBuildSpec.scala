package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import graft.operators.ArtifactBuild

/** The ensure protocol under concurrency: parallel test suites (and
  * concurrent serving queries on a cold index) race into `ensure` for
  * the same content-keyed path. The regression this pins: the loser of
  * the race must NOT run its crash-recovery delete against the
  * artifact the winner just completed — with `readCached` pinning file
  * listings per session, that delete turned one transient race into
  * session-lifetime FAILED_READ_FILE (the r7 CoreQueriesSpec /
  * PlanAuditSpec failures on the phrase index). */
class ArtifactBuildSpec extends AnyFunSuite with SparkTestSession {

  test("concurrent ensures build exactly once and never delete a completed artifact") {
    val root = java.nio.file.Files.createTempDirectory("graft-ensure-race")
    val path = s"$root/artifact"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def ensureOnce(): String = ArtifactBuild.ensure(
      spark, path, "part/_MARKER") { staging =>
      builds.incrementAndGet()
      // slow build widens the race window the lock must close
      Thread.sleep(50)
      val part = new Path(staging, "part")
      fs.mkdirs(part)
      fs.create(new Path(part, "data-" + System.nanoTime())).close()
      fs.create(new Path(part, "_MARKER")).close()
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] { def call(): String = ensureOnce() }))
      futures.foreach(_.get())
    } finally pool.shutdown()

    assert(builds.get() === 1, "the marker re-check under the lock must " +
      "make every later ensure a no-op")
    val files = fs.listStatus(new Path(path, "part")).map(_.getPath.getName).toSet
    assert(files.exists(_.startsWith("data-")) && files.contains("_MARKER"))

    // a completed artifact is terminal: re-ensure never rebuilds, and
    // the exact file set (what a cached relation pins) survives
    ensureOnce()
    assert(builds.get() === 1)
    assert(fs.listStatus(new Path(path, "part"))
      .map(_.getPath.getName).toSet === files,
      "re-ensure must leave the pinned file listing untouched")
  }

  test("a foreign lock blocks the rebuild; the waiter no-ops on the winner's marker") {
    // simulates a SECOND JVM holding <path>.lock mid-build: this
    // process's ensure must wait, and once the "other process" lands
    // the marker and releases, the waiter must find it complete and
    // never run its destructive rebuild
    val root = java.nio.file.Files.createTempDirectory("graft-ensure-xjvm")
    val path = s"$root/artifact"
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(path + ".lock"), false).close()   // foreign JVM's lock
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val waiter = new Thread(() => {
      ArtifactBuild.ensure(spark, path, "part/_MARKER") { _ =>
        builds.incrementAndGet()
      }
    })
    waiter.start()
    Thread.sleep(600)   // the waiter is polling behind the lock
    assert(waiter.isAlive, "ensure must wait behind a fresh foreign lock")
    // the foreign JVM completes the artifact and releases its lock
    val part = new Path(path, "part")
    fs.mkdirs(part)
    fs.create(new Path(part, "data-foreign")).close()
    fs.create(new Path(part, "_MARKER")).close()
    fs.delete(new Path(path + ".lock"), false)
    waiter.join(15000)
    assert(!waiter.isAlive)
    assert(builds.get() === 0,
      "the waiter must no-op on the winner's completed artifact")
    assert(fs.exists(new Path(part, "data-foreign")),
      "the winner's files must survive untouched")
  }

  test("a stale foreign lock is broken and the build proceeds") {
    val prevStale = sys.props.get("graft.artifact.lock.staleMs")
    sys.props("graft.artifact.lock.staleMs") = "2000"
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-ensure-stale")
      val path = s"$root/artifact"
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lock = new Path(path + ".lock")
      fs.create(lock, false).close()
      fs.setTimes(lock, System.currentTimeMillis() - 10000, -1)  // crashed builder
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      ArtifactBuild.ensure(spark, path, "part/_MARKER") { staging =>
        builds.incrementAndGet()
        val part = new Path(staging, "part")
        fs.mkdirs(part)
        fs.create(new Path(part, "_MARKER")).close()
      }
      assert(builds.get() === 1, "a stale lock must be broken, not waited on")
      assert(fs.exists(new Path(path, "part/_MARKER")))
      assert(!fs.exists(lock), "the lock must be released after the build")
    } finally prevStale match {
      case Some(v) => sys.props("graft.artifact.lock.staleMs") = v
      case None => sys.props.remove("graft.artifact.lock.staleMs")
    }
  }

  test("release is by-owner: a usurped lock is never deleted by the old holder") {
    // simulates the overlong-build scenario: while this process's
    // build runs, a peer breaks the (presumed-stale) lock and creates
    // its own. The old holder's finally-release must verify ownership
    // and leave the peer's lock in place — deleting it would let a
    // THIRD builder start concurrently with the peer's build.
    val root = java.nio.file.Files.createTempDirectory("graft-ensure-own")
    val path = s"$root/artifact"
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(path + ".lock")
    ArtifactBuild.ensure(spark, path, "part/_MARKER") { staging =>
      // a peer "breaks" our lock mid-build and installs its own
      fs.delete(lock, false)
      val out = fs.create(lock, false)
      out.write("peer-FFFF".getBytes("UTF-8")); out.close()
      val part = new Path(staging, "part")
      fs.mkdirs(part)
      fs.create(new Path(part, "_MARKER")).close()
    }
    assert(fs.exists(lock),
      "the peer's lock must survive the old holder's release")
    val in = fs.open(lock)
    val buf = new Array[Byte](64); val n = in.read(buf); in.close()
    assert(new String(buf, 0, n, "UTF-8") === "peer-FFFF")
    fs.delete(lock, false)
  }

  test("release reaps a broken capture of its own lock; leaves foreign ones") {
    // the breaker's rename-aside window: a breaker renamed our
    // heartbeat-fresh lock to <lock>.broken-<breakerToken> and is
    // about to re-check freshness. If we release RIGHT NOW, the lock
    // file is gone (plain release would no-op) and the breaker's
    // rename-back would re-install a lock whose holder has exited —
    // an orphan blocking all acquirers for a full staleLockMs.
    // Release must delete the captured file that still carries OUR
    // token (making the rename-back fail harmlessly) and must NOT
    // touch captures carrying someone else's token.
    val root = java.nio.file.Files.createTempDirectory("graft-ensure-reap")
    val fs = new Path(root.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(s"$root/artifact.lock")
    val token = ArtifactBuild.acquireCrossJvmLock(fs, lock)
    val mine = new Path(lock.toString + ".broken-breakerA")
    assert(fs.rename(lock, mine))   // the breaker captures our lock
    val foreign = new Path(lock.toString + ".broken-breakerB")
    val out = fs.create(foreign, false)
    out.write("someone-else".getBytes("UTF-8")); out.close()
    ArtifactBuild.releaseCrossJvmLock(fs, lock, token)
    assert(!fs.exists(mine),
      "release must reap the broken capture carrying its own token")
    assert(fs.exists(foreign),
      "release must not touch a capture carrying a foreign token")
    fs.delete(foreign, false)
  }

  test("a heartbeating long build is never usurped; a dead holder's lock still is") {
    // the round-10 verdict's remaining lock exposure: a legitimate
    // build running past staleLockMs used to have its lock broken and
    // a peer would start a SECOND destructive rebuild concurrently.
    // The holder heartbeat refreshes the lock mtime during the build,
    // so a real contender (second JVM, simulated here by calling the
    // cross-JVM acquire directly, bypassing the in-process lock) must
    // keep waiting for the whole 4x-staleLockMs build — while a lock
    // whose holder died (no heartbeats; old mtime) is still broken.
    // staleLockMs=2000 with a ~666ms heartbeat leaves ~1.3s of margin:
    // a GC/scheduler stall between heartbeats on a loaded box must not
    // let the contender break a LIVE holder and flake the test (the
    // original 600/200 margin was ~400ms — one bad pause).
    val prevStale = sys.props.get("graft.artifact.lock.staleMs")
    sys.props("graft.artifact.lock.staleMs") = "2000"
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-ensure-hb")
      val path = s"$root/artifact"
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lock = new Path(path + ".lock")
      val contenderToken =
        new java.util.concurrent.atomic.AtomicReference[String](null)
      @volatile var usurpedDuringBuild = false
      ArtifactBuild.ensure(spark, path, "part/_MARKER") { staging =>
        val contender = new Thread(() =>
          contenderToken.set(ArtifactBuild.acquireCrossJvmLock(fs, lock)))
        contender.setDaemon(true)
        contender.start()
        Thread.sleep(8000)   // 4x staleLockMs — pre-heartbeat, usurped by ~2s
        usurpedDuringBuild = contenderToken.get() != null
        val part = new Path(staging, "part")
        fs.mkdirs(part)
        fs.create(new Path(part, "_MARKER")).close()
      }
      assert(!usurpedDuringBuild,
        "a live heartbeating holder must never look stale to a breaker")
      // once the holder releases, the contender's poll must win promptly
      val deadline = System.currentTimeMillis() + 10000
      while (contenderToken.get() == null && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(contenderToken.get() != null,
        "the contender must acquire as soon as the holder releases")
      ArtifactBuild.releaseCrossJvmLock(fs, lock, contenderToken.get())

      // the flip side: a holder that DIED (mtime frozen in the past,
      // no heartbeat) must still be broken, not waited on forever
      val out = fs.create(lock, false)
      out.write("dead-holder".getBytes("UTF-8")); out.close()
      fs.setTimes(lock, System.currentTimeMillis() - 5000, -1)
      val t0 = System.currentTimeMillis()
      val token = ArtifactBuild.acquireCrossJvmLock(fs, lock)
      assert(System.currentTimeMillis() - t0 < 5000,
        "a dead holder's stale lock must be broken promptly")
      ArtifactBuild.releaseCrossJvmLock(fs, lock, token)
    } finally prevStale match {
      case Some(v) => sys.props("graft.artifact.lock.staleMs") = v
      case None => sys.props.remove("graft.artifact.lock.staleMs")
    }
  }

  test("ensure is marker-complete under session-global dynamic partition overwrite") {
    // Under partitionOverwriteMode=dynamic the commit protocol leaves
    // _SUCCESS in its commit-staging dir, not the destination — which
    // used to strip the completion marker from any partitionBy-written
    // artifact piece and turn EVERY later ensure into a destructive
    // rebuild against pinned listings (the r7/r8 phrase-index
    // FAILED_READ_FILE flake, triggered by suite order). ensure now
    // places the marker itself after the atomic rename.
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-ensure-dyn")
      val path = s"$root/artifact"
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def ensureOnce(): String = ArtifactBuild.ensure(
        spark, path, "part/_SUCCESS") { staging =>
        builds.incrementAndGet()
        spark.range(10).selectExpr("id", "id % 2 AS p")
          .write.mode("overwrite").partitionBy("p")
          .parquet(new Path(staging, "part").toString)
      }
      ensureOnce()
      assert(fs.exists(new Path(path, "part/_SUCCESS")),
        "marker must exist even when the committer skips _SUCCESS")
      val files = fs.listStatus(new Path(path, "part"))
        .map(_.getPath.getName).toSet
      ensureOnce()
      assert(builds.get() === 1, "re-ensure must not rebuild")
      assert(fs.listStatus(new Path(path, "part"))
        .map(_.getPath.getName).toSet === files,
        "the pinned file listing must survive re-ensure")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("an interrupted build releases its lock and leaves no marker") {
    val root = java.nio.file.Files.createTempDirectory("graft-ensure-interrupt")
    val path = s"$root/artifact"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val slowMs = 60000L
    // a build whose one Spark job runs for slowMs unless its tasks are
    // killed (they poll the kill flag, so a cancel frees the cores)
    def slowBuild(staging: Path): Unit = {
      spark.sparkContext.parallelize(1 to 2, 2).foreach { _ =>
        val t0 = System.currentTimeMillis()
        while (!org.apache.spark.TaskContext.get().isInterrupted() &&
          System.currentTimeMillis() - t0 < slowMs) Thread.sleep(20)
      }
      fs.mkdirs(staging)
      fs.create(new Path(staging, "_MARKER")).close()
    }
    val tag = s"graft-interrupt-${java.util.UUID.randomUUID()}"
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val builder = new Thread(() => {
      spark.sparkContext.addJobTag(tag)
      try ArtifactBuild.ensure(spark, path, "_MARKER")(slowBuild)
      catch { case e: Throwable => failed.set(e) }
    })
    val t0 = System.nanoTime()
    builder.start()
    Thread.sleep(1000)   // the build's job is running by now
    spark.sparkContext.cancelJobsWithTag(tag)
    builder.interrupt()
    builder.join()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(failed.get() != null, "the cancelled build must fail")
    assert(secs < slowMs / 2000.0, s"the cancelled build took $secs s to stop")
    // no marker and no lock left behind, so the next ensure rebuilds
    // the artifact from scratch
    assert(!fs.exists(new Path(path, "_MARKER")))
    assert(!fs.exists(new Path(path + ".lock")))
    ArtifactBuild.ensure(spark, path, "_MARKER") { staging =>
      fs.mkdirs(staging)
      fs.create(new Path(staging, "_MARKER")).close()
    }
    assert(fs.exists(new Path(path, "_MARKER")))
  }
}
