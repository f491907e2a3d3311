package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The ONE copy of the content-keyed staged-rename build protocol every
  * materialized artifact (ANN/IVF/IVF-PQ/BM25 indexes, LM and DSIR
  * models) runs:
  *
  *  - an artifact is COMPLETE iff its marker file (`markerRel`, the
  *    `_SUCCESS` of the LAST-written piece) exists under `path`;
  *  - a directory without the marker is a crashed prior build and is
  *    cleared;
  *  - the build writes into a process-unique staging dir, then renames
  *    into place: concurrent JVMs each stage privately, exactly one
  *    rename wins, and the loser discards its staging copy — no reader
  *    can observe a half-written artifact.
  *
  * Kept in one place so a fix to the rename-race or crash-recovery
  * logic cannot silently miss a builder.
  */
private[graft] object ArtifactBuild {

  /** Cached read of an IMMUTABLE artifact relation. Ensure-built
    * artifacts live at content-keyed paths (a regenerated corpus is a
    * NEW path), so the analyzed relation can never go stale — while
    * re-reading per query re-lists the partition tree, which for a
    * bucket/term-partitioned index (hundreds of directories) exceeds
    * the parallel-discovery threshold and schedules a listing Spark
    * JOB on every serving query. Weakly keyed by the session so test
    * sessions never alias and entries evict with their session;
    * in-process only, like Tables' cache. Mutable state dirs
    * (streaming `sets/bands/labels` batches) must NOT go through
    * this — they read through StateMaintenance.PartialTable. */
  private val readCache = new graft.SessionCache[org.apache.spark.sql.DataFrame]

  def readCached(s: SparkSession, path: String): org.apache.spark.sql.DataFrame =
    readCache.get(s, path)(s.read.parquet(path))

  /** One lock object per artifact path: `ensure` must serialize
    * IN-PROCESS. Without it, two concurrent ensures (parallel test
    * suites, concurrent serving queries on a cold index) can both see
    * the marker missing, and the slower one's crash-recovery `delete`
    * destroys the artifact the faster one just completed — which
    * `readCached` then pins as missing files for the session's
    * lifetime. (The map never evicts: one Object per distinct
    * artifact path ever ensured in-process — bounded and byte-sized,
    * unlike the relation caches above.) */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** A lock whose mtime has not advanced for this long is presumed
    * crashed and is broken. Live holders refresh the mtime every
    * staleLockMs/3 via [[LockHeartbeat]], so a legitimate build may
    * run arbitrarily long past this threshold without being usurped;
    * only a holder that died (no more heartbeats) ever looks stale.
    * Overridable per process. */
  private def staleLockMs: Long =
    sys.props.getOrElse("graft.artifact.lock.staleMs", "600000").toLong

  private val LockPollMs = 250L
  /** Non-contention create failures tolerated before surfacing: a
    * create that fails while the lock file does NOT exist is a real FS
    * error (permissions, quota, bad path), not contention — retried a
    * few times for transient blips, then thrown instead of looping
    * forever indistinguishably from "lock held". */
  private val LockCreateFailLimit = 8
  /** Waiting-on-lock log cadence. */
  private val LockLogEveryMs = 30000L

  /** TEST SEAMS (chaos specs only — default no-ops): `onStaleObserved`
    * fires after the staleness read sees a stale mtime and BEFORE the
    * break rename (the window a live holder's heartbeat refresh can
    * race into, forcing the freshAfterAll give-back path);
    * `onOrphanReap` fires when a breaker reaps a lock it itself
    * restored whose mtime never advanced (the r15 fast-reap). */
  private[graft] var onStaleObserved: Path => Unit = _ => ()
  private[graft] var onOrphanReap: Path => Unit = _ => ()

  /** CROSS-JVM mutual exclusion around the destructive rebuild: an
    * atomic create of `<path>.lock` (HDFS create-no-overwrite is
    * atomic; the local FS check-then-create is not perfectly so, but
    * shrinks the unprotected window from the whole build to one
    * syscall pair). Returns an OWNER TOKEN once this process holds the
    * lock; the token is written into the lock file so release (and
    * only release-by-owner) can verify the lock is still ours — a
    * build that outlives [[staleLockMs]] and has its lock broken by a
    * peer must NOT then delete the peer's fresh lock from its
    * `finally`. A lock whose mtime is older than [[staleLockMs]]
    * belonged to a crashed builder and is broken by RENAME to a
    * breaker-unique name (exactly one concurrent breaker's rename
    * wins, closing the break-break race), with a post-rename mtime
    * re-check that restores a lock that turned out to be fresh.
    * Losers poll rather than fail so that two driver processes
    * cold-starting the same index serialize instead of destroying
    * each other's rename. */
  private[graft] def acquireCrossJvmLock(fs: org.apache.hadoop.fs.FileSystem,
                                         lock: Path): String = {
    val token =
      s"${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID()}"
    var createFails = 0
    var lastLog = System.currentTimeMillis()
    // set after THIS breaker gives a captured lock back (freshAfterAll
    // rename-back): (mtime the restored lock carried, when). If that
    // mtime never advances past 1.5 heartbeat intervals, no heartbeat
    // exists — the restored lock is an orphan WE re-installed (its
    // holder released during the capture window and found nothing to
    // delete) and is reaped immediately instead of after staleLockMs.
    var restored: Option[(Long, Long)] = None
    // first time a frozen mtime was observed PAST the fast-reap wait:
    // the reap needs a SECOND frozen observation a full heartbeat
    // interval (staleLockMs/3) later, so a live holder whose single
    // heartbeat was merely delayed (GC pause, FS hiccup) gets the
    // same ~2.5-interval usurpation budget as the normal stale path
    // instead of the 1.5-interval budget one observation would give
    var frozenSince: Option[Long] = None
    while (true) {
      try {
        val out = fs.create(lock, false)
        try out.write(token.getBytes("UTF-8")) finally out.close()
        return token
      } catch { case e: java.io.IOException =>
        val exists =
          try fs.exists(lock) catch { case _: java.io.IOException => false }
        if (!exists) {
          // not contention — a persistent FS failure must surface
          createFails += 1
          if (createFails >= LockCreateFailLimit)
            throw new java.io.IOException(
              s"artifact lock create keeps failing without contention: $lock", e)
        } else {
          createFails = 0
          val now = System.currentTimeMillis()
          val mtime =
            try Some(fs.getFileStatus(lock).getModificationTime)
            catch { case _: java.io.FileNotFoundException => None }
          // own-orphan fast-reap: mtime frozen across our capture,
          // restore, AND 1.5 heartbeat intervals — a live holder's
          // heartbeat (every staleLockMs/3) would have advanced it —
          // CONFIRMED by a second frozen observation a full heartbeat
          // interval after the first (one observation alone would
          // halve the live holder's usurpation tolerance)
          val frozenNow = restored.exists { case (mt, at) =>
            now - at > staleLockMs / 2 && mtime.contains(mt)
          }
          val ownOrphan = frozenNow &&
            frozenSince.exists(t0 => now - t0 >= staleLockMs / 3)
          if (frozenNow && frozenSince.isEmpty) frozenSince = Some(now)
          if (!frozenNow && !restored.exists { case (mt, _) =>
                mtime.contains(mt) }) frozenSince = None
          restored = restored.filter { case (mt, _) => mtime.contains(mt) }
          val stale = ownOrphan ||
            mtime.exists(_ < now - staleLockMs)
          if (stale) {
            onStaleObserved(lock)
            // break by rename: only one breaker can win the rename
            val broken = new Path(
              lock.toString + s".broken-$token")
            val won =
              try fs.rename(lock, broken)
              catch { case _: java.io.IOException => false }
            if (won) {
              // re-check on the captured file: if the lock was in fact
              // refreshed between the staleness read and the rename,
              // give it back instead of orphaning a live holder —
              // UNLESS this is our own restored orphan, whose frozen
              // mtime already proved no holder is heartbeating it
              val capturedMtime = try {
                Some(fs.getFileStatus(broken).getModificationTime)
              } catch { case _: java.io.FileNotFoundException => None }
              // an own-orphan reap is only valid while the mtime is
              // STILL the frozen one — a heartbeat waking up between
              // the frozen read and the rename advances it, and the
              // holder it proves alive gets the lock back
              val freshAfterAll =
                (if (ownOrphan) !capturedMtime.exists(m =>
                    restored.exists(_._1 == m))
                 else false) ||
                (!ownOrphan && capturedMtime.exists(_ >= now - staleLockMs))
              if (freshAfterAll) {
                if (fs.rename(broken, lock)) {
                  restored = capturedMtime.map((_, now))
                  frozenSince = None
                } else fs.delete(broken, false)
              } else {
                fs.delete(broken, false)
                if (ownOrphan) onOrphanReap(lock)
              }
            }
          } else if (now - lastLog >= LockLogEveryMs) {
            lastLog = now
            System.err.println(
              s"[graft] waiting on artifact lock $lock (held by a peer " +
              s"builder; broken as stale after ${staleLockMs / 1000}s)")
          }
          if (!stale) Thread.sleep(LockPollMs)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** True iff the lock file currently carries exactly `token`. The
    * read LOOPS until the buffer fills or EOF: a legal short read
    * would otherwise make the holder's own heartbeat and release see
    * a foreign token — the heartbeat stops refreshing and the lock is
    * orphaned until staleness expiry. */
  private def holdsToken(fs: org.apache.hadoop.fs.FileSystem,
                         lock: Path, token: String): Boolean =
    try {
      val in = fs.open(lock)
      try {
        val buf = new Array[Byte](token.getBytes("UTF-8").length + 1)
        var n = 0
        var r = 0
        while (n < buf.length && r >= 0) {
          r = in.read(buf, n, buf.length - n)
          if (r > 0) n += r
        }
        n > 0 && new String(buf, 0, n, "UTF-8") == token
      } finally in.close()
    } catch { case _: java.io.IOException => false }

  /** Release only if the lock still carries our token — if a peer broke
    * our (overlong) hold and acquired its own lock, leave it alone.
    * Also reaps any `.broken-*` capture still carrying our token: if a
    * breaker renamed our (heartbeat-fresh) lock aside in the window
    * between its staleness read and its rename-back re-check, the
    * holder releasing RIGHT THEN would see no lock file and no-op,
    * and the breaker's rename-back would re-install a lock whose
    * holder is gone — an orphan blocking acquirers. Deleting our
    * broken capture here makes the breaker's rename-back fail instead
    * (it tolerates that). The orphan paths that survive the glob are
    * closed from the OTHER side (r15): (a) while a capture is
    * outstanding, the holder's heartbeat RE-INSTALLS the lock
    * (create-no-overwrite), so a breaker's rename-back of a live
    * holder's lock fails and the capture is discarded — and stop()
    * joins the heartbeat thread, so a straggler tick can never
    * resurrect after release deletes; (b) a breaker that DOES restore
    * a lock via rename-back remembers the restored mtime and, if it
    * stays frozen past 1.5 heartbeat intervals (no holder is
    * refreshing it — the holder released into the capture window and
    * found nothing to delete), reaps its own orphan immediately
    * (ArtifactChaosSpec forces both interleavings). No interleaving
    * deletes a LIVE peer's lock: every delete here is token-guarded,
    * the fast-reap requires an mtime frozen across capture + restore
    * + 1.5 intervals and re-verifies it POST-capture, and a heartbeat
    * that wakes inside that last window gets the lock handed back. */
  private[graft] def releaseCrossJvmLock(fs: org.apache.hadoop.fs.FileSystem,
                                         lock: Path, token: String): Unit = {
    if (holdsToken(fs, lock, token)) fs.delete(lock, false)
    else {
      try {
        val pat = new Path(lock.toString + ".broken-*")
        val captures = Option(fs.globStatus(pat)).getOrElse(Array.empty)
        captures.foreach { st =>
          if (holdsToken(fs, st.getPath, token)) fs.delete(st.getPath, false)
        }
      } catch { case scala.util.control.NonFatal(_) => }
      // rename-back raced the glob: the lock is ours again — remove it
      if (holdsToken(fs, lock, token)) fs.delete(lock, false)
    }
  }

  /** Holder-side liveness signal: while a build runs, a daemon thread
    * refreshes the lock file's mtime every [[staleLockMs]]/3, so the
    * breaker's staleness predicate (`mtime < now - staleLockMs`) can
    * only ever fire against a CRASHED holder — a legitimate build
    * running arbitrarily long past the threshold keeps its lock and
    * is never usurped by a peer's concurrent (destructive) rebuild.
    * The refresh is guarded by a token re-read: if a peer somehow
    * broke the lock anyway (extreme clock skew), the heartbeat must
    * not resurrect or re-stamp the PEER's lock. ALL refresh failures
    * are swallowed (NonFatal, not just IOException — some FileSystem
    * wrappers throw UnsupportedOperationException or other runtime
    * errors from setTimes, and an escaping throw would kill the
    * thread and silently revert to the pre-heartbeat usurpation
    * race): a lost heartbeat degrades to that narrowed race, never
    * widens it. A filesystem that does not support setTimes at all is
    * logged once and the thread exits — every subsequent tick would
    * fail identically. */
  private[graft] final class LockHeartbeat(
      fs: org.apache.hadoop.fs.FileSystem, lock: Path, token: String) {
    private val intervalMs = math.max(50L, staleLockMs / 3)
    @volatile private var stopped = false
    private val thread = new Thread(() => {
      while (!stopped) {
        try Thread.sleep(intervalMs)
        catch { case _: InterruptedException => }
        if (!stopped) {
          try {
            if (holdsToken(fs, lock, token))
              fs.setTimes(lock, System.currentTimeMillis(), -1)
            else if (!stopped && !fs.exists(lock)) {
              // a breaker has the lock CAPTURED (renamed aside) while
              // it re-evaluates freshness: re-install our lock so the
              // breaker's rename-back fails and it discards its
              // capture — the holder, not the breaker, is the source
              // of truth for "still building". create-no-overwrite:
              // if a peer legitimately owns a new lock by now, this
              // throws and we leave it alone. Safe against the
              // straggler-resurrect-after-release race because
              // stop() JOINS this thread before release touches the
              // lock file.
              val out = fs.create(lock, false)
              try out.write(token.getBytes("UTF-8")) finally out.close()
            }
          } catch {
            case _: UnsupportedOperationException =>
              System.err.println(
                s"[graft] $fs does not support setTimes — artifact lock " +
                s"$lock cannot heartbeat; builds longer than " +
                s"${staleLockMs / 1000}s may be usurped as stale")
              stopped = true
            case scala.util.control.NonFatal(_) =>
          }
        }
      }
    }, s"graft-artifact-lock-heartbeat")
    thread.setDaemon(true)
    def start(): this.type = { thread.start(); this }
    /** Stop AND JOIN: release deletes the lock file right after this
      * returns, and an in-flight tick that already passed its
      * `stopped` check could otherwise resurrect the lock AFTER the
      * delete — an orphan no heartbeat will ever refresh. Joining
      * makes "heartbeat fully dead" a precondition of release. */
    def stop(): Unit = {
      stopped = true; thread.interrupt()
      try thread.join(10000) catch { case _: InterruptedException => }
    }
  }

  /** Name of the artifact metadata file recording the source-file
    * listing (the content-key parts, one per line) the artifact was
    * built from. Written by incremental-capable builders so a LATER
    * build of the same (kind, corpus, version) family can recognize
    * this artifact as an append-base: if its parts are a strict
    * subset of the new listing, the corpus grew by exactly the
    * missing files and the builder may MERGE the delta into this
    * artifact's state instead of re-scanning the whole corpus. */
  val ListingRel = "_listing"

  def writeListing(fs: org.apache.hadoop.fs.FileSystem, staging: Path,
                   parts: Seq[String]): Unit = {
    val out = fs.create(new Path(staging, ListingRel))
    try out.write(parts.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** Find the best append-base among completed sibling artifacts:
    * scan `indexRoot` for `prefix*` directories carrying the
    * completion marker and a `_listing` that is a non-empty STRICT
    * subset of `currentParts` (parts are `name:len:mtime` — a file
    * modified in place changes its part and disqualifies subset-ness,
    * so only true appends match). Returns the base with the largest
    * covered listing. Cost: one directory listing + one tiny metadata
    * read per candidate — never a data read. */
  def findAppendBase(s: SparkSession, indexRoot: String, prefix: String,
                     currentParts: Seq[String], markerRel: String)
      : Option[(String, Set[String])] = {
    val rootPath = new Path(indexRoot)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val cur = currentParts.toSet
    val cands =
      // hidden (dot/underscore-prefixed) dirs are private build state
      // (staging, committer temp) — never candidates, even when a
      // carried-over marker+listing makes one look momentarily
      // complete mid-mutation
      try fs.listStatus(rootPath).filter(st =>
        st.isDirectory && st.getPath.getName.startsWith(prefix) &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
      catch { case _: java.io.IOException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    cands.toSeq.flatMap { st =>
      val p = st.getPath
      try {
        if (!fs.exists(new Path(p, markerRel))) None
        else {
          val in = fs.open(new Path(p, ListingRel))
          val txt =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val parts = txt.split("\n").filter(_.nonEmpty).toSet
          if (parts.nonEmpty && parts != cur && parts.subsetOf(cur))
            Some((p.toString, parts))
          else None
        }
      } catch { case _: java.io.IOException => None }
    }.sortBy(-_._2.size).headOption
  }

  /** Byte-level carry-over of a completed artifact piece into a new
    * build's staging dir: the base piece's files copy as-is — no
    * decode, no shuffle, no re-encode — so an incremental refresh of
    * a union-mergeable piece (postings, bucketed signatures) pays
    * pure copy IO for the base (server-side copy on object stores)
    * plus real compute only for the delta. */
  def copyPiece(s: SparkSession, from: Path, to: Path): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val fs = from.getFileSystem(conf)
    if (!org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to, false, conf))
      throw new java.io.IOException(s"artifact piece copy failed: $from -> $to")
  }

  /** Partition-dir file-count bound for [[layerPartitioned]]: every
    * refresh layers up to a task's worth of delta files into each
    * partition, so a nightly append cadence accretes hundreds of
    * small files per directory over months — the classic small-files
    * problem (every probe pays per-file open + footer overheads).
    * Directories that cross the bound are COMPACTED during the staged
    * build (reading only THOSE partitions), which amortizes to
    * O(delta)-ish per refresh while keeping any partition's file
    * count bounded for readers. */
  private def compactMaxFiles: Int =
    sys.props.getOrElse("graft.artifact.compact.maxFiles", "32").toInt

  /** Layer a delta's partitioned write into a carried-over piece: each
    * `key=value` directory's data files MOVE from the delta's temp dir
    * into the matching directory under `dest` (created if the delta
    * introduces a new partition), renamed with a delta prefix so a
    * base file of the same name can never be clobbered. Union
    * semantics only — correct for pieces whose relation is a bag the
    * serve path aggregates (postings, bucket membership), never for
    * keyed state that must merge by key.
    *
    * Partitions whose file count exceeds [[compactMaxFiles]] after
    * layering are rewritten compacted — safe because `dest` is still
    * the private staging dir (no reader can observe the rewrite; a
    * crash abandons staging wholesale). Only oversized partitions are
    * decoded; the rest stay byte-carried. */
  def layerPartitioned(s: SparkSession, deltaTmp: Path, dest: Path,
                       tag: String): Unit = {
    val fs = dest.getFileSystem(s.sparkContext.hadoopConfiguration)
    def dataFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    fs.listStatus(deltaTmp).filter(_.isDirectory).foreach { pd =>
      val target = new Path(dest, pd.getPath.getName)
      fs.mkdirs(target)
      dataFiles(pd.getPath).foreach { f =>
        if (!fs.rename(f.getPath,
            new Path(target, s"$tag-${f.getPath.getName}")))
          throw new java.io.IOException(
            s"delta layer rename failed: ${f.getPath} -> $target")
      }
      val files = dataFiles(target)
      if (files.size > compactMaxFiles) {
        // leaf-dir read: rows only, the partition value lives in the
        // dir name and is reattached by the name staying the same
        val rows = s.read.parquet(target.toString)
          .coalesce(math.max(1, files.size / compactMaxFiles))
        val tmp = new Path(dest, s".compact-${pd.getPath.getName}")
        rows.write.mode("overwrite").parquet(tmp.toString)
        files.foreach(f => fs.delete(f.getPath, false))
        dataFiles(tmp).foreach { f =>
          if (!fs.rename(f.getPath,
              new Path(target, s"compact-${f.getPath.getName}")))
            throw new java.io.IOException(
              s"compaction rename failed: ${f.getPath} -> $target")
        }
        fs.delete(tmp, true)
      }
    }
    fs.delete(deltaTmp, true)
  }

  /** Ensure the artifact at `path` exists and is complete; build it
    * via `build(stagingDir)` if not. Returns `path`.
    *
    * Concurrency: in-process ensures serialize on [[buildLocks]];
    * cross-JVM ensures serialize on the `<path>.lock` file (stale
    * locks broken after [[staleLockMs]]). The marker re-check runs
    * again after each acquisition, so whichever builder loses either
    * race finds the winner's marker and becomes a no-op instead of
    * running its crash-recovery delete against a completed artifact.
    * The holder heartbeats the lock mtime while the build runs, so a
    * long-running build is never mistaken for a crashed one; only a
    * dead holder's lock goes stale and is broken. Remaining exposure:
    * a heartbeat starved longer than staleLockMs (GC pause of minutes,
    * FS refusing setTimes) reduces to the pre-heartbeat narrowed race
    * — the owner token keeps the overlong build's release from
    * deleting the peer's lock, and the rename-break keeps two
    * breakers from both "winning" — and the local FS's non-atomic
    * create; neither widens the race. */
  def ensure(s: SparkSession, path: String, markerRel: String)
            (build: Path => Unit): String = {
    val hconf = s.sparkContext.hadoopConfiguration
    val destPath = new Path(path)
    val fs = destPath.getFileSystem(hconf)
    if (!fs.exists(new Path(path, markerRel)))
      buildLocks.computeIfAbsent(path, _ => new Object).synchronized {
        // re-check under the in-process lock: a concurrent ensure may
        // have built it while this thread waited
        if (!fs.exists(new Path(path, markerRel))) {
          val lock = new Path(path + ".lock")
          val token = acquireCrossJvmLock(fs, lock)
          val heartbeat = new LockHeartbeat(fs, lock, token).start()
          try {
            // re-check under the cross-JVM lock: another process may
            // have completed the build while this one waited
            if (!fs.exists(new Path(path, markerRel))) {
              if (fs.exists(destPath)) fs.delete(destPath, true)
              // The staging dir is DOT-PREFIXED so no discovery path
              // can mistake it for an artifact while a build mutates
              // it: an incremental build carries the base's marker and
              // _listing into staging (copyPiece) long before the
              // content is final, and the old `<path>.tmp-…` sibling
              // name STARTED WITH the artifact-family prefix — so a
              // concurrent findAppendBase (or any marker-globbing
              // reader) could select the half-layered staging dir as a
              // completed artifact and die on files the compactor was
              // rewriting underneath it (caught by
              // ArtifactChaosReaderSpec). Hidden names are outside
              // every discovery surface: findAppendBase skips them,
              // and Hadoop/Spark readers ignore dot-paths by
              // convention. Same parent as the destination, so the
              // publishing rename stays a same-directory atomic move.
              val staging = new Path(destPath.getParent,
                s".tmp-${destPath.getName}-" +
                  s"${ProcessHandle.current().pid()}-${System.nanoTime()}")
              build(staging)
              if (!fs.rename(staging, destPath)) fs.delete(staging, true)
              else {
                // The committer can legitimately skip _SUCCESS (dynamic
                // partitionOverwriteMode leaves it in the commit staging
                // dir; marksuccessfuljobs=false drops it entirely). A
                // renamed-in artifact IS complete — rename is the atomic
                // commit point — so place the marker ourselves rather
                // than let a conf choice turn every later ensure into a
                // destructive rebuild against pinned listings.
                val marker = new Path(path, markerRel)
                if (!fs.exists(marker)) fs.create(marker).close()
              }
            }
          } finally {
            // a cancelled build (its thread interrupted) still joins
            // the heartbeat and releases the lock; the interrupt is
            // restored afterwards
            val interrupted = Thread.interrupted()
            try {
              heartbeat.stop()
              releaseCrossJvmLock(fs, lock, token)
            } finally if (interrupted) Thread.currentThread().interrupt()
          }
        }
      }
    path
  }
}
