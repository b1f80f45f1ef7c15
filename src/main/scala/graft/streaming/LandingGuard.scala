package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.ops.DedupStage.CarriedBloom

/** A landing's writer guard: the [[LandingGuard.Landing]] handle that
  * owns one landing's writer state, the one registry of open handles,
  * the cross-JVM locks, and the names kept beside a landing. */
object LandingGuard {
  /** What the guard and maintenance keep beside a dir, in its parent;
    * each prefix starts with '.', so [[isHidden]] hides it. */
  private[streaming] sealed abstract class Beside(val prefix: String, val perRun: Boolean)
  private[streaming] case object WriterLock extends Beside(".ingest-writer-lock-", false)
  private[streaming] case object MaintenanceLock extends Beside(".maintenance-lock-", false)
  private[streaming] case object CompactTmp extends Beside(".compact-tmp-", true)
  private[streaming] case object CompactOld extends Beside(".compact-old-", true)

  /** THE name of `kind` beside `dir`: `<prefix><dir name>[-<uuid> per swap]`. */
  private[streaming] def beside(dir: org.apache.hadoop.fs.Path,
                                kind: Beside): org.apache.hadoop.fs.Path = {
    require(dir.getParent != null, s"'$dir' has no parent dir to hold its ${kind.prefix}*")
    val name = kind.prefix + dir.getName
    new org.apache.hadoop.fs.Path(dir.getParent,
      if (kind.perRun) s"$name-${java.util.UUID.randomUUID()}" else name)
  }

  /** A listed swap-artifact name → its embedded source dir name. The
    * uuid suffix is fixed-width (36 chars + the joining dash), so the
    * parse is exact even when the source name has dashes — a prefix
    * match would give `corpus` the artifacts of `corpus-backup`. */
  private[streaming] def besideOf(name: String, kind: Beside): Option[String] =
    if (name.length > kind.prefix.length + 37 && name.startsWith(kind.prefix))
      Some(name.substring(kind.prefix.length, name.length - 37))
    else None

  /** THE hidden-name rule of every landing listing and walk (Spark's
    * own): `_SUCCESS`, `_temporary`, checksums, the [[Beside]] names. */
  private[streaming] def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  // ---------- the landing handle and its registry ----------

  /** One canonical form per physical landing dir — `makeQualified`
    * resolves scheme/authority/trailing-slash spellings ('/a/b/',
    * 'file:/a/b') to one string, so the registry and the
    * single-writer guard cannot be split or bypassed by a path alias
    * (two spellings of one dir would otherwise run two "independent"
    * carries that invalidate each other's folds every batch). [[open]]
    * normalizes ONCE; the handle's state and I/O use the canonical
    * form. */
  private[graft] def landingKey(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** One landing's writer state, from [[open]] to [[close]]: the
    * canonical key, the single-writer slot, the cross-JVM writer lock
    * and its heartbeat, the dedup streams' carried blooms and landed
    * count ([[EventStreams]] holds their discipline), and what the
    * stream's termination releases. A stream closes its handle on a
    * failed start and when it terminates; a maintenance bracket
    * ([[maintaining]]) when it ends. Closing releases all of it, so a
    * stopped stream's blooms die with it: the next stream on the
    * landing pays one reseed scan, never exactness. */
  private[graft] final class Landing private[LandingGuard] (
      val key: String, owner: SparkSession) {
    private[streaming] val path = new org.apache.hadoop.fs.Path(key)
    private[streaming] lazy val fs: org.apache.hadoop.fs.FileSystem =
      path.getFileSystem(owner.sparkContext.hadoopConfiguration)
    /** The run holding the slot; null while a stream starts and for a
      * maintenance bracket, both of which count as live. */
    @volatile private var runId: java.util.UUID = null
    /** Landed row count, −1 until seeded. It only SIZES the blooms:
      * drift after a partial retry cannot break exactness. */
    private[graft] val landed = new java.util.concurrent.atomic.AtomicLong(-1L)
    @volatile private var carried = Map.empty[String, CarriedBloom]
    @volatile private var postAppend: Long => Unit = _ => ()
    private var cleanups = List.empty[() => Unit] // newest first, guarded by this
    private var closed = false

    /** Stage name → carried bloom. */
    private[graft] def carries: Map[String, CarriedBloom] = carried
    private[graft] def carry(stage: String): Option[CarriedBloom] = carried.get(stage)
    private[streaming] def setCarries(m: Map[String, CarriedBloom]): Unit = carried = m

    /** Test seam: `f` runs with the batch id after a batch's append
      * returns and BEFORE its fold re-lists the landing — the window
      * the validated fold defends. */
    private[graft] def onPostAppend(f: Long => Unit): Unit = postAppend = f
    private[streaming] def appended(batchId: Long): Unit = postAppend(batchId)

    private[LandingGuard] def live: Boolean =
      runId == null || owner.streams.active.exists(_.runId == runId)

    /** Run `f` at [[close]]. */
    private[streaming] def onClose(f: () => Unit): Unit = synchronized { cleanups ::= f }

    /** Release everything, once: the carries and the count, the
      * registered releases in registration order, then the slot —
      * identity-checked and LAST, so no newer handle claims the
      * landing while this one still releases its lock. A caller
      * racing a close waits for it. */
    private[graft] def close(): Unit = synchronized {
      if (!closed) {
        closed = true
        carried = Map.empty
        landed.set(-1L)
        cleanups.reverse.foreach(runCleanup)
        cleanups = Nil
        registry.remove(key, this)
      }
      ()
    }

    /** Start this landing's stream: take the cross-JVM writer lock
      * ([[acquireIngestLock]]), run `body` (what it registers through
      * its argument runs at close), and close at the run's
      * termination. A failed start closes the handle. */
    private[graft] def startStream(body: ((() => Unit) => Unit) => StreamingQuery)
        : StreamingQuery =
      try {
        acquireIngestLock(this)
        // pid-checked: after a cross-JVM takeover the file names the
        // new owner and this release leaves it alone
        onClose(() => releaseOwnLock(fs, beside(path, WriterLock)))
        // one listener per start, removed at close, so a stopped stream
        // leaves nothing registered on its session
        val ended = new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
          override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
            if (e.runId == runId) close()
        }
        owner.streams.addListener(ended)
        onClose(() => owner.streams.removeListener(ended))
        val q = body(onClose)
        runId = q.runId
        // the listener fires asynchronously: a query that died during
        // startup can have terminated before its runId was known
        if (!q.isActive) close()
        q
      } catch { case t: Throwable => close(); throw t }
  }

  /** THE registry of open landings by canonical key, where the
    * single-writer rule lives: carried dedup state tolerates exactly
    * ONE writer (two streams would interleave counter updates and
    * bloom folds, silently corrupting it). */
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Landing]()

  /** Claim `dir`'s single-writer slot or throw. A handle whose stream
    * is no longer active (its termination not yet observed) is stale:
    * it is closed and the slot taken over. */
  private[graft] def open(spark: SparkSession, dir: String): Landing = {
    val mine = new Landing(landingKey(spark, dir), spark)
    var cur = registry.putIfAbsent(mine.key, mine)
    while (cur != null) {
      if (cur.live)
        throw new IllegalStateException(
          s"an ingest stream or compaction is already active on landing dir '${mine.key}'; " +
          "the carried dedup state (landed counts + blooms) is keyed by landing " +
          "dir and tolerates exactly one writer — stop the existing writer first")
      cur.close()
      cur = registry.putIfAbsent(mine.key, mine)
    }
    mine
  }

  /** The open handle of `dir`, if any. */
  private[graft] def active(spark: SparkSession, dir: String): Option[Landing] =
    Option(registry.get(landingKey(spark, dir)))

  /** Run one release, swallowing failures — a release must never fail
    * a terminating stream. */
  private def runCleanup(f: () => Unit): Unit =
    try f() catch { case scala.util.control.NonFatal(_) => () }

  /** Release one frozen frame: the cache-manager entry (persist) and,
    * for a localCheckpoint'd frame, the underlying checkpointed RDD's
    * blocks (which live OUTSIDE the cache manager — `unpersist` on the
    * Dataset alone would leak them). Best-effort: release must never
    * fail a terminating stream. Shared across the repo: any
    * localCheckpoint'd frame (e.g. RunCorpus fetch-shard serving)
    * must release through here, not bare `unpersist`. */
  private[graft] def releaseFrozenFrame(df: DataFrame): Unit = {
    try { df.unpersist(false); () }
    catch { case scala.util.control.NonFatal(_) => () }
    try df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  // ---------- cross-JVM ingest writer lock ----------

  /** Heartbeat staleness threshold for [[acquireIngestLock]] takeover:
    * 30 min, generously above any sane micro-batch interval so a slow
    * batch never loses its landing to a takeover. */
  private val IngestLockStaleMs: Long = 30L * 60 * 1000

  /** A small file's text (a lock's pid, a swap manifest). */
  private[streaming] def readText(fs: org.apache.hadoop.fs.FileSystem,
                                  file: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(file)
    try {
      // read to EOF — a single read() may legally return a PREFIX
      // (remote-FS streams), and a truncated pid would misclassify
      // a live owner as dead
      val buf = new java.io.ByteArrayOutputStream(64)
      val chunk = new Array[Byte](64)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  private def lockOwnerPid(fs: org.apache.hadoop.fs.FileSystem,
                           lock: org.apache.hadoop.fs.Path): Option[Long] =
    try Some(readText(fs, lock).trim).filter(_.nonEmpty).map(_.toLong)
    catch { case scala.util.control.NonFatal(_) => None }

  private def pidAliveElsewhere(pid: Long, self: Long): Boolean =
    pid != self && {
      val h = java.lang.ProcessHandle.of(pid)
      h.isPresent && h.get.isAlive
    }

  /** What the writer-lock file says about its owner right now. */
  private final case class LockOwnerState(
      pid: Option[Long], aliveElsewhere: Boolean, fresh: Boolean, mtime: Long)

  private def lockOwnerState(fs: org.apache.hadoop.fs.FileSystem,
                             lock: org.apache.hadoop.fs.Path): Option[LockOwnerState] =
    try {
      val st = fs.getFileStatus(lock)
      val pid = lockOwnerPid(fs, lock)
      val self = java.lang.ProcessHandle.current().pid()
      Some(LockOwnerState(pid,
        pid.exists(p => pidAliveElsewhere(p, self)),
        System.currentTimeMillis() - st.getModificationTime <= IngestLockStaleMs,
        st.getModificationTime))
    } catch {
      case _: java.io.FileNotFoundException => None
      case scala.util.control.NonFatal(_) =>
        // The judge failed for a reason OTHER than absence (transient
        // IO, permissions): refuse by default. fresh + unreadable pid
        // is exactly the shape lockRefusesUs honors, so an fs hiccup
        // can never license a takeover — nor let maintenance run under
        // a possibly-live writer. mtime = -1 also makes
        // deleteIfUnchanged a guaranteed no-op on this state.
        Some(LockOwnerState(None, aliveElsewhere = false, fresh = true, mtime = -1L))
    }

  /** The ONE takeover policy, shared by ingest starters and
    * maintenance so the two sides of the exclusion can never
    * disagree: an existing lock is honored (refused) iff its
    * heartbeat is fresh AND it names a live foreign process or its
    * pid is unreadable (a writer mid-create). Everything else — own
    * leftover, provably dead pid, stale heartbeat — is takeover-able. */
  private def lockRefusesUs(st: LockOwnerState): Boolean =
    st.fresh && (st.aliveElsewhere || st.pid.isEmpty)

  /** Clear `lock` only if it still looks like the version judged
    * takeover-able (same mtime): a rival that already swapped in its
    * own FRESH lock must not lose it to our late delete. Returns true
    * when the judged lock no longer blocks us (deleted, or already
    * vanished — its owner released); false when a DIFFERENT version
    * appeared. The re-stat-to-delete gap is the residual race (vs the
    * previous unbounded judge-to-delete gap); mtime granularity
    * bounds it further and the fingerprint reseed remains the last
    * line. */
  private def deleteIfUnchanged(fs: org.apache.hadoop.fs.FileSystem,
                                lock: org.apache.hadoop.fs.Path,
                                judgedMtime: Long): Boolean =
    (try Some(fs.getFileStatus(lock).getModificationTime)
     catch { case _: java.io.FileNotFoundException => None }) match {
      case None => true
      case Some(m) => m == judgedMtime && { fs.delete(lock, false); true }
    }

  /** Release a lock this process believes it owns: delete only while
    * the file still NAMES this pid — after a cross-JVM takeover the
    * file names the new owner and a late clean-stop release must not
    * clobber it. Best-effort. */
  private def releaseOwnLock(fs: org.apache.hadoop.fs.FileSystem,
                             lock: org.apache.hadoop.fs.Path): Unit =
    try {
      if (lockOwnerPid(fs, lock).contains(java.lang.ProcessHandle.current().pid())) {
        fs.delete(lock, false); ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Take the landing's cross-JVM writer lock or throw — the other
    * half of the single-writer contract (the in-JVM slot cannot see
    * another PROCESS; before round 15 a second-JVM ingest was only
    * absorbed after the fact by the fingerprint-reseed discipline,
    * which repairs carries but cannot stop two writers interleaving
    * appends). Create-exclusive `.ingest-writer-lock-<name>` beside
    * the landing, pid inside, mtime refreshed each micro-batch
    * ([[heartbeatIngestLock]]). An existing lock is taken over only
    * when (a) it names THIS pid (a stopped/crashed stream of this
    * process — the in-JVM slot, already acquired, is the authority
    * here), (b) its pid is provably dead (`ProcessHandle.of` —
    * meaningful on a local fs; on a multi-host shared fs a foreign
    * host's pid number can false-alias a live local process, which
    * only DELAYS takeover to rule c), or (c) its heartbeat mtime is
    * older than [[IngestLockStaleMs]]. Otherwise: loud refusal naming
    * the file.
    *
    * HONEST takeover window: the stale-check-then-delete-then-create
    * is not atomic. Two starters racing a stale lock can both judge
    * it stale; the delete is therefore guarded by a re-stat
    * ([[deleteIfUnchanged]] — only the judged VERSION is deleted, so
    * a rival's already-swapped-in fresh lock survives and the loser's
    * next create is refused against it), leaving mtime granularity as
    * the residual sliver. The remaining real hazard is a
    * live-but-paused writer (GC pause / suspended VM longer than the
    * threshold): it loses the lock and its next heartbeat silently
    * recreates it, leaving two writers until its next fingerprint
    * check reseeds — takeover trades that bounded window for crash
    * recovery without operator intervention. A fresh
    * `.maintenance-lock` is refused symmetrically, and the ingest
    * lock is re-checked against it after creation (either order of
    * the two creations leaves at most one owner). */
  private def acquireIngestLock(landing: Landing): Unit = {
    val fs = landing.fs
    val lock = beside(landing.path, WriterLock)
    if (!fs.exists(lock.getParent)) fs.mkdirs(lock.getParent)
    val mLock = beside(landing.path, MaintenanceLock)
    def refuseIfMaintenance(): Unit =
      if (fs.exists(mLock))
        throw new IllegalStateException(
          s"maintenance lock '$mLock' exists — a maintenance run (possibly in " +
          "another JVM) owns this landing, or a previous one crashed; an ingest " +
          "stream must not start under it. After confirming nothing is running, " +
          "delete the lock file and retry")
    refuseIfMaintenance()
    val self = java.lang.ProcessHandle.current().pid()
    var out: org.apache.hadoop.fs.FSDataOutputStream = null
    var attempts = 0
    while (out == null) {
      attempts += 1
      try out = fs.create(lock, false)
      catch {
        case e: java.io.IOException =>
          if (attempts > 3)
            throw new IllegalStateException(
              s"could not acquire ingest writer lock '$lock' after $attempts attempts", e)
          lockOwnerState(fs, lock).foreach { st =>
            if (lockRefusesUs(st))
              throw new IllegalStateException(
                s"ingest writer lock '$lock' is held by pid ${st.pid.getOrElse("?")} " +
                s"with a fresh heartbeat — another ingest stream (in another JVM) " +
                "is writing this landing; the carried dedup state tolerates " +
                "exactly one writer. Stop that stream first, or wait out the " +
                s"heartbeat staleness window (${IngestLockStaleMs / 1000} s)")
            // delete only the judged version — a rival's fresh
            // replacement survives, and our next create is refused
            // against it
            deleteIfUnchanged(fs, lock, st.mtime)
          }
      }
    }
    // a failure between create-exclusive and close would otherwise
    // orphan an unreadable-pid lock that blocks every foreign starter
    // for the full staleness window; a maintenance lock that appeared
    // meanwhile gives the lock back the same way
    try { out.write(self.toString.getBytes("UTF-8")); out.close(); refuseIfMaintenance() }
    catch {
      case t: Throwable =>
        try { fs.delete(lock, false); () }
        catch { case scala.util.control.NonFatal(_) => () }
        throw t
    }
  }

  /** Refresh the writer lock's heartbeat mtime (called at the top of
    * every micro-batch). Best-effort for fs HICCUPS (a lock-metadata
    * read/write error must not fail a data batch), but a POSITIVE
    * foreign-pid reading is a fence, not a hiccup: after a cross-JVM
    * takeover the file names the new owner, and the displaced
    * writer's heartbeat must neither refresh nor recreate it — doing
    * so would silently extend the documented two-writer window
    * forever. Instead the displaced writer fails its batch loudly
    * (stopping its stream), which CLOSES the live-but-paused-writer
    * window described on [[acquireIngestLock]]. The file is recreated
    * only when it is absent AND no maintenance lock holds the landing:
    * absence can mean operator deletion (no rival — safe to recreate)
    * but ALSO a maintenance takeover of this writer's stale heartbeat
    * ([[maintaining]] clears a judged-stale ingest lock before
    * compacting), and recreating under live compaction would be the
    * same two-writer interleaving via the other rival — that case
    * fences too. */
  private[streaming] def heartbeatIngestLock(landing: Landing): Unit = {
    val (fs, lock) = (landing.fs, beside(landing.path, WriterLock))
    val self = java.lang.ProcessHandle.current().pid()
    var fence: String = null
    try {
      if (fs.exists(lock)) {
        lockOwnerPid(fs, lock) match {
          case Some(p) if p != self =>
            fence = s"ingest writer lock '$lock' now names a different " +
              "pid — this writer was fenced by a cross-JVM takeover (its " +
              "heartbeat went stale, or an operator forced the lock)"
          case Some(_) =>
            fs.setTimes(lock, System.currentTimeMillis(), -1)
          case None => () // unreadable mid-write: skip, next batch retries
        }
      } else {
        val mLock = beside(landing.path, MaintenanceLock)
        if (fs.exists(mLock))
          fence = s"ingest writer lock '$lock' is gone and maintenance " +
            s"lock '$mLock' is held — this writer's stale heartbeat was " +
            "taken over by a maintenance run; recreating the lock would " +
            "write into the landing mid-swap"
        else {
          val o = fs.create(lock, true)
          o.write(self.toString.getBytes("UTF-8"))
          o.close()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    if (fence != null)
      throw new IllegalStateException(
        s"$fence; failing the batch instead of writing alongside the rival")
  }

  /** THE maintenance bracket of compact, expire and repair: an open
    * [[Landing]] → maintenance lock → close (repair,
    * which may restore a missing landing, passes `mustExist` = false).
    * Cross-JVM maintenance exclusion: an exclusive lock FILE beside
    * the landing (`.maintenance-lock-<name>` in its parent dir). The
    * in-JVM single-writer slot cannot see another PROCESS — a cron'd
    * `--repair` overlapping a live `--compact` would otherwise delete
    * the compactor's tmp dirs or restore an aside mid-swap. Taken
    * create-exclusive, deleted on the way out; a crash leaves the
    * file and every later maintenance run refuses LOUDLY, naming it —
    * deleting the file after confirming the crashed run is dead is
    * the operator's acknowledgment (repair must not guess at
    * staleness: it is exactly the tool that runs after a crash).
    * Streams do not take the file lock; cross-JVM stream-vs-
    * maintenance safety rests on the content-verified swaps and the
    * carry fingerprint discipline instead. */
  private[streaming] def maintaining[A](spark: SparkSession, dir: String, mustExist: Boolean = true)
      (body: Landing => A): A = {
    val landing = open(spark, dir)
    try {
      val (landingPath, fs) = (landing.path, landing.fs)
      require(!mustExist || fs.exists(landingPath), s"landing dir '${landing.key}' does not exist")
      val parent = landingPath.getParent
      require(parent != null && fs.exists(parent),
        s"parent dir of landing '$landingPath' does not exist")
      val lock = beside(landingPath, MaintenanceLock)
      val out =
        try fs.create(lock, false)
        catch {
          case _: java.io.IOException =>
            throw new IllegalStateException(
              s"maintenance lock '$lock' exists — another maintenance run (possibly " +
              "in another JVM) owns this landing, or a previous one crashed; after " +
              "confirming nothing is running, delete the lock file and re-run")
        }
      try {
        out.write(s"${java.lang.ProcessHandle.current().pid()}".getBytes("UTF-8"))
        out.close()
        // With the maintenance lock HELD (so a starting stream's
        // post-create re-check sees it), refuse if an ingest stream in
        // another process is live on this landing. The SAME
        // [[lockRefusesUs]] policy as ingest starters (one rule, the
        // two sides of the exclusion cannot disagree): own-pid
        // leftovers (same-JVM streams were already caught by the
        // in-JVM slot, so this is a stopped stream's pending release),
        // dead pids, and stale heartbeats are cleared — version-checked,
        // so a writer that refreshes concurrently keeps its lock and we
        // refuse instead.
        val iLock = beside(landingPath, WriterLock)
        lockOwnerState(fs, iLock).foreach { st =>
          if (lockRefusesUs(st) || !deleteIfUnchanged(fs, iLock, st.mtime))
            throw new IllegalStateException(
              s"ingest writer lock '$iLock' names a live ingest stream in another " +
              "process — maintenance must not run under an active writer; stop " +
              "the stream first")
        }
        body(landing)
      } finally { fs.delete(lock, false); () }
    } finally landing.close()
  }
}
