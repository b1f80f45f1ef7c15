package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams.{landingParts, visibleUnder}
import graft.streaming.LandingGuard.{besideOf, isHidden, maintaining, Beside, CompactOld, CompactTmp}

/** Maintenance of an [[EventStreams]] ingest landing: compaction,
  * retention expiry and crash repair, each inside the one maintenance
  * bracket ([[LandingGuard.maintaining]]), and read-only stats. */
object LandingMaintenance {
  // ---------- landing compaction ----------

  /** What [[compactLanding]] did. `rows` is −1 on the no-op path (the
    * landing was already at or under `targetFiles`; nothing was read). */
  final case class CompactStats(filesBefore: Int, filesAfter: Int, rows: Long)

  /** The two row-loss windows of one dir's compaction swap, where
    * [[compactLanding]]'s test seam runs. */
  private[graft] sealed trait SwapWindow
  /** The compacted copy is written; the dir is not yet moved aside —
    * an out-of-band append here must abort the swap. */
  private[graft] case object BeforeAside extends SwapWindow
  /** The aside rename is verified; the copy is not yet renamed in — a
    * foreign writer recreating the dir here makes Hadoop's rename NEST
    * the compacted output instead of failing. */
  private[graft] case object BeforeSwap extends SwapWindow

  /** Maintenance: rewrite an accreted landing dir down to
    * `targetFiles` part files. [[EventStreams.ingestDedup]]'s per-batch
    * append file cap bounds what each micro-batch adds, but a
    * long-running stream still accretes files linearly with batch
    * COUNT (a year of 5-minute batches is ~100k part files), and
    * every confirm join and reseed scan pays a per-file open. This is
    * the other half of that story: an offline rewrite, run between
    * stream sessions, that restores O(targetFiles) listings.
    *
    * Shape: ONE corpus read, `coalesce` (narrow — no shuffle: at
    * 100 TB a compaction must concatenate, not repartition by key),
    * written to a sibling temp dir, then an atomic-rename swap. The
    * swap only proceeds if the landing's listing is UNCHANGED since
    * the read — any out-of-band change aborts with the landing
    * untouched. The landing's single-writer slot ([[LandingGuard.open]])
    * is held throughout, so an ingest stream cannot start
    * mid-compaction and compaction refuses while a stream is active.
    *
    * Carried state: none exists while the slot is held — a stream's
    * carries die with its handle — so the next stream seeds its
    * carries from the compacted landing (one scan).
    *
    * Hive-partitioned landings (key=value subdirs — the
    * month-partitioned or z-order layouts) are compacted PER LEAF
    * partition directory: each leaf gets the same read → coalesce →
    * checked-swap treatment with `targetFiles` as a per-leaf budget,
    * and the directory tree itself is never rewritten, so partition
    * pruning is untouched. A leaf read omits the partition columns
    * (they live in the path, not the files) and the rewritten files
    * land back in the same leaf, so rows round-trip exactly. Leaves
    * are independent swaps, rewritten `leafParallelism` at a time (a
    * big layout's maintenance window must scale with data, not leaf
    * count): a failure part-way leaves every leaf
    * either fully compacted or untouched, never flattened. A dir
    * that mixes visible data files WITH partition subdirs at one
    * level is structurally broken and refused loudly.
    *
    * Crash window: a failure between a swap's two renames leaves
    * that dir's rows intact under a sibling `.compact-old-<dir>-<uuid>`
    * — [[repairLanding]] restores it (and finishes or sweeps every
    * other crash artifact). Temp and old dirs are dot-prefixed
    * so partition discovery and file listings never see them. */
  def compactLanding(spark: SparkSession, dir: String,
                     targetFiles: Int = 4,
                     leafParallelism: Int = 4): CompactStats =
    compact(spark, dir, targetFiles, leafParallelism)

  /** [[compactLanding]] with its test seam: `atWindow` runs with each
    * dir's swap window and the dir. */
  private[graft] def compact(spark: SparkSession, dir: String, targetFiles: Int,
                             leafParallelism: Int,
                             atWindow: (SwapWindow, String) => Unit = (_, _) => ())
      : CompactStats = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    require(leafParallelism > 0,
      s"leafParallelism must be positive, got $leafParallelism")
    maintaining(spark, dir) { landing =>
      val fs = landing.fs
      // Leaves rewrite CONCURRENTLY (bounded pool): each leaf is an
      // independent read→write→swap with no shared mutable state, and
      // at the 100 TB design point a month×source layout has
      // thousands of leaves — a serial driver loop would make the
      // maintenance window scale with leaf COUNT instead of data.
      // Every future is awaited (success or failure) BEFORE the slot
      // releases, so no straggler ever mutates the landing after this
      // call returns; the first failure then propagates, and the
      // other leaves are each fully compacted or untouched, as the
      // swap contract promises.
      val leaves = leafDataDirs(fs, landing.path)
      val compactLeaf = (leaf: org.apache.hadoop.fs.Path) =>
        compactOneDir(spark, fs, leaf, targetFiles, atWindow)
      val results =
        if (leaves.lengthCompare(1) <= 0 || leafParallelism <= 1)
          leaves.map(compactLeaf)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(leafParallelism, leaves.size))
          try {
            val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
            val futures = leaves.map(l => scala.concurrent.Future(compactLeaf(l))(ec))
            // catch EVERYTHING per await (Try would let an
            // InterruptedException escape mid-loop) — every future
            // must be awaited before the writer slot releases, or a
            // straggler could still be swapping when a new stream
            // acquires the landing
            val outcomes = futures.map { f =>
              try Right(scala.concurrent.Await.result(
                f, scala.concurrent.duration.Duration.Inf))
              catch { case t: Throwable => Left(t) }
            }
            outcomes.collectFirst { case Left(t) => throw t }
            outcomes.collect { case Right(r) => r }
          } finally { pool.shutdown(); () }
        }
      val rewrote = results.filter(_.rewrote)
      // every leaf sits under visible dirs of the landing, so one
      // landing-rooted rule counts them all
      val visible = visibleUnder(landing.key)
      CompactStats(
        results.map(_.preParts.count(visible)).sum,
        results.map(r => (if (r.rewrote) r.postParts else r.preParts).count(visible)).sum,
        if (rewrote.isEmpty) -1L else rewrote.map(_.rows).sum)
    }
  }

  /** The data-bearing leaf dirs of a landing: the dir itself when
    * flat, the leaf `key=value` dirs of a (possibly nested) hive
    * layout otherwise. A level that mixes visible files with
    * partition subdirs, or partition with non-partition subdirs, has
    * no sound per-leaf rewrite and is refused. */
  private def leafDataDirs(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val visible = fs.listStatus(p).filterNot(s => isHidden(s.getPath.getName))
    val (dirs, files) = visible.partition(_.isDirectory)
    val pdirs = dirs.filter(_.getPath.getName.contains("="))
    if (pdirs.isEmpty) Seq(p)
    else {
      if (files.nonEmpty || pdirs.length != dirs.length)
        throw new IllegalArgumentException(
          s"dir '$p' mixes hive partition subdirs with " +
          (if (files.nonEmpty) "data files" else "non-partition subdirs") +
          " at one level; no per-leaf compaction is sound on a broken layout")
      pdirs.toSeq.flatMap(d => leafDataDirs(fs, d.getPath))
    }
  }

  /** One dir's compaction outcome: its listing before, its listing
    * after (== before on the no-op path), rewritten row count, and
    * whether a rewrite actually happened. */
  private final case class LeafCompact(
    preParts: Seq[String], postParts: Seq[String], rows: Long, rewrote: Boolean)

  /** The listing relativized to its base dir (`path:len:mtime` with
    * the dir prefix stripped) — lets a dir's content identity be
    * compared across a rename (a rename moves files without touching
    * their lengths or mtimes). */
  private def relParts(base: org.apache.hadoop.fs.Path, parts: Seq[String]): Seq[String] = {
    val prefix = base.toUri.getPath
    parts.map(_.stripPrefix(prefix))
  }

  /** One flat dir's read → coalesce → checked-swap rewrite. The swap
    * is verified AFTER the aside rename: the moved-aside dir must
    * hold exactly the files the rewrite read (rename preserves
    * lengths and mtimes), so any file a foreign writer committed
    * since the pre listing is caught while it is still restorable —
    * the aside dir is renamed back and the compaction aborts with
    * every committed row intact. A pre-rename listing check could
    * never close that window (a commit could always land between the
    * check and the rename); checking the moved dir itself can,
    * because after the rename a foreign commit lands in the fresh
    * target path, which the swap preserves. */
  private def compactOneDir(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                            dirPath: org.apache.hadoop.fs.Path, targetFiles: Int,
                            atWindow: (SwapWindow, String) => Unit): LeafCompact = {
    val dirStr = dirPath.toString
    val pre = landingParts(spark, dirStr)
    if (pre.count(visibleUnder(dirStr)) <= targetFiles)
      return LeafCompact(pre, pre, -1L, rewrote = false)
    // tmp carries its source dir's name too (same reason as the aside
    // dir below): [[repairLanding]] must be able to attribute a
    // crashed rewrite's debris at the landing's PARENT level, where
    // unrelated siblings may keep their own artifacts
    val tmp = LandingGuard.beside(dirPath, CompactTmp)
    try {
      // one scan; rows counted by the write's own Observation, and
      // the re-run-on-failure story is "overwrite the tmp dir" so
      // the v2 task-side committer is safe here
      val obs = new org.apache.spark.sql.Observation("compact_rows")
      spark.read.parquet(dirStr)
        .coalesce(targetFiles)
        .observe(obs, count(lit(1)).as("n"))
        .write.options(graft.core.Committers.forRerun(overwrite = true))
        .mode("overwrite").parquet(tmp.toString)
      val rows = obs.get("n").asInstanceOf[Long]
      atWindow(BeforeAside, dirStr)
      // breadcrumbs for [[repairLanding]]: the aside dir's NAME carries
      // the dir it came from, and the compacted output carries a
      // manifest naming the aside dir it replaces — so a crash between
      // the swap and the aside delete is mechanically distinguishable
      // from a landing recreated by a new stream after a crash
      val old = LandingGuard.beside(dirPath, CompactOld)
      val manifest = new org.apache.hadoop.fs.Path(tmp, SwapManifest)
      val mfOut = fs.create(manifest, true)
      try mfOut.write(old.getName.getBytes("UTF-8")) finally mfOut.close()
      // Hadoop rename(src, existing-dir) NESTS src inside the target
      // instead of failing, so a rename's boolean can lie when a
      // foreign writer recreates the destination in a gap. Every
      // rename below is therefore VERIFIED by content afterwards, and
      // a restore never renames into an existing dir (nesting would
      // make the original rows invisible to every reader).
      def restoreOrDie(context: String): Nothing = {
        // verify against old's CURRENT content — on the aborted-race
        // path it legitimately holds the foreign file that rode in
        val oldParts = landingParts(spark, old.toString)
        val back =
          !fs.exists(dirPath) && fs.rename(old, dirPath) &&
          relParts(dirPath, landingParts(spark, dirStr)) == relParts(old, oldParts)
        if (back)
          throw new IllegalStateException(
            s"$context; dir restored — re-run when quiet")
        throw new IllegalStateException(
          s"$context AND the restore was not possible (a foreign writer " +
          s"recreated '$dirStr'?); all original rows are intact under '$old' — " +
          "resolve with repairLanding (--repair)")
      }
      // the compacted output's listing, captured before the swap so
      // the swap itself can be verified by content (rename preserves
      // lengths and mtimes)
      val tmpParts = landingParts(spark, tmp.toString)
      if (!fs.rename(dirPath, old))
        throw new IllegalStateException(
          s"could not move '$dirStr' aside for the compaction swap")
      if (relParts(old, landingParts(spark, old.toString)) != relParts(dirPath, pre)) {
        // a foreign commit landed since the rewrite's listing — it
        // rode into the aside dir; put everything back and abort
        restoreOrDie(s"dir '$dirStr' changed during compaction (out-of-band writer)")
      }
      atWindow(BeforeSwap, dirStr)
      val swapped =
        try fs.rename(tmp, dirPath)
        catch { case t: Throwable =>
          restoreOrDie(s"compaction swap into '$dirStr' failed (${t.getMessage})")
        }
      if (!swapped)
        restoreOrDie(s"could not move compacted files into '$dirStr'")
      if (relParts(dirPath, landingParts(spark, dirStr)) != relParts(tmp, tmpParts)) {
        // the rename 'succeeded' but the target does not hold the
        // compacted files — a foreign writer recreated the dir in the
        // gap and the output nested inside it as a dot-dir. The
        // original rows are safe in the aside dir; never delete it.
        throw new IllegalStateException(
          s"a foreign writer recreated '$dirStr' during the compaction swap; " +
          s"all original rows are intact under '$old' — resolve with " +
          "repairLanding (--repair); the nested rewrite debris is swept by it too")
      }
      fs.delete(old, true)
      // the manifest's job ends with the aside dir; drop it BEFORE the
      // post listing so the landing fingerprint never contains it
      fs.delete(new org.apache.hadoop.fs.Path(dirPath, SwapManifest), false)
      LeafCompact(pre, landingParts(spark, dirStr), rows, rewrote = true)
    } finally { if (fs.exists(tmp)) fs.delete(tmp, true); () }
  }

  // ---------- landing expiry (retention) ----------

  /** What [[expireLanding]] did. */
  final case class ExpireStats(dirsDropped: Int, filesDropped: Int)

  /** Maintenance: DELETE every `partitionCol=value` subtree of a
    * hive-partitioned landing whose unescaped value sorts strictly
    * BEFORE `before` — the retention half of the landing lifecycle
    * story ([[compactLanding]] is the file-count half). A
    * month-partitioned landing at the 100 TB design point ages out
    * data by dropping whole partition directories: pruning-aligned
    * deletion, zero rows read or rewritten, cost proportional to the
    * DIRECTORY count, not the data.
    *
    * The comparison is a plain string compare on the unescaped
    * value — exact for ISO dates/months (`2026-01`) and zero-padded
    * numerics, which is what time-partitioned landings use. The
    * `partitionCol` may sit at any level of a nested layout (e.g.
    * `source=…/month=…`): each matching dir's whole subtree goes, the
    * rest of the tree is untouched, so partition pruning on the
    * survivors is unaffected. A landing with NO `partitionCol=` dir
    * anywhere (flat, or a different column) is refused loudly —
    * expiry on the wrong column must not silently no-op. Spark's
    * `__HIVE_DEFAULT_PARTITION__` (null-value) dirs never expire.
    *
    * Carried state: as for compaction, the single-writer slot is held
    * throughout, so no carry exists; the next stream seeds its carries
    * from the shrunken landing (one scan). */
  def expireLanding(spark: SparkSession, dir: String, partitionCol: String,
                    before: String): ExpireStats = {
    require(partitionCol.nonEmpty && !partitionCol.contains("="),
      s"partitionCol must be a bare column name, got '$partitionCol'")
    require(before.nonEmpty, "expiry cutoff must be non-empty")
    maintaining(spark, dir) { landing =>
      val fs = landing.fs
      val prefix = partitionCol + "="
      def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(p).toSeq.filter(s => s.isDirectory && !isHidden(s.getPath.getName))
          .flatMap { s =>
            if (s.getPath.getName.startsWith(prefix)) Seq(s.getPath)
            else walk(s.getPath)
          }
      val matched = walk(landing.path)
      if (matched.isEmpty)
        throw new IllegalArgumentException(
          s"landing dir '${landing.key}' has no '$prefix…' partition dir at any " +
          "level; refusing to expire on a column the layout does not have")
      val expired = matched.filter { p =>
        // Spark's own unescape (the inverse of the %xx escaping its
        // dynamic-partition writer applies to partition VALUES), so
        // the comparison stays in lockstep with the writer's rules
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(p.getName.substring(prefix.length))
        v != "__HIVE_DEFAULT_PARTITION__" && v < before
      }
      // an expired dir sits under visible dirs of the landing, so its
      // own visible files are the ones the landing loses
      val files = expired.map { p =>
        landingParts(spark, p.toString).count(visibleUnder(p.toString)) }.sum
      expired.foreach { p =>
        if (!fs.delete(p, true))
          throw new IllegalStateException(s"could not delete expired dir '$p'")
      }
      ExpireStats(expired.size, files)
    }
  }

  /** Name of the breadcrumb file a compaction swap plants in its
    * output (deleted again on success): its content is the aside
    * dir's name, proving which `.compact-old-*` dir the swapped-in
    * files replaced. */
  private[graft] val SwapManifest = ".swap-manifest"

  /** A listed `tmp`/`old` swap-artifact dir, with its source dir's
    * name if the name parses ([[LandingGuard.besideOf]]). */
  private def swapArtifact(s: org.apache.hadoop.fs.FileStatus)
      : Option[(Beside, Option[String])] =
    if (!s.isDirectory) None
    else Seq(CompactTmp, CompactOld).find(k => s.getPath.getName.startsWith(k.prefix))
      .map(k => k -> besideOf(s.getPath.getName, k))

  /** THE root-level debris scan of repair and stats: a FLAT landing's
    * swap debris are SIBLINGS of the landing (crash between the two
    * renames even leaves the landing dir itself missing), attributed
    * by the source name embedded in the artifact names — unrelated
    * siblings of the landing are never touched. */
  private def rootDebris(fs: org.apache.hadoop.fs.FileSystem,
                         landingPath: org.apache.hadoop.fs.Path)
      : Seq[(org.apache.hadoop.fs.Path, Beside)] = {
    val parent = landingPath.getParent
    if (parent == null || !fs.exists(parent)) Nil
    else fs.listStatus(parent).toSeq.flatMap(s => swapArtifact(s).collect {
      case (kind, Some(src)) if src == landingPath.getName => (s.getPath, kind)
    })
  }

  /** Repair's and stats' walk: each visible dir listed ONCE, `visit`
    * sees the listing, then the walk descends into its visible dirs. */
  private def walkVisible(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path)
                         (visit: (org.apache.hadoop.fs.Path,
                                  Array[org.apache.hadoop.fs.FileStatus]) => Unit): Unit = {
    val entries = fs.listStatus(p)
    visit(p, entries)
    entries.foreach { s =>
      if (s.isDirectory && !isHidden(s.getPath.getName)) walkVisible(fs, s.getPath)(visit)
    }
  }

  // ---------- landing repair (crash recovery) ----------

  /** What [[repairLanding]] did. `unresolved` lists aside dirs it
    * refused to touch (their target exists but carries no manifest
    * naming them — e.g. a new stream recreated the landing after a
    * crash; merging is a human decision because both dirs hold rows). */
  final case class RepairStats(
    tmpsDeleted: Int, oldsRestored: Int, oldsDeleted: Int,
    manifestsCleaned: Int, unresolved: Seq[String])

  /** Maintenance: finish or roll back compaction swaps a crash left
    * half-done — the automated form of the scaladoc's "rename it
    * back". Walks the landing tree (flat or hive-partitioned) and for
    * each crash artifact applies the one provably-safe action:
    *
    *   - `.compact-tmp-*` dirs: always deleted — a rewrite output
    *     never referenced by anything.
    *   - `.compact-old-<dir>-<uuid>` with its source dir MISSING: the
    *     crash hit between the two swap renames; the aside dir IS the
    *     landing — renamed back (restore).
    *   - `.compact-old-<dir>-<uuid>` with the source dir present AND
    *     the source carrying a [[SwapManifest]] naming this aside dir:
    *     the crash hit after the swap, before the aside delete; the
    *     landing is the compacted copy — aside + manifest deleted.
    *   - the same WITHOUT a matching manifest: refused and reported
    *     (`unresolved`) — a new stream may have recreated the landing
    *     with rows the aside dir does not have; deleting or restoring
    *     either side would lose data, so neither happens.
    *   - stray [[SwapManifest]] files whose named aside dir is gone
    *     (crash between the aside delete and the manifest delete):
    *     deleted.
    *
    * Carried state is intentionally untouched: a restore changes the
    * landing listing, so the fingerprint discipline already forces
    * the next batch to reseed — exactly the self-heal the carries
    * were designed around. Holds the single-writer slot: repair never
    * races a stream or another maintenance run in-JVM. */
  def repairLanding(spark: SparkSession, dir: String): RepairStats =
    maintaining(spark, dir, mustExist = false) { landing =>
      val (landingDir, landingPath, fs) = (landing.key, landing.path, landing.fs)
      var tmps = 0; var restored = 0; var oldsDeleted = 0; var manifests = 0
      val unresolved = scala.collection.mutable.ArrayBuffer.empty[String]
      def readManifest(dataDir: org.apache.hadoop.fs.Path): Option[String] = {
        val mf = new org.apache.hadoop.fs.Path(dataDir, SwapManifest)
        if (fs.exists(mf)) Some(LandingGuard.readText(fs, mf)) else None
      }
      def handleOld(oldPath: org.apache.hadoop.fs.Path,
                    target: org.apache.hadoop.fs.Path): Unit = {
        if (!fs.exists(target)) {
          if (!fs.rename(oldPath, target))
            throw new IllegalStateException(
              s"could not restore '$oldPath' to '$target'")
          restored += 1
        } else if (readManifest(target).contains(oldPath.getName)) {
          fs.delete(oldPath, true); oldsDeleted += 1
          fs.delete(new org.apache.hadoop.fs.Path(target, SwapManifest), false)
          manifests += 1
        } else unresolved += oldPath.toString
      }
      // a manifest whose aside dir is gone: the crash hit between the
      // aside delete and the manifest delete — remove the breadcrumb
      // (but keep it as evidence while its pair sits unresolved)
      def sweepManifest(dataDir: org.apache.hadoop.fs.Path,
                        level: org.apache.hadoop.fs.Path): Unit =
        readManifest(dataDir).foreach { named =>
          if (!fs.exists(new org.apache.hadoop.fs.Path(level, named)) &&
              !unresolved.exists(_.endsWith("/" + named))) {
            fs.delete(new org.apache.hadoop.fs.Path(dataDir, SwapManifest), false)
            manifests += 1
          }
        }
      // ROOT-level artifacts first ([[rootDebris]])
      rootDebris(fs, landingPath).foreach {
        case (p, CompactTmp) => fs.delete(p, true); tmps += 1
        case (p, _)          => handleOld(p, landingPath)
      }
      val parent = landingPath.getParent
      if (!fs.exists(landingPath)) {
        // name any aside-LOOKING siblings repair could not attribute
        // (e.g. the pre-breadcrumb `.compact-old-<uuid>` format) so
        // the operator knows where the rows may be instead of reading
        // "nothing to repair" while they sit in an unparsed dir
        val candidates =
          if (parent == null || !fs.exists(parent)) Seq.empty[String]
          else fs.listStatus(parent).toSeq
            .filter(s => swapArtifact(s).exists(_._1 == CompactOld))
            .map(_.getPath.toString)
        throw new IllegalStateException(
          s"landing dir '$landingDir' does not exist and no aside dir restored it" +
          (if (candidates.isEmpty) " — nothing to repair"
           else s" — possibly-related aside dirs repair could not attribute " +
                s"(inspect and rename back by hand): ${candidates.mkString(", ")}"))
      }
      // INNER artifacts (partitioned landings): every artifact under
      // the landing belongs to it — the single-writer slot guarantees
      // no other owner
      walkVisible(fs, landingPath) { (p, entries) =>
        entries.foreach { s =>
          swapArtifact(s) match {
            case Some((CompactTmp, _)) => fs.delete(s.getPath, true); tmps += 1
            case Some((_, None)) => unresolved += s.getPath.toString
            case Some((_, Some(src))) =>
              handleOld(s.getPath, new org.apache.hadoop.fs.Path(p, src))
            case None => ()
          }
        }
        // (the walk visits a dir after its parent level's asides)
        sweepManifest(p, p.getParent)
      }
      RepairStats(tmps, restored, oldsDeleted, manifests, unresolved.toSeq)
    }

  // ---------- landing stats (observability) ----------

  /** What [[landingStats]] saw. `leaves` is (leaf dir, visible file
    * count, visible bytes) — one row per data-bearing dir; `debris`
    * lists crash artifacts ([[repairLanding]]'s input), `lockHeld`
    * whether a maintenance lock file currently exists, and
    * `writerLockHeld` whether an ingest writer lock does (a stream is
    * — or recently was — writing this landing). */
  final case class LandingStats(
    leaves: Seq[(String, Int, Long)], totalFiles: Int, totalBytes: Long,
    debris: Seq[String], lockHeld: Boolean, writerLockHeld: Boolean = false)

  /** Read-only landing observability — the numbers an operator needs
    * to DECIDE on maintenance: per-leaf visible file counts and bytes
    * (is the landing accreted enough that a compaction pays for
    * itself?), crash debris (`.compact-tmp/old-*`, stray manifests —
    * is a repair due?), and whether a maintenance lock is held.
    * Deliberately takes NO slot and NO lock: it must be safe to run
    * while a stream or a maintenance pass is active, and a pure
    * listing cannot corrupt anything — at worst it reports a
    * transient mid-swap state. Listing cost only; no file contents
    * are read. */
  def landingStats(spark: SparkSession, dir: String): LandingStats = {
    val landingDir = LandingGuard.landingKey(spark, dir)
    val landingPath = new org.apache.hadoop.fs.Path(landingDir)
    val fs = landingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]
    // ROOT-level artifacts first. Scanned BEFORE the existence check:
    // the state where the landing root is missing but an aside dir
    // holds it is exactly when the operator most needs the 'run
    // --repair' report.
    val debris = scala.collection.mutable.ArrayBuffer.from(
      rootDebris(fs, landingPath).map(_._1.toString))
    def held(kind: Beside): Boolean =
      landingPath.getParent != null && fs.exists(LandingGuard.beside(landingPath, kind))
    val lock = held(LandingGuard.MaintenanceLock)
    val writerLock = held(LandingGuard.WriterLock)
    if (!fs.exists(landingPath)) {
      require(debris.nonEmpty,
        s"landing dir '$landingDir' does not exist and no crash artifact " +
        "references it")
      // the landing IS the debris — report it instead of erroring
      return LandingStats(Nil, 0, 0L, debris.toSeq.sorted, lock, writerLock)
    }
    // one listing per dir serves both the debris scan and the file
    // counts — the promised cost really is one LIST per directory
    walkVisible(fs, landingPath) { (p, entries) =>
      var files = 0; var bytes = 0L
      entries.foreach { s =>
        val n = s.getPath.getName
        if (swapArtifact(s).isDefined || (s.isFile && n == SwapManifest))
          debris += s.getPath.toString
        else if (s.isFile && !isHidden(n)) {
          files += 1; bytes += s.getLen
        }
      }
      if (files > 0) leaves += ((p.toString, files, bytes))
    }
    LandingStats(leaves.toSeq.sortBy(_._1), leaves.map(_._2).sum,
      leaves.map(_._3).sum, debris.toSeq.sorted, lock, writerLock)
  }
}
