package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventStreams, LandingGuard, LandingMaintenance}

/** [[LandingMaintenance.compactLanding]] — the maintenance half of the
  * landing file-count story: the ingest append's fixed file count
  * bounds what each micro-batch adds, compaction rewrites the linear-in-batch-count
  * accretion back to O(targetFiles) between stream sessions, without
  * changing a row. */
class CompactionSpec extends AnyFunSuite with SparkTestSession {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def visibleFiles(dir: String): Seq[String] =
    graft.core.Tables.listing(spark, dir).filter { part =>
      val p = part.substring(0, part.lastIndexOf(':', part.lastIndexOf(':') - 1))
      val base = p.substring(p.lastIndexOf('/') + 1)
      !(base.startsWith("_") || base.startsWith("."))
    }

  private def landedTexts(dir: String): Seq[(Long, String)] =
    spark.read.parquet(dir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

  /** Land three batches through `ingest`, compact to 2 files, and
    * check that a new stream on the compacted landing holds every one
    * of `stages`' carries again (reseeded from it) — and still dedups. */
  private def compactionKeepsCarries(
      prefix: String, stages: Seq[String],
      ingest: (org.apache.spark.sql.DataFrame, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = tmpDir(prefix) + "/corpus"
    def carries = LandingGuard.active(spark, landing).fold(Set.empty[String])(_.carries.keySet)
    val input = MemoryStream[(Long, String)]
    val q = ingest(input.toDF().toDF("doc_id", "text"), landing, tmpDir(prefix + "-ck"))
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      q.processAllAvailable()
      input.addData((4L, "delta"), (5L, "epsilon"), (6L, "zeta"))
      q.processAllAvailable()
      input.addData((7L, "eta"), (8L, "theta"), (9L, "iota"))
      q.processAllAvailable()
      assert(carries == stages.toSet, s"carries expected before compaction: $stages")
    } finally q.stop()
    val before = landedTexts(landing)
    assert(before.size == 9)
    assert(visibleFiles(landing).size > 2, "fixture must actually be accreted")

    val stats = LandingMaintenance.compactLanding(spark, landing, targetFiles = 2)
    assert(stats.filesBefore > 2 && stats.filesAfter <= 2)
    assert(stats.rows == 9L)
    assert(visibleFiles(landing).size == stats.filesAfter)
    assert(landedTexts(landing) == before, "compaction must not change a row")

    // and it still deduplicates: a new stream on the compacted landing
    // rejects a landed text, admits a fresh one
    val in2 = MemoryStream[(Long, String)]
    val q2 = ingest(in2.toDF().toDF("doc_id", "text"), landing, tmpDir(prefix + "-ck2"))
    try {
      in2.addData((10L, "alpha"), (11L, "kappa"))
      q2.processAllAvailable()
      assert(carries == stages.toSet, s"carries expected after the restart: $stages")
    } finally q2.stop()
    assert(landedTexts(landing) == (before :+ (11L, "kappa")).sorted)
  }

  test("compactLanding: accreted landing rewritten to targetFiles, rows and carry preserved") {
    compactionKeepsCarries("graft-compact", Seq("exact"),
      (docs, landing, ckpt) => EventStreams.ingestDedup(docs, landing, ckpt))
  }

  test("compactLanding keeps every stage's carry on an ingestPipeline landing") {
    compactionKeepsCarries("graft-compact-pipe", Seq("exact", "near"),
      (docs, landing, ckpt) => EventStreams.ingestPipeline(docs, landing, ckpt))
  }

  test("compactLanding: no-op when the landing is already at or under targetFiles") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = tmpDir("graft-compact-noop") + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(
      input.toDF().toDF("doc_id", "text"), landing, tmpDir("graft-compact-noop-ck"))
    try {
      input.addData((1L, "alpha")); q.processAllAvailable()
    } finally q.stop()
    val before = graft.core.Tables.listing(spark, landing)
    val stats = LandingMaintenance.compactLanding(spark, landing, targetFiles = 8)
    assert(stats.rows == -1L && stats.filesBefore == stats.filesAfter)
    assert(graft.core.Tables.listing(spark, landing) == before,
      "no-op must not touch the landing")
  }

  test("compactLanding counts what landingStats counts: a _temporary leftover is no file") {
    import spark.implicits._
    val landing = tmpDir("graft-compact-tmpleft") + "/corpus"
    for (i <- 1 to 3)
      Seq((i.toLong, s"text $i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(landing)
    // a killed task's truncated part file under the committer's tree
    val attempt = java.nio.file.Paths.get(landing, "_temporary", "0", "_temporary",
      "attempt_202610190000_0001_m_000000_0")
    java.nio.file.Files.createDirectories(attempt)
    java.nio.file.Files.write(
      attempt.resolve(s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet"),
      "PAR1 truncated".getBytes("UTF-8"))
    val stats = LandingMaintenance.landingStats(spark, landing)
    assert(stats.totalFiles == 3)
    val before = graft.core.Tables.listing(spark, landing)
    val c = LandingMaintenance.compactLanding(spark, landing, targetFiles = 3)
    assert(c.filesBefore == stats.totalFiles && c.rows == -1L, c)
    assert(graft.core.Tables.listing(spark, landing) == before, "nothing to rewrite")
  }

  test("compactLanding and ingest streams exclude each other on one landing") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = tmpDir("graft-compact-excl") + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(
      input.toDF().toDF("doc_id", "text"), landing, tmpDir("graft-compact-excl-ck"))
    try {
      input.addData((1L, "alpha"), (2L, "beta")); q.processAllAvailable()
      // stream active -> compaction refused
      val err = intercept[IllegalStateException] {
        LandingMaintenance.compactLanding(spark, landing, 1)
      }
      assert(err.getMessage.contains(landing))
    } finally q.stop()
    // a maintenance-style handle holding the slot (no run) -> stream
    // refused (open takes over the stopped stream's handle if its
    // termination is not yet observed)
    val held = LandingGuard.open(spark, landing)
    try {
      val in2 = MemoryStream[(Long, String)]
      intercept[IllegalStateException] {
        EventStreams.ingestDedup(
          in2.toDF().toDF("doc_id", "text"), landing, tmpDir("graft-compact-excl-ck2"))
      }
      intercept[IllegalStateException] {
        LandingMaintenance.compactLanding(spark, landing, 1)
      }
    } finally held.close()
  }

  test("compactLanding: hive-partitioned dir compacted per leaf, pruning layout intact") {
    import spark.implicits._
    val dir = tmpDir("graft-compact-part") + "/landing"
    // nested two-level layout; two append writes guarantee >= 2 files
    // in every leaf (each half covers all four (month, lang) combos)
    val rows = (1L to 24L).map(i =>
      (i, if (i % 2 == 0) "2026-01" else "2026-02", if (i % 3 == 0) "en" else "de", s"doc$i"))
    rows.toDF("id", "month", "lang", "text").where($"id" <= 12)
      .repartition(3).write.partitionBy("month", "lang").parquet(dir)
    rows.toDF("id", "month", "lang", "text").where($"id" > 12)
      .repartition(3).write.mode("append").partitionBy("month", "lang").parquet(dir)
    def leafDirs(root: java.io.File): Seq[java.io.File] =
      root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
        .flatMap { d =>
          val sub = leafDirs(d)
          if (sub.isEmpty) Seq(d) else sub
        }.toSeq
    val root = new java.io.File(dir)
    val leavesBefore = leafDirs(root).map(_.getPath).sorted
    assert(leavesBefore.size == 4, "fixture expects 2 months x 2 langs")
    def leafFileCount(p: String): Int =
      new java.io.File(p).listFiles().count(f =>
        f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(leavesBefore.map(leafFileCount).forall(_ >= 2), "fixture must be accreted per leaf")
    val before = spark.read.parquet(dir)
      .select("id", "month", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).sorted.toSeq

    val stats = LandingMaintenance.compactLanding(spark, dir, targetFiles = 1)
    assert(stats.rows == 24L && stats.filesAfter == 4 && stats.filesAfter < stats.filesBefore)
    // the directory tree is untouched: same leaves, each at/under budget
    assert(leafDirs(root).map(_.getPath).sorted == leavesBefore)
    assert(leavesBefore.map(leafFileCount).forall(_ == 1))
    // rows round-trip exactly, partition columns included
    val after = spark.read.parquet(dir)
      .select("id", "month", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).sorted.toSeq
    assert(after == before, "per-leaf compaction must not change a row")
    // and partition pruning still prunes: a one-leaf filter reads one dir
    val pruned = spark.read.parquet(dir)
      .where($"month" === "2026-01" && $"lang" === "en")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in the plan"))
    assert(scan.metadata("PartitionFilters").contains("month"),
      "month/lang predicates did not become partition filters")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"one-leaf filter must read 1 partition, read ${scan.selectedPartitions.partitionCount}")
  }

  test("compactLanding: concurrent and serial leaf rewrites produce the same landing") {
    import spark.implicits._
    def build(dir: String): Unit = {
      val rows = (1L to 24L).map(i =>
        (i, if (i % 2 == 0) "2026-01" else "2026-02", if (i % 3 == 0) "en" else "de", s"doc$i"))
      rows.toDF("id", "month", "lang", "text").where($"id" <= 12)
        .repartition(3).write.partitionBy("month", "lang").parquet(dir)
      rows.toDF("id", "month", "lang", "text").where($"id" > 12)
        .repartition(3).write.mode("append").partitionBy("month", "lang").parquet(dir)
    }
    def shape(dir: String): (Seq[(Long, String, String, String)], Seq[String]) = {
      val rows = spark.read.parquet(dir).select("id", "month", "lang", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).sorted.toSeq
      def files(f: java.io.File): Seq[String] = f.listFiles().toSeq.flatMap { c =>
        if (c.isDirectory) files(c).map(c.getName + "/" + _)
        else if (!c.getName.startsWith(".") && !c.getName.startsWith("_")) Seq("f")
        else Nil
      }
      (rows, files(new java.io.File(dir)).sorted)
    }
    val serial = tmpDir("graft-compact-ser") + "/landing"
    val par = tmpDir("graft-compact-par") + "/landing"
    build(serial); build(par)
    val s1 = LandingMaintenance.compactLanding(spark, serial, targetFiles = 1, leafParallelism = 1)
    val s2 = LandingMaintenance.compactLanding(spark, par, targetFiles = 1, leafParallelism = 4)
    assert(s1.rows == 24L && s2.rows == 24L)
    assert(s1.filesBefore == s2.filesBefore && s1.filesAfter == s2.filesAfter)
    // same rows, same per-leaf file counts (file NAMES differ by job uuid)
    val (rowsS, filesS) = shape(serial)
    val (rowsP, filesP) = shape(par)
    assert(rowsS.map(t => (t._1, t._4)) == rowsP.map(t => (t._1, t._4)))
    assert(filesS.map(_.replaceAll("/[^/]*$", "")) == filesP.map(_.replaceAll("/[^/]*$", "")))
    assert(intercept[IllegalArgumentException] {
      LandingMaintenance.compactLanding(spark, par, 1, leafParallelism = 0)
    }.getMessage.contains("leafParallelism"))
  }

  test("compactLanding refuses a dir mixing data files with partition subdirs") {
    import spark.implicits._
    val dir = tmpDir("graft-compact-mixed") + "/landing"
    Seq((1L, "2026-01", "a"), (2L, "2026-02", "b"))
      .toDF("id", "month", "text")
      .write.partitionBy("month").parquet(dir)
    // a stray visible data file at the partition level breaks the layout
    Seq((3L, "c")).toDF("id", "text").coalesce(1)
      .write.parquet(dir + "-stray")
    val stray = new java.io.File(dir + "-stray").listFiles()
      .find(f => f.getName.startsWith("part-")).get
    java.nio.file.Files.copy(stray.toPath,
      new java.io.File(dir, stray.getName).toPath)
    val err = intercept[IllegalArgumentException] {
      LandingMaintenance.compactLanding(spark, dir, 1)
    }
    assert(err.getMessage.contains("mixes hive partition subdirs"))
    // untouched: both partitions still present
    assert(new java.io.File(dir).listFiles().count(f =>
      f.isDirectory && f.getName.startsWith("month=")) == 2)
  }

  test("compactLanding: an out-of-band append racing a LEAF swap aborts, rows all survive") {
    import spark.implicits._
    val dir = tmpDir("graft-compact-leafrace") + "/landing"
    (1L to 12L).map(i => (i, if (i % 2 == 0) "en" else "de", s"doc$i"))
      .toDF("id", "lang", "text")
      .repartition(4)
      .write.partitionBy("lang").parquet(dir)
    val racedLeaf = dir + "/lang=de"
    val err = intercept[IllegalStateException] {
      LandingMaintenance.compact(spark, dir, 1, 4, {
        case (LandingMaintenance.BeforeAside, d) if d.endsWith("lang=de") =>
          Seq((99L, "raced")).toDF("id", "text")
            .coalesce(1).write.mode("append").parquet(racedLeaf)
        case _ => ()
      })
    }
    assert(err.getMessage.contains("changed during compaction"))
    // every original row AND the raced-in row survive
    val got = spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((1L to 12L) :+ 99L).sorted)
    // no temp debris from the aborted leaf
    assert(new java.io.File(dir).listFiles().map(_.getName)
      .forall(!_.contains(".compact-tmp-")), "aborted leaf must clean its temp dir")
  }

  test("compactLanding: an out-of-band append racing the swap aborts, landing untouched") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = tmpDir("graft-compact-race") + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(
      input.toDF().toDF("doc_id", "text"), landing, tmpDir("graft-compact-race-ck"))
    try {
      input.addData((1L, "alpha"), (2L, "beta")); q.processAllAvailable()
      input.addData((3L, "gamma"), (4L, "delta")); q.processAllAvailable()
    } finally q.stop()
    val before = landedTexts(landing)
    val err = intercept[IllegalStateException] {
      LandingMaintenance.compact(spark, landing, 1, 4, {
        // a foreign writer lands a row between the compaction read and
        // the swap — exactly the rows a blind swap would destroy
        case (LandingMaintenance.BeforeAside, _) =>
          Seq((99L, "raced")).toDF("doc_id", "text")
            .coalesce(1).write.mode("append").parquet(landing)
        case _ => ()
      })
    }
    assert(err.getMessage.contains("changed during compaction"))
    // the landing keeps BOTH the original rows and the raced-in row,
    // and no temp debris survives the abort
    assert(landedTexts(landing) == (before :+ (99L, "raced")).sorted)
    val parent = new java.io.File(landing).getParentFile
    assert(parent.listFiles().map(_.getName).forall(!_.contains(".compact-tmp-")),
      "aborted compaction must clean its temp dir")
  }

  test("compactLanding: a foreign writer RECREATING the dir mid-swap never loses a row") {
    import spark.implicits._
    val dir = tmpDir("graft-compact-recreate") + "/landing"
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
      .repartition(3).write.parquet(dir)
    // between the aside rename and the swap, a foreign writer
    // recreates the target dir — Hadoop's rename then NESTS the
    // compacted output inside it instead of failing, so a blind
    // delete of the aside dir would destroy every original row
    val err = intercept[IllegalStateException] {
      LandingMaintenance.compact(spark, dir, 1, 4, {
        case (LandingMaintenance.BeforeSwap, _) =>
          Seq((99L, "foreign")).toDF("doc_id", "text")
            .coalesce(1).write.mode("append").parquet(dir)
        case _ => ()
      })
    }
    assert(err.getMessage.contains("recreated") || err.getMessage.contains("restore"),
      s"unexpected message: ${err.getMessage}")
    // the original rows survive in SOME readable place: either the
    // landing (restored) or the aside dir the message points at
    val base = new java.io.File(dir).getParentFile
    val asides = base.listFiles().filter(_.getName.startsWith(".compact-old-"))
    val visible = spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val recovered =
      if (asides.isEmpty) visible
      else visible ++ spark.read.parquet(asides.head.getPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 3L).subsetOf(recovered),
      s"original rows must be recoverable, saw $recovered")
    // and repair makes the aside case an explicit human decision
    if (asides.nonEmpty) {
      val stats = LandingMaintenance.repairLanding(spark, dir)
      assert(stats.unresolved.nonEmpty, "recreated-target aside must be unresolved")
      assert(asides.head.exists(), "unresolved aside must be left intact")
    }
  }

  test("maintenance lock: a crashed run's lock file blocks the next run loudly") {
    import spark.implicits._
    val base = tmpDir("graft-lock")
    val dir = base + "/landing"
    Seq((1L, "alpha")).toDF("doc_id", "text").write.parquet(dir)
    // a successful run takes and releases the lock
    LandingMaintenance.compactLanding(spark, dir, targetFiles = 8)
    assert(!new java.io.File(base, ".maintenance-lock-landing").exists())
    // a crashed run's leftover lock blocks every maintenance form
    java.nio.file.Files.writeString(
      new java.io.File(base, ".maintenance-lock-landing").toPath, "12345")
    for (run <- Seq(
        () => LandingMaintenance.compactLanding(spark, dir, 1),
        () => LandingMaintenance.repairLanding(spark, dir))) {
      val err = intercept[IllegalStateException](run())
      assert(err.getMessage.contains("maintenance lock"))
    }
    // operator deletes the file after confirming nothing runs → works
    assert(new java.io.File(base, ".maintenance-lock-landing").delete())
    assert(LandingMaintenance.repairLanding(spark, dir) ==
      LandingMaintenance.RepairStats(0, 0, 0, 0, Nil))
  }

  test("repairLanding: restores a flat landing a crash left renamed-aside; sweeps tmp debris") {
    import spark.implicits._
    val base = tmpDir("graft-repair-flat")
    val landing = base + "/corpus"
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text").write.parquet(landing)
    val rows = spark.read.parquet(landing).collect().map(_.getLong(0)).sorted.toSeq
    // simulate a crash between the two swap renames: landing moved
    // aside, compacted tmp written but never swapped in
    val uuid = java.util.UUID.randomUUID().toString
    val old = new java.io.File(base, s".compact-old-corpus-$uuid")
    assert(new java.io.File(landing).renameTo(old))
    val tmp = new java.io.File(base, s".compact-tmp-corpus-${java.util.UUID.randomUUID()}")
    assert(tmp.mkdirs())
    java.nio.file.Files.writeString(tmp.toPath.resolve("junk"), "partial")

    val stats = LandingMaintenance.repairLanding(spark, landing)
    assert(stats.oldsRestored == 1 && stats.tmpsDeleted == 1 &&
      stats.oldsDeleted == 0 && stats.unresolved.isEmpty)
    assert(spark.read.parquet(landing).collect().map(_.getLong(0)).sorted.toSeq == rows)
    assert(!old.exists() && !tmp.exists())
    // second run: nothing left to do
    val again = LandingMaintenance.repairLanding(spark, landing)
    assert(again == LandingMaintenance.RepairStats(0, 0, 0, 0, Nil))
  }

  test("repairLanding: finishes a manifest-proven completed swap; refuses an unproven one") {
    import spark.implicits._
    val base = tmpDir("graft-repair-done")
    val landing = base + "/corpus"
    // the landing holds the COMPACTED copy with its swap manifest
    // still present (crash after the swap, before the aside delete)
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(landing)
    val uuid = java.util.UUID.randomUUID().toString
    val oldName = s".compact-old-corpus-$uuid"
    java.nio.file.Files.writeString(
      new java.io.File(landing, ".swap-manifest").toPath, oldName)
    val old = new java.io.File(base, oldName)
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .repartition(4).write.parquet(old.getPath)

    val stats = LandingMaintenance.repairLanding(spark, landing)
    assert(stats.oldsDeleted == 1 && stats.manifestsCleaned == 1 &&
      stats.oldsRestored == 0 && stats.unresolved.isEmpty)
    assert(!old.exists())
    assert(!new java.io.File(landing, ".swap-manifest").exists())
    assert(spark.read.parquet(landing).count() == 2)

    // an aside dir whose target exists WITHOUT a matching manifest
    // (e.g. a new stream recreated the landing after a crash): both
    // sides hold rows, so repair must touch neither
    val old2 = new java.io.File(base, s".compact-old-corpus-${java.util.UUID.randomUUID()}")
    Seq((9L, "gamma")).toDF("doc_id", "text").coalesce(1).write.parquet(old2.getPath)
    val stats2 = LandingMaintenance.repairLanding(spark, landing)
    assert(stats2.unresolved.map(_.stripPrefix("file:")) == Seq(old2.getPath) &&
      stats2.oldsDeleted == 0)
    assert(old2.exists() && spark.read.parquet(landing).count() == 2)
  }

  test("repairLanding: partitioned landing — leaf aside restored, stray manifest swept") {
    import spark.implicits._
    val dir = tmpDir("graft-repair-part") + "/landing"
    Seq((1L, "2026-01", "a"), (2L, "2026-02", "b"))
      .toDF("id", "month", "text")
      .write.partitionBy("month").parquet(dir)
    // crash point 1 on one leaf: the leaf is renamed aside
    val leaf = new java.io.File(dir, "month=2026-01")
    val oldLeaf = new java.io.File(dir,
      s".compact-old-month=2026-01-${java.util.UUID.randomUUID()}")
    assert(leaf.renameTo(oldLeaf))
    // crash point 3 on the other: aside already deleted, manifest left
    java.nio.file.Files.writeString(
      new java.io.File(dir, "month=2026-02/.swap-manifest").toPath,
      s".compact-old-month=2026-02-${java.util.UUID.randomUUID()}")

    val stats = LandingMaintenance.repairLanding(spark, dir)
    assert(stats.oldsRestored == 1 && stats.manifestsCleaned == 1 &&
      stats.unresolved.isEmpty)
    assert(leaf.exists() && !oldLeaf.exists())
    val got = spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  test("landingStats: per-leaf counts, debris and lock visibility, read-only") {
    import spark.implicits._
    val base = tmpDir("graft-stats")
    val dir = base + "/landing"
    Seq((1L, "2026-01", "a"), (2L, "2026-02", "b")).toDF("id", "month", "text")
      .repartition(2).write.partitionBy("month").parquet(dir)
    val clean = LandingMaintenance.landingStats(spark, dir)
    assert(clean.leaves.size == 2 && clean.totalFiles == clean.leaves.map(_._2).sum)
    assert(clean.totalBytes > 0 && clean.debris.isEmpty && !clean.lockHeld)
    // debris + lock become visible; the landing itself is untouched
    assert(new java.io.File(dir,
      s".compact-old-month=2026-01-${java.util.UUID.randomUUID()}").mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(dir, "month=2026-02/.swap-manifest").toPath, "x")
    java.nio.file.Files.writeString(
      new java.io.File(base, ".maintenance-lock-landing").toPath, "1")
    val dirty = LandingMaintenance.landingStats(spark, dir)
    assert(dirty.debris.size == 2 && dirty.lockHeld)
    assert(dirty.totalFiles == clean.totalFiles, "stats must not mutate anything")
    // stats takes neither the slot nor the lock: it ran fine with the
    // lock file present, and the slot is free afterwards
    assert(LandingGuard.active(spark, dir).isEmpty)
  }

  test("landingStats: missing landing with an aside dir reports the debris, not an error") {
    import spark.implicits._
    val base = tmpDir("graft-stats-crash")
    val dir = base + "/corpus"
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(dir)
    // a dash-named SIBLING landing's debris must never be attributed here
    val sibling = new java.io.File(base,
      s".compact-old-corpus-backup-${java.util.UUID.randomUUID()}")
    assert(sibling.mkdirs())
    val healthy = LandingMaintenance.landingStats(spark, dir)
    assert(healthy.debris.isEmpty, s"sibling debris misattributed: ${healthy.debris}")
    // crash point 1: the landing renamed aside — stats must point at
    // the debris (the operator's cue to run --repair), not error out
    val old = new java.io.File(base, s".compact-old-corpus-${java.util.UUID.randomUUID()}")
    assert(new java.io.File(dir).renameTo(old))
    val crashed = LandingMaintenance.landingStats(spark, dir)
    assert(crashed.leaves.isEmpty && crashed.totalFiles == 0)
    assert(crashed.debris.exists(_.contains(old.getName)))
    // a missing landing with NO attributable artifact is still an error
    assert(old.renameTo(new java.io.File(dir)))
    assert(sibling.delete())
    val err = intercept[IllegalArgumentException] {
      LandingMaintenance.landingStats(spark, base + "/nope")
    }
    assert(err.getMessage.contains("does not exist"))
  }

  test("expireLanding: old month dirs dropped whole, survivors and pruning intact") {
    import spark.implicits._
    val dir = tmpDir("graft-expire") + "/landing"
    val rows = Seq(
      (1L, "2025-11", "old1"), (2L, "2025-12", "old2"), (3L, "2025-12", "old3"),
      (4L, "2026-01", "keep1"), (5L, "2026-02", "keep2"))
    rows.toDF("id", "month", "text").repartition(2)
      .write.partitionBy("month").parquet(dir)

    val stats = LandingMaintenance.expireLanding(spark, dir, "month", "2026-01")
    assert(stats.dirsDropped == 2 && stats.filesDropped >= 2)
    // expired dirs gone, survivors untouched
    val monthDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("month=")).map(_.getName).sorted
    assert(monthDirs.toSeq == Seq("month=2026-01", "month=2026-02"))
    val kept = spark.read.parquet(dir).select("id", "month", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(kept == Seq((4L, "2026-01", "keep1"), (5L, "2026-02", "keep2")))
    // nothing sorts before the cutoff now: second run is a no-op
    val again = LandingMaintenance.expireLanding(spark, dir, "month", "2026-01")
    assert(again.dirsDropped == 0 && again.filesDropped == 0)
  }

  test("expireLanding: nested layout expires the column at its level under every parent") {
    import spark.implicits._
    val dir = tmpDir("graft-expire-nested") + "/landing"
    Seq(
      (1L, "a", "2025-12", "x"), (2L, "a", "2026-01", "y"),
      (3L, "b", "2025-12", "z"), (4L, "b", "2026-01", "w"))
      .toDF("id", "source", "month", "text")
      .write.partitionBy("source", "month").parquet(dir)
    val stats = LandingMaintenance.expireLanding(spark, dir, "month", "2026-01")
    assert(stats.dirsDropped == 2)
    val kept = spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 4L))
    // both sources' trees survive with only the new month under each
    for (src <- Seq("a", "b")) {
      val months = new java.io.File(s"$dir/source=$src").listFiles()
        .filter(_.isDirectory).map(_.getName).toSeq
      assert(months == Seq("month=2026-01"), s"source=$src kept $months")
    }
  }

  test("expireLanding refuses a landing without the partition column") {
    import spark.implicits._
    val dir = tmpDir("graft-expire-flat") + "/landing"
    Seq((1L, "a")).toDF("id", "text").write.parquet(dir)
    val err = intercept[IllegalArgumentException] {
      LandingMaintenance.expireLanding(spark, dir, "month", "2026-01")
    }
    assert(err.getMessage.contains("no 'month="))
    assert(spark.read.parquet(dir).count() == 1, "refusal must not touch the landing")
  }
}
