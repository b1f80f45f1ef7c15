package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Json, Tables}
import graft.queries.Query

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Times every SparkEntry query against SPARK_GRAFT_SF_DIR and prints
  * one JSON line; the timing reporter over [[QueryRunner]]. Results are forced through the "noop" sink so the
  * full plan executes (a bare .count() would let Catalyst prune
  * projections and undercount the real work).
  *
  * Protocol decisions:
  *  - Warm-up exercises the REAL hot paths (parquet scan + hash agg +
  *    the nanos-events read) so the first measured query doesn't absorb
  *    one-time JVM/codegen/reader setup; a `spark.range` warm-up does
  *    not touch those and previously inflated q01 by ~8 s.
  *  - A query that throws is reported in an `"errors"` object and the
  *    process exits nonzero — a broken query must never silently read
  *    as a fast one.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dev aid: SPARK_GRAFT_BENCH_ONLY=q32,q35 times just those queries.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    // Hygiene first (round-13 forensics): killed sessions orphan
    // blockmgr-*/spark-* dirs — two 11–14 GB ones were found polluting
    // sf10 cells via disk/page-cache pressure. Never fail the bench
    // over cleanup.
    try sweepStaleSparkLocal()
    catch { case e: Throwable =>
      System.err.println(s"[bench] stale-dir sweep failed: ${e.getMessage}")
    }

    // Per-query time is the MIN of three executions: the first run of a
    // plan pays its own whole-stage-codegen compilation + JIT (~0.5-1.5s
    // for complex aggregates) that no steady-state workload re-pays,
    // and n=3 damps the run-to-run scheduler/GC swings that made q37
    // read 0.58 s in one round-2 run and 2.19 s in another. A query
    // that throws is attempted once and reported in `errors`.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val results = QueryRunner.run("bench", sfDir, only, "graft-bench", warmUp = true) {
      case (spark, Query(_, fn, _)) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      Seq.fill(reps)(once()).min
    }
    // 3-decimal (millisecond) floats in the summary line (r22,
    // VERDICT r21 item 7): the driver's capture tail-truncates long
    // stdout, and round 20's full-precision ~6 KB line lost its head
    // that way, nulling a whole round-over-round PERF table. ~2 KB
    // survives the tail window. Milliseconds lose nothing the bench
    // can claim anyway — the measurement's own noise floor is ±10-20%.
    // This changes PRINTED precision only; the timing methodology and
    // the timed region are byte-unchanged (OPTIMIZATION_r22.md).
    def fmt(v: Double): String = // ROOT locale: a comma-decimal host locale would break the JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = Json.obj(results.map { case (k, r) => k -> fmt(r.getOrElse(0.0)) })
    val total = results.flatMap(_._2.toOption).sum
    val errJson = Json.obj(results.collect { case (k, Left(e)) => k -> Json.str(e) })
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errJson,"sf":${Json.str(sfDir)}}"""
    // The same line also lands in a FILE (QueryRunner.emit). The
    // default path is inside the repo so the end-of-round snapshot
    // commit preserves the full per-query map.
    // Only a FULL-suite run at the driver's bench scale (sf0.1)
    // defaults to the committed artifact — a dev run at another scale
    // must not clobber the round's sf0.1 record (it did once, via the
    // verify recipe's sf0.01 smoke; caught in review), and neither may
    // a BENCH_ONLY-filtered probe (the floor probe runs 5 queries at
    // sf0.1 and overwrote the 82-cell record; caught in round 12).
    val defaultOut =
      if (sfDir.endsWith("/sf0.1") && only.isEmpty) "BENCH_FULL.json"
      else s"/tmp/bench_full_${new java.io.File(sfDir).getName}.json"
    QueryRunner.emit("bench", line, sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut))
    if (results.exists(_._2.isLeft)) sys.exit(1)
  }

  /** Sweep orphaned Spark local-storage dirs before the run. A killed
    * session (ctrl-C'd bench, OOM'd test JVM) leaves its `blockmgr-*`
    * shuffle store and `spark-*` scratch dir behind in the local-dir
    * root forever; at sf10 a single orphan is 11–14 GB of dead shuffle
    * blocks competing for disk and page cache with the measured run.
    *
    * A dir is swept only when BOTH hold: (1) no file anywhere in its
    * tree was modified in 30 min — an actively-working session's
    * shuffle/scratch files are seconds old (the walk checks every
    * file; a top-level-mtime check would miss block files in subdirs)
    * — and (2) no live process holds an open fd under it (/proc
    * scan). Honest limits: a session that has been fully QUIESCENT
    * for 30+ min with zero open handles into its store is
    * indistinguishable from an orphan by any local heuristic and
    * would be swept; on a bench host that trade is right, and
    * `SPARK_GRAFT_SWEEP=0` disables the sweep entirely for shared
    * hosts. Prints what it swept so the session notes can record the
    * dir state. */
  private def sweepStaleSparkLocal(): Unit = {
    if (sys.env.get("SPARK_GRAFT_SWEEP").contains("0")) return
    val root = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp"))
    val cutoff = System.currentTimeMillis() - 30 * 60 * 1000L
    val candidates = Option(root.listFiles()).getOrElse(Array.empty).filter { f =>
      f.isDirectory &&
        (f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-"))
    }
    // pass 1: find mtime-stale candidates (and their sizes)
    val stale = candidates.flatMap { d =>
      var newest = d.lastModified()
      var size = 0L
      def walk(f: java.io.File): Unit =
        Option(f.listFiles()).getOrElse(Array.empty).foreach { k =>
          if (k.lastModified() > newest) newest = k.lastModified()
          if (k.isDirectory) walk(k) else size += k.length()
        }
      walk(d)
      if (newest < cutoff) Some(d -> size) else None
    }
    // pass 2: ONE /proc scan marks which stale candidates some live
    // process still holds open (scanning per candidate would re-walk
    // every pid's fd table once per dir)
    val held = dirsWithOpenFds(stale.map(_._1.getAbsolutePath).toSet)
    var swept = 0
    var bytes = 0L
    var failed = 0
    stale.foreach { case (d, size) =>
      if (!held(d.getAbsolutePath)) {
        // count only what was actually removed: File.delete returns
        // false on EACCES/EBUSY (e.g. another user's orphan), and a
        // "freed" line covering bytes still on disk is exactly the
        // false session-notes record this sweep exists to prevent
        def del(f: java.io.File): Boolean = {
          // map-then-forall, not forall(del): attempt EVERY child even
          // after one fails, so a partial sweep still frees what it can
          val kidsOk = Option(f.listFiles()).getOrElse(Array.empty)
            .map(del).forall(identity)
          kidsOk && f.delete()
        }
        if (del(d)) { swept += 1; bytes += size }
        else failed += 1
      }
    }
    if (swept > 0)
      System.err.println(
        f"[bench] swept $swept stale spark-local dir(s), ${bytes / 1e9}%.1f GB freed")
    if (failed > 0)
      System.err.println(
        s"[bench] WARNING: $failed stale spark-local dir(s) could NOT be removed " +
        "(permissions?) — their dead blocks still compete with this run")
  }

  /** The subset of `dirs` under which some live process holds an open
    * file descriptor — one walk of /proc/<pid>/fd for ALL dirs
    * (unreadable entries — raced exits, permissions — count as no
    * evidence). */
  private def dirsWithOpenFds(dirs: Set[String]): Set[String] = {
    if (dirs.isEmpty) return Set.empty
    val found = scala.collection.mutable.Set.empty[String]
    val procs = Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
    procs.foreach { p =>
      Option(new java.io.File(p, "fd").listFiles()).getOrElse(Array.empty).foreach { fd =>
        try {
          val t = java.nio.file.Files.readSymbolicLink(fd.toPath).toString
          dirs.foreach { d => if (t == d || t.startsWith(d + "/")) found += d }
        } catch { case _: Throwable => () }
      }
    }
    found.toSet
  }

  /** Touch each scan/codegen path the measured queries rely on:
    * parquet vectorized read, whole-stage hash aggregation, shuffle,
    * and the legacy nanos-long events column. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").agg(count(lit(1)))
      .write.format("noop").mode("overwrite").save()
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"))
      .groupBy("event_type").agg(max(col("ts")))
      .write.format("noop").mode("overwrite").save()
    Tables.documents(spark, sfDir).agg(sum(length(col("text"))))
      .write.format("noop").mode("overwrite").save()
    Tables.embeddings(spark, sfDir)
      .agg(sum(size(col("embedding"))))
      .write.format("noop").mode("overwrite").save()
  }
}
