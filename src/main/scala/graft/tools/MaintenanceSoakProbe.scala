package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{EventStreams, LandingMaintenance}

/** Maintenance-UNDER-LOAD soak: what a live pipeline pays when the
  * landing is compacted mid-stream. CompactionSpec proves ingest and
  * compaction EXCLUDE each other on one landing (one-writer contract),
  * and IngestSoakProbe proves per-batch cost is flat — this probe
  * measures the piece between them, the operational maintenance
  * window a 100 TB deployment schedules:
  *
  *  1. first half of the batches land through `ingestPipeline` onto a
  *     partitioned landing (8 `bucket` leaves, so the append pattern
  *     accretes files per leaf and compaction runs its LEAF-PARALLEL
  *     path, the 100 TB shape);
  *  2. the stream stops (the one-writer contract makes the window
  *     explicit — maintenance never runs under a live writer),
  *     `compactLanding` rewrites every leaf, wall-clock recorded;
  *  3. throughout step 2 a READER thread keeps issuing the pruned
  *     aggregate a serving cluster would run (readers are NOT
  *     excluded — swaps are rename-based), recording per-read latency
  *     and any transient failures, against a quiesced baseline taken
  *     just before the window;
  *  4. a NEW stream (fresh checkpoint; the stopped stream's carries
  *     and count died with it — the fresh-JVM worst case) resumes on
  *     the compacted landing; the
  *     first batch pays the seed-over-landed-state path and is
  *     reported separately from the steady-state tail.
  *
  * Deterministic: seeded RNG, fixed word pool (IngestSoakProbe's).
  *
  * Run: `java … graft.tools.MaintenanceSoakProbe [nBatches] [docsPerBatch] [targetFiles]`
  * (defaults: 24 2000 4). Prints per-batch seconds, the compaction
  * wall, reader latency during-vs-baseline, and a flatness summary
  * (pre-window median vs post-restart-tail median).
  */
object MaintenanceSoakProbe {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 24
    val perBatch = if (args.length > 1) args(1).toInt else 2000
    val targetFiles = if (args.length > 2) args(2).toInt else 4
    require(nBatches >= 4, "need at least 4 batches for the pre/post split")
    val spark = graft.core.GraftSession.build("graft-maint-soak", "32")
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val words = Vector("the", "data", "table", "scan", "sort", "hash", "join",
      "key", "row", "agg", "part", "line", "value", "query", "fast", "slow",
      "small", "big", "stream", "window", "filter", "batch", "merge", "order",
      "group", "column", "vector", "customer", "spark", "dup")
    val rnd = new scala.util.Random(0x4A11C0DEL)
    def freshText(): String =
      Seq.fill(50)(words(rnd.nextInt(words.length))).mkString(" ")

    val landing = java.nio.file.Files.createTempDirectory("graft-maint").toString + "/corpus"
    var nextId = 0L
    def batchRows() = (0 until perBatch).map { _ =>
      nextId += 1
      (nextId, freshText(), nextId % 8) // bucket: 8 leaves
    }

    val half = nBatches / 2
    val pre = new Array[Double](half)
    val post = new Array[Double](nBatches - half)

    // ---- phase 1: first half of the stream ----
    val in1 = MemoryStream[(Long, String, Long)]
    val q1 = EventStreams.ingestPipeline(
      in1.toDF().toDF("doc_id", "text", "bucket"), landing,
      java.nio.file.Files.createTempDirectory("graft-maint-ck1").toString,
      partitionCols = Seq("bucket"))
    try {
      for (b <- 0 until half) {
        val docs = batchRows()
        val t0 = System.nanoTime()
        in1.addData(docs: _*)
        q1.processAllAvailable()
        pre(b) = (System.nanoTime() - t0) / 1e9
        println(f"[maint] pre  batch $b%3d  ${pre(b)}%6.3f s")
      }
    } finally q1.stop()

    // ---- the serving read a cluster keeps running ----
    def servingRead(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(landing)
        .filter(org.apache.spark.sql.functions.col("bucket") === 3)
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text"))))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    val baselineReads = (1 to 5).map(_ => servingRead())

    // ---- phase 2: compaction, with the reader hammering alongside ----
    val readLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val readErr = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var maintaining = true
    val reader = new Thread(() => {
      while (maintaining) {
        try readLat.add(servingRead())
        catch { case _: Throwable => readErr.incrementAndGet() }
      }
    }, "maint-soak-reader")
    reader.start()
    val filesBefore = spark.read.parquet(landing).inputFiles.length
    val tC0 = System.nanoTime()
    val stats = LandingMaintenance.compactLanding(spark, landing,
      targetFiles = targetFiles, leafParallelism = 4)
    val compactWall = (System.nanoTime() - tC0) / 1e9
    maintaining = false
    reader.join(30000)
    val filesAfter = spark.read.parquet(landing).inputFiles.length

    // ---- phase 3: resume — fresh checkpoint, nothing carried ----
    val in2 = MemoryStream[(Long, String, Long)]
    val q2 = EventStreams.ingestPipeline(
      in2.toDF().toDF("doc_id", "text", "bucket"), landing,
      java.nio.file.Files.createTempDirectory("graft-maint-ck2").toString,
      partitionCols = Seq("bucket"))
    try {
      for (b <- 0 until (nBatches - half)) {
        val docs = batchRows()
        val t0 = System.nanoTime()
        in2.addData(docs: _*)
        q2.processAllAvailable()
        post(b) = (System.nanoTime() - t0) / 1e9
        println(f"[maint] post batch $b%3d  ${post(b)}%6.3f s")
      }
    } finally q2.stop()

    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.length / 2)
    val during = {
      import scala.jdk.CollectionConverters._
      readLat.iterator().asScala.toSeq
    }
    println(f"[maint] compaction wall ${compactWall}%6.3f s  " +
      s"(files $filesBefore -> $filesAfter, stats=$stats)")
    println(f"[maint] reader baseline med ${med(baselineReads)}%6.3f s; " +
      f"during maintenance n=${during.size} med ${med(during)}%6.3f s " +
      f"max ${if (during.isEmpty) Double.NaN else during.max}%6.3f s; " +
      s"transient failures ${readErr.get()}")
    println(f"[maint] first batch after restart ${post(0)}%6.3f s " +
      "(seed-over-landed-state, the fresh-JVM worst case)")
    println(f"[maint] steady-state: pre-window med ${med(pre.toSeq.drop(1))}%6.3f s vs " +
      f"post-restart tail med ${med(post.toSeq.drop(1))}%6.3f s")
    spark.stop()
  }
}
