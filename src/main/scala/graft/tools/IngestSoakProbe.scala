package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.EventStreams

/** Steady-state soak for the composed streaming ingest — the direct
  * measurement behind the round-14 claim that per-batch cost is
  * O(batch), not O(corpus): drive [[EventStreams.ingestPipeline]]
  * through many micro-batches of constant size and record each
  * batch's wall time as the landed corpus grows.
  *
  * Two mixes, because the engine makes two different promises:
  *  - `clean` (all fresh texts): every probe is bloom-negative, the
  *    landing is never read — per-batch time must stay FLAT as the
  *    corpus grows (the carried-state claim, listener-pinned in
  *    StreamingSpec; this probe is its longitudinal measurement).
  *  - `dup` (~70% fresh / 20% exact reposts / 10% near-dup edits):
  *    every batch has bloom-positive rows, so both confirm joins run
  *    — their PROBE side is batch-bounded but their corpus side scans
  *    the landing, the documented bounded residual. Expect growth
  *    with corpus size here; the probe quantifies it.
  *
  * The probe's first finding (pre-`AppendFiles`): per-batch time grew
  * visibly within ~10 batches in BOTH mixes because each micro-batch
  * appended one part file per shuffle partition — corpus scans paid
  * per-file open cost growing with stream AGE, not data. That led to
  * the `AppendFiles` batch repartition in the ingest writes.
  *
  * Deterministic: seeded RNG, fixed word pool.
  *
  * The `sem` mix soaks [[EventStreams.ingestSemantic]] instead: random
  * unit-ish vectors (seeded), ~10% scaled reposts of accepted ones.
  * Unlike the MinHash stages, hyperplane buckets are DENSE (2^bits per
  * band), so as the corpus fills the bucket space, probe-positive
  * batches — and their confirm joins over the landed codes + candidate
  * vectors — become the steady state, not the exception. This arm
  * measures that growth curve directly (bits sized by occupancyBits
  * for the final corpus, the documented deployment rule).
  *
  * The `decon` and `dsir` mixes soak the round-16 FROZEN-STATE gates
  * ([[EventStreams.ingestDecontaminate]] / [[EventStreams.ingestDsir]]):
  * no carried state at all, so per-batch time must stay flat as the
  * landing grows — decon with ~5% contaminated rows so the confirm
  * path (bloom-positive grams vs the snapshotted set) runs most
  * batches, dsir landing everything (threshold Long.MinValue) so the
  * landing itself grows maximally while scoring stays map-only.
  *
  * Run: `java … graft.tools.IngestSoakProbe [clean|dup|sem|decon|dsir] [nBatches] [docsPerBatch]`
  * (defaults: clean 32 500). Prints per-batch seconds and a flatness
  * summary (median of the second quarter vs the last quarter). */
object IngestSoakProbe {
  def main(args: Array[String]): Unit = {
    val mix = if (args.length > 0) args(0) else "clean"
    require(Seq("clean", "dup", "sem", "decon", "dsir").contains(mix),
      s"mix must be clean|dup|sem|decon|dsir, got '$mix'")
    val nBatches = if (args.length > 1) args(1).toInt else 32
    val perBatch = if (args.length > 2) args(2).toInt else 500
    val spark = graft.core.GraftSession.build("graft-ingest-soak", "32")
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val words = Vector("the", "data", "table", "scan", "sort", "hash", "join",
      "key", "row", "agg", "part", "line", "value", "query", "fast", "slow",
      "small", "big", "stream", "window", "filter", "batch", "merge", "order",
      "group", "column", "vector", "customer", "spark", "dup")
    val rnd = new scala.util.Random(0x50AC5EEDL)
    def freshText(): String =
      Seq.fill(50)(words(rnd.nextInt(words.length))).mkString(" ")

    val landing = java.nio.file.Files.createTempDirectory("graft-soak").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-soak-ckpt").toString
    // the running stream's carried landed count, read off its open handle
    def landedNow(): Long =
      graft.streaming.LandingGuard.active(spark, landing).fold(-1L)(_.landed.get())
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    var nextId = 0L

    val times = new Array[Double](nBatches)
    if (mix == "sem") {
      // occupancy-sized code width for the FINAL corpus (the
      // deployment rule); ~10% of rows repost an accepted vector
      // scaled (cosine 1 — a guaranteed semantic dup)
      val dim = 32
      val bits = graft.ops.Similarity.occupancyBits(nBatches.toLong * perBatch)
      val sentVecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
      def freshVec(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
      val input = MemoryStream[(Long, Seq[Double])]
      val q = EventStreams.ingestSemantic(input.toDF().toDF("doc_id", "embedding"),
        landing, ckpt, tau = 0.95, bits = bits)
      try {
        for (b <- 0 until nBatches) {
          val docs = (0 until perBatch).map { _ =>
            nextId += 1
            val vec =
              if (rnd.nextInt(10) < 9 || sentVecs.isEmpty) {
                val v = freshVec(); sentVecs += v; v
              } else sentVecs(rnd.nextInt(sentVecs.length)).map(_ * 2)
            (nextId, vec)
          }
          val t0 = System.nanoTime()
          input.addData(docs: _*)
          q.processAllAvailable()
          times(b) = (System.nanoTime() - t0) / 1e9
          println(f"[soak] $mix batch $b%3d  ${times(b)}%6.3f s  (landed≈${landedNow()}, bits=$bits)")
        }
      } finally q.stop()
    } else if (mix == "decon") {
      val benchDir = java.nio.file.Files.createTempDirectory("graft-soak-bm").toString + "/bench"
      graft.ops.Decontaminate.landBenchmark(
        Seq((0L, "leaked benchmark question alpha beta gamma delta epsilon"))
          .toDF("doc_id", "text"), benchDir)
      val input = MemoryStream[(Long, String)]
      val q = EventStreams.ingestDecontaminate(
        input.toDF().toDF("doc_id", "text"), landing, ckpt, benchDir)
      try {
        for (b <- 0 until nBatches) {
          val docs = (0 until perBatch).map { _ =>
            nextId += 1
            // ~5% contaminated: the confirm path runs most batches
            val text =
              if (rnd.nextInt(20) == 0) freshText() + " leaked benchmark question"
              else freshText()
            (nextId, text)
          }
          val t0 = System.nanoTime()
          input.addData(docs: _*)
          q.processAllAvailable()
          times(b) = (System.nanoTime() - t0) / 1e9
          println(f"[soak] $mix batch $b%3d  ${times(b)}%6.3f s")
        }
      } finally q.stop()
    } else if (mix == "dsir") {
      val train = ((0 until 200).map(i => (i.toLong, freshText(), "tgt")) ++
        (200 until 400).map(i => (i.toLong, freshText(), "src")))
        .toDF("doc_id", "text", "source")
      val input = MemoryStream[(Long, String)]
      val q = EventStreams.ingestDsir(
        input.toDF().toDF("doc_id", "text"), landing, ckpt,
        train, org.apache.spark.sql.functions.col("source") === "tgt",
        minLogwMicronats = Long.MinValue) // land everything: max landing growth
      try {
        for (b <- 0 until nBatches) {
          val docs = (0 until perBatch).map { _ => nextId += 1; (nextId, freshText()) }
          val t0 = System.nanoTime()
          input.addData(docs: _*)
          q.processAllAvailable()
          times(b) = (System.nanoTime() - t0) / 1e9
          println(f"[soak] $mix batch $b%3d  ${times(b)}%6.3f s")
        }
      } finally q.stop()
    } else {
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestPipeline(input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      for (b <- 0 until nBatches) {
        val docs = (0 until perBatch).map { _ =>
          nextId += 1
          val roll = if (mix == "clean") 0 else rnd.nextInt(10)
          val text =
            if (roll < 7 || sent.isEmpty) { val t = freshText(); sent += t; t }
            else if (roll < 9) sent(rnd.nextInt(sent.length))           // exact repost
            else sent(rnd.nextInt(sent.length)) + " soak edit tail"     // near-dup edit
          (nextId, text)
        }
        val t0 = System.nanoTime()
        input.addData(docs: _*)
        q.processAllAvailable()
        times(b) = (System.nanoTime() - t0) / 1e9
        println(f"[soak] $mix batch $b%3d  ${times(b)}%6.3f s  (landed≈${landedNow()})")
      }
    } finally q.stop()
    }

    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
    val q2 = median(times.slice(nBatches / 4, nBatches / 2).toSeq)
    val q4 = median(times.slice(3 * nBatches / 4, nBatches).toSeq)
    println(f"[soak] $mix: median second-quarter ${q2}%.3f s, last-quarter ${q4}%.3f s, " +
      f"ratio ${q4 / q2}%.2f (flat ≈ 1.0)")
    spark.stop()
  }
}
