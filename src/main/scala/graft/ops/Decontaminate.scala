package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination against a LANDED gram-fingerprint set —
  * the artifact form of q49's contamination check. At 100 TB the
  * benchmark suite is FIXED while the corpus streams, so recomputing
  * the benchmark gram set per run (q49's in-query shape) re-scans the
  * benchmark for every corpus pass; instead [[landBenchmark]] lands
  * the DISTINCT benchmark 3-grams ONCE (the q81 persisted-artifact
  * discipline: the DuckDB oracle re-reads the same files) together
  * with a Bloom blob over them (`_bloom.bin` beside the parquet —
  * underscore-prefixed, so both engines' parquet readers ignore it),
  * and every later corpus pass / ingest micro-batch probes the landed
  * set.
  *
  * Each landed row carries the SAME gram under two keys:
  *   - `gram` — the md5 bridge (q88/q92/q94 convention), the ORACLE's
  *     join key: fp(g) = ('0x' || substr(md5(g),1,15))::BIGINT is
  *     bit-identical in Spark and DuckDB, so the oracle re-derives a
  *     document's fingerprints from its text and joins them against
  *     the very files the engine landed;
  *   - `gx` — xxhash64, the ENGINE's join key: the corpus side then
  *     rides the fused one-byte-scan native
  *     ([[Text.distinctGramHashesOfText]], q49's fast path) instead of
  *     paying per-gram string md5 at corpus scale (measured 2.5x on
  *     the probe at sf0.1). The two keys count the same hits per doc
  *     absent a 64-bit collision — the accepted q49/q93 tradeoff,
  *     here on BOTH sides of one green hash.
  *
  * Scale shape of [[probe]]: the landed set is the small side (a
  * fixed benchmark suite), broadcast below a row bound from parquet
  * metadata; past it the semi-join prunes to shared grams before any
  * exchange and zero rows re-attach through an id-only scan — q49's
  * two regimes, verbatim. The streaming face
  * ([[graft.streaming.EventStreams.ingestDecontaminate]]) loads the
  * Bloom (built over `gx`) ONCE as frozen state: a clean batch (zero
  * bloom-positive grams) never reads the landed parquet at all — the
  * carried-state discipline of the dedup family applied to a frozen
  * artifact. */
object Decontaminate {

  /** Landing dir derived from (user, source data dir) — the
    * [[IvfPqIndex.dirFor]] discipline, so concurrent runs over
    * different datasets never clobber each other's benchmark set. */
  def dirFor(dataDir: String): String =
    graft.core.ArtifactDirs.dirFor("graft_q97_bench", dataDir)

  /** Dir of the most recent [[landBenchmark]] in this JVM (the
    * [[IvfPqIndex.lastDir]] discipline; `Verify` derives the dir from
    * its own data dir instead). */
  @volatile private var lastDirVar: String = dirFor("")
  def lastDir: String = lastDirVar

  /** Landed sets at or under this row count broadcast in the confirm
    * join; above it the shuffle-semi regime applies. ONE constant for
    * the batch probe and the streaming gate — two sites tuning it
    * independently would make the stream and the carrier pick
    * different join regimes for the same artifact. */
  val BroadcastableRows: Long = 2L * 1000 * 1000

  /** 60-bit md5-bridge fingerprint (q88 convention). */
  private def fp(g: Column): Column =
    conv(substring(md5(g), 1, 15), 16, 10).cast("bigint")

  /** The ENGINE-side per-doc DISTINCT gram keys: q49's fused
    * single-byte-scan native. NULL text yields a NULL array (the
    * callers' explode_outer keeps the doc as a null-gram row, so every
    * doc reaches its aggregate). Public: the streaming gate projects
    * the same keys so the stream and the landed set can never disagree
    * on tokenization. */
  def gramKeys(text: Column): Column = Text.distinctGramHashesOfText(text, 3)

  private def bloomPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_bloom.bin")

  /** Land the benchmark's distinct grams under both keys (+ the Bloom
    * sidecar over `gx`) at `outDir`, overwriting any previous set —
    * benchmarks change rarely and whole (a new suite version is a new
    * landing). One benchmark scan; the blob is aggregated from the
    * LANDED files so set and filter can never disagree. */
  def landBenchmark(bench: DataFrame, outDir: String,
                    textCol: String = "text", bits: Int = 0): Unit = {
    val spark = bench.sparkSession
    val t = coalesce(col(textCol), lit(""))
    // r21 (guide §2.4/§5): materialize the gram set ONCE. The previous
    // shape ran the benchmark scan + distinct THREE times per landing
    // (the isEmpty guard, the parquet write, and nbits sizing via
    // landed.count()); the checkpoint pays the scan once and serves
    // the guard, the write, and the count from the materialized rows.
    // r22: the gram COUNT rides the checkpoint action itself via
    // `observe` (the ConnectedComponents checkpoint-with-sum trick —
    // a CollectMetrics node the rows stream through on their way into
    // the checkpoint), so the empty-set guard and the Bloom `nbits`
    // sizing no longer run their own jobs over the materialized rows:
    // the landing is scan+checkpoint → write → blob, three actions
    // instead of five. Row set, landed files, nbits and blob are
    // byte-identical to the old shape (same frame, same count), so
    // the artifact contract — blob aggregated from the LANDED files,
    // stamped with their fingerprint — is unchanged below.
    val obs = org.apache.spark.sql.Observation()
    val grams = bench
      .select(explode_outer(array_distinct(Text.ngramsOfText(t, 3))).as("g"))
      .filter(col("g").isNotNull).distinct()
      .select(fp(col("g")).as("gram"), xxhash64(col("g")).as("gx"))
      .observe(obs, count(lit(1)).as("nGrams"))
      .localCheckpoint()
    val nGrams = obs.get("nGrams") match {
      case l: java.lang.Long => l.longValue()
      case other => throw new IllegalStateException(s"unexpected nGrams $other")
    }
    // Refuse a zero-gram landing BEFORE the overwrite (ADVICE r17): a
    // benchmark whose every doc is under 3 tokens (or all-NULL text)
    // would land an empty set — a gate that gates nothing — and the
    // overwrite would also have destroyed the previous good artifact.
    require(nGrams > 0L,
      s"landBenchmark: benchmark produced zero 3-gram keys (every doc " +
      s"under 3 tokens or NULL '$textCol'?) — refusing to land an empty " +
      "set that would mark every document clean")
    // task-side commit (v2): this is a whole-dir overwrite landing —
    // a failed job's re-run clears partial output wholesale, the
    // IvfPqIndex/zland class Committers.forRerun exists for
    grams.write.options(graft.core.Committers.forRerun(true))
      .mode("overwrite").parquet(outDir)
    // aggregate the blob from the EXACT file list just landed and
    // stamp that list's fingerprint into the sidecar header: the two
    // halves of the artifact are written sequentially (parquet first,
    // blob after), so a stream starting in the gap could otherwise
    // pair an OLD blob with the NEW gram files — loadBloomPinned
    // cross-checks the stamp and turns that silent mismatch into a
    // loud start refusal
    val files = landedGxFiles(spark, outDir)
    val landed = spark.read.parquet(files: _*)
    // sized from the checkpoint action's observed count — the same
    // rows the write just landed, so the width is identical to sizing
    // from landed.count() without re-reading the files (and without
    // the r21 shape's separate count job over the checkpointed rows)
    val nbits =
      if (bits > 0) bits else DedupStage.sizedBits(nGrams)
    val blob = DedupStage.buildBloom(landed, "gx", Seq(col("gx")), nbits)
    val p = bloomPath(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      out.write(BloomMagic)
      out.writeLong(fileListFingerprint(files))
      out.write(blob)
    } finally out.close()
    lastDirVar = outDir
  }

  /** Sidecar header: 4-byte magic + 8-byte big-endian fingerprint of
    * the sorted part-file NAMES the blob was aggregated from. Names
    * (not paths) so the pin is independent of how the dir is
    * addressed; part-file names are per-job UUIDs, so equal name sets
    * imply the same landing. */
  private val BloomMagic = "GBF1".getBytes("US-ASCII")

  private def fileListFingerprint(files: Seq[String]): Long = {
    // FNV-1a over '\n'-joined sorted file names — stable, dependency-free
    val names = files.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted
    var h = 0xcbf29ce484222325L
    names.mkString("\n").getBytes("UTF-8").foreach { b =>
      h ^= (b & 0xffL); h *= 0x100000001b3L
    }
    h
  }

  /** The landed confirm set's exact parquet FILE LIST — snapshot
    * material for the streaming gate. Spark's writer names part files
    * with a per-job UUID, so a benchmark RE-LAND never reuses a
    * name: a reader pinned to this list either sees the original
    * bytes (cache hit or recompute over intact files) or fails
    * LOUDLY on the deleted files — it can never silently confirm
    * against a set the stream's frozen Bloom blob was not built
    * over. */
  def landedGxFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    require(files.nonEmpty, s"no landed benchmark parquet under $dir")
    files
  }

  /** The landed Bloom blob (keys = `gx`) — read once per
    * process/stream start and carried as frozen state, never per
    * batch. Strips the sidecar header; refuses a headerless blob (a
    * pre-format artifact: re-land the benchmark). */
  def loadBloom(spark: SparkSession, dir: String): Array[Byte] =
    loadBloomPinned(spark, dir)._1

  /** Both halves of the artifact, cross-checked: the blob AND the
    * exact gram part-file list it was aggregated from. landBenchmark
    * writes the parquet before the sidecar, so a reader arriving in
    * the gap of a concurrent re-land would otherwise pair the OLD
    * blob with the NEW files — bloom-negative is treated as
    * definitive absence downstream, so that silent mismatch would
    * mark contaminated docs clean for a whole stream lifetime. The
    * header fingerprint turns it into a loud refusal. */
  def loadBloomPinned(spark: SparkSession, dir: String)
      : (Array[Byte], Seq[String]) = {
    val p = bloomPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val buf = new Array[Byte](st.getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0L, buf) finally in.close()
    require(buf.length > 12 && buf.startsWith(BloomMagic),
      s"$p has no GBF1 header — pre-format or truncated sidecar; " +
      "re-land the benchmark (landBenchmark) to refresh the artifact")
    val stamped = java.nio.ByteBuffer.wrap(buf, 4, 8).getLong
    val files = landedGxFiles(spark, dir)
    require(stamped == fileListFingerprint(files),
      s"$p was not built over the gram part-files now landed under " +
      s"$dir — a benchmark re-land is in flight or half-applied; " +
      "retry after the re-land completes")
    (java.util.Arrays.copyOfRange(buf, 12, buf.length), files)
  }

  /** Per-doc contamination report against the landed set: (idCol,
    * n_shared, clean) — n_shared = how many of the doc's DISTINCT
    * grams appear in the benchmark, clean = BIGINT 0/1 (n_shared = 0).
    * One row per DISTINCT id, every id present (empty/NULL text scores
    * clean). `idCol` is assumed to identify documents (an id-keyed
    * corpus table, like every batch carrier's); rows sharing an id are
    * merged as one document — the sum of their per-row distinct-gram
    * hits, identically in BOTH regimes. Pre-dedup streams with
    * legitimately repeated ids go through the streaming gate
    * ([[graft.streaming.EventStreams.ingestDecontaminate]]), which
    * scores per ROW under a synthetic key. */
  def probe(docs: DataFrame, benchDir: String,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    val bench = spark.read.parquet(benchDir).select("gx")
    val grams = docs.select(col(idCol),
      explode_outer(gramKeys(col(textCol))).as("gx"))
    // metadata-only row count gates the regime (the q49 gate): a
    // benchmark suite is small by construction, but a user CAN land
    // a corpus-sized one, and a forced broadcast of that would be
    // driver-hostile
    val withShared =
      if (bench.count() <= BroadcastableRows) {
        grams
          .join(broadcast(bench.withColumn("hit", lit(1))), Seq("gx"), "left")
          .groupBy(idCol).agg(count(col("hit")).as("n_shared"))
      } else {
        val hits = grams.filter(col("gx").isNotNull)
          .join(bench, Seq("gx"), "left_semi")
          .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
        // distinct: the re-attach must produce one row per id like the
        // broadcast regime's groupBy does — without it a duplicated id
        // would fan its merged count out to one row per input row, and
        // the output SHAPE would depend on the landed set's size
        docs.select(idCol).distinct()
          .join(hits, Seq(idCol), "left")
          .select(col(idCol), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      }
    withShared.select(col(idCol), col("n_shared"),
      (col("n_shared") === 0L).cast("bigint").as("clean"))
  }
}
