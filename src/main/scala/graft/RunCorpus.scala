package graft

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.pipeline.CorpusPipeline

/** CLI driving the end-to-end LLM-corpus pipeline
  * ([[graft.pipeline.CorpusPipeline]]) — the corpus twin of
  * [[RunPipeline]]:
  *
  *   graft.RunCorpus --in PATH --out DIR
  *                   [--dry-run] [--near-dup]
  *                   [--no-cleanup] [--no-pii] [--no-exact-dedup]
  *                   [--no-chunk-dedup] [--no-quality] [--no-split]
  *                   [--chunk-w N] [--min-tokens N] [--train-pct N]
  *                   [--window-tokens N]
  *
  * `--in` is a parquet path: either a documents table file/dir
  * directly, or a testdata sf directory (its `documents.parquet` is
  * used). Output is written as parquet to `--out` and a per-stage
  * summary is printed. `--dry-run` prints each stage's physical plan
  * (the `RunPipeline --validate-only` discipline) and writes nothing.
  *
  * Exit codes: 0 ok, 1 run failure (including EMPTY INPUT — a corpus
  * job that read zero rows almost certainly pointed at the wrong
  * path, and a green exit would let a scheduler march on), 2 usage. */
object RunCorpus {
  private val usage =
    """usage: graft.RunCorpus --in PATH --out DIR
      |  [--dry-run]                   print per-stage plans, write nothing
      |  [--near-dup]                  enable the MinHash near-dup stage
      |  [--no-cleanup] [--no-pii] [--no-exact-dedup]
      |  [--no-chunk-dedup] [--no-quality] [--no-split]
      |  [--chunk-w N] [--min-tokens N] [--train-pct N]
      |  [--window-tokens N]              explode docs into <=N-token chunks (q85 stage)
      |
      |   or: graft.RunCorpus --mode fetch-shard --in CORPUS --out DIR
      |                       --manifests DIR --epoch N --shard K
      |       serve ONE epoch shard in training order from a landed
      |       manifest dir (EpochShuffle.landManifests): broadcast the
      |       shard's slim manifest rows against the corpus — the only
      |       stage where text moves
      |
      |   or: graft.RunCorpus --mode probe-bench --in CORPUS --out DIR
      |                       --bench DIR
      |       per-doc contamination report (doc_id, n_shared, clean)
      |       against a landed benchmark gram set
      |       (RunIngest --land-benchmark / Decontaminate.landBenchmark)""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-corpus")
    val code = execute(spark, args)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** The whole CLI minus session lifecycle and process exit — returns
    * the exit code so CorpusPipelineSpec can drive it in-JVM. */
  private[graft] def execute(spark: SparkSession, args: Array[String]): Int = {
    val opts =
      try parse(args.toList, Map.empty)
      catch {
        case e: RuntimeException =>
          System.err.println(s"[corpus] ${e.getMessage}\n$usage")
          return 2
      }
    if (!opts.contains("in") || !opts.contains("out")) {
      System.err.println(s"[corpus] --in PATH and --out DIR are required\n$usage")
      return 2
    }
    val in = opts("in")
    val out = opts("out")
    val inPath =
      if (new java.io.File(s"$in/documents.parquet").exists()) s"$in/documents.parquet"
      else in
    // ---- serve modes over landed artifacts (r17 verdict #5) ----
    val mode = opts.get("mode")
    mode match {
      case Some(m) if m != "fetch-shard" && m != "probe-bench" =>
        System.err.println(s"[corpus] unknown --mode '$m' (fetch-shard|probe-bench)\n$usage")
        return 2
      case _ => ()
    }
    // serve-only options are refused outside their mode — a pipeline
    // run that silently ignored --epoch would look like it served
    val serveOnly = Map("manifests" -> "fetch-shard", "epoch" -> "fetch-shard",
      "shard" -> "fetch-shard", "bench" -> "probe-bench")
    serveOnly.foreach { case (o, wantMode) =>
      if (opts.contains(o) && !mode.contains(wantMode)) {
        System.err.println(
          s"[corpus] --$o is only valid with --mode $wantMode\n$usage")
        return 2
      }
    }
    if (mode.contains("fetch-shard") || mode.contains("probe-bench")) {
      val pipelineOnly =
        flags ++ Set("chunk-w", "min-tokens", "train-pct", "window-tokens")
      val stray = pipelineOnly.filter(opts.contains).toSeq.sorted
      if (stray.nonEmpty) {
        System.err.println(s"[corpus] ${stray.map("--" + _).mkString(", ")} " +
          s"only apply to the pipeline form, not --mode ${mode.get}\n$usage")
        return 2
      }
      return executeServe(spark, mode.get, inPath, out, opts)
    }
    // numeric flags: a typo'd value must produce the usage message and
    // exit 2 (the RunIngest --target-files discipline), never a raw
    // NumberFormatException stack; out-of-range values are refused
    // rather than silently disabling a stage (--window-tokens -5 would
    // otherwise skip chunking and exit 0 with un-chunked output)
    def intOpt(name: String, default: Int, min: Int,
               max: Int = Int.MaxValue): Either[String, Int] =
      opts.get(name) match {
        case None => Right(default)
        case Some(v) =>
          v.toIntOption match {
            case Some(n) if n >= min && n <= max => Right(n)
            case Some(n) => Left(s"--$name must be in [$min, " +
              (if (max == Int.MaxValue) "..." else max.toString) + s"], got $n")
            case None => Left(s"--$name must be an integer, got '$v'")
          }
      }
    val parsedCfg = for {
      chunkW <- intOpt("chunk-w", 8, 1)
      minTokens <- intOpt("min-tokens", 5, 0)
      trainPct <- intOpt("train-pct", 80, 0, 100)
      windowTokens <- intOpt("window-tokens", 0, 0)
    } yield CorpusPipeline.Config(
      cleanup = !opts.contains("no-cleanup"),
      pii = !opts.contains("no-pii"),
      exactDedup = !opts.contains("no-exact-dedup"),
      chunkDedup = !opts.contains("no-chunk-dedup"),
      chunkW = chunkW,
      quality = !opts.contains("no-quality"),
      minTokens = minTokens,
      nearDup = opts.contains("near-dup"),
      split = !opts.contains("no-split"),
      trainPct = trainPct,
      windowTokens = windowTokens)
    val cfg = parsedCfg match {
      case Left(msg) =>
        System.err.println(s"[corpus] $msg\n$usage")
        return 2
      case Right(c) => c
    }

    try {
      val docs = spark.read.parquet(inPath)
      require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
        s"input needs doc_id and text columns, got: ${docs.columns.mkString(", ")}")

      if (opts.contains("dry-run")) {
        val stages = CorpusPipeline.stages(docs, cfg)
        stages.foreach { case (name, df) =>
          println(s"== stage: $name ==")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
        println(s"[corpus] DRY RUN: ${stages.length} stages planned, nothing written")
        return 0
      }

      val nIn = docs.count()
      if (nIn == 0) {
        System.err.println(s"[corpus] FAILED: input $inPath has zero rows")
        return 1
      }
      val result = CorpusPipeline.run(docs, cfg)
      result.write.mode("overwrite").parquet(out)
      // summarize from the LANDED parquet (one extra cheap read) so
      // the printed numbers describe what a consumer will actually see
      val landed = spark.read.parquet(out)
      val nOut = landed.count()
      val bySplit =
        if (cfg.split)
          landed.groupBy("split").count().collect()
            .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        else "(split off)"
      println(s"[corpus] OK: in=$nIn out=$nOut kept=${"%.1f".format(100.0 * nOut / math.max(nIn, 1))}% $bySplit -> $out")
      0
    } catch {
      case e: Exception =>
        System.err.println(s"[corpus] FAILED: ${e.getMessage}")
        1
    }
  }

  /** The serve paths: read-side CLIs over landed artifacts. Both
    * resolve `--in` like the pipeline form (a documents table or an sf
    * dir) and write their result parquet to `--out`; both fail (exit
    * 1) on an empty result — an empty shard fetch or an empty probe
    * input almost certainly means a wrong pointer, and a green exit
    * would let a training scheduler march on a missing shard. */
  private def executeServe(spark: SparkSession, mode: String,
                           inPath: String, out: String,
                           opts: Map[String, String]): Int = {
    def longOpt(name: String): Either[String, Long] =
      opts.get(name) match {
        case None => Left(s"--mode $mode needs --$name N")
        case Some(v) => v.toLongOption match {
          case Some(n) if n >= 0 => Right(n)
          case Some(n) => Left(s"--$name must be non-negative, got $n")
          case None => Left(s"--$name must be an integer, got '$v'")
        }
      }
    try {
      val corpus = spark.read.parquet(inPath)
      require(corpus.columns.contains("doc_id"),
        s"input needs a doc_id column, got: ${corpus.columns.mkString(", ")}")
      mode match {
        case "fetch-shard" =>
          if (!opts.contains("manifests")) {
            System.err.println(s"[corpus] --mode fetch-shard needs --manifests DIR\n$usage")
            return 2
          }
          val parsed = for { e <- longOpt("epoch"); k <- longOpt("shard") } yield (e, k)
          val (epoch, shard) = parsed match {
            case Left(msg) =>
              System.err.println(s"[corpus] $msg\n$usage"); return 2
            case Right(ek) => ek
          }
          // eager localCheckpoint: the emptiness probe and the write
          // must see ONE execution of the manifest join — two lazy
          // executions would race a concurrent re-land (the probe sees
          // the old manifests, the write lands the new state, possibly
          // empty, AFTER the guard passed) and pay the join twice
          val served = graft.ops.EpochShuffle.fetchShard(
            corpus, opts("manifests"), epoch, shard).localCheckpoint()
          try {
            // refuse BEFORE the overwrite (the landBenchmark
            // discipline): a typo'd epoch/shard must not clobber a
            // previously served good shard with an empty dataset
            if (served.isEmpty) {
              System.err.println(s"[corpus] FAILED: epoch=$epoch shard=$shard " +
                s"served zero rows from ${opts("manifests")} — wrong epoch/shard " +
                "or manifests pointer; nothing written")
              return 1
            }
            // ONE sorted file: a shard is budget-bounded by construction
            // (tokensPerShard), and parquet read-back guarantees row
            // order only within a single file read as a single split —
            // coalesce(1) after the sort keeps the advertised training
            // order on disk (sorted partitions merge in order)
            served.coalesce(1).write.mode("overwrite").parquet(out)
          } finally
            // release the checkpoint on every path: an in-JVM caller
            // (spec, scheduler) serving shards repeatedly must not
            // accumulate one pinned text copy per serve. A bare
            // unpersist() only clears cache-manager entries; the
            // localCheckpoint's RDD blocks live outside it, so go
            // through the shared release helper
            graft.streaming.LandingGuard.releaseFrozenFrame(served)
          val landed = spark.read.parquet(out)
          val n = landed.count()
          val toks = landed.agg(org.apache.spark.sql.functions.sum("n_tokens"))
            .collect()(0).getLong(0)
          println(s"[corpus] OK: served epoch=$epoch shard=$shard docs=$n tokens=$toks -> $out")
          0
        case "probe-bench" =>
          if (!opts.contains("bench")) {
            System.err.println(s"[corpus] --mode probe-bench needs --bench DIR\n$usage")
            return 2
          }
          require(corpus.columns.contains("text"),
            s"probe-bench input needs a text column, got: ${corpus.columns.mkString(", ")}")
          if (corpus.isEmpty) {
            System.err.println(s"[corpus] FAILED: input $inPath has zero rows")
            return 1
          }
          val report = graft.ops.Decontaminate.probe(corpus, opts("bench"))
          report.write.mode("overwrite").parquet(out)
          val landed = spark.read.parquet(out)
          val n = landed.count()
          val dirty = landed.filter(org.apache.spark.sql.functions.col("clean") === 0L).count()
          println(s"[corpus] OK: probed docs=$n contaminated=$dirty " +
            s"(${"%.1f".format(100.0 * dirty / math.max(n, 1))}%) -> $out")
          0
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[corpus] FAILED: ${e.getMessage}")
        1
    }
  }

  private val flags = Set("dry-run", "near-dup", "no-cleanup", "no-pii", "no-exact-dedup",
    "no-chunk-dedup", "no-quality", "no-split")
  private val valued = Set("in", "out", "chunk-w", "min-tokens", "train-pct",
    "window-tokens", "mode", "manifests", "epoch", "shard", "bench")

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case a :: rest if a.startsWith("--") && flags(a.drop(2)) =>
        parse(rest, acc + (a.drop(2) -> "true"))
      case a :: v :: rest if a.startsWith("--") && valued(a.drop(2)) =>
        parse(rest, acc + (a.drop(2) -> v))
      case Nil => acc
      case other :: _ => sys.error(s"unknown argument: $other")
    }
}
