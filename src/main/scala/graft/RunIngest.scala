package graft

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.streaming.{EventStreams, LandingMaintenance}

/** CLI driving the composed streaming ingest
  * ([[graft.streaming.EventStreams.ingestPipeline]]) — the streaming
  * twin of [[RunCorpus]]: watch an arrivals directory of parquet
  * document batches and keep a deduplicated corpus landing current.
  *
  *   graft.RunIngest --in DIR --corpus DIR --checkpoint DIR
  *                   [--mode exact|near|both]   (default both)
  *                   [--once]                   (drain what exists, then exit)
  *                   [--text-col NAME] [--id-col NAME]
  *
  * `--in` is a parquet directory new document files are dropped into
  * (the `spark.readStream` file source — each discovered file becomes
  * part of a micro-batch, tracked exactly-once via the checkpoint).
  * `--corpus` is the landing dir: it IS the dedup state (text for the
  * exact stage, `mh1..mh4` signature columns for the near stage), so
  * restarts and batch retries self-heal — see the ingestPipeline
  * scaladoc. `--once` drains everything present (processAllAvailable,
  * then stop) and exits 0 — the cron-invocation shape, with the same
  * exactly-once checkpointed file-source offsets a Trigger.AvailableNow
  * run would use; without it the query runs until killed.
  *
  * The first batch defines the stream schema: `--in` must contain at
  * least one parquet file at start (the file source requires a schema;
  * inferring it from the seed files is the standard bootstrap).
  *
  * `--mode` is per-CORPUS, not per-run: `near`/`both` land signature
  * columns and expect them back on the next batch, `exact` lands
  * none — so pointing a `near`/`both` run at a corpus landed by
  * `exact` fails loudly on the missing `mh1..mh4` (the right outcome:
  * silently re-signing landed text would hide that earlier batches
  * were never near-dup-checked). Pick the mode when the corpus is
  * created and keep it.
  *
  * `--compact` is the maintenance form: no stream, just
  * [[graft.streaming.LandingMaintenance.compactLanding]] on `--corpus` —
  * rewrite the accreted per-batch part files down to `--target-files`
  * (default 4) between stream sessions. Refused (exit 1) while an
  * in-JVM ingest stream holds the landing.
  *
  * `--repair` is the crash-recovery form:
  * [[graft.streaming.LandingMaintenance.repairLanding]] on `--corpus` —
  * finish or roll back compaction swaps a crash left half-done
  * (restore aside dirs whose target vanished, finish manifest-proven
  * completed swaps, sweep tmp debris). Exit 1 when an aside dir needs
  * a human decision (its target exists without a matching manifest).
  *
  * `--expire` is the retention form:
  * [[graft.streaming.LandingMaintenance.expireLanding]] on `--corpus` —
  * drop every `--partition-col NAME` partition dir whose value sorts
  * strictly before `--before VALUE` (string compare; exact for ISO
  * months/dates and zero-padded numerics). Same single-writer
  * exclusion as `--compact`.
  *
  * Exit codes: 0 ok, 1 stream/maintenance failure, 2 usage. */
object RunIngest {
  private val usage =
    """usage: graft.RunIngest --in DIR --corpus DIR --checkpoint DIR
      |  [--mode exact|near|both|semantic|full]  which dedup stages (default
      |                                both = exact+near; full = exact+near+
      |                                semantic, stream must carry text AND
      |                                embedding columns)
      |  [--once]                      drain everything present, then exit
      |  [--text-col NAME]             default text (text modes)
      |  [--id-col NAME]               default doc_id
      |  [--vec-col NAME]              default embedding (semantic mode:
      |                                embedding-cosine dedup — drop when a
      |                                landed doc shares an LSH band bucket
      |                                AND cosine >= tau)
      |  [--tau X]                     semantic cosine threshold, default 0.9
      |  [--partition-by COL[,COL]]    land hive-partitioned by COL (e.g. an
      |                                ingest month) — enables --expire
      |                                retention and per-leaf --compact
      |   or: graft.RunIngest --in DIR --corpus DIR --checkpoint DIR --mode index
      |                       --train PATH [--coarse-k N] [--m N] [--ksub N]
      |                                maintain a persisted IVF-PQ index from a
      |                                vector stream: each micro-batch lands
      |                                under its own batch=<id> dir (exactly-
      |                                once), encoded with codebooks trained
      |                                ONCE from --train; --corpus is the index
      |                                dir (defaults coarse-k 4, m 4, ksub 16)
      |   or: graft.RunIngest --in DIR --corpus DIR --checkpoint DIR --mode quality
      |                       --ref PATH --max-xent X [--lang-col NAME]
      |                                frozen-LM quality gate: train the
      |                                per-language bigram LM ONCE from the
      |                                --ref parquet corpus, score every
      |                                streamed doc, land (batch=<id>,
      |                                exactly-once) only docs at or under
      |                                X cross-entropy nats/token; docs the
      |                                gate cannot score (under 2 tokens, a
      |                                language absent from --ref) are
      |                                rejected, not waved through
      |   or: graft.RunIngest --in DIR --corpus DIR --checkpoint DIR --mode dsir
      |                       --train PATH --target-pred EXPR [--min-logw N]
      |                                frozen DSIR importance gate: train the
      |                                two hashed-ngram bucket histograms ONCE
      |                                from the --train parquet corpus (EXPR, a
      |                                SQL boolean over its columns, marks the
      |                                target-distribution slice; the rest is
      |                                the source pool), score every streamed
      |                                doc map-only, land (batch=<id>,
      |                                exactly-once) only docs with integer
      |                                log-weight >= N micro-nats (default 1
      |                                = the paper's strict w > 1 rule, which
      |                                rejects weight-exactly-1 docs such as
      |                                empty texts; pass 0 to admit them)
      |   or: graft.RunIngest --in DIR --corpus DIR --checkpoint DIR --mode decontaminate
      |                       --benchmark DIR [--max-shared N]
      |                                landed-benchmark decontamination gate:
      |                                probe every streamed doc's distinct
      |                                3-gram fingerprints against the gram
      |                                set previously landed at --benchmark
      |                                (see --land-benchmark); docs sharing
      |                                more than N grams (default 0) are
      |                                rejected — test-set leakage must not
      |                                enter a training corpus; survivors
      |                                land (batch=<id>, exactly-once) with
      |                                (n_shared, clean). Clean batches never
      |                                read the landed set (Bloom sidecar)
      |   or: graft.RunIngest --land-benchmark --benchmark DIR --from PATH [--text-col NAME]
      |                                land a benchmark suite's DISTINCT
      |                                3-gram fingerprints (+ Bloom sidecar)
      |                                at DIR, once per suite version — the
      |                                frozen artifact --mode decontaminate
      |                                probes; --from is the benchmark
      |                                parquet (overwrites a previous set)
      |   or: graft.RunIngest --compact --corpus DIR [--target-files N] [--leaf-parallel P]
      |                                rewrite an accreted landing to N
      |                                part files (default 4; per leaf on a
      |                                partitioned landing, P leaves at a
      |                                time); run between stream sessions
      |   or: graft.RunIngest --expire --corpus DIR --partition-col NAME --before VALUE
      |                                drop every NAME=value partition dir
      |                                whose value sorts before VALUE
      |                                (retention; run between stream
      |                                sessions)
      |   or: graft.RunIngest --repair --corpus DIR
      |                                finish or roll back compaction swaps
      |                                a crash left half-done (restore
      |                                aside dirs, sweep debris)
      |   or: graft.RunIngest --stats --corpus DIR
      |                                read-only: per-leaf file counts and
      |                                bytes, crash debris, lock state —
      |                                safe while a stream runs""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-ingest")
    val code = execute(spark, args)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** The flags a maintenance form or stream mode requires, and the
    * further flags it accepts. */
  private final case class Flags(required: Seq[String], accepted: Seq[String] = Nil)

  /** One table of who takes which flag. Maintenance forms take ONLY
    * their own flags: a co-passed stream flag means the user expected a
    * stream to run too, and any flag the chosen form or mode would
    * silently ignore exits 0 on intent never honored — so every flag
    * outside a row is a usage error, as is a missing required one. */
  private val maintenanceForms = scala.collection.immutable.ListMap(
    "land-benchmark" -> Flags(Seq("benchmark", "from"), Seq("text-col")),
    "compact" -> Flags(Seq("corpus"), Seq("target-files", "leaf-parallel")),
    "stats" -> Flags(Seq("corpus")),
    "repair" -> Flags(Seq("corpus")),
    "expire" -> Flags(Seq("corpus", "partition-col", "before")))

  private def stream(required: Seq[String], accepted: String*): Flags =
    Flags(Seq("in", "corpus", "checkpoint") ++ required,
      Seq("once", "mode", "id-col") ++ accepted)

  private val streamModes = Map(
    "exact" -> stream(Nil, "text-col", "partition-by"),
    "near" -> stream(Nil, "text-col", "partition-by"),
    "both" -> stream(Nil, "text-col", "partition-by"),
    "semantic" -> stream(Nil, "vec-col", "tau", "partition-by"),
    "full" -> stream(Nil, "text-col", "vec-col", "tau", "partition-by"),
    "index" -> stream(Seq("train"), "vec-col", "coarse-k", "m", "ksub"),
    "quality" -> stream(Seq("ref", "max-xent"), "text-col", "lang-col"),
    "dsir" -> stream(Seq("train", "target-pred"), "text-col", "min-logw"),
    "decontaminate" -> stream(Seq("benchmark"), "text-col", "max-shared"))

  /** CLI minus session lifecycle and process exit — IngestCliSpec
    * drives this in-JVM. */
  private[graft] def execute(spark: SparkSession, args: Array[String]): Int = {
    def usageError(msg: String): Int = {
      System.err.println(s"[ingest] $msg\n$usage")
      2
    }
    def failing(run: => Int): Int =
      try run
      catch {
        case e: Exception =>
          System.err.println(s"[ingest] FAILED: ${e.getMessage}")
          1
      }
    val opts =
      try parse(args.toList, Map.empty)
      catch { case e: RuntimeException => return usageError(e.getMessage) }
    val form = maintenanceForms.keys.find(opts.contains)
    val mode = opts.getOrElse("mode", "both")
    val (runName, flags) = form match {
      case Some(f) => (s"--$f", maintenanceForms(f))
      case None => streamModes.get(mode) match {
        case Some(fl) => (s"--mode $mode", fl)
        case None => return usageError(s"unknown --mode '$mode'")
      }
    }
    val missing = flags.required.filterNot(opts.contains)
    if (missing.nonEmpty)
      return usageError(s"$runName needs ${missing.map("--" + _).mkString(", ")}")
    val stray = opts.keys.filterNot(k =>
      form.contains(k) || flags.required.contains(k) || flags.accepted.contains(k))
    if (stray.nonEmpty)
      return usageError(s"${stray.toSeq.sorted.map("--" + _).mkString(", ")} " +
        s"not accepted by $runName")

    // positive ints, usage-error on junk
    def posInt(name: String, default: Int): Either[String, Int] =
      opts.get(name) match {
        case None => Right(default)
        case Some(v) => v.toIntOption match {
          case Some(n) if n > 0 => Right(n)
          case _ => Left(s"--$name must be a positive integer, got '$v'")
        }
      }
    form match {
      case Some("land-benchmark") => return failing {
        graft.ops.Decontaminate.landBenchmark(
          spark.read.parquet(opts("from")), opts("benchmark"),
          textCol = opts.getOrElse("text-col", "text"))
        val n = spark.read.parquet(opts("benchmark")).count()
        println(s"[ingest] landed $n distinct benchmark gram fingerprint(s) " +
          s"at ${opts("benchmark")}")
        0
      }
      case Some("compact") =>
        val (target, leafPar) =
          (for (t <- posInt("target-files", 4); p <- posInt("leaf-parallel", 4)) yield (t, p)) match {
            case Left(msg) => return usageError(msg)
            case Right(tp) => tp
          }
        return failing {
          val s = LandingMaintenance.compactLanding(spark, opts("corpus"), target, leafPar)
          if (s.rows < 0L)
            println(s"[ingest] compaction no-op: ${s.filesBefore} file(s) already <= $target")
          else
            println(s"[ingest] compacted ${opts("corpus")}: ${s.filesBefore} -> " +
              s"${s.filesAfter} file(s), ${s.rows} rows")
          0
        }
      case Some("stats") => return failing {
        val s = LandingMaintenance.landingStats(spark, opts("corpus"))
        println(f"[ingest] ${opts("corpus")}: ${s.totalFiles} visible file(s), " +
          f"${s.totalBytes / 1e6}%.1f MB across ${s.leaves.size} dir(s)" +
          (if (s.lockHeld) " — MAINTENANCE LOCK HELD" else "") +
          (if (s.writerLockHeld) " — INGEST WRITER LOCK HELD" else ""))
        s.leaves.foreach { case (leaf, files, bytes) =>
          println(f"[ingest]   $leaf: $files file(s), ${bytes / 1e6}%.1f MB")
        }
        if (s.debris.nonEmpty) {
          println(s"[ingest] ${s.debris.size} crash artifact(s) — run --repair:")
          s.debris.foreach(d => println(s"[ingest]   $d"))
        }
        0
      }
      case Some("repair") => return failing {
        val s = LandingMaintenance.repairLanding(spark, opts("corpus"))
        println(s"[ingest] repair of ${opts("corpus")}: ${s.oldsRestored} aside " +
          s"dir(s) restored, ${s.oldsDeleted} completed swap(s) finished, " +
          s"${s.tmpsDeleted} tmp dir(s) and ${s.manifestsCleaned} manifest(s) swept")
        if (s.unresolved.nonEmpty) {
          System.err.println(
            s"[ingest] ${s.unresolved.size} aside dir(s) need a human decision " +
            "(target exists without a matching manifest — both sides hold rows):")
          s.unresolved.foreach(p => System.err.println(s"[ingest]   $p"))
          1
        } else 0
      }
      case Some("expire") => return failing {
        val s = LandingMaintenance.expireLanding(
          spark, opts("corpus"), opts("partition-col"), opts("before"))
        if (s.dirsDropped == 0)
          println(s"[ingest] expiry no-op: no ${opts("partition-col")}= dir sorts " +
            s"before '${opts("before")}'")
        else
          println(s"[ingest] expired ${s.dirsDropped} partition dir(s), " +
            s"${s.filesDropped} file(s) from ${opts("corpus")}")
        0
      }
      case _ => ()
    }
    val maxShared = opts.get("max-shared").map(_.toLongOption) match {
      case Some(Some(n)) if n >= 0 => n
      case Some(_) =>
        return usageError("--max-shared needs a non-negative integer (a shared-gram count)")
      case None => 0L
    }
    val minLogw = opts.get("min-logw").map(_.toLongOption) match {
      case Some(Some(n)) => n
      case Some(None) =>
        return usageError("--min-logw needs an integer (fixed-point micro-nats)")
      case None => 1L // the paper's strict w > 1 rule
    }
    val maxXent = opts.get("max-xent").map(_.toDoubleOption) match {
      case Some(Some(x)) if !x.isNaN && x >= 0 => x
      case Some(_) =>
        return usageError("--max-xent needs a non-negative number " +
          "(per-token cross-entropy is non-negative)")
      case None => 0.0 // unused outside quality mode
    }
    val langCol = opts.getOrElse("lang-col", "lang")
    val textCol = opts.getOrElse("text-col", "text")
    val idCol = opts.getOrElse("id-col", "doc_id")
    val vecCol = opts.getOrElse("vec-col", "embedding")
    val tau = opts.get("tau").map(_.toDoubleOption) match {
      case Some(None) => return usageError("--tau needs a number")
      case Some(Some(t)) => t
      case None => 0.9
    }
    // index-mode codebook geometry
    val geometry = for {
      ck <- posInt("coarse-k", 4)
      m <- posInt("m", 4)
      ks <- posInt("ksub", 16)
    } yield (ck, m, ks)
    val (coarseK, pqM, pqKsub) = geometry match {
      case Left(msg) => return usageError(msg)
      case Right(g) => g
    }
    // landing layout: comma-separated partition columns (e.g. an
    // ingest month) — the layout retention/per-leaf compaction works on
    val partCols = opts.get("partition-by")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    if (opts.contains("partition-by") && partCols.isEmpty)
      return usageError("--partition-by needs at least one column")

    failing {
      // schema bootstrap: the file source needs a fixed schema, taken
      // from whatever is already in --in (the seed batch); each ingest
      // entry refuses a schema missing its key columns at start
      val schema = spark.read.parquet(opts("in")).schema
      val docs = spark.readStream.schema(schema).parquet(opts("in"))
      val q = mode match {
        case "exact" => EventStreams.ingestDedup(docs, opts("corpus"), opts("checkpoint"), textCol, idCol, partitionCols = partCols)
        case "near"  => EventStreams.ingestNearDup(docs, opts("corpus"), opts("checkpoint"), textCol, idCol, partitionCols = partCols)
        case "semantic" => EventStreams.ingestSemantic(docs, opts("corpus"), opts("checkpoint"), tau, vecCol, idCol, partitionCols = partCols)
        case "full" => EventStreams.ingestPipeline(docs, opts("corpus"), opts("checkpoint"), textCol, idCol, partitionCols = partCols,
          semantic = Some(EventStreams.SemanticStage(tau = tau, vecCol = vecCol)))
        case "index" => EventStreams.ingestIndex(docs, opts("corpus"), opts("checkpoint"),
          trainingSource = spark.read.parquet(opts("train")),
          coarseK = coarseK, m = pqM, ksub = pqKsub, idCol = idCol, vecCol = vecCol)
        case "quality" => EventStreams.ingestQuality(docs, opts("corpus"), opts("checkpoint"),
          reference = spark.read.parquet(opts("ref")),
          maxXentPerToken = maxXent, textCol = textCol, idCol = idCol, langCol = langCol)
        case "dsir" => EventStreams.ingestDsir(docs, opts("corpus"), opts("checkpoint"),
          trainCorpus = spark.read.parquet(opts("train")),
          targetPred = org.apache.spark.sql.functions.expr(opts("target-pred")),
          minLogwMicronats = minLogw, textCol = textCol, idCol = idCol)
        case "decontaminate" => EventStreams.ingestDecontaminate(docs,
          opts("corpus"), opts("checkpoint"), benchDir = opts("benchmark"),
          maxSharedGrams = maxShared, textCol = textCol, idCol = idCol)
        case _       => EventStreams.ingestPipeline(docs, opts("corpus"), opts("checkpoint"), textCol, idCol, partitionCols = partCols)
      }
      if (opts.contains("once")) {
        // AvailableNow is a writeStream option; the ingest entry
        // points own their writeStream, so "--once" drains by polling
        // processAllAvailable then stopping — same exactly-once
        // semantics (checkpointed file-source offsets), simpler than
        // threading a Trigger through every entry point.
        q.processAllAvailable()
        q.stop()
        val landed = spark.read.parquet(opts("corpus")).count()
        println(s"[ingest] drained; corpus now $landed rows at ${opts("corpus")}")
      } else {
        println(s"[ingest] streaming from ${opts("in")} into ${opts("corpus")} (mode=$mode); ctrl-c to stop")
        q.awaitTermination()
      }
      0
    }
  }

  /** Flags taking a value. A misspelled flag must be a usage error,
    * not a silently-ignored entry that lets the run proceed with
    * defaults (e.g. `--textcol body` deduplicating the wrong column
    * and exiting 0). */
  private val valueFlags =
    Set("in", "corpus", "checkpoint", "mode", "text-col", "id-col", "vec-col", "tau", "target-files",
        "leaf-parallel", "partition-col", "before", "partition-by",
        "train", "coarse-k", "m", "ksub", "ref", "max-xent", "lang-col",
        "target-pred", "min-logw", "benchmark", "max-shared", "from")

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case "--once" :: rest => parse(rest, acc + ("once" -> "true"))
      case "--compact" :: rest => parse(rest, acc + ("compact" -> "true"))
      case "--expire" :: rest => parse(rest, acc + ("expire" -> "true"))
      case "--repair" :: rest => parse(rest, acc + ("repair" -> "true"))
      case "--stats" :: rest => parse(rest, acc + ("stats" -> "true"))
      case "--land-benchmark" :: rest => parse(rest, acc + ("land-benchmark" -> "true"))
      case flag :: value :: rest if flag.startsWith("--") && !value.startsWith("--") =>
        val name = flag.drop(2)
        if (!valueFlags.contains(name))
          throw new RuntimeException(s"unknown flag $flag")
        parse(rest, acc + (name -> value))
      case flag :: rest if flag.startsWith("--") =>
        throw new RuntimeException(
          if (valueFlags.contains(flag.drop(2))) s"flag $flag needs a value"
          else s"unknown flag $flag")
      case other :: _ =>
        throw new RuntimeException(s"unexpected argument '$other'")
    }
}
