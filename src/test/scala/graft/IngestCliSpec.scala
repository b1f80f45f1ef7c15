package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Drives [[RunIngest.execute]] in-JVM: the cron-invocation shape —
  * two `--once` runs over a growing arrivals dir, checkpoint carried
  * between them, corpus landing as the dedup state throughout. */
class IngestCliSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val textA = ("the quick brown fox jumps over the lazy dog again and " * 6).trim
  private val textB = ("zebra quartz violin xylophone kumquat jackal wombat nectar " * 6).trim
  private val textC = ("glacier basalt fjord tundra lichen moraine permafrost drift " * 6).trim

  test("--once twice over a growing arrivals dir: exactly-once, both dedup stages") {
    val arrivals = Files.createTempDirectory("graft-cli-arrivals").toString
    val corpus = Files.createTempDirectory("graft-cli").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-cli-ckpt").toString

    // seed batch: one exact dup (2 of 1) and one near dup (3 of 1)
    Seq((1L, textA), (2L, textA), (3L, textA + " tiny tail edit"), (4L, textB))
      .toDF("doc_id", "text").write.mode("append").parquet(arrivals)
    val args1 = Array("--in", arrivals, "--corpus", corpus,
      "--checkpoint", ckpt, "--once")
    assert(RunIngest.execute(spark, args1) == 0)
    assert(spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L))

    // second arrival file lands; a new --once run must process ONLY
    // it (checkpointed offsets) and dedup against the landed corpus
    Seq((5L, textA), (6L, "prefix tweak " + textB), (7L, textC))
      .toDF("doc_id", "text").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, args1) == 0)
    assert(spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L, 7L))
    // signature columns landed with the rows (near-dup state)
    assert(Seq("mh1", "mh2", "mh3", "mh4")
      .forall(spark.read.parquet(corpus).columns.contains))
  }

  test("--mode semantic: embedding-cosine dedup across two --once runs") {
    val arrivals = Files.createTempDirectory("graft-cli-sem-arrivals").toString
    val corpus = Files.createTempDirectory("graft-cli-sem").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-cli-sem-ckpt").toString
    val vA = Seq.tabulate(32)(d => math.sin(d * 1.7 + 1))
    val vB = Seq.tabulate(32)(d => math.cos(d * 2.3 + 5))
    val run = Array("--in", arrivals, "--corpus", corpus, "--checkpoint", ckpt,
      "--once", "--mode", "semantic", "--tau", "0.9")
    // 2 is an exact vector copy of 1 — dropped in-batch
    Seq((1L, vA), (2L, vA)).toDF("doc_id", "embedding")
      .write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    // 3 is a scaled copy of landed 1 (cosine 1) — dropped cross-run
    Seq((3L, vA.map(_ * 2)), (4L, vB)).toDF("doc_id", "embedding")
      .write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    val landed = spark.read.parquet(corpus)
    assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
             == Seq(1L, 4L))
    // band-code columns landed with the rows (semantic dedup state)
    assert(Seq("sb0", "sb1").forall(landed.columns.contains))
    // flags the chosen mode would silently ignore are refused
    assert(RunIngest.execute(spark, run ++ Array("--text-col", "text")) == 2)
    assert(RunIngest.execute(spark, Array("--in", arrivals, "--corpus", corpus,
      "--checkpoint", ckpt, "--once", "--tau", "0.9")) == 2)
    assert(RunIngest.execute(spark, run.updated(run.length - 1, "nope")) == 2)
  }

  test("--mode full: all three stages across --once runs; the paraphrase only semantic drops") {
    val arrivals = Files.createTempDirectory("graft-cli-full-arrivals").toString
    val corpus = Files.createTempDirectory("graft-cli-full").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-cli-full-ckpt").toString
    val vA = Seq.tabulate(32)(d => math.sin(d * 1.7 + 1))
    val vB = Seq.tabulate(32)(d => math.cos(d * 2.3 + 5))
    val run = Array("--in", arrivals, "--corpus", corpus, "--checkpoint", ckpt,
      "--once", "--mode", "full", "--tau", "0.9")
    Seq((1L, textA, vA)).toDF("doc_id", "text", "embedding")
      .write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    // 2: exact text repost; 3: edited text; 4: NEW text but a scaled
    // copy of the landed embedding — only the semantic stage drops
    // it; 5: new on both axes
    Seq((2L, textA, vB), (3L, "prefix tweak " + textA, vB),
        (4L, textC, vA.map(_ * 2)), (5L, textB, vB))
      .toDF("doc_id", "text", "embedding").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    val landed = spark.read.parquet(corpus)
    assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
             == Seq(1L, 5L))
    assert(Seq("mh1", "mh2", "mh3", "mh4", "sb0", "sb1")
      .forall(landed.columns.contains), "all three stages' state columns land")
  }

  test("--mode index: streamed IVF-PQ index maintenance across --once runs") {
    val arrivals = Files.createTempDirectory("graft-cli-idx-arrivals").toString
    val indexDir = Files.createTempDirectory("graft-cli-idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft-cli-idx-ckpt").toString
    val train = Files.createTempDirectory("graft-cli-idx-train").toString + "/train"
    // deterministic training vectors spanning a few directions
    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(16)(d => math.sin(d * 0.7 + i * 0.3))))
    vecs.toDF("vec_id", "embedding").write.parquet(train)
    val run = Array("--in", arrivals, "--corpus", indexDir, "--checkpoint", ckpt,
      "--once", "--mode", "index", "--train", train,
      "--id-col", "vec_id", "--vec-col", "embedding",
      "--coarse-k", "2", "--m", "2", "--ksub", "4")
    vecs.take(8).toDF("vec_id", "embedding").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    vecs.slice(8, 12).toDF("vec_id", "embedding").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    // every streamed vector landed exactly once, under batch=/centroid= dirs
    val idx = spark.read.parquet(indexDir)
    assert(idx.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
             == (0L until 12L))
    assert(Seq("batch", "centroid").forall(idx.columns.contains))
    // flag hygiene: --train is required for index mode, refused elsewhere;
    // geometry must be positive integers
    assert(RunIngest.execute(spark, run.filterNot(a => a == "--train" || a == train)) == 2)
    assert(RunIngest.execute(spark, Array("--in", arrivals, "--corpus", indexDir,
      "--checkpoint", ckpt, "--once", "--mode", "both", "--train", train)) == 2)
    assert(RunIngest.execute(spark,
      run.updated(run.indexOf("--coarse-k") + 1, "zero")) == 2)
    assert(RunIngest.execute(spark, run ++ Array("--tau", "0.5")) == 2)
  }

  test("--mode quality: frozen-LM gate across --once runs; flag hygiene") {
    val arrivals = Files.createTempDirectory("graft-cli-qg-arrivals").toString
    val corpus = Files.createTempDirectory("graft-cli-qg").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-cli-qg-ckpt").toString
    val ref = Files.createTempDirectory("graft-cli-qg-ref").toString + "/ref"
    (0L until 20L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog again", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(ref)
    val run = Array("--in", arrivals, "--corpus", corpus, "--checkpoint", ckpt,
      "--once", "--mode", "quality", "--ref", ref, "--max-xent", "2.0")
    Seq((100L, "the quick brown fox jumps over the lazy dog", "en"),
        (101L, "zxq wvk pqr mnb asd fgh jkl qwe rty uio", "en"))
      .toDF("doc_id", "text", "lang").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    Seq((102L, "the lazy dog jumps over the quick brown fox", "en"))
      .toDF("doc_id", "text", "lang").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    val landed = spark.read.parquet(corpus)
    assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(100L, 102L), "gate must admit reference-like docs and reject garbage")
    assert(landed.columns.contains("xent_per_token"), "scores land with the docs")
    // flag hygiene: quality needs --ref and --max-xent; both refused elsewhere
    assert(RunIngest.execute(spark,
      run.filterNot(a => a == "--ref" || a == ref)) == 2)
    assert(RunIngest.execute(spark,
      run.filterNot(a => a == "--max-xent" || a == "2.0")) == 2)
    assert(RunIngest.execute(spark, Array("--in", arrivals, "--corpus", corpus,
      "--checkpoint", ckpt, "--once", "--mode", "both", "--ref", ref)) == 2)
    assert(RunIngest.execute(spark, run ++ Array("--tau", "0.5")) == 2)
    assert(RunIngest.execute(spark,
      run.updated(run.indexOf("--max-xent") + 1, "lots")) == 2)
  }

  test("--mode dsir: frozen importance gate across --once runs; flag hygiene") {
    val arrivals = Files.createTempDirectory("graft-cli-ds-arrivals").toString
    val corpus = Files.createTempDirectory("graft-cli-ds").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-cli-ds-ckpt").toString
    val train = Files.createTempDirectory("graft-cli-ds-train").toString + "/train"
    ((0L until 20L).map(i => (i, "alpha beta gamma alpha beta gamma", "tgt")) ++
     (20L until 40L).map(i => (i, "delta epsilon zeta delta epsilon zeta", "src")))
      .toDF("doc_id", "text", "source").write.parquet(train)
    val run = Array("--in", arrivals, "--corpus", corpus, "--checkpoint", ckpt,
      "--once", "--mode", "dsir", "--train", train,
      "--target-pred", "source = 'tgt'", "--min-logw", "1")
    Seq((100L, "alpha beta gamma alpha"),
        (101L, "delta epsilon zeta delta"))
      .toDF("doc_id", "text").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    // a second --once run processes ONLY the new arrival (checkpointed
    // offsets — exactly-once), scored by the same frozen model
    Seq((102L, "gamma beta alpha gamma"))
      .toDF("doc_id", "text").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    val landed = spark.read.parquet(corpus)
    assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(100L, 102L), "gate must admit target-like docs and reject source-like")
    assert(Seq("n_grams", "logw_micronats", "selected")
      .forall(landed.columns.contains), "integer scores land with the docs")
    assert(landed.filter("doc_id = 100").head().getAs[Long]("selected") == 1L)
    // flag hygiene: dsir needs --train and --target-pred; both refused
    // elsewhere; its flags are refused on other modes; junk min-logw = usage
    assert(RunIngest.execute(spark,
      run.filterNot(a => a == "--train" || a == train)) == 2)
    assert(RunIngest.execute(spark,
      run.filterNot(a => a == "--target-pred" || a == "source = 'tgt'")) == 2)
    assert(RunIngest.execute(spark, Array("--in", arrivals, "--corpus", corpus,
      "--checkpoint", ckpt, "--once", "--mode", "both",
      "--target-pred", "source = 'tgt'")) == 2)
    assert(RunIngest.execute(spark, run ++ Array("--tau", "0.5")) == 2)
    assert(RunIngest.execute(spark, run ++ Array("--lang-col", "lang")) == 2)
    assert(RunIngest.execute(spark,
      run.updated(run.indexOf("--min-logw") + 1, "heaps")) == 2)
  }

  test("--land-benchmark then --mode decontaminate across --once runs; flag hygiene") {
    val arrivals = Files.createTempDirectory("graft-cli-dc-arrivals").toString
    val corpus = Files.createTempDirectory("graft-cli-dc").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-cli-dc-ckpt").toString
    val benchSrc = Files.createTempDirectory("graft-cli-dc-src").toString + "/suite"
    val bench = Files.createTempDirectory("graft-cli-dc-bench").toString + "/bench"
    Seq((0L, "leaked eval question alpha beta gamma"))
      .toDF("doc_id", "text").write.parquet(benchSrc)
    // land the artifact once (the maintenance form)
    assert(RunIngest.execute(spark, Array("--land-benchmark",
      "--benchmark", bench, "--from", benchSrc)) == 0)
    assert(spark.read.parquet(bench).columns.sorted.toSeq == Seq("gram", "gx"))
    val run = Array("--in", arrivals, "--corpus", corpus, "--checkpoint", ckpt,
      "--once", "--mode", "decontaminate", "--benchmark", bench)
    Seq((100L, "prefix leaked eval question alpha suffix"),
        (101L, "totally unrelated training text here"))
      .toDF("doc_id", "text").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    // a second --once run processes ONLY the new arrival (exactly-once)
    Seq((102L, "more unrelated words entirely"))
      .toDF("doc_id", "text").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    val landed = spark.read.parquet(corpus)
    assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(101L, 102L), "contaminated doc rejected; clean docs land once each")
    assert(Seq("n_shared", "clean").forall(landed.columns.contains))
    // flag hygiene: decontaminate needs --benchmark; its flags are
    // refused elsewhere; --from is stream-illegal; junk --max-shared
    assert(RunIngest.execute(spark,
      run.filterNot(a => a == "--benchmark" || a == bench)) == 2)
    assert(RunIngest.execute(spark, Array("--in", arrivals, "--corpus", corpus,
      "--checkpoint", ckpt, "--once", "--mode", "both",
      "--benchmark", bench)) == 2)
    assert(RunIngest.execute(spark, run ++ Array("--from", benchSrc)) == 2)
    assert(RunIngest.execute(spark, run ++ Array("--tau", "0.5")) == 2)
    assert(RunIngest.execute(spark, run ++ Array("--max-shared", "-1")) == 2)
    assert(RunIngest.execute(spark, run ++ Array("--max-shared", "lots")) == 2)
    // land-benchmark form hygiene: needs both flags; refuses stream flags
    assert(RunIngest.execute(spark, Array("--land-benchmark",
      "--benchmark", bench)) == 2)
    assert(RunIngest.execute(spark, Array("--land-benchmark",
      "--benchmark", bench, "--from", benchSrc, "--corpus", corpus)) == 2)
    assert(RunIngest.execute(spark, Array("--land-benchmark",
      "--benchmark", bench, "--from", benchSrc, "--in", arrivals)) == 2)
    // a co-passed stream-gate value flag would be silently dropped —
    // refuse instead of exiting 0 on intent never honored
    assert(RunIngest.execute(spark, Array("--land-benchmark",
      "--benchmark", bench, "--from", benchSrc, "--min-logw", "5")) == 2)
    assert(RunIngest.execute(spark, Array("--land-benchmark",
      "--benchmark", bench, "--from", benchSrc, "--ref", benchSrc)) == 2)
  }

  test("usage errors: missing flags and bad mode exit 2, bad input exits 1") {
    assert(RunIngest.execute(spark, Array("--in", "/tmp/x")) == 2)
    val d = Files.createTempDirectory("graft-cli-usage").toString
    assert(RunIngest.execute(spark,
      Array("--in", d, "--corpus", d, "--checkpoint", d, "--mode", "fuzzy")) == 2)
    // structurally valid flags, but --in has no parquet to bootstrap
    // the schema from → run failure, not a usage error
    assert(RunIngest.execute(spark,
      Array("--in", d + "/nope", "--corpus", d + "/c", "--checkpoint", d + "/k",
        "--once")) == 1)
  }

  test("--compact: maintenance rewrite between --once runs, dedup state intact") {
    val arrivals = Files.createTempDirectory("graft-cli-cpt-arrivals").toString
    val corpus = Files.createTempDirectory("graft-cli-cpt").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-cli-cpt-ckpt").toString
    val run = Array("--in", arrivals, "--corpus", corpus, "--checkpoint", ckpt, "--once")
    Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
      .repartition(2).write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    Seq((3L, textC)).toDF("doc_id", "text").write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)

    assert(RunIngest.execute(spark,
      Array("--compact", "--corpus", corpus, "--target-files", "1")) == 0)
    assert(spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))

    // post-compaction run still dedups exact + near against the corpus
    Seq((4L, textA), (5L, "prefix tweak " + textC)).toDF("doc_id", "text")
      .write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    assert(spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))

    // flag hygiene: --target-files without --compact, --compact
    // without --corpus, and a non-integer target are usage errors
    assert(RunIngest.execute(spark,
      Array("--in", arrivals, "--corpus", corpus, "--checkpoint", ckpt,
        "--target-files", "3")) == 2)
    assert(RunIngest.execute(spark, Array("--compact")) == 2)
    assert(RunIngest.execute(spark,
      Array("--compact", "--corpus", corpus, "--target-files", "many")) == 2)
    assert(RunIngest.execute(spark,
      Array("--compact", "--corpus", corpus, "--target-files", "0")) == 2)
    assert(RunIngest.execute(spark,
      Array("--compact", "--corpus", corpus, "--leaf-parallel", "0")) == 2)
    assert(RunIngest.execute(spark,
      Array("--in", arrivals, "--corpus", corpus, "--checkpoint", ckpt,
        "--leaf-parallel", "2")) == 2)
  }

  test("--expire: retention drop of old partition dirs; flag hygiene") {
    val dir = Files.createTempDirectory("graft-cli-expire").toString + "/corpus"
    Seq((1L, "2025-12", textA), (2L, "2026-01", textB))
      .toDF("doc_id", "month", "text")
      .write.partitionBy("month").parquet(dir)
    assert(RunIngest.execute(spark, Array("--expire", "--corpus", dir,
      "--partition-col", "month", "--before", "2026-01")) == 0)
    assert(spark.read.parquet(dir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // --expire without its companions, and the companions without
    // --expire, are usage errors; wrong column is a run failure
    assert(RunIngest.execute(spark, Array("--expire", "--corpus", dir)) == 2)
    assert(RunIngest.execute(spark, Array("--corpus", dir,
      "--partition-col", "month", "--before", "2026-01")) == 2)
    assert(RunIngest.execute(spark, Array("--expire", "--corpus", dir,
      "--partition-col", "day", "--before", "2026-01")) == 1)
    // maintenance forms refuse co-passed streaming flags (a silently
    // skipped stream would exit 0 on work never done), each other,
    // and the other form's flags
    assert(RunIngest.execute(spark, Array("--compact", "--corpus", dir,
      "--in", dir, "--checkpoint", dir, "--once")) == 2)
    assert(RunIngest.execute(spark, Array("--expire", "--corpus", dir,
      "--partition-col", "month", "--before", "2026-01", "--mode", "both")) == 2)
    assert(RunIngest.execute(spark, Array("--compact", "--expire", "--corpus", dir)) == 2)
    assert(RunIngest.execute(spark, Array("--expire", "--corpus", dir,
      "--partition-col", "month", "--before", "2026-01", "--target-files", "2")) == 2)
    assert(RunIngest.execute(spark, Array("--compact", "--corpus", dir,
      "--before", "2026-01")) == 2)
  }

  test("full landing lifecycle: partitioned ingest -> stats -> compact -> expire") {
    val arrivals = Files.createTempDirectory("graft-cli-life-arrivals").toString
    val corpus = Files.createTempDirectory("graft-cli-life").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-cli-life-ckpt").toString
    val run = Array("--in", arrivals, "--corpus", corpus, "--checkpoint", ckpt,
      "--once", "--partition-by", "month")
    // two ingest runs across two months, with a cross-run duplicate
    Seq((1L, "2025-12", textA), (2L, "2025-12", textB))
      .toDF("doc_id", "month", "text").repartition(2)
      .write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    Seq((3L, "2026-01", textC), (4L, "2026-01", textA))
      .toDF("doc_id", "month", "text")
      .write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    assert(spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "cross-run duplicate must be dropped, months landed")
    // observe, compact per leaf, expire the old month
    assert(RunIngest.execute(spark, Array("--stats", "--corpus", corpus)) == 0)
    assert(RunIngest.execute(spark,
      Array("--compact", "--corpus", corpus, "--target-files", "1")) == 0)
    assert(RunIngest.execute(spark, Array("--expire", "--corpus", corpus,
      "--partition-col", "month", "--before", "2026-01")) == 0)
    assert(spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L),
      "retention must drop exactly the 2025-12 rows")
    // the stream still runs against the compacted+expired landing —
    // and an expired-then-reposted text is correctly RE-admitted
    Seq((5L, "2026-01", textB), (6L, "2026-01", textC))
      .toDF("doc_id", "month", "text")
      .write.mode("append").parquet(arrivals)
    assert(RunIngest.execute(spark, run) == 0)
    assert(spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L),
      "expired text re-admitted, landed text still deduplicated")
  }

  test("--stats: read-only report; flag hygiene") {
    val dir = Files.createTempDirectory("graft-cli-stats").toString + "/corpus"
    Seq((1L, textA)).toDF("doc_id", "text").write.parquet(dir)
    assert(RunIngest.execute(spark, Array("--stats", "--corpus", dir)) == 0)
    assert(RunIngest.execute(spark, Array("--stats")) == 2)
    assert(RunIngest.execute(spark, Array("--stats", "--corpus", dir, "--once")) == 2)
    assert(RunIngest.execute(spark, Array("--stats", "--compact", "--corpus", dir)) == 2)
    assert(RunIngest.execute(spark, Array("--stats", "--corpus", dir + "/nope")) == 1)
    // a stream-gate flag on a maintenance form would be silently
    // ignored: refused like every other flag outside the form's row
    assert(RunIngest.execute(spark, Array("--stats", "--corpus", dir, "--train", "x")) == 2)
    assert(RunIngest.execute(spark, Array("--compact", "--corpus", dir, "--ref", "y")) == 2)
    assert(RunIngest.execute(spark, Array("--repair", "--corpus", dir,
      "--coarse-k", "2")) == 2)
  }

  test("--repair: restores a crashed swap; flag hygiene") {
    val base = Files.createTempDirectory("graft-cli-repair").toString
    val corpus = base + "/corpus"
    Seq((1L, textA)).toDF("doc_id", "text").write.parquet(corpus)
    val old = new java.io.File(base,
      s".compact-old-corpus-${java.util.UUID.randomUUID()}")
    assert(new java.io.File(corpus).renameTo(old))
    assert(RunIngest.execute(spark, Array("--repair", "--corpus", corpus)) == 0)
    assert(spark.read.parquet(corpus).count() == 1)
    // an unresolved aside dir exits 1 so a cron run alarms
    val old2 = new java.io.File(base,
      s".compact-old-corpus-${java.util.UUID.randomUUID()}")
    Seq((2L, textB)).toDF("doc_id", "text").coalesce(1).write.parquet(old2.getPath)
    assert(RunIngest.execute(spark, Array("--repair", "--corpus", corpus)) == 1)
    assert(old2.exists(), "unresolved aside dir must be left intact")
    // flag hygiene
    assert(RunIngest.execute(spark, Array("--repair")) == 2)
    assert(RunIngest.execute(spark, Array("--repair", "--corpus", corpus,
      "--target-files", "2")) == 2)
    assert(RunIngest.execute(spark, Array("--repair", "--compact", "--corpus", corpus)) == 2)
    assert(RunIngest.execute(spark, Array("--repair", "--corpus", corpus, "--once")) == 2)
  }
}
