package graft.core

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession so every entry point
  * (Bench, Verify, Pipeline CLI, tests) runs with identical semantics.
  *
  * Session-level decisions made here, not scattered per-caller:
  *  - UTC session time zone: the reference's timestamps are UTC ISO
  *    strings (e.g. `data/sea_surface_sample.csv:3`) and the DuckDB
  *    oracle compares TIMESTAMP (no TZ), so all string→timestamp casts
  *    must resolve in UTC.
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the driver-generated
  *    `events` table carries nanosecond parquet timestamps, which the
  *    Spark reader otherwise rejects. Setting it once at build time
  *    keeps [[Tables]] free of hidden config mutation (the conf only
  *    affects nanos-typed columns; all other tables are micros).
  *  - AQE on with partition coalescing: local[32] with 32 shuffle
  *    partitions needs runtime coalescing for the many tiny-input
  *    queries in the corpus; at cluster scale the same setting handles
  *    skew and post-filter shrinkage.
  */
object GraftSession {
  val DefaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def build(appName: String, cpus: String = DefaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      // Engine-native functions (custom Catalyst expressions) are
      // injected as session extensions so they resolve in both the
      // Column API and SQL text.
      .withExtensions { ext =>
        // Optimizer rule: exact bare-long rewrite of ts-range predicates
        // over the legacy nanos-events normalization, so they reach
        // PushedFilters (see NanosTsPushdown scaladoc).
        ext.injectOptimizerRule(_ => graft.plans.NanosTsPushdown)
        ext.injectFunction(graft.functions.MinHashSigs.description)
        ext.injectFunction(graft.functions.SimHash32.description)
        ext.injectFunction(graft.functions.HyperplaneLSH.description)
        ext.injectFunction(graft.functions.HyperplaneLSH.codesDescription)
        ext.injectFunction(graft.functions.ArrayJaccard.description)
        ext.injectFunction(graft.functions.ArrayDot.description)
        ext.injectFunction(graft.functions.ArgMaxDot.description)
        ext.injectFunction(graft.functions.WordNgrams.description)
        ext.injectFunction(graft.functions.WordTokens.description)
        ext.injectFunction(graft.functions.WordMarkerCounts.description)
        ext.injectFunction(graft.functions.RepetitionStats.description)
        ext.injectFunction(graft.functions.JsonField.description)
        ext.injectFunction(graft.functions.DoubleOrderBits.description)
        ext.injectFunction(graft.functions.InterleaveBits.description)
        ext.injectFunction(graft.functions.VecDecimalSum.description)
        ext.injectFunction(graft.functions.WordTextNgrams.description)
        ext.injectFunction(graft.functions.WordTextGramHashes.description)
        ext.injectFunction(graft.functions.WordTextGramHashes.distinctDescription)
        ext.injectFunction(graft.functions.LmEntries.description)
        ext.injectFunction(graft.functions.BoundedTopK.description)
        ext.injectFunction(graft.functions.BloomFilterAgg.description)
        ext.injectFunction(graft.functions.KmvAgg.description)
        ext.injectFunction(graft.functions.MisraGriesAgg.description)
        ext.injectFunction(graft.functions.KmvSetEst.description)
        ext.injectFunction(graft.functions.KmvUnionAgg.description)
        ext.injectFunction(graft.functions.MisraGriesUnionAgg.description)
        ext.injectFunction(graft.functions.BloomMightContain.description)
        ext.injectFunction(graft.functions.WordChunks.description)
        ext.injectFunction(graft.functions.WordSpans.description)
        ext.injectFunction(graft.functions.BpeTokenCount.description)
        ext.injectFunction(graft.functions.BpeChunks.description)
        ext.injectFunction(graft.functions.PiiScrub.description)
        ext.injectFunction(graft.functions.RunningSum.description)
        ext.injectFunction(graft.functions.NfcNormalize.description)
        ext.injectFunction(graft.functions.CleanSpaces.description)
      }
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Split input files so scans engage the session's cores: the
      // default 128 MB leaves a ~400 MB single-file table at 3 map
      // tasks on a 32-core local session (q04's scan+join stage ran
      // 3-wide). Sized per deployment exactly as the shuffle-partition
      // count is — a cluster at the 100 TB design point raises it back
      // toward the default to keep task counts sane.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // AQE stays on: its runtime coalescing/skew handling is what
      // lets one config serve both the 10 MB bench and the 100 TB
      // design point (the q35 heap ceiling above is managed by AQE).
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // The INITIAL shuffle partition count is the ceiling AQE can
      // coalesce DOWN from — with it equal to shuffle.partitions(32),
      // 32 was both floor and ceiling, so a fat-row exchange at 10×
      // the bench scale (q35's pair join carrying ~2 KB gram-fingerprint
      // arrays) sorted ~3 GB per task and died on heap. 8× the core
      // count gives AQE room to KEEP partitions small where rows are
      // fat while the coalescer still folds tiny-query exchanges to a
      // handful of tasks — the two scales share one config, which is
      // the point of adaptive execution.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        scala.util.Try(cpus.trim.toInt * 8).toOption.getOrElse(256).toString)
      // r21 (guide §3.1/§9): let the planner AND AQE pick shuffled
      // hash join where a per-partition build side fits — the
      // doc-id-keyed flag joins and banding self-joins were all
      // sort-merge, paying two per-partition sorts for hash-sized
      // inputs. Static planning still requires the build side under
      // its size conditions, and the AQE conversion is bounded by the
      // local-map threshold (per post-shuffle partition), so at the
      // 100 TB design point oversized partitions keep sort-merge —
      // the setting is scale-adaptive, not a local[32] tune.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // Dynamic-partition landings (zland, the ingest) produce tens of
      // leaf directories; the default parallelPartitionDiscovery
      // threshold (32) tips those reads into a distributed LISTING JOB
      // whose scheduling costs more than the listing. 256 keeps
      // listing driver-side through any bench-scale layout; a real
      // cluster reading an object-store table with thousands of
      // partitions crosses the raised threshold and distributes again.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
      // Committer choice is NOT made here: the session default stays
      // FileOutputCommitter v1 (job-side atomic commit), and the
      // landing writes that want v2's task-side commit opt in
      // per-write via [[Committers.TaskCommitV2]] — v2's
      // non-repeatable task commit is only safe where the consumer
      // absorbs partial/duplicate publishes, which is a property of
      // the WRITE, not of the session.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Typed UDAF surface (Aggregator-based; extensions can't inject
    // these): element-wise vector mean per group.
    spark.udf.register("vec_mean",
      org.apache.spark.sql.functions.udaf(graft.functions.VecMean))
    spark
  }
}
