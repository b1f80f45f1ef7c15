package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided synthetic corpus (TESTDATA.md):
  * one parquet file per table under /root/testdata/sf{0.001,0.01,0.1}.
  *
  * All engine queries read through here so that scan-level concerns
  * (schema, nanosecond-timestamp handling, pushdown-friendly layout)
  * are decided in one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read a table with its schema served from the session-lifetime
    * memo below — the engine's stand-in for a catalog/metastore.
    *
    * A bare `spark.read.parquet(path)` re-infers the schema from
    * parquet footers on EVERY call: measured at ~80 ms per call on
    * local fixtures (~10 ms with the schema supplied; BASELINE.md,
    * round 12, third session), which at 1–3 loads per query was ~25 %
    * of the per-query floor that dominates the sf0.1 bench. Real deployments
    * pay the same tax as a metastore round-trip + footer sample per
    * uncached query. Schema is immutable metadata for a given set of
    * file BYTES, so the memo is keyed by (path, file-status
    * fingerprint): a regeneration that rewrites the fixture in place —
    * the driver did it three times in round 12 alone — changes the
    * fingerprint and re-infers automatically, with no manual
    * invalidation required (serving a stale schema after an
    * in-place regeneration is the round-10 breakage class). The
    * fingerprint is a recursive file-status walk (path/length/mtime
    * per file — the same file set the scan's own listing sees),
    * ~0.1 ms on a local flat layout vs ~80 ms footer inference, so
    * the memo's floor win is preserved (A/B'd via FloorDecompProbe;
    * BASELINE.md) and any file add/remove/rewrite at ANY depth is
    * visible on the next load. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val fp = fingerprint(spark, path)
    val schema = schemas.computeIfAbsent((path, fp),
      _ => spark.read.parquet(path).schema)
    // Memoize the RESOLVED relation too (per session): building a
    // fresh relation re-lists the path and re-runs datasource
    // resolution on every call (~10–30 ms/load, 1–3 loads/query — the
    // "pre-first-job prep" slice of the floor, FloorDecompProbe).
    // Reusing the DataFrame object is safe: plans are immutable, and
    // every query gets its own analysis over the shared relation. The
    // fingerprint key gives the same auto-invalidation as the schema
    // memo — ANY file add/remove/rewrite changes the stat fingerprint
    // and builds a fresh relation, so the old "listing is per-call"
    // visibility contract is preserved through the key itself.
    memoizedRelation(spark, path, fp, schema)
  }

  /** Serve (or build-and-memoize) the resolved relation for `path`
    * read with `schema`. The schema participates in the key so a
    * schema-OVERRIDDEN read of the same file (the [[events]] NTZ
    * re-declaration) memoizes separately from the inferred-schema
    * read. */
  private def memoizedRelation(spark: SparkSession, path: String, fp: String,
                               schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val memo = relationsFor(spark)
    val key = (s"$path@${schema.hashCode}", fp)
    val cached = Option(memo.get(key)).flatMap(r => Option(r.get))
    cached.getOrElse {
      val df = spark.read.schema(schema).parquet(path)
      memo.put(key, new java.lang.ref.SoftReference(df))
      df
    }
  }

  /** Per-session relation memos. The session key is weak and the
    * DataFrame values are SOFT references: a plain strong value would
    * reference its own key through `df.sparkSession` — the documented
    * WeakHashMap self-reference trap that pins the entry forever. With
    * soft values the chain map→df→session unwinds under memory
    * pressure, so a retired session's relations are reclaimable while
    * a live session keeps its memo (soft refs are only cleared ahead
    * of an OOM); a cleared entry just rebuilds on the next load. The
    * inner map is tiny (one entry per table × fixture generation). */
  private val relations =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.ref.SoftReference[DataFrame]]]()
  private def relationsFor(spark: SparkSession) = relations.synchronized {
    var m = relations.get(spark)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.ref.SoftReference[DataFrame]]()
      relations.put(spark, m)
    }
    m
  }

  /** Cheap content-version stamp for a fixture path: (path, length,
    * mtime) of every FILE under it, recursively. Recursion matters:
    * a direct-children stat would miss a part file landing two levels
    * down a partitioned layout (dir/year=…/month=…/part-*) — the
    * parent dir's mtime doesn't ripple up — and object stores report
    * synthetic mtimes for directories at all. File-level recursion is
    * exactly what the scan's own listing walks, so a changed listing
    * ⟹ changed fingerprint ⟹ fresh relation: the memos can never be
    * STALER than the per-call listing they replaced, just cheaper
    * (no datasource resolution, no footer reads). Stale entries are
    * left behind (bounded: one per regeneration).
    *
    * Uses the SparkContext's shared Hadoop configuration read-only —
    * `sessionState.newHadoopConf()` clones the full conf + every SQL
    * entry per call, a tax this hot path (1–3 loads/query) must not
    * pay. */
  private[graft] def fingerprint(spark: SparkSession, path: String): String = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st =
      try fs.getFileStatus(hp)
      catch {
        case _: java.io.FileNotFoundException =>
          // surface the same class of error a direct read would have
          // raised, with the path named — not a bare Hadoop stat trace
          throw new IllegalArgumentException(
            s"Tables.load: path does not exist: $path")
      }
    if (!st.isDirectory) s"${st.getLen}:${st.getModificationTime}"
    else listing(spark, path).mkString(";")
  }

  /** The sorted per-file `path:len:mtime` parts behind a directory
    * [[fingerprint]] — exposed (package-private) so the streaming
    * ingest's append validation can diff two listings file-by-file
    * ([[graft.streaming.EventStreams]]: the carried-bloom fold must
    * prove the only files that appeared during an append are the
    * batch's own committed part files). `fingerprint` for a directory
    * is exactly `listing(...).mkString(";")`, so a fingerprint derived
    * from a validated listing compares equal to the one the next
    * batch's staleness check computes. */
  private[graft] def listing(spark: SparkSession, path: String): Seq[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(hp, true)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val s = it.next()
      parts += s"${s.getPath.toUri.getPath}:${s.getLen}:${s.getModificationTime}"
    }
    parts.sorted.toSeq
  }

  /** Memoized inferred schemas, keyed by (file path, status
    * fingerprint). Schema inference depends only on the file bytes and
    * the parquet type-mapping confs pinned by [[GraftSession]]
    * (nanosAsLong), not on session state, so the memo is safely
    * JVM-global across sessions. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String), org.apache.spark.sql.types.StructType]()

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** The events table's `ts` column has shipped in two physical forms
    * across fixture generations: nanosecond parquet timestamps (which
    * Spark reads as a long of nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, see [[GraftSession]])
    * and plain microsecond timestamps (which Spark infers as
    * TIMESTAMP_NTZ). Both normalize here to a session-zoned TIMESTAMP
    * in micros — the same value DuckDB sees (its TIMESTAMP is micros,
    * and the session timezone is pinned to UTC so the NTZ reading is
    * wall-clock-identity; a non-UTC session would shift instants, which
    * is why [[GraftSession]] pins the zone). All downstream queries
    * assume only the normalized form; no session config is mutated
    * here: loaders stay side-effect free.
    *
    * The micros form is normalized by RE-READING with a user schema
    * that declares `ts` session-zoned, not by a `cast` above the scan:
    * the same INT64 micros are decoded either way (identical values
    * under UTC), but a cast wraps the column in an expression that
    * parquet filter pushdown cannot see through, so every downstream
    * ts-range predicate would re-scan all row groups — invisible at
    * 2 MB, an unpruned full scan at 100 TB. With the schema override
    * the predicate lands on a bare attribute and reaches
    * `PushedFilters` (pinned in PlanSpec). The legacy nanos form keeps
    * its arithmetic normalization (a long column can't be re-declared
    * as a timestamp); its ts-range pushdown is restored by the
    * [[graft.plans.NanosTsPushdown]] optimizer rule, which rewrites
    * comparisons against this exact expression shape back onto the
    * raw long column (pinned in NanosPushdownSpec).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // The re-read below is value-preserving ONLY under a UTC session
        // zone (the scaladoc contract). A caller that bypassed
        // GraftSession.build with another zone would get every instant
        // silently shifted — fail loudly here instead.
        val zone = s.conf.get("spark.sql.session.timeZone")
        require(zone == "UTC",
          s"Tables.events: NTZ->TIMESTAMP normalization requires spark.sql.session.timeZone=UTC " +
          s"(got '$zone'); build the session via GraftSession.build")
        val tsAsSessionTz = StructType(df.schema.fields.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))
        // through the relation memo (schema participates in the key),
        // so the re-declared read stops re-listing/re-resolving on
        // every event-query load — same fingerprint invalidation
        val path = s"$d/events.parquet"
        memoizedRelation(s, path, fingerprint(s, path), tsAsSessionTz)
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every fixture table of `d` as a session temp view (the
    * normalized [[events]] included), so `spark.sql("... FROM
    * lineitem ...")` works against a fixture dir the way the engine's
    * injected functions already do (GraftSession extensions). Temp
    * views are metadata-only: each SQL query still plans a fresh scan
    * through the memoized-schema read path. */
  def registerAll(s: SparkSession, d: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(s, d) else load(s, d, n)
      df.createOrReplaceTempView(n)
    }

  /** Memoized row count of the documents table — the catalog-
    * statistics class: a size GATE for q49's broadcast-vs-shuffle
    * decision and the corpus `N` in q61's tf-idf score. The count is
    * a parquet-metadata job that still costs ~0.2 s per call on a
    * multi-file layout — a pure tax when repeated per execution.
    * Keyed by (dir, documents fingerprint) like the schema/relation
    * memos, so an in-place regeneration with a different row count is
    * picked up on the next call — with `N` feeding RESULTS now, a
    * stale count would be a silent correctness bug, not a perf bug. */
  private val docCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  def documentsCount(s: SparkSession, d: String): Long =
    docCounts.computeIfAbsent((d, fingerprint(s, s"$d/documents.parquet")),
      _ => documents(s, d).count())

  /** Memoized distinct `source` values of the documents table, sorted.
    * The source domain is bounded metadata (tens of values — the same
    * driver-resident class as codebooks/centroids), so queries that
    * need the domain itself (q66's pair table) read it once per
    * fixture generation instead of re-scanning and re-distincting the
    * corpus per execution. Fingerprint-keyed like [[documentsCount]]. */
  private val srcNames =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[String]]()
  def sourceNames(s: SparkSession, d: String): Seq[String] =
    srcNames.computeIfAbsent((d, fingerprint(s, s"$d/documents.parquet")),
      _ => documents(s, d).select("source").distinct().collect()
        .map(_.getString(0)).toSeq.sorted)
}
