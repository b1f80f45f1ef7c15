package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.DedupStage

/** Structured Streaming surface over the `events` stream (SURVEY §2.9
  * extended scope; the reference is batch-only, so semantics are
  * spec'd from Spark's event-time model and oracled by the batch
  * analogs q16 and q18, which run the SAME transforms below on a static
  * frame).
  *
  * Design rule: every transform is `DataFrame => DataFrame` so one
  * definition serves `spark.read` (bounded, tested against DuckDB) and
  * `spark.readStream` (incremental, tested with MemoryStream). This is
  * the whole point of Structured Streaming — the engine picks
  * incrementalization; the query does not change.
  *
  * State sizing at scale: all aggregations are keyed by
  * (window/session × type/user); the watermark bounds state: windows
  * older than (max event time − delay) are finalized and evicted.
  */
object EventStreams {
  val WatermarkDelay = "10 minutes"

  /** Tumbling 1 h counts per event type (streaming form of q16). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), (col("value_cents").cast("double") / 100.0).as("sum_value"))

  /** Distinct users per tumbling hour via the KMV sketch (`kmv_agg`,
    * q88's operator on the streaming surface): per (window, type) the
    * state-store entry is the ≤`k`-long sketch instead of one entry
    * per distinct user — bounded state for a high-cardinality
    * distinct, which `approx_count_distinct` also gives but without a
    * reusable/unionable sketch and without the exactness contract:
    * below `k` distinct users the sketch IS the distinct set and
    * `n_distinct_est == the exact count`. Above `k`, the standard KMV
    * estimate over the UNSIGNED hash order (xxhash64 spans the full
    * signed range, so ranking flips the sign bit and the estimate
    * normalizes v_k into unsigned [0, 2^64)). */
  def distinctSketchCounts(events: DataFrame, keyCol: String = "user_id",
                           k: Int = 1024): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // rank by unsigned hash order: flip the sign bit (order-isomorphic).
    // NULL-GATED like every hash in this file: xxhash64 skips null args
    // (returning the bare seed), so an ungated hash would count null
    // keys as one phantom distinct user per window — null has no
    // identity to count, so its hash is null and kmv_agg skips it.
    val rankHash = when(col(keyCol).isNotNull,
      xxhash64(col(keyCol)).bitwiseXOR(lit(Long.MinValue)))
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(call_function("kmv_agg", rankHash, lit(k)).as("mins"))
      .select(col("window.start").as("window_start"), col("event_type"),
        size(col("mins")).as("n_kept"),
        when(size(col("mins")) < k, size(col("mins")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            ((element_at(col("mins"), k).cast("double") + lit(9.223372036854776e18)) /
              lit(1.8446744073709552e19)))
          .as("n_distinct_est"))
  }

  // ---------- custom state: flatMapGroupsWithState sessionization ----------

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(startMs: Long, lastMs: Long, n: Long, valueSum: Double)
  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long, total_value: Double)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Custom stateful sessionization: one state record per active user,
    * sessions emitted when the event-time watermark passes last-event
    * + gap (or on state timeout in streaming). Demonstrates the
    * explicit-state API the built-in session_window can't express
    * (e.g. carrying running value sums per session).
    *
    * @param flushOpenAtEnd set true when running on a BOUNDED dataset:
    *   batch execution never fires event-time timeouts, so without the
    *   flush each user's final open session would be silently dropped.
    *   In batch all data is present, so the open session is in fact
    *   complete and flushing it is exact. Leave false in streaming,
    *   where an open session may still grow and must wait for its
    *   timeout. */
  def sessionizeStateful(events: Dataset[Event],
                         flushOpenAtEnd: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", WatermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new Timestamp(s.startMs), new Timestamp(s.lastMs),
                             s.n, s.valueSum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= SessionGapMs =>
                  // min() on the start: a cross-batch LATE event (in
                  // watermark, so at most WatermarkDelay behind) can
                  // precede the session's current start, and the batch
                  // analog — which sees all rows sorted — would open
                  // the session at it. WatermarkDelay (10 m) <
                  // SessionGapMs (30 m) guarantees an admitted late
                  // event is never more than a gap before startMs, so
                  // merging is always the batch-equal answer.
                  cur = Some(s.copy(startMs = math.min(s.startMs, t),
                                    lastMs = math.max(s.lastMs, t), n = s.n + 1,
                                    valueSum = s.valueSum + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.startMs),
                                     new Timestamp(s.lastMs), s.n, s.valueSum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            if (flushOpenAtEnd) {
              cur.foreach { s =>
                closed ::= Session(userId, new Timestamp(s.startMs),
                                   new Timestamp(s.lastMs), s.n, s.valueSum)
              }
              state.remove()
            } else cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + SessionGapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream interval join: each click matched to the same
    * user's purchases within the following hour. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can EVICT buffered rows once the watermark passes — the
    * two requirements that make a stream-stream join's state bounded
    * (an unconstrained join buffers both streams forever). Works
    * identically on bounded frames (batch ≡ stream, tested). */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", WatermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", WatermarkDelay)
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
              col("purchase_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** Stream-static enrichment: every micro-batch LEFT-joins the
    * static dimension (broadcast — the dim is small by definition of
    * being a dim). Stream-static joins need no watermark and keep no
    * join state: the static side is simply re-planned per micro-batch,
    * which also means a dim backed by a table/files picks up updates
    * between batches. Unmatched stream rows survive with null dim
    * columns (enrichment must never drop events). */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup — the incremental twin of the batch
    * hash-groupBy dedup (q21): duplicates by `keys` are dropped for as
    * long as their event time is within the watermark, and the
    * dedup state is EVICTED once the watermark passes (bounded state —
    * a plain `dropDuplicates` on a stream grows state forever, the
    * scale trap this wrapper exists to avoid). */
  def dedupeStream(events: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "dedupeStream needs at least one key column")
    events.withWatermark("ts", WatermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }

  /** Wire a transform to a file-backed stream of events-shaped parquet
    * (the production entry: readStream → transform → writeStream). */
  def streamFromParquet(spark: SparkSession, dir: String,
                        transform: DataFrame => DataFrame): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    transform(spark.readStream.schema(schema).parquet(dir))
  }

  // =====================================================================
  // Cross-batch ingest dedup (exact / near / composed)
  //
  // The landed corpus IS the dedup state — there is no separate state
  // store to size, checkpoint, or lose. Retries are self-healing: a
  // batch rerun after a partial failure finds its own landed rows as
  // corpus and appends only what is genuinely missing, so at-least-once
  // batch delivery converges to an exactly-once corpus (pinned by
  // StreamingSpec's crash-retry case). Per-landing carried state
  // (counts + blooms) only ACCELERATES the confirm: dropping any of it
  // costs one reseed scan, never exactness.
  //
  // File-count hygiene: each append is repartitioned to `AppendFiles`
  // (4) part files before the write. Without it a micro-batch
  // writes one file per shuffle partition (32 here), so a long-running
  // ingest accretes batches×32 tiny files and every confirm/reseed
  // scan pays per-file open cost that grows with STREAM AGE rather
  // than data size — the soak probe (tools/IngestSoakProbe) measured
  // that accretion dominating per-batch time within ~10 batches at
  // test scale. The repartition is a batch-sized shuffle (bounded by
  // the micro-batch, never the corpus); what accretes with batch
  // COUNT is [[LandingMaintenance.compactLanding]]'s to rewrite.
  // =====================================================================
  private val AppendFiles = 4

  // Every carried bloom ([[graft.ops.DedupStage.CarriedBloom]]) lives
  // on the landing's open handle ([[LandingGuard.Landing]]): stage name
  // → carry, released with the handle when the stream stops. A key
  // COLLISION in a stage's bloom only costs a confirm probe (the row
  // looks like a candidate and the exact confirm clears it); it can
  // never admit a duplicate, which is what makes a bloom a sound
  // carrier for a landed key set. Whatever poisons a landing drops all
  // of its carries at once.
  //
  // Rebuilding a carry per batch is a full corpus scan per
  // micro-batch — O(corpus), the clearest scale-killer in a
  // long-running ingest — so each is seeded at most once per stream
  // and then FOLDED forward: after each append, a bloom of just the
  // appended rows (computed by the write's own Observation — no second
  // pass) is OR'd in.
  //
  // What the carry amortizes — and what it doesn't: the carry removes
  // the per-batch bloom-BUILD scan, and, with the two-phase confirm
  // (probe first, join only if any row probes positive), a batch
  // whose rows all probe bloom-negative touches the landing not at
  // all. A batch with bloom-positive rows still pays a confirm join
  // whose corpus side is a scan of the landing's text (exact stage)
  // or state columns (near/semantic stages) — bounded in frequency
  // by the dup/FP rate of the probe side, not eliminated.
  //
  // Exactness discipline — a bloom MISSING landed rows would admit
  // duplicates (the false-NEGATIVE direction the confirm join cannot
  // repair), so a carry is only trusted when `landingFp`, the
  // file-status fingerprint of the landing recorded by a VALIDATED
  // fold ([[foldCarries]]), still matches the landing: any
  // out-of-band change — leftover task files from a crashed batch
  // attempt, another writer, a manual edit — changes the fingerprint
  // and forces a reseed scan, restoring the per-batch-rebuild
  // self-heal exactly when it is needed and only then. The fold
  // itself verifies the only files that appeared during the append
  // are the batch's own committed part files (one write-job UUID);
  // anything else in the delta drops the carry instead of stamping a
  // fingerprint whose rows the blob does not contain
  // ([[appendOnlyDelta]] — closes the append→fold race window).
  // Capacity: blobs are sized for 4× the seed-time corpus (~16
  // bits/key keeps confirm traffic ~0.5%); growing past that drops
  // the carry so the next batch reseeds at the new size — amortized
  // one corpus scan per 4× growth. Every carry is built with
  // [[graft.ops.DedupStage.ProbeHashes]] probe hashes.

  private[streaming] def landingParts(spark: SparkSession, landingDir: String): Seq[String] =
    graft.core.Tables.listing(spark, landingDir)

  private[streaming] def fpOf(parts: Seq[String]): String = parts.mkString(";")

  // ---------- append validation (the fold's TOCTOU guard) ----------

  /** `path` of a `path:len:mtime` listing part (len/mtime stripped). */
  private[streaming] def partPath(part: String): String = {
    val i = part.lastIndexOf(':')
    part.substring(0, part.lastIndexOf(':', i - 1))
  }

  /** A part listed under dir `root` is landing data iff no path
    * segment below `root` is hidden ([[LandingGuard.isHidden]]): a
    * killed task's `_temporary/…/part-*` is not. The fingerprint still
    * hashes every file, so such a leftover forces a reseed. */
  private[streaming] def visibleUnder(root: String): String => Boolean = {
    val rootPath = new org.apache.hadoop.fs.Path(root).toUri.getPath
    part => !partPath(part).stripPrefix(rootPath).split('/').exists(LandingGuard.isHidden)
  }

  /** `part-<split>-<job-uuid>…` — every file one Spark write job
    * commits carries the job's single random UUID in its name. */
  private val PartFileUuid =
    raw"part-\d+-([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})-.*".r

  /** STRUCTURAL check that `post` is `pre` plus ONLY files one write
    * job appended: no visible file deleted or mutated in place, every
    * new visible file a `part-*` data file sharing a single write-job
    * UUID, and — when rows were observed — a non-empty delta (our
    * files must be in it, so a single foreign job cannot pose as
    * ours: two writers would show two UUIDs). This is what lets
    * [[foldCarries]] stamp the post-append fingerprint safely — the
    * validated listing provably contains no out-of-band file whose
    * rows the folded blob would be missing (rows the bloom lacks would
    * probe definitively-new and admit duplicates forever).
    *
    * The `appendedRows == 0` case accepts a single-UUID delta
    * STRUCTURALLY because Spark commits one empty schema-only part
    * file even for a zero-row append (verified against this repo's
    * Spark 4.1.2) — an all-duplicate micro-batch must not cost the
    * carries. The caller then confirms the delta is actually ROWLESS
    * ([[validAppend]]: a one-file read): a rowless file is harmless
    * whoever wrote it (no rows means nothing the blobs could be
    * missing), while a foreign DATA file masquerading as ours fails
    * the row check and drops the carry. Hidden files (`_SUCCESS`,
    * checksums, anything under `_temporary`) are ignored: the scans
    * that define corpus content never read them. `root` is the listed
    * dir ([[visibleUnder]]; the default counts every segment).
    * Conservative by design: anything unexpected returns false and
    * the caller drops the carry — one reseed scan, never staleness. */
  private[graft] def appendOnlyDelta(pre: Seq[String], post: Seq[String],
                                     appendedRows: Long, root: String = "/"): Boolean = {
    val visible = visibleUnder(root)
    val preV = pre.filter(visible).toSet
    val postV = post.filter(visible).toSet
    preV.subsetOf(postV) && {
      val delta = (postV -- preV).toSeq
      val uuids = delta.map { part =>
        val p = partPath(part)
        p.substring(p.lastIndexOf('/') + 1) match {
          case PartFileUuid(u) => Some(u.toLowerCase)
          case _ => None
        }
      }
      uuids.forall(_.isDefined) && uuids.flatten.distinct.size <= 1 &&
        (appendedRows == 0L || delta.nonEmpty)
    }
  }

  /** The fold's and the seed's one append check: [[appendOnlyDelta]]
    * and, for a zero-row append, a visible delta whose files hold zero
    * rows in total — the harmless shape a zero-row append leaves
    * behind. Any read failure counts as rows (conservative: drop the
    * carry, reseed next batch). The
    * listing stores SCHEME-STRIPPED paths (fingerprint stability), so
    * they are re-qualified against the LANDING's filesystem — read
    * against the default FS, a landing on s3a/hdfs would fail the
    * read and silently drop the carries on every zero-row fold,
    * forcing the O(corpus) reseed the carry design exists to avoid. */
  private def validAppend(spark: SparkSession, landing: LandingGuard.Landing, pre: Seq[String],
                          post: Seq[String], appendedRows: Long): Boolean =
    appendOnlyDelta(pre, post, appendedRows, landing.key) && (appendedRows > 0L || {
      val visible = visibleUnder(landing.key)
      val preV = pre.filter(visible).toSet
      val paths = post.filter(visible).filterNot(preV).map(partPath)
      paths.isEmpty || {
        try {
          val qualified = paths.map(p =>
            landing.fs.makeQualified(new org.apache.hadoop.fs.Path(p)).toString)
          spark.read.parquet(qualified: _*).isEmpty
        } catch { case _: Throwable => false }
      }
    })

  /** After a successful append: re-list the landing, verify the delta
    * is exactly this batch's own committed part files, and either fold
    * each `observed` append-bloom (stage name → blob of the appended
    * rows' keys) into that stage's carry under the validated listing's
    * fingerprint, or — on ANY unexpected delta — drop the carries so
    * the next batch reseeds from the landing (which then includes
    * whatever landed out-of-band). Also drops a carry whose capacity
    * the landed count outgrew (next batch reseeds larger). */
  private def foldCarries(spark: SparkSession, landing: LandingGuard.Landing,
                          preParts: Seq[String], appendedRows: Long,
                          observed: Map[String, Array[Byte]]): Unit = {
    val postParts = landingParts(spark, landing.key)
    if (!validAppend(spark, landing, preParts, postParts, appendedRows)) {
      // an unexplained delta poisons EVERY carry on this landing, not
      // just the folding mode's
      landing.setCarries(Map.empty)
      return
    }
    val fp = fpOf(postParts)
    landing.setCarries(observed.foldLeft(landing.carries) {
      case (m, (stage, blob)) => m.get(stage) match {
        case Some(c) if landing.landed.get() <= c.capacity => m.updated(stage,
          c.copy(blob = DedupStage.unionBloom(c.blob, blob), landingFp = fp))
        case Some(_) => m - stage
        case None    => m
      }
    })
  }

  /** First batch only (no carry yet): seed every stage's carry from
    * the append itself — no corpus existed before it, so the append
    * IS the corpus, and `fresh`'s first-batch plan reads no landing
    * (the dir was absent), so re-running it here is landing-free
    * batch-scale work (the caller persists `fresh`, so it is one
    * cached pass). ONE listing serves every seeded carry (two
    * listings would open a window where the text bloom seeds against
    * one landing state and the bucket bloom against another), and it
    * gets the SAME validation as the fold's — structural plus the
    * zero-row rowless rule: the landing must hold exactly this
    * append's files, else another writer raced the window and ALL
    * seeding is skipped (no carry beats a carry missing the raced-in
    * rows; the next batch reseeds from the landing, which by then
    * includes them). */
  private def seedFromAppend(spark: SparkSession, landing: LandingGuard.Landing,
                             fresh: DataFrame, stages: Seq[DedupStage]): Unit = {
    val post = landingParts(spark, landing.key)
    val landedCount = landing.landed.get()
    if (!validAppend(spark, landing, Seq.empty, post, landedCount)) return
    val fp = fpOf(post)
    val cap = math.max(landedCount, 1L) * 4
    landing.setCarries(stages.map(s => s.name -> s.buildCarry(fresh, cap, fp)).toMap)
  }

  // ---------- the shared ingest batch loop ----------

  /** THE ingest batch loop — every public ingest entry is this loop
    * over its stage list. Per micro-batch: (first batch) compose the
    * stages' in-batch keepers, land, seed every carry from the append
    * under one validated listing; (steady state) ONE pre-listing
    * brackets the batch, each stage preps only the previous stage's
    * survivors, probes its carried bloom batch-side, and confirm-joins
    * the landing only when some row probed positive; survivors land
    * with ALL stages' state columns in one atomic append, and every
    * carry folds the append's observed bloom under the validated
    * post-listing ([[foldCarries]] / [[appendOnlyDelta]]). Crash-retry
    * self-heal, the single-writer slot, and the read-failure
    * discipline (only a genuinely-absent dir means "first batch") are
    * shared here — see [[ingestDedup]] for the full contracts. */
  private def runIngestStream(docs: DataFrame, landing: LandingGuard.Landing,
                              checkpointDir: String,
                              partitionCols: Seq[String],
                              stages: Seq[DedupStage], obsPrefix: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
  landing.startStream { _ =>
    // Landed row count carried across batches: seeded ONCE (first
    // batch that finds an existing dir — one metadata count), then
    // advanced by each batch's observed append size — never a
    // per-batch recount over the landing's growing file listing.
    val landed = landing.landed
    val landingDir = landing.key
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        LandingGuard.heartbeatIngestLock(landing)
        // Only a genuinely-absent landing dir means "first batch".
        // Any other read failure (transient IO, corrupt footer,
        // permissions) must fail the batch so the retry re-runs WITH
        // dedup — swallowing it would append duplicates permanently.
        val firstBatch = !landing.fs.exists(landing.path)
        var persisted: List[DataFrame] = Nil
        try {
          val (fresh, preParts) =
            if (firstBatch) {
              // Unconditional reset, not compareAndSet: a counter or
              // bloom from an earlier batch of THIS stream whose
              // landing dir was deleted must reset with the dir, or
              // sizedBits sizes off a ghost corpus.
              landed.set(0L)
              landing.setCarries(Map.empty)
              // in-batch keepers only (nothing landed to probe);
              // persisted: the write and EVERY stage's seed consume
              // it — one computed pass, not stages+1
              val f = stages.foldLeft(batch)((d, s) => s.prep(d))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              persisted ::= f
              (f, Seq.empty[String])
            } else {
              // ONE listing serves both the staleness check and the
              // fold's pre-append snapshot — taken before the corpus
              // relation resolves, so the validated post-append delta
              // brackets everything the batch's plans could have seen
              val pre = landingParts(spark, landingDir)
              // the schema-contract checks need only the SCHEMA: one
              // part file's footer serves them without building the
              // full-dir relation (whose InMemoryFileIndex re-lists
              // the whole landing — on a 100k-file landing that
              // doubled every clean batch's metadata cost)
              val schemaSrc = pre.find(visibleUnder(landingDir)) match {
                case Some(part) => spark.read.parquet(partPath(part))
                case None       => spark.read.parquet(landingDir)
              }
              stages.foreach(_.landingCheck(schemaSrc, landingDir))
              requireNoForeignState(schemaSrc, landingDir,
                stages.flatMap(_.stateCols).toSet)
              // the corpus relation is LAZY: only a bloom-positive
              // confirm, a carry reseed, or a restart count forces it
              // — a clean steady-state batch never lists the landing
              // a second time
              lazy val corpusRel = spark.read.parquet(landingDir)
              val corpus = () => corpusRel
              if (landed.get() < 0L) landed.set(corpus().count()) // seed on restart
              val fp = fpOf(pre)
              val out = stages.foldLeft(batch) { (cur, s) =>
                // valid carry: fingerprint-fresh and within capacity;
                // else reseed from the landing (ONE stage-column-
                // pruned corpus scan) via the one carry constructor
                val carried = landing.carry(s.name)
                  .filter(c => c.landingFp == fp && landed.get() <= c.capacity)
                  .getOrElse {
                    val c = s.buildCarry(corpus(), math.max(landed.get(), 1L) * 4, fp)
                    landing.setCarries(landing.carries.updated(s.name, c))
                    c
                  }
                // two-phase: (1) probe every row against the carry — a
                // batch-side map, no landing I/O; (2) ONLY if a row
                // probed positive, confirm against the landing. A clean
                // batch (the steady-state common case) therefore runs
                // NO plan that reads the landing at all (pinned by
                // StreamingSpec's listener cases), the property that
                // survives a 100 TB landing. Persisted: the count and
                // the confirm/write both consume it.
                val probed = s.prep(cur)
                  .withColumn(s.probeCol, DedupStage.mightContain(s.keys, carried.blob))
                  .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                persisted ::= probed
                if (probed.filter(col(s.probeCol)).count() == 0L) probed.drop(s.probeCol)
                else s.confirm(probed, corpus)
              }
              (out, pre)
            }
          // observe the append size — and, per carry, the appended
          // rows' bloom — inside the write action (no second
          // computation of `fresh`, no landing rescan)
          val obs = new org.apache.spark.sql.Observation(s"${obsPrefix}_landed_$batchId")
          val folding = stages.flatMap(s => landing.carry(s.name).map(c => (s, c.bits)))
          val metrics = count(lit(1)).as("n") +: folding.flatMap { case (s, bits) =>
            DedupStage.keyAggs(s.name, s.keys, bits) }
          appendToLanding(fresh, landingDir, partitionCols, obs, metrics)
          landing.appended(batchId)
          val observed = obs.get
          val appended = observed("n").asInstanceOf[Long]
          landed.addAndGet(appended)
          if (firstBatch)
            seedFromAppend(spark, landing, fresh, stages)
          else
            foldCarries(spark, landing, preParts, appended,
              folding.map { case (s, _) =>
                s.name -> DedupStage.keyBlob(s.name, s.keys.size, observed) }.toMap)
        } finally persisted.foreach(_.unpersist(false))
        ()
      }
      .start()
  }

  // ---------- the three ingest entries ----------

  /** The one shared append shape all three ingest entries land with.
    * Flat (default): `AppendFiles` part files per batch. Partitioned
    * (`partitionCols` nonempty — e.g. an ingest month): rows
    * hash-repartition ON the partition columns first, so each touched
    * `key=value` leaf receives exactly ONE file per batch (without
    * this, files per batch = tasks × touched leaves — the small-files
    * problem squared), and the landing becomes the layout the
    * maintenance surface is built for: retention by [[LandingMaintenance.expireLanding]],
    * per-leaf [[LandingMaintenance.compactLanding]], partition-pruned time-sliced reads.
    * The dedup state machine is layout-agnostic — carries fold from
    * the write's own Observation and fingerprints are recursive
    * listings, so nothing else changes. */
  private def appendToLanding(fresh: DataFrame, landingDir: String,
                              partitionCols: Seq[String],
                              obs: org.apache.spark.sql.Observation,
                              metrics: Seq[Column]): Unit = {
    val shaped =
      if (partitionCols.isEmpty) fresh.repartition(AppendFiles)
      else fresh.repartition(AppendFiles, partitionCols.map(col): _*)
    val writer = shaped.observe(obs, metrics.head, metrics.tail: _*)
      .write.options(graft.core.Committers.TaskCommitV2)
    (if (partitionCols.isEmpty) writer else writer.partitionBy(partitionCols: _*))
      .mode("append").parquet(landingDir)
  }

  /** Shared validation for the ingest entries' partition layout
    * option: the columns must exist in the stream schema (a write-time
    * failure would kill the first micro-batch instead of the start),
    * and must not collide with the dedup-bearing columns. */
  private def requirePartitionCols(docs: DataFrame, partitionCols: Seq[String],
                                   dedupCols: Seq[String]): Unit = {
    val fields = docs.schema.fieldNames.toSet
    val missing = partitionCols.filterNot(fields.contains)
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(", ")} not in the stream schema " +
      s"(${docs.schema.fieldNames.mkString(", ")})")
    val clash = partitionCols.filter(dedupCols.contains)
    require(clash.isEmpty,
      s"partition column(s) ${clash.mkString(", ")} collide with the " +
      "dedup-bearing columns — a landing partitioned by its dedup key is " +
      "never what you want")
    // a `_`/`.`-prefixed column makes every `col=value` dir HIDDEN to
    // Spark's path filter: the landing would accept writes that no
    // read (reseed, stats, compaction) can see — silent dedup loss
    val hidden = partitionCols.filter(LandingGuard.isHidden)
    require(hidden.isEmpty,
      s"partition column(s) ${hidden.mkString(", ")} start with '_'/'.' — their " +
      "hive dirs would be invisible to every parquet read, including this " +
      "stream's own dedup reseed")
    require(partitionCols.distinct.size == partitionCols.size,
      s"duplicate partition column(s): ${partitionCols.mkString(", ")}")
  }

  /** Column names the ingest family owns: the landed dedup-state
    * columns (`mh1..mh4` signatures, `sb<N>` band codes) and the
    * internal working columns every stage adds-then-drops. A stream
    * column with one of these names would be silently OVERWRITTEN by
    * the stage that computes it (destroying the user's data in the
    * landing) — or, for a state column a narrower mode lands
    * untouched, would ALIAS a sibling mode's state on a later restart
    * (user values read back as signatures/codes). Every ingest entry
    * refuses them up front; `ingestSemantic` additionally refuses
    * only its configured `sb*` range with a mode-specific message —
    * this is the family-wide backstop. */
  private def requireNoReservedCols(docs: DataFrame, entry: String): Unit = {
    val Reserved = raw"mh[1-4]|sb\d+|sig|sem_codes|maybe_dup|maybe_nd|maybe_sem".r
    val clash = docs.schema.fieldNames.filter(f => Reserved.matches(f))
    require(clash.isEmpty,
      s"stream schema carries reserved ingest column(s) ${clash.mkString(", ")} — " +
      s"$entry computes and lands its own dedup-state/working columns under these " +
      "names, so a same-named stream column would be silently overwritten (or read " +
      "back as a sibling mode's dedup state on a later restart); rename it")
  }

  /** A landing that carries dedup-state columns (`mh*`/`sb*`) this
    * ingest mode does not itself compute was landed by a RICHER mode:
    * appending to it would land rows with NULL state that the richer
    * mode, on a later restart, silently exempts from dedup forever
    * (null signatures/codes never match a bucket join). Refused
    * loudly — the missing-column direction is guarded separately
    * (the semantic stage's landing check and the bucket reads
    * themselves). */
  private def requireNoForeignState(corpus: DataFrame, landingDir: String,
                                    lands: Set[String]): Unit = {
    val StateCol = raw"mh[1-4]|sb\d+".r
    val foreign = corpus.schema.fieldNames
      .filter(f => StateCol.matches(f) && !lands.contains(f)).sorted
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"landing '$landingDir' carries dedup-state column(s) ${foreign.mkString(", ")} " +
      "this ingest mode does not compute — appending would land rows with NULL " +
      "state that a later restart in the richer mode would silently exempt from " +
      "dedup; restart with the mode that landed them")
  }

  /** Start-time refusal shared by both ingest families: a key column
    * missing from the stream would otherwise fail the first batch. */
  private def requireStreamCols(docs: DataFrame, keyCols: Seq[String]): Unit =
    require(keyCols.forall(docs.schema.fieldNames.contains),
      s"stream schema must contain ${keyCols.map("'" + _ + "'").mkString(", ")}; got " +
      docs.schema.fieldNames.mkString(", "))

  /** THE start path of the dedup family ([[ingestDedup]],
    * [[ingestNearDup]], [[ingestSemantic]], [[ingestPipeline]]): the
    * shared start-time refusals run once here, before the stream
    * starts, then the landing's open handle ([[LandingGuard.open]])
    * drives [[runIngestStream]] over the entry's stage list. */
  private def startDedup(docs: DataFrame, landingDir: String, checkpointDir: String,
                         entry: String, keyCols: Seq[String],
                         partitionCols: Seq[String], stages: Seq[DedupStage],
                         obsPrefix: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    requireStreamCols(docs, keyCols)
    requireNoReservedCols(docs, entry)
    requirePartitionCols(docs, partitionCols, keyCols)
    runIngestStream(docs, LandingGuard.open(docs.sparkSession, landingDir), checkpointDir,
      partitionCols, stages, obsPrefix)
  }

  /** Continuous corpus ingest with CROSS-BATCH exact dedup — the
    * streaming face of [[graft.ops.DedupStage.newDocs]] (q74) and the
    * contract a training-data pipeline actually needs: a document is
    * a duplicate if its text appeared in ANY earlier batch, not just
    * inside the watermark window ([[dedupeStream]]'s bounded-state
    * regime). Each micro-batch first collapses its own internal
    * repeats (lowest id wins, the q21 keeper discipline), then checks
    * the ENTIRE landed corpus through the carried-bloom two-phase
    * confirm ([[runIngestStream]]), and appends only genuinely-new rows.
    *
    * Steady-state cost per batch: one batch-side probe pass + the
    * append; the landing is read ONLY to confirm bloom-positive rows
    * (bounded by the dup/FP rate) and to reseed after an out-of-band
    * change. At 100 TB the corpus side is exactly q74's shape with
    * the bloom build amortized away.
    *
    * Retries self-heal (see the section comment): a PARTIALLY-failed
    * append under the v2 task-side committer ([[graft.core.Committers]])
    * leaves committed-task files the fingerprint check detects — the
    * next batch reseeds from the landing (which includes the
    * leftovers) and appends only what is genuinely missing (pinned by
    * StreamingSpec's crash-retry case). */
  def ingestDedup(docs: DataFrame, landingDir: String, checkpointDir: String,
                  textCol: String = "text", idCol: String = "doc_id",
                  partitionCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startDedup(docs, landingDir, checkpointDir, "ingestDedup", Seq(textCol, idCol),
      partitionCols, Seq(DedupStage.exact(textCol, idCol)), "ingest")

  /** Cross-batch NEAR-dup ingest — [[ingestDedup]]'s MinHash/LSH twin
    * ([[graft.ops.NearDupIncremental]]): a batch doc is dropped when
    * any of its LSH band buckets already contains an accepted doc, so
    * a lightly-edited repost never re-enters the corpus.
    *
    * The landed corpus again IS the state, with one refinement: each
    * accepted row lands WITH its `mh1..mh4` signature columns, in the
    * SAME atomic append — state cannot diverge from the corpus on a
    * retry (a partially-failed append publishes each surviving row
    * WITH its signatures, so a replayed batch collides with its own
    * landed buckets). Per-batch dedup is the carried bucket-bloom
    * two-phase confirm ([[runIngestStream]]): steady-state clean batches
    * never read the landing at all; candidate batches read only the
    * four signature columns. Within a batch the greedy bucket-min
    * keeper applies first (smallest id per bucket survives — see
    * [[graft.ops.NearDupIncremental.keepBucketMins]] for the
    * over-drop trade vs full connected components, which remains the
    * batch q60 operator's job). The read-failure discipline matches
    * [[ingestDedup]]: only a genuinely-absent dir means "first
    * batch"; anything else fails the batch so the retry re-runs WITH
    * dedup. */
  def ingestNearDup(docs: DataFrame, landingDir: String, checkpointDir: String,
                    textCol: String = "text", idCol: String = "doc_id",
                    partitionCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startDedup(docs, landingDir, checkpointDir, "ingestNearDup", Seq(textCol, idCol),
      partitionCols, Seq(DedupStage.near(textCol, idCol)), "ingest_nd")

  /** Continuous corpus ingest with CROSS-BATCH SEMANTIC dedup — the
    * streaming face of [[graft.ops.SemanticIncremental]] (q86), for
    * EMBEDDED streams: a document is dropped when an already-accepted
    * document shares a hyperplane band bucket AND reaches
    * `cosine >= tau`; survivors land WITH their band codes
    * (`sb0..sb{bands-1}`, one int per band) in the same atomic append,
    * so the landed corpus is simultaneously corpus and dedup state and
    * the crash-retry self-heal argument of [[ingestDedup]] applies
    * unchanged. Unlike the MinHash stage, a collision alone never
    * drops — every candidate is confirmed with the exact cosine, so
    * bucket-bloom collisions and even a mis-sized `bits` can only cost
    * recall or confirm traffic, never a wrong drop.
    *
    * Per-batch cost is the carried bucket-bloom two-phase confirm
    * ([[runIngestStream]]): probe-negative batches never read the landing;
    * candidate batches read the landed codes (one int per band per
    * row) for the bucket join and landed VECTORS only for candidate
    * rows. In-batch, [[graft.ops.SemanticIncremental.keepSemanticMins]]
    * applies first (collision AND cosine, min id survives).
    *
    * Cost-model honesty: unlike the MinHash stages' buckets (minima
    * pairs over a ~10^12 domain — unrelated texts essentially never
    * collide, so clean batches stay probe-negative forever),
    * hyperplane buckets are DENSE (2^bits per band). As the corpus
    * fills the bucket space, probe-positive batches and their confirm
    * joins become the steady state — the carry then amortizes the
    * bloom build, and the confirm is the recurring cost: a
    * column-pruned corpus scan with a small constant. Measured
    * longitudinally (`IngestSoakProbe sem`, 32 × 500-vector batches,
    * occupancy-sized bits): per-batch time stays FLAT (last/second
    * quarter ratio 0.85) through 14k landed vectors with the confirm
    * running every batch.
    *
    * `bits`/`bands` are fixed at the landing's first write (the landed
    * codes embed them); a restart with a different `bands` is refused
    * by schema, a different `bits` only degrades recall — re-land to
    * change either. Size `bits` with
    * [[graft.ops.Similarity.occupancyBits]] as the corpus grows.
    *
    * NULL-vector rows have no semantic identity: they compute null
    * codes, never collide, and are ALWAYS admitted — including on a
    * crash retry (the text stages dedup such rows by text; a pipeline
    * that must not re-land them runs [[ingestDedup]] upstream or
    * filters them out). */
  def ingestSemantic(docs: DataFrame, landingDir: String, checkpointDir: String,
                     tau: Double = 0.9,
                     vecCol: String = "embedding", idCol: String = "doc_id",
                     bits: Int = 8, bands: Int = 2,
                     partitionCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startDedup(docs, landingDir, checkpointDir, "ingestSemantic", Seq(vecCol, idCol),
      partitionCols, Seq(SemanticStage(tau, vecCol, bits, bands).stage(idCol)), "ingest_sem")

  // ---------- the frozen-state gates ----------

  /** THE start path of the frozen-state gates ([[ingestIndex]],
    * [[ingestQuality]], [[ingestDsir]], [[ingestDecontaminate]]) — the
    * gate family's twin of [[runIngestStream]]. In order: refuse a
    * stream missing a key column, or carrying `batch` or a column of
    * `reserved` (the gate's own partition, working and score columns —
    * refused at start, not with a per-batch ambiguous reference: the
    * round-14 reserved-column discipline); take the landing's
    * single-writer slot and cross-JVM writer lock; build the frozen
    * state INSIDE the guard (`freeze`), so a refused start never pays
    * for training. `freeze` registers each frozen-state release
    * through its argument as soon as that state exists; every
    * registered release runs on a failed start and on termination
    * ([[LandingGuard.Landing.startStream]]; r17 verdict #7: frozen state
    * must not hold executor storage past the stream's lifetime).
    *
    * Per batch: heartbeat the writer lock, score (`pin` persists a
    * frame until the batch's write has finished), and land under
    * `batch=<id>` in overwrite mode with the re-run committer, so a
    * crashed attempt's partial output is cleared by its own retry —
    * exactly-once with no dedup-on-read. */
  private def runGateStream(docs: DataFrame, landingDir: String, checkpointDir: String,
                            gate: String, keyCols: Seq[String], reserved: Seq[String],
                            landPartitions: Seq[String] = Nil)
                           (freeze: ((() => Unit) => Unit) =>
                             (DataFrame, DataFrame => DataFrame) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    requireStreamCols(docs, keyCols)
    ("batch" +: reserved).foreach { c =>
      require(!docs.schema.fieldNames.contains(c),
        s"stream schema must not carry '$c' — the $gate reserves it as a " +
        "landing partition, working or score column")
    }
    val landing = LandingGuard.open(docs.sparkSession, landingDir)
    landing.startStream { release =>
      val score = freeze(release)
      docs.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          LandingGuard.heartbeatIngestLock(landing)
          var pinned: List[DataFrame] = Nil
          try {
            val w = score(batch, df => { pinned ::= df.persist(); pinned.head })
              .write.options(graft.core.Committers.forRerun(overwrite = true))
            (if (landPartitions.isEmpty) w else w.partitionBy(landPartitions: _*))
              .mode("overwrite").parquet(s"${landing.key}/batch=$batchId")
          } finally pinned.foreach(_.unpersist())
          ()
        }
        .start()
    }
  }

  /** Streaming maintenance of the persisted IVF-PQ index
    * ([[graft.ops.IvfPqIndex]]): each micro-batch of arriving vectors
    * is encoded with the STORED codebooks (from `trainingSource`, the
    * incremental-indexing contract of `IvfPqIndex.land`'s
    * `codebookSource`) and landed under `indexDir/batch=<batchId>` —
    * hive-style, so `batch` joins `centroid` as a partition column and
    * a probe's nprobe cluster restriction still prunes to the probed
    * `centroid=` dirs inside every batch dir.
    *
    * Exactly-once WITHOUT dedup-on-read (the property `IvfPqIndex.land`
    * documents plain append cannot give a retry): every batch writes
    * its OWN dir in overwrite mode with the re-run-safe committer, so
    * a crashed attempt's partial output is cleared wholesale by the
    * retry of the same batchId, and a committed batch is never
    * re-delivered (checkpointed offsets). The single-writer slot
    * guards the index dir like any landing. */
  def ingestIndex(docs: DataFrame, indexDir: String, checkpointDir: String,
                  trainingSource: DataFrame, coarseK: Int, m: Int, ksub: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    runGateStream(docs, indexDir, checkpointDir, "index stream", Seq(vecCol, idCol),
      Seq("centroid"), landPartitions = Seq("centroid")) { _ =>
      // codebooks are FROZEN state (the ingestQuality LM discipline):
      // derived once inside the guard — per-batch re-derivation would
      // collect a training-frame scan on every micro-batch for
      // byte-identical deterministic codebooks
      val cb = graft.ops.IvfPqIndex.trainCodebooks(
        trainingSource, coarseK, ksub, idCol, vecCol)
      (batch, _) => graft.ops.IvfPqIndex.encode(batch, m, cb, idCol, vecCol)
    }

  /** Streaming quality gate — the CCNet deployment shape of q93's LM
    * perplexity filter: the per-language Laplace bigram LM is trained
    * ONCE from a static reference corpus ([[graft.ops.NgramLm.train]]
    * — materialized vocab-sized state, the frozen-LM discipline the
    * paper uses; re-deriving it per micro-batch would re-scan the
    * reference every batch), then every micro-batch ROW is scored
    * independently against it (synthetic per-row key — duplicate doc
    * ids are legitimate pre-dedup input and must neither merge their
    * scores nor fan out on the re-attach) and only rows at or under
    * `maxXentPerToken` land,
    * carrying their scores. UNSCORABLE documents — under 2 tokens, or
    * a language absent from the reference — are REJECTED, not waved
    * through: a quality gate that cannot judge a document must not
    * admit it (the conservative CCNet reading; flip by filtering the
    * scored frame yourself if a pipeline wants pass-through).
    *
    * Landing layout and exactly-once match [[ingestIndex]]: each
    * batch lands under `batch=<id>` in overwrite mode with the re-run
    * committer, so a crashed attempt's partial output is cleared by
    * its own retry — no dedup-on-read. Takes the landing's
    * single-writer slot + cross-JVM writer lock like every ingest
    * entry. No carried state: the LM is frozen, so batches are
    * independent and the gate composes BEFORE the dedup family (score
    * first — rejects never pay signature or bloom work). */
  def ingestQuality(docs: DataFrame, landingDir: String, checkpointDir: String,
                    reference: DataFrame, maxXentPerToken: Double,
                    textCol: String = "text", idCol: String = "doc_id",
                    langCol: String = "lang")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(!maxXentPerToken.isNaN, "maxXentPerToken must be a number")
    require(maxXentPerToken >= 0,
      s"per-token cross-entropy is non-negative, so a threshold of " +
      s"$maxXentPerToken would reject every document")
    runGateStream(docs, landingDir, checkpointDir, "quality gate",
      Seq(textCol, idCol, langCol),
      Seq("__qid", "n_pos", "xent_micronats", "xent_micronats_per_pos",
        "xent_per_token")) { release =>
      // the trained LM's checkpointed frame + probe-map broadcast
      val trained = graft.ops.NgramLm.train(reference, textCol, langCol)
      release(() => LandingGuard.releaseFrozenFrame(trained.counts))
      release(() => trained.releaseMaps())
      (batch, pin) => {
        // The gate sits BEFORE the dedup family, so repeated doc ids
        // in one batch are legitimate input: each ROW is scored
        // independently under a synthetic per-row key (an id-keyed
        // join would merge duplicate ids' entries and cross-multiply
        // a doc id appearing under two languages). The persist is
        // load-bearing twice over — it pins the synthetic ids so the
        // score side and the join side see the SAME assignment (each
        // use of an unpersisted batch re-plans the source, which may
        // renumber), and it halves the per-batch input scans.
        val keyed = pin(batch.withColumn("__qid", monotonically_increasing_id()))
        // scoreRows' unique-key contract holds by construction:
        // __qid is monotonically_increasing_id, one per row
        val scored = graft.ops.NgramLm.scoreRows(keyed, trained, textCol, "__qid", langCol)
          .select(col("__qid"), col("n_pos"), col("xent_micronats"),
            col("xent_micronats_per_pos"), col("xent_per_token"))
        keyed.join(scored, Seq("__qid"))
          .filter(col("xent_per_token") <= maxXentPerToken)
          .drop("__qid")
      }
    }
  }

  /** Streaming DSIR gate — the deployment shape of q94's importance
    * resampling ([[graft.ops.Dsir]]), completing the frozen-state gate
    * pair with [[ingestQuality]]: the two hashed-ngram bucket
    * histograms are trained ONCE from a static corpus
    * ([[graft.ops.Dsir.train]] — a B+1-long integer delta table, state
    * bounded by the bucket CONSTANT, the ideal broadcast), then every
    * micro-batch row is scored MAP-ONLY (a codegen'd fold against the
    * embedded delta literal — zero joins, zero aggregations, zero
    * landing reads per batch) and only rows with `logw_micronats >=
    * minLogwMicronats` land, carrying their integer scores
    * (n_grams, logw_micronats, selected). The threshold is exact
    * fixed-point micro-nats, admitted iff logw >= minLogwMicronats;
    * the DEFAULT of 1 is the paper's strict w > 1 rule (exactly q94's
    * `selected` = logw > 0, expressible as >= 1 because the scores are
    * integers). A NULL/empty text scores exactly 0, so the default
    * REJECTS empties; pass 0 to also admit weight-exactly-1 docs —
    * unlike the perplexity gate there is no unscorable case, every
    * document has a well-defined weight.
    *
    * `targetPred` marks the target-distribution slice WITHIN
    * `trainCorpus` (everything else is the source pool), mirroring the
    * batch carrier. Landing layout and exactly-once match
    * [[ingestQuality]]: each batch lands under `batch=<id>` in
    * overwrite mode with the re-run committer, so a crashed attempt's
    * partial output is cleared by its own retry. Takes the landing's
    * single-writer slot + cross-JVM writer lock like every ingest
    * entry. No carried state: the model is frozen, batches are
    * independent, and the gate composes BEFORE the dedup family
    * (rejects never pay signature or bloom work). */
  def ingestDsir(docs: DataFrame, landingDir: String, checkpointDir: String,
                 trainCorpus: DataFrame, targetPred: Column,
                 minLogwMicronats: Long = 1L,
                 textCol: String = "text", idCol: String = "doc_id",
                 buckets: Int = 4096)
      : org.apache.spark.sql.streaming.StreamingQuery =
    runGateStream(docs, landingDir, checkpointDir, "DSIR gate", Seq(textCol, idCol),
      Seq("n_grams", "logw_micronats", "selected")) { _ =>
      val model = graft.ops.Dsir.train(trainCorpus, targetPred, textCol, buckets)
      (batch, _) => graft.ops.Dsir.withScores(batch, model, textCol)
        .filter(col("logw_micronats") >= minLogwMicronats)
    }

  /** Streaming decontamination gate — probe every micro-batch against
    * a LANDED benchmark gram set ([[graft.ops.Decontaminate]]),
    * completing the ingest-family quality gates (exact/near/semantic/
    * quality/dsir/decontaminate): docs sharing more than
    * `maxSharedGrams` distinct 3-grams with the benchmark are
    * REJECTED (test-set leakage must not enter a training corpus);
    * survivors land with their (n_shared, clean) report columns.
    *
    * Frozen-artifact state, two-phase probe: the benchmark's Bloom
    * blob is loaded ONCE at start (`_bloom.bin`, landed beside the
    * gram parquet by [[graft.ops.Decontaminate.landBenchmark]]) and
    * carried across batches; per batch, every doc gram probes the
    * blob map-only, and only bloom-POSITIVE grams (true hits + the
    * sized ~0.5% false-positive rate) confirm against the landed
    * parquet — a clean batch reads the landed set ZERO times
    * (bloom-negative is definitive absence), the dedup family's
    * carried-state discipline applied to a frozen artifact. Rows are
    * scored independently under a synthetic per-row key (duplicate doc
    * ids are legitimate pre-dedup input). The confirm regime
    * (broadcast vs shuffle semi) is decided ONCE at start from the
    * landed set's metadata row count, mirroring
    * [[graft.ops.Decontaminate.probe]].
    *
    * Landing layout and exactly-once match [[ingestQuality]]:
    * `batch=<id>` overwrite + the re-run committer; single-writer
    * slot + cross-JVM writer lock. */
  def ingestDecontaminate(docs: DataFrame, landingDir: String,
                          checkpointDir: String, benchDir: String,
                          maxSharedGrams: Long = 0L,
                          textCol: String = "text", idCol: String = "doc_id")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(maxSharedGrams >= 0,
      s"maxSharedGrams must be non-negative, got $maxSharedGrams")
    runGateStream(docs, landingDir, checkpointDir, "decontamination gate",
      Seq(textCol, idCol), Seq("__qid", "n_shared", "clean")) { release =>
      // frozen state, loaded INSIDE the guard: a refused start must
      // fail before touching the artifact; a missing artifact fails
      // the start loudly (a gate with no benchmark gates nothing).
      // BOTH halves of the artifact — the Bloom blob AND the confirm
      // set — are snapshotted here. The confirm set is pinned to the
      // exact parquet FILE LIST read at start (not the directory) and
      // cached: the cache is recomputable (ADVICE r17 — executor loss
      // re-runs the scan), but recompute re-reads the SAME files, and
      // a benchmark re-land never reuses a part-file name (per-job
      // UUIDs), so a mid-stream re-land makes any recompute fail
      // LOUDLY on the deleted files instead of silently confirming
      // against a set this stream's Bloom blob was not built over. A
      // new suite version takes effect on stream restart, like
      // ingestQuality's LM and ingestDsir's model.
      // ONE verified snapshot of both halves: the sidecar's file-list
      // fingerprint must match the files pinned here, so a re-land
      // completing between the two reads refuses the start instead of
      // silently pairing an old Bloom with a new confirm set
      val spark = docs.sparkSession
      val (blob, gxFiles) = graft.ops.Decontaminate.loadBloomPinned(spark, benchDir)
      val bench = spark.read.parquet(gxFiles: _*).select("gx").persist()
      // registered before the count: a failure inside it still releases
      release(() => LandingGuard.releaseFrozenFrame(bench))
      val broadcastable =
        bench.count() <= graft.ops.Decontaminate.BroadcastableRows
      (batch, pin) => {
        // pins keep the synthetic per-row ids stable across the gram
        // side and the re-attach side (the ingestQuality argument),
        // and stop the emptiness probe from paying the gram hashing
        // + bloom probes a second time in the confirm pass
        val keyed = pin(batch.withColumn("__qid", monotonically_increasing_id()))
        val cand = pin(keyed
          .select(col("__qid"),
            explode_outer(graft.ops.Decontaminate.gramKeys(col(textCol))).as("gx"))
          .filter(DedupStage.mightContain(Seq(col("gx")), blob)))
        // bloom-negative is DEFINITIVE absence: a clean batch
        // never reads the landed benchmark set
        val scored =
          if (cand.isEmpty)
            keyed.select(col("__qid")).withColumn("n_shared", lit(0L))
          else {
            val hits = cand
              .join(if (broadcastable) broadcast(bench) else bench,
                Seq("gx"), "left_semi")
              .groupBy("__qid").agg(count(lit(1)).as("n_shared"))
            keyed.select(col("__qid"))
              .join(hits, Seq("__qid"), "left")
              .select(col("__qid"),
                coalesce(col("n_shared"), lit(0L)).as("n_shared"))
          }
        keyed.join(scored, Seq("__qid"))
          .filter(col("n_shared") <= maxSharedGrams)
          .withColumn("clean", (col("n_shared") === 0L).cast("bigint"))
          .drop("__qid")
      }
    }
  }

  /** The production ingest shape: EXACT dedup then NEAR-dup, composed
    * in one foreachBatch against ONE landing dir. Exact-equal reposts
    * are the overwhelming bulk of real ingest duplicates and are
    * eliminated first by the cheap path (in-batch text keeper, then
    * the carried-bloom two-phase exact confirm); only the
    * exact-survivors are shingled, signed, bucket-min-kept, and put
    * through the carried bucket-bloom two-phase near confirm.
    * Survivors land WITH their signatures in one atomic-per-file
    * append, so the landed corpus is simultaneously the exact-dedup
    * state (text) and the near-dup state (signatures), and the
    * crash-retry self-heal argument of both parents applies unchanged.
    * A steady-state batch with no cross-batch duplicates reads the
    * landing ZERO times (pinned by StreamingSpec's listener case).
    *
    * Near-dup would also drop exact duplicates (equal texts share all
    * buckets), so correctness does not depend on stage order; the
    * ordering is a cost statement — signature computation is the
    * expensive stage, and it runs only on what exact dedup admits.
    *
    * Read-failure discipline matches the parents: only a genuinely-
    * absent landing dir means "first batch"; any other failure fails
    * the batch so the retry re-runs WITH dedup.
    *
    * `semantic` adds [[ingestSemantic]]'s embedding stage as a THIRD
    * link for streams that carry an embedding column: exact → near →
    * semantic, cheapest first and each stage consuming only the
    * previous stage's survivors. Survivors then land with text,
    * `mh1..mh4` AND `sb*` codes — one landing is all three stages'
    * state, and the distinguishing catch is a doc whose text shares
    * no shingles with anything landed but whose embedding matches
    * (paraphrase/re-render): only the semantic stage drops it. All
    * three carries are active; the same AND-composition argument as
    * the two-stage form applies (each stage's flag depends only on
    * the doc and the landed corpus). */
  final case class SemanticStage(tau: Double = 0.9, vecCol: String = "embedding",
                                 bits: Int = 8, bands: Int = 2) {
    // checked on construction, so every semantic entry refuses a bad
    // stage at start without restating the bounds
    require(bits >= 1 && bits <= 30, s"bits must be in [1, 30], got $bits")
    require(bands >= 1 && bands <= 16, s"bands must be in [1, 16], got $bands")
    require(!tau.isNaN && tau >= -1.0 && tau <= 1.0,
      s"tau must be a cosine in [-1, 1], got $tau")

    /** The ingest dedup stage these parameters describe. */
    private[graft] def stage(idCol: String): DedupStage =
      DedupStage.sem(tau, vecCol, bits, bands, idCol)
  }

  def ingestPipeline(docs: DataFrame, landingDir: String, checkpointDir: String,
                     textCol: String = "text", idCol: String = "doc_id",
                     partitionCols: Seq[String] = Nil,
                     semantic: Option[SemanticStage] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // cheapest stage first, each consuming only the previous stage's
    // survivors: exact-equal reposts are the bulk of real ingest
    // duplicates and cost one hash; signatures are computed only for
    // exact-survivors, codes only for near-survivors. The ONE landing
    // holds text + mh1..mh4 (+ sb*) and is every stage's state; the
    // landed corpus is exactly the final survivors, so the exact bloom
    // folds the post-near(-sem) `fresh` — see [[runIngestStream]].
    startDedup(docs, landingDir, checkpointDir, "ingestPipeline",
      Seq(textCol, idCol) ++ semantic.map(_.vecCol), partitionCols,
      Seq(DedupStage.exact(textCol, idCol), DedupStage.near(textCol, idCol)) ++
        semantic.map(_.stage(idCol)),
      "ingest_pipe")
}
