package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.DedupStage
import graft.ops.DedupStage.CarriedBloom

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
  // File-count hygiene: each append is repartitioned to `appendFiles`
  // part files (default 4) before the write. Without it a micro-batch
  // writes one file per shuffle partition (32 here), so a long-running
  // ingest accretes batches×32 tiny files and every confirm/reseed
  // scan pays per-file open cost that grows with STREAM AGE rather
  // than data size — the soak probe (tools/IngestSoakProbe) measured
  // that accretion dominating per-batch time within ~10 batches at
  // test scale. The repartition is a batch-sized shuffle (bounded by
  // the micro-batch, never the corpus); raise `appendFiles` for very
  // large micro-batches.
  // =====================================================================

  /** Landed-corpus row counts carried across micro-batches, keyed by
    * landing dir — exposed so StreamingSpec can pin that the count
    * tracks the corpus without per-batch recounting. The count only
    * SIZES the bloom filters; drift after a partial retry can't break
    * dedup exactness (the confirm join stays exact). */
  private[graft] val landedCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Every carried bloom ([[graft.ops.DedupStage.CarriedBloom]]):
    * landing dir → (stage name → carry). A key COLLISION in a stage's
    * bloom only costs a confirm probe (the row looks like a candidate
    * and the exact confirm clears it); it can never admit a duplicate,
    * which is what makes a bloom a sound carrier for a landed key set.
    * One entry per landing, so whatever poisons a landing drops all of
    * its carries with one `remove`.
    *
    * Rebuilding a carry per batch is a full corpus scan per
    * micro-batch — O(corpus), the clearest scale-killer in a
    * long-running ingest — so each is seeded at most once and then
    * FOLDED forward: after each append, a bloom of just the appended
    * rows (computed by the write's own Observation — no second pass) is
    * OR'd in.
    *
    * What the carry amortizes — and what it doesn't: the carry removes
    * the per-batch bloom-BUILD scan, and, with the two-phase confirm
    * (probe first, join only if any row probes positive), a batch
    * whose rows all probe bloom-negative touches the landing not at
    * all. A batch with bloom-positive rows still pays a confirm join
    * whose corpus side is a scan of the landing's text (exact stage)
    * or state columns (near/semantic stages) — bounded in frequency
    * by the dup/FP rate of the probe side, not eliminated.
    *
    * Exactness discipline — a bloom MISSING landed rows would admit
    * duplicates (the false-NEGATIVE direction the confirm join cannot
    * repair), so a carry is only trusted when `landingFp`, the
    * file-status fingerprint of the landing recorded by a VALIDATED
    * fold ([[foldCarries]]), still matches the landing: any
    * out-of-band change — leftover task files from a crashed batch
    * attempt, another writer, a manual edit — changes the fingerprint
    * and forces a reseed scan, restoring the per-batch-rebuild
    * self-heal exactly when it is needed and only then. The fold
    * itself verifies the only files that appeared during the append
    * are the batch's own committed part files (one write-job UUID);
    * anything else in the delta drops the carry instead of stamping a
    * fingerprint whose rows the blob does not contain
    * ([[appendOnlyDelta]] — closes the append→fold race window).
    * Capacity: blobs are sized for 4× the seed-time corpus (~16
    * bits/key keeps confirm traffic ~0.5%); growing past that drops
    * the carry so the next batch reseeds at the new size — amortized
    * one corpus scan per 4× growth. Every carry is built with
    * [[graft.ops.DedupStage.ProbeHashes]] probe hashes. */
  private[graft] val carries =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, CarriedBloom]]()

  private def carriesOf(landingDir: String): Map[String, CarriedBloom] =
    carries.getOrDefault(landingDir, Map.empty)

  private[graft] def carryOf(landingDir: String, stage: String): Option[CarriedBloom] =
    carriesOf(landingDir).get(stage)

  /** Replace the landing's carries; an empty set removes its entry. */
  private def setCarries(landingDir: String, m: Map[String, CarriedBloom]): Unit =
    if (m.isEmpty) carries.remove(landingDir) else carries.put(landingDir, m)

  /** One canonical form per physical landing dir — `makeQualified`
    * resolves scheme/authority/trailing-slash spellings ('/a/b/',
    * 'file:/a/b') to one string, so the per-landing state maps and the
    * single-writer guard cannot be split or bypassed by a path alias
    * (two spellings of one dir would otherwise run two "independent"
    * carries that invalidate each other's folds every batch). Every
    * public ingest entry normalizes ONCE; all internal state and I/O
    * use the canonical form. */
  private[graft] def landingKey(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  private def landingParts(spark: SparkSession, landingDir: String): Seq[String] =
    graft.core.Tables.listing(spark, landingDir)

  private def fpOf(parts: Seq[String]): String = parts.mkString(";")

  // ---------- append validation (the fold's TOCTOU guard) ----------

  /** `path` of a `path:len:mtime` listing part (len/mtime stripped). */
  private def partPath(part: String): String = {
    val i = part.lastIndexOf(':')
    part.substring(0, part.lastIndexOf(':', i - 1))
  }

  private def isVisible(part: String): Boolean = {
    val p = partPath(part)
    val base = p.substring(p.lastIndexOf('/') + 1)
    !(base.startsWith("_") || base.startsWith("."))
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
    * ([[deltaPaths]] + a one-file read): a rowless file is harmless
    * whoever wrote it (no rows means nothing the blobs could be
    * missing), while a foreign DATA file masquerading as ours fails
    * the row check and drops the carry. Hidden files (`_SUCCESS`,
    * checksums) are ignored: the scans that define corpus content
    * never read them. Conservative by design: anything unexpected
    * returns false and the caller drops the carry — one reseed scan,
    * never staleness. */
  private[graft] def appendOnlyDelta(pre: Seq[String], post: Seq[String],
                                     appendedRows: Long): Boolean = {
    val preV = pre.filter(isVisible).toSet
    val postV = post.filter(isVisible).toSet
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

  /** The visible delta's file paths (for the zero-row rowless read). */
  private def deltaPaths(pre: Seq[String], post: Seq[String]): Seq[String] = {
    val preV = pre.filter(isVisible).toSet
    post.filter(isVisible).filterNot(preV).map(partPath)
  }

  /** True iff the delta files hold zero rows in total — the harmless
    * shape a zero-row append leaves behind. Any read failure counts
    * as rows (conservative: drop the carry, reseed next batch). The
    * listing stores SCHEME-STRIPPED paths (fingerprint stability), so
    * they are re-qualified against the LANDING's filesystem — read
    * against the default FS, a landing on s3a/hdfs would fail the
    * read and silently drop the carries on every zero-row fold,
    * forcing the O(corpus) reseed the carry design exists to avoid. */
  private def deltaRowless(spark: SparkSession, landingDir: String,
                           paths: Seq[String]): Boolean =
    paths.isEmpty || {
      try {
        val fs = new org.apache.hadoop.fs.Path(landingDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val qualified = paths.map(p =>
          fs.makeQualified(new org.apache.hadoop.fs.Path(p)).toString)
        spark.read.parquet(qualified: _*).isEmpty
      } catch { case _: Throwable => false }
    }

  /** Test seam: invoked after a batch's append returns and BEFORE the
    * fold re-lists the landing — the exact window the validated fold
    * exists to defend (StreamingSpec races an out-of-band append into
    * it deterministically). No-op in production. */
  @volatile private[graft] var postAppendHook: (String, Long) => Unit = (_, _) => ()

  /** After a successful append: re-list the landing, verify the delta
    * is exactly this batch's own committed part files, and either fold
    * each `observed` append-bloom (stage name → blob of the appended
    * rows' keys) into that stage's carry under the validated listing's
    * fingerprint, or — on ANY unexpected delta — drop the carries so
    * the next batch reseeds from the landing (which then includes
    * whatever landed out-of-band). Also drops a carry whose capacity
    * the landed count outgrew (next batch reseeds larger). */
  private def foldCarries(spark: SparkSession, landingDir: String,
                          preParts: Seq[String], appendedRows: Long,
                          landedCount: Long,
                          observed: Map[String, Array[Byte]]): Unit = {
    val postParts = landingParts(spark, landingDir)
    val clean = appendOnlyDelta(preParts, postParts, appendedRows) &&
      (appendedRows > 0L ||
        deltaRowless(spark, landingDir, deltaPaths(preParts, postParts)))
    if (!clean) {
      // an unexplained delta poisons EVERY carry on this landing, not
      // just the folding mode's
      carries.remove(landingDir)
      return
    }
    val fp = fpOf(postParts)
    setCarries(landingDir, observed.foldLeft(carriesOf(landingDir)) {
      case (m, (stage, blob)) => m.get(stage) match {
        case Some(c) if landedCount <= c.capacity => m.updated(stage,
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
  private def seedFromAppend(spark: SparkSession, landingDir: String,
                             fresh: DataFrame, landedCount: Long,
                             stages: Seq[DedupStage]): Unit = {
    val post = landingParts(spark, landingDir)
    val clean = appendOnlyDelta(Seq.empty, post, landedCount) &&
      (landedCount > 0L ||
        deltaRowless(spark, landingDir, deltaPaths(Seq.empty, post)))
    if (!clean) return
    val fp = fpOf(post)
    val cap = math.max(landedCount, 1L) * 4
    setCarries(landingDir, stages.map(s => s.name -> s.buildCarry(fresh, cap, fp)).toMap)
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
  private def runIngestStream(docs: DataFrame, landingDir: String,
                              checkpointDir: String, appendFiles: Int,
                              partitionCols: Seq[String],
                              stages: Seq[DedupStage], obsPrefix: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
  startGuarded(docs.sparkSession, landingDir) {
    // Landed row count carried across batches: seeded ONCE (first
    // batch that finds an existing dir — one metadata count), then
    // advanced by each batch's observed append size — never a
    // per-batch recount over the landing's growing file listing.
    val landed = landedCounts.computeIfAbsent(landingDir,
      _ => new java.util.concurrent.atomic.AtomicLong(-1L))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        heartbeatIngestLock(landingDir)
        // Only a genuinely-absent landing dir means "first batch".
        // Any other read failure (transient IO, corrupt footer,
        // permissions) must fail the batch so the retry re-runs WITH
        // dedup — swallowing it would append duplicates permanently.
        val landingPath = new org.apache.hadoop.fs.Path(landingDir)
        val fs = landingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val firstBatch = !fs.exists(landingPath)
        var persisted: List[DataFrame] = Nil
        try {
          val (fresh, preParts) =
            if (firstBatch) {
              // Unconditional reset, not compareAndSet: a stale
              // carried counter/bloom from a DELETED-and-recreated
              // landing dir (same JVM, new stream) must reset with
              // the dir, or sizedBits sizes off a ghost corpus.
              landed.set(0L)
              carries.remove(landingDir)
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
              val schemaSrc = pre.find(isVisible) match {
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
                val carried = carryOf(landingDir, s.name)
                  .filter(c => c.landingFp == fp && landed.get() <= c.capacity)
                  .getOrElse {
                    val c = s.buildCarry(corpus(), math.max(landed.get(), 1L) * 4, fp)
                    setCarries(landingDir, carriesOf(landingDir).updated(s.name, c))
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
          val folding = stages.flatMap(s => carryOf(landingDir, s.name).map(c => (s, c.bits)))
          val metrics = count(lit(1)).as("n") +: folding.flatMap { case (s, bits) =>
            DedupStage.keyAggs(s.name, s.keys, bits) }
          appendToLanding(fresh, landingDir, appendFiles, partitionCols, obs, metrics)
          postAppendHook(landingDir, batchId)
          val observed = obs.get
          val appended = observed("n").asInstanceOf[Long]
          landed.addAndGet(appended)
          if (firstBatch)
            seedFromAppend(spark, landingDir, fresh, landed.get(), stages)
          else
            foldCarries(spark, landingDir, preParts, appended, landed.get(),
              folding.map { case (s, _) =>
                s.name -> DedupStage.keyBlob(s.name, s.keys.size, observed) }.toMap)
        } finally persisted.foreach(_.unpersist(false))
        ()
      }
      .start()
  }

  // ---------- single-writer guard ----------

  private[graft] final class IngestReg(val owner: SparkSession) {
    @volatile var runId: java.util.UUID = null
  }

  /** Active ingest streams keyed by landing dir. All carried state
    * above is keyed by landing dir and tolerates exactly ONE writer:
    * two concurrent streams would interleave counter updates and bloom
    * folds, silently corrupting dedup state. Entries self-clear — a
    * registration whose query is no longer active is taken over by the
    * next starter. */
  private[graft] val activeIngests =
    new java.util.concurrent.ConcurrentHashMap[String, IngestReg]()

  /** Take the landing's single-writer slot or throw. A registration
    * with `runId == null` counts as active — that is both a stream
    * between registration and start, and a [[compactLanding]] run,
    * which holds the slot for its whole duration. A registration
    * whose stream is no longer active is stale and taken over. */
  private def acquireLanding(spark: SparkSession, landingDir: String): IngestReg = {
    val mine = new IngestReg(spark)
    var placed = false
    while (!placed) {
      val cur = activeIngests.putIfAbsent(landingDir, mine)
      if (cur == null) placed = true
      else {
        val stillActive = cur.runId == null ||
          cur.owner.streams.active.exists(_.runId == cur.runId)
        if (stillActive)
          throw new IllegalStateException(
            s"an ingest stream or compaction is already active on landing dir '$landingDir'; " +
            "the carried dedup state (landed counts + blooms) is keyed by landing " +
            "dir and tolerates exactly one writer — stop the existing writer first")
        placed = activeIngests.replace(landingDir, cur, mine)
      }
    }
    mine
  }

  // ---------- cross-JVM ingest writer lock ----------

  /** Heartbeat staleness threshold for [[acquireIngestLock]] takeover
    * (test seam — production default 30 min, generously above any
    * sane micro-batch interval so a slow batch never loses its
    * landing to a takeover). */
  private[graft] var ingestLockStaleMs: Long = 30L * 60 * 1000

  private[graft] final class IngestLock(
      val fs: org.apache.hadoop.fs.FileSystem,
      val path: org.apache.hadoop.fs.Path) {
    @volatile var runId: java.util.UUID = null
  }

  /** Live file locks of this JVM's active ingest streams, keyed by
    * canonical landing dir. */
  private val ingestLocks =
    new java.util.concurrent.ConcurrentHashMap[String, IngestLock]()
  /** Stream runId → landing key, so the termination listener can
    * release the right lock. */
  private val lockByRun =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
  /** Stream runId → the gate's frozen-state cleanups (unpersist the
    * decon confirm set / the quality gate's checkpointed LM, destroy
    * its probe-map broadcast), drained by the termination listener —
    * without this a stopped gate's frozen state holds executor
    * storage for the session lifetime (r17 verdict #7). */
  private val frozenByRun =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, List[() => Unit]]()

  /** Run one frozen-state cleanup, swallowing failures — cleanup must
    * never fail a terminating stream. */
  private def runCleanup(f: () => Unit): Unit =
    try f() catch { case scala.util.control.NonFatal(_) => () }

  /** Release one frozen frame: the cache-manager entry (persist) and,
    * for a localCheckpoint'd frame, the underlying checkpointed RDD's
    * blocks (which live OUTSIDE the cache manager — `unpersist` on the
    * Dataset alone would leak them). Best-effort: release must never
    * fail a terminating stream. Shared across the repo: any
    * localCheckpoint'd frame (e.g. RunCorpus fetch-shard serving)
    * must release through here, not bare `unpersist`. */
  private[graft] def releaseFrozenFrame(df: DataFrame): Unit = {
    try { df.unpersist(false); () }
    catch { case scala.util.control.NonFatal(_) => () }
    try df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  private def frameCleanup(df: DataFrame): () => Unit =
    () => releaseFrozenFrame(df)

  /** Install a gate's frozen-state cleanups under the started query's
    * runId, then re-check liveness: the termination listener fires
    * asynchronously, so a query that died during startup can have
    * terminated BEFORE the put — its listener event found nothing to
    * drain, and the entry would leak for the session lifetime. The
    * atomic remove makes whichever side wins run the cleanups exactly
    * once. */
  private def registerFrozen(q: org.apache.spark.sql.streaming.StreamingQuery,
                             frozen: List[() => Unit]): Unit =
    if (frozen.nonEmpty) {
      frozenByRun.put(q.runId, frozen)
      if (!q.isActive) {
        val f = frozenByRun.remove(q.runId)
        if (f != null) f.foreach(runCleanup)
      }
    }
  private val lockListenerSessions: java.util.Set[SparkSession] =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  private def ingestLockFile(landingPath: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.Path = {
    val parent = landingPath.getParent
    require(parent != null,
      s"landing '$landingPath' has no parent dir to hold the writer lock")
    new org.apache.hadoop.fs.Path(parent, s".ingest-writer-lock-${landingPath.getName}")
  }

  private def lockOwnerPid(fs: org.apache.hadoop.fs.FileSystem,
                           lock: org.apache.hadoop.fs.Path): Option[Long] =
    try {
      val in = fs.open(lock)
      try {
        // read to EOF — a single read() may legally return a PREFIX
        // (remote-FS streams), and a truncated pid would misclassify
        // a live owner as dead
        val buf = new java.io.ByteArrayOutputStream(64)
        val chunk = new Array[Byte](64)
        var n = in.read(chunk)
        while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        val s = buf.toString("UTF-8").trim
        if (s.isEmpty) None else Some(s.toLong)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  private def pidAliveElsewhere(pid: Long, self: Long): Boolean =
    pid != self && {
      val h = java.lang.ProcessHandle.of(pid)
      h.isPresent && h.get.isAlive
    }

  /** What the writer-lock file says about its owner right now. */
  private final case class LockOwnerState(
      pid: Option[Long], aliveElsewhere: Boolean, fresh: Boolean, mtime: Long)

  private def lockOwnerState(fs: org.apache.hadoop.fs.FileSystem,
                             lock: org.apache.hadoop.fs.Path): Option[LockOwnerState] =
    try {
      val st = fs.getFileStatus(lock)
      val pid = lockOwnerPid(fs, lock)
      val self = java.lang.ProcessHandle.current().pid()
      Some(LockOwnerState(pid,
        pid.exists(p => pidAliveElsewhere(p, self)),
        System.currentTimeMillis() - st.getModificationTime <= ingestLockStaleMs,
        st.getModificationTime))
    } catch {
      case _: java.io.FileNotFoundException => None
      case scala.util.control.NonFatal(_) =>
        // The judge failed for a reason OTHER than absence (transient
        // IO, permissions): refuse by default. fresh + unreadable pid
        // is exactly the shape lockRefusesUs honors, so an fs hiccup
        // can never license a takeover — nor let maintenance run under
        // a possibly-live writer. mtime = -1 also makes
        // deleteIfUnchanged a guaranteed no-op on this state.
        Some(LockOwnerState(None, aliveElsewhere = false, fresh = true, mtime = -1L))
    }

  /** The ONE takeover policy, shared by ingest starters and
    * maintenance so the two sides of the exclusion can never
    * disagree: an existing lock is honored (refused) iff its
    * heartbeat is fresh AND it names a live foreign process or its
    * pid is unreadable (a writer mid-create). Everything else — own
    * leftover, provably dead pid, stale heartbeat — is takeover-able. */
  private def lockRefusesUs(st: LockOwnerState): Boolean =
    st.fresh && (st.aliveElsewhere || st.pid.isEmpty)

  /** Clear `lock` only if it still looks like the version judged
    * takeover-able (same mtime): a rival that already swapped in its
    * own FRESH lock must not lose it to our late delete. Returns true
    * when the judged lock no longer blocks us (deleted, or already
    * vanished — its owner released); false when a DIFFERENT version
    * appeared. The re-stat-to-delete gap is the residual race (vs the
    * previous unbounded judge-to-delete gap); mtime granularity
    * bounds it further and the fingerprint reseed remains the last
    * line. */
  private def deleteIfUnchanged(fs: org.apache.hadoop.fs.FileSystem,
                                lock: org.apache.hadoop.fs.Path,
                                judgedMtime: Long): Boolean =
    (try Some(fs.getFileStatus(lock).getModificationTime)
     catch { case _: java.io.FileNotFoundException => None }) match {
      case None => true
      case Some(m) => m == judgedMtime && { fs.delete(lock, false); true }
    }

  /** Release a lock this process believes it owns: delete only while
    * the file still NAMES this pid — after a cross-JVM takeover the
    * file names the new owner and a late clean-stop release must not
    * clobber it. Best-effort. */
  private def releaseOwnLock(fs: org.apache.hadoop.fs.FileSystem,
                             lock: org.apache.hadoop.fs.Path): Unit =
    try {
      if (lockOwnerPid(fs, lock).contains(java.lang.ProcessHandle.current().pid())) {
        fs.delete(lock, false); ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Take the landing's cross-JVM writer lock or throw — the other
    * half of the single-writer contract (the in-JVM slot cannot see
    * another PROCESS; before round 15 a second-JVM ingest was only
    * absorbed after the fact by the fingerprint-reseed discipline,
    * which repairs carries but cannot stop two writers interleaving
    * appends). Create-exclusive `.ingest-writer-lock-<name>` beside
    * the landing, pid inside, mtime refreshed each micro-batch
    * ([[heartbeatIngestLock]]). An existing lock is taken over only
    * when (a) it names THIS pid (a stopped/crashed stream of this
    * process — the in-JVM slot, already acquired, is the authority
    * here), (b) its pid is provably dead (`ProcessHandle.of` —
    * meaningful on a local fs; on a multi-host shared fs a foreign
    * host's pid number can false-alias a live local process, which
    * only DELAYS takeover to rule c), or (c) its heartbeat mtime is
    * older than [[ingestLockStaleMs]]. Otherwise: loud refusal naming
    * the file.
    *
    * HONEST takeover window: the stale-check-then-delete-then-create
    * is not atomic. Two starters racing a stale lock can both judge
    * it stale; the delete is therefore guarded by a re-stat
    * ([[deleteIfUnchanged]] — only the judged VERSION is deleted, so
    * a rival's already-swapped-in fresh lock survives and the loser's
    * next create is refused against it), leaving mtime granularity as
    * the residual sliver. The remaining real hazard is a
    * live-but-paused writer (GC pause / suspended VM longer than the
    * threshold): it loses the lock and its next heartbeat silently
    * recreates it, leaving two writers until its next fingerprint
    * check reseeds — takeover trades that bounded window for crash
    * recovery without operator intervention. A fresh
    * `.maintenance-lock` is refused symmetrically, and the ingest
    * lock is re-checked against it after creation (either order of
    * the two creations leaves at most one owner). */
  private def acquireIngestLock(spark: SparkSession, landingDir: String): IngestLock = {
    val landingPath = new org.apache.hadoop.fs.Path(landingDir)
    val fs = landingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = landingPath.getParent
    require(parent != null,
      s"landing '$landingPath' has no parent dir to hold the writer lock")
    if (!fs.exists(parent)) fs.mkdirs(parent)
    val mLock = new org.apache.hadoop.fs.Path(
      parent, s".maintenance-lock-${landingPath.getName}")
    def refuseIfMaintenance(): Unit =
      if (fs.exists(mLock))
        throw new IllegalStateException(
          s"maintenance lock '$mLock' exists — a maintenance run (possibly in " +
          "another JVM) owns this landing, or a previous one crashed; an ingest " +
          "stream must not start under it. After confirming nothing is running, " +
          "delete the lock file and retry")
    refuseIfMaintenance()
    val lock = ingestLockFile(landingPath)
    val self = java.lang.ProcessHandle.current().pid()
    var out: org.apache.hadoop.fs.FSDataOutputStream = null
    var attempts = 0
    while (out == null) {
      attempts += 1
      try out = fs.create(lock, false)
      catch {
        case e: java.io.IOException =>
          if (attempts > 3)
            throw new IllegalStateException(
              s"could not acquire ingest writer lock '$lock' after $attempts attempts", e)
          lockOwnerState(fs, lock).foreach { st =>
            if (lockRefusesUs(st))
              throw new IllegalStateException(
                s"ingest writer lock '$lock' is held by pid ${st.pid.getOrElse("?")} " +
                s"with a fresh heartbeat — another ingest stream (in another JVM) " +
                "is writing this landing; the carried dedup state tolerates " +
                "exactly one writer. Stop that stream first, or wait out the " +
                s"heartbeat staleness window (${ingestLockStaleMs / 1000} s)")
            // delete only the judged version — a rival's fresh
            // replacement survives, and our next create is refused
            // against it
            deleteIfUnchanged(fs, lock, st.mtime)
          }
      }
    }
    // a failure between create-exclusive and close would otherwise
    // orphan an unreadable-pid lock that blocks every foreign starter
    // for the full staleness window
    try { out.write(self.toString.getBytes("UTF-8")); out.close() }
    catch {
      case t: Throwable =>
        try { fs.delete(lock, false); () }
        catch { case scala.util.control.NonFatal(_) => () }
        throw t
    }
    try refuseIfMaintenance()
    catch {
      case t: Throwable => fs.delete(lock, false); throw t
    }
    new IngestLock(fs, lock)
  }

  /** Refresh the writer lock's heartbeat mtime (called at the top of
    * every micro-batch). Best-effort for fs HICCUPS (a lock-metadata
    * read/write error must not fail a data batch), but a POSITIVE
    * foreign-pid reading is a fence, not a hiccup: after a cross-JVM
    * takeover the file names the new owner, and the displaced
    * writer's heartbeat must neither refresh nor recreate it — doing
    * so would silently extend the documented two-writer window
    * forever. Instead the displaced writer fails its batch loudly
    * (stopping its stream), which CLOSES the live-but-paused-writer
    * window described on [[acquireIngestLock]]. The file is recreated
    * only when it is absent AND no maintenance lock holds the landing:
    * absence can mean operator deletion (no rival — safe to recreate)
    * but ALSO a maintenance takeover of this writer's stale heartbeat
    * (withMaintenanceLock clears a judged-stale ingest lock before
    * compacting), and recreating under live compaction would be the
    * same two-writer interleaving via the other rival — that case
    * fences too. */
  private def heartbeatIngestLock(landingDir: String): Unit = {
    val h = ingestLocks.get(landingDir)
    if (h != null) {
      val self = java.lang.ProcessHandle.current().pid()
      var fence: String = null
      try {
        if (h.fs.exists(h.path)) {
          lockOwnerPid(h.fs, h.path) match {
            case Some(p) if p != self =>
              fence = s"ingest writer lock '${h.path}' now names a different " +
                "pid — this writer was fenced by a cross-JVM takeover (its " +
                "heartbeat went stale, or an operator forced the lock)"
            case Some(_) =>
              h.fs.setTimes(h.path, System.currentTimeMillis(), -1)
            case None => () // unreadable mid-write: skip, next batch retries
          }
        } else {
          val name = h.path.getName.stripPrefix(".ingest-writer-lock-")
          val mLock = new org.apache.hadoop.fs.Path(
            h.path.getParent, s".maintenance-lock-$name")
          if (h.fs.exists(mLock))
            fence = s"ingest writer lock '${h.path}' is gone and maintenance " +
              s"lock '$mLock' is held — this writer's stale heartbeat was " +
              "taken over by a maintenance run; recreating the lock would " +
              "write into the landing mid-swap"
          else {
            val o = h.fs.create(h.path, true)
            o.write(self.toString.getBytes("UTF-8"))
            o.close()
          }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
      if (fence != null)
        throw new IllegalStateException(
          s"$fence; failing the batch instead of writing alongside the rival")
    }
  }

  /** One listener per session releases writer locks on clean stream
    * termination (crash release is the takeover rule's job). Deletes
    * only the lock its own run still owns — the in-JVM map guard
    * covers same-process replacement, and [[releaseOwnLock]]'s pid
    * check covers a CROSS-JVM takeover (the on-disk file then names
    * the new owner and must survive our late release). */
  private def ensureLockReleaseListener(spark: SparkSession): Unit =
    if (lockListenerSessions.add(spark))
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = {
            val key = lockByRun.remove(e.runId)
            if (key != null) {
              val h = ingestLocks.get(key)
              if (h != null && h.runId == e.runId && ingestLocks.remove(key, h))
                releaseOwnLock(h.fs, h.path)
            }
            val frozen = frozenByRun.remove(e.runId)
            if (frozen != null) frozen.foreach(runCleanup)
          }
        })

  /** Refuse to start a second active ingest stream on a landing dir
    * (loud error, pinned by StreamingSpec) — the in-JVM slot catches
    * same-process writers; the `.ingest-writer-lock` file
    * ([[acquireIngestLock]], round 15) catches writers in OTHER
    * processes, with heartbeat-mtime staleness + dead-pid takeover.
    * The fingerprint/validated-fold discipline remains the last line
    * for whatever slips the locks (reseed, never staleness). */
  private def startGuarded(spark: SparkSession, landingDir: String)
      (start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val mine = acquireLanding(spark, landingDir)
    val flock =
      try acquireIngestLock(spark, landingDir)
      catch {
        case t: Throwable => activeIngests.remove(landingDir, mine); throw t
      }
    ensureLockReleaseListener(spark)
    ingestLocks.put(landingDir, flock)
    try {
      val q = start
      mine.runId = q.runId
      flock.runId = q.runId
      lockByRun.put(q.runId, landingDir)
      // re-check liveness after the put (the registerFrozen
      // discipline): a query that dies DURING startup can fire
      // onQueryTerminated before the put — the listener then found
      // nothing to release and the on-disk writer lock would block
      // other JVMs for the full staleness window. The atomic removes
      // make whichever side wins release exactly once.
      if (!q.isActive) {
        val key = lockByRun.remove(q.runId)
        if (key != null) {
          val h = ingestLocks.get(key)
          if (h != null && h.runId == q.runId && ingestLocks.remove(key, h))
            releaseOwnLock(h.fs, h.path)
        }
      }
      q
    } catch {
      case t: Throwable =>
        activeIngests.remove(landingDir, mine)
        if (ingestLocks.remove(landingDir, flock))
          releaseOwnLock(flock.fs, flock.path)
        throw t
    }
  }

  // ---------- landing compaction ----------

  /** What [[compactLanding]] did. `rows` is −1 on the no-op path (the
    * landing was already at or under `targetFiles`; nothing was read).
    * `carriesKept` is false iff a carried bloom existed and had to be
    * dropped (stale fingerprint — it was due a reseed anyway). */
  final case class CompactStats(
    filesBefore: Int, filesAfter: Int, rows: Long, carriesKept: Boolean)

  /** Cross-JVM maintenance exclusion: an exclusive lock FILE beside
    * the landing (`.maintenance-lock-<name>` in its parent dir). The
    * in-JVM single-writer slot cannot see another PROCESS — a cron'd
    * `--repair` overlapping a live `--compact` would otherwise delete
    * the compactor's tmp dirs or restore an aside mid-swap. Taken
    * create-exclusive, deleted on the way out; a crash leaves the
    * file and every later maintenance run refuses LOUDLY, naming it —
    * deleting the file after confirming the crashed run is dead is
    * the operator's acknowledgment (repair must not guess at
    * staleness: it is exactly the tool that runs after a crash).
    * Streams do not take the file lock; cross-JVM stream-vs-
    * maintenance safety rests on the content-verified swaps and the
    * carry fingerprint discipline instead. */
  private def withMaintenanceLock[A](fs: org.apache.hadoop.fs.FileSystem,
                                     landingPath: org.apache.hadoop.fs.Path)
                                    (body: => A): A = {
    val parent = landingPath.getParent
    require(parent != null && fs.exists(parent),
      s"parent dir of landing '$landingPath' does not exist")
    val lock = new org.apache.hadoop.fs.Path(
      parent, s".maintenance-lock-${landingPath.getName}")
    val out =
      try fs.create(lock, false)
      catch {
        case _: java.io.IOException =>
          throw new IllegalStateException(
            s"maintenance lock '$lock' exists — another maintenance run (possibly " +
            "in another JVM) owns this landing, or a previous one crashed; after " +
            "confirming nothing is running, delete the lock file and re-run")
      }
    try {
      out.write(s"${java.lang.ProcessHandle.current().pid()}".getBytes("UTF-8"))
      out.close()
      // With the maintenance lock HELD (so a starting stream's
      // post-create re-check sees it), refuse if an ingest stream in
      // another process is live on this landing. The SAME
      // [[lockRefusesUs]] policy as ingest starters (one rule, the
      // two sides of the exclusion cannot disagree): own-pid
      // leftovers (same-JVM streams were already caught by the
      // in-JVM slot, so this is a stopped stream's pending release),
      // dead pids, and stale heartbeats are cleared — version-checked,
      // so a writer that refreshes concurrently keeps its lock and we
      // refuse instead.
      val iLock = ingestLockFile(landingPath)
      lockOwnerState(fs, iLock).foreach { st =>
        if (lockRefusesUs(st) || !deleteIfUnchanged(fs, iLock, st.mtime))
          throw new IllegalStateException(
            s"ingest writer lock '$iLock' names a live ingest stream in another " +
            "process — maintenance must not run under an active writer; stop " +
            "the stream first")
      }
      body
    } finally { fs.delete(lock, false); () }
  }

  /** Test seam: invoked after the compacted copy is written and BEFORE
    * the pre-swap listing check — the window an out-of-band writer
    * would have to race to lose rows. No-op in production. */
  @volatile private[graft] var preSwapHook: String => Unit = _ => ()

  /** Test seam: invoked after a dir's successful swap (its post
    * listing taken) and before the parent collects the global post
    * listing — the window a foreign append must hit to invalidate a
    * carry re-stamp without aborting the compaction. No-op in
    * production. */
  @volatile private[graft] var postSwapHook: String => Unit = _ => ()

  /** Test seam: invoked after the aside rename verified and BEFORE
    * the swap rename — the window where a foreign writer recreating
    * the target dir makes Hadoop's rename NEST the compacted output
    * instead of failing. No-op in production. */
  @volatile private[graft] var preCommitSwapHook: String => Unit = _ => ()

  /** Maintenance: rewrite an accreted landing dir down to
    * `targetFiles` part files. [[ingestDedup]]'s per-batch
    * `appendFiles` cap bounds what each micro-batch adds, but a
    * long-running stream still accretes files linearly with batch
    * COUNT (a year of 5-minute batches is ~100k part files), and
    * every confirm join and reseed scan pays a per-file open. This is
    * the other half of that story: an offline rewrite, run between
    * stream sessions, that restores O(targetFiles) listings.
    *
    * Shape: ONE corpus read, `coalesce` (narrow — no shuffle: at
    * 100 TB a compaction must concatenate, not repartition by key),
    * written to a sibling temp dir, then an atomic-rename swap. The
    * swap only proceeds if the landing's listing is UNCHANGED since
    * the read — any out-of-band change aborts with the landing
    * untouched. The single-writer slot ([[activeIngests]]) is held
    * throughout, so an ingest stream cannot start mid-compaction and
    * compaction refuses while a stream is active.
    *
    * Carried state: compaction renames files but changes no row, so
    * the carried blooms remain EXACTLY right — they are re-stamped
    * with the compacted listing's fingerprint rather than dropped
    * (a dropped carry would cost the next batch a full reseed scan,
    * the very cost compaction exists to keep bounded). The re-stamp
    * is VALIDATED, not assumed: every rewritten dir's own listing
    * must have been part of the global pre listing, and the global
    * post listing must be exactly pre with the rewritten dirs' files
    * swapped — any other delta means a foreign writer landed rows the
    * blob does not contain, and the carry is dropped so the next
    * batch reseeds (same discipline as the ingest fold's
    * append-delta validation). A carry whose fingerprint did not
    * match the pre-compaction listing was already stale and is
    * dropped as usual. `landedCounts` is row-based and unaffected.
    *
    * Hive-partitioned landings (key=value subdirs — the
    * month-partitioned or z-order layouts) are compacted PER LEAF
    * partition directory: each leaf gets the same read → coalesce →
    * checked-swap treatment with `targetFiles` as a per-leaf budget,
    * and the directory tree itself is never rewritten, so partition
    * pruning is untouched. A leaf read omits the partition columns
    * (they live in the path, not the files) and the rewritten files
    * land back in the same leaf, so rows round-trip exactly. Leaves
    * are independent swaps, rewritten `leafParallelism` at a time (a
    * big layout's maintenance window must scale with data, not leaf
    * count): a failure part-way leaves every leaf
    * either fully compacted or untouched, never flattened. A dir
    * that mixes visible data files WITH partition subdirs at one
    * level is structurally broken and refused loudly.
    *
    * Crash window: a failure between a swap's two renames leaves
    * that dir's rows intact under a sibling `.compact-old-<dir>-<uuid>`
    * — [[repairLanding]] restores it (and finishes or sweeps every
    * other crash artifact). Temp and old dirs are dot-prefixed
    * so partition discovery and file listings never see them. */
  def compactLanding(spark: SparkSession, dir: String,
                     targetFiles: Int = 4,
                     leafParallelism: Int = 4): CompactStats = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    require(leafParallelism > 0,
      s"leafParallelism must be positive, got $leafParallelism")
    val landingDir = landingKey(spark, dir)
    val mine = acquireLanding(spark, landingDir)
    try {
      val landingPath = new org.apache.hadoop.fs.Path(landingDir)
      val fs = landingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(landingPath), s"landing dir '$landingDir' does not exist")
      withMaintenanceLock(fs, landingPath) {
      val pre = landingParts(spark, landingDir)
      // Leaves rewrite CONCURRENTLY (bounded pool): each leaf is an
      // independent read→write→swap with no shared mutable state, and
      // at the 100 TB design point a month×source layout has
      // thousands of leaves — a serial driver loop would make the
      // maintenance window scale with leaf COUNT instead of data.
      // Every future is awaited (success or failure) BEFORE the slot
      // releases, so no straggler ever mutates the landing after this
      // call returns; the first failure then propagates, and the
      // other leaves are each fully compacted or untouched, as the
      // swap contract promises.
      val leaves = leafDataDirs(fs, landingPath)
      val results =
        if (leaves.lengthCompare(1) <= 0 || leafParallelism <= 1)
          leaves.map(compactOneDir(spark, fs, _, targetFiles))
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(leafParallelism, leaves.size))
          try {
            val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
            val futures = leaves.map(l =>
              scala.concurrent.Future(compactOneDir(spark, fs, l, targetFiles))(ec))
            // catch EVERYTHING per await (Try would let an
            // InterruptedException escape mid-loop) — every future
            // must be awaited before the writer slot releases, or a
            // straggler could still be swapping when a new stream
            // acquires the landing
            val outcomes = futures.map { f =>
              try Right(scala.concurrent.Await.result(
                f, scala.concurrent.duration.Duration.Inf))
              catch { case t: Throwable => Left(t) }
            }
            outcomes.collectFirst { case Left(t) => throw t }
            outcomes.collect { case Right(r) => r }
          } finally { pool.shutdown(); () }
        }
      val post = landingParts(spark, landingDir)
      // Re-stamping the carried blooms asserts "the landing holds
      // exactly the texts the blob was built from, just in different
      // files" — which is only true if NOTHING out-of-band landed in
      // the pre→post window. Validate, don't assume: every rewritten
      // leaf's own pre listing must have been part of the global pre
      // listing (nothing snuck in between the two listings and got
      // rewritten into the compacted files), and the global post must
      // be exactly pre minus the rewritten leaves' old files plus
      // their new ones. Any other delta → the carry is dropped (next
      // batch reseeds from the landing, which self-heals), never
      // trusted with texts missing from the blob.
      val preSet = pre.toSet
      val rewrote = results.filter(_.rewrote)
      val valid = rewrote.forall(_.preParts.forall(preSet.contains)) && {
        val expected =
          (preSet -- rewrote.flatMap(_.preParts) ++ rewrote.flatMap(_.postParts))
        post.toSet == expected && post.size == expected.size
      }
      val rewrittenRows =
        if (rewrote.isEmpty) -1L else rewrote.map(_.rows).sum
      CompactStats(
        results.map(_.preParts.count(isVisible)).sum,
        results.map(r => (if (r.rewrote) r.postParts else r.preParts).count(isVisible)).sum,
        rewrittenRows,
        carriesKept = restampCarries(landingDir, fpOf(pre), fpOf(post), valid))
      }
    } finally { activeIngests.remove(landingDir, mine); () }
  }

  /** Re-stamp the carried blooms with the post-maintenance listing
    * fingerprint — but ONLY when the caller proved the maintenance
    * pass was the sole writer (`valid`) and the carry matched the
    * pre listing; anything else drops the carry so the next batch
    * reseeds. Returns false iff a carry had to be dropped. */
  private def restampCarries(landingDir: String, preFp: String, postFp: String,
                             valid: Boolean): Boolean = {
    val cur = carriesOf(landingDir)
    val kept = cur.collect {
      case (stage, c) if valid && c.landingFp == preFp => stage -> c.copy(landingFp = postFp)
    }
    setCarries(landingDir, kept)
    kept.size == cur.size
  }

  /** The data-bearing leaf dirs of a landing: the dir itself when
    * flat, the leaf `key=value` dirs of a (possibly nested) hive
    * layout otherwise. A level that mixes visible files with
    * partition subdirs, or partition with non-partition subdirs, has
    * no sound per-leaf rewrite and is refused. */
  private def leafDataDirs(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val visible = fs.listStatus(p).filter { s =>
      val n = s.getPath.getName
      !(n.startsWith(".") || n.startsWith("_"))
    }
    val (dirs, files) = visible.partition(_.isDirectory)
    val pdirs = dirs.filter(_.getPath.getName.contains("="))
    if (pdirs.isEmpty) Seq(p)
    else {
      if (files.nonEmpty || pdirs.length != dirs.length)
        throw new IllegalArgumentException(
          s"dir '$p' mixes hive partition subdirs with " +
          (if (files.nonEmpty) "data files" else "non-partition subdirs") +
          " at one level; no per-leaf compaction is sound on a broken layout")
      pdirs.toSeq.flatMap(d => leafDataDirs(fs, d.getPath))
    }
  }

  /** One dir's compaction outcome: its listing before, its listing
    * after (== before on the no-op path), rewritten row count, and
    * whether a rewrite actually happened. */
  private final case class LeafCompact(
    preParts: Seq[String], postParts: Seq[String], rows: Long, rewrote: Boolean)

  /** The listing relativized to its base dir (`path:len:mtime` with
    * the dir prefix stripped) — lets a dir's content identity be
    * compared across a rename (a rename moves files without touching
    * their lengths or mtimes). */
  private def relParts(base: org.apache.hadoop.fs.Path, parts: Seq[String]): Seq[String] = {
    val prefix = base.toUri.getPath
    parts.map(_.stripPrefix(prefix))
  }

  /** One flat dir's read → coalesce → checked-swap rewrite. The swap
    * is verified AFTER the aside rename: the moved-aside dir must
    * hold exactly the files the rewrite read (rename preserves
    * lengths and mtimes), so any file a foreign writer committed
    * since the pre listing is caught while it is still restorable —
    * the aside dir is renamed back and the compaction aborts with
    * every committed row intact. A pre-rename listing check could
    * never close that window (a commit could always land between the
    * check and the rename); checking the moved dir itself can,
    * because after the rename a foreign commit lands in the fresh
    * target path, which the swap preserves. */
  private def compactOneDir(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                            dirPath: org.apache.hadoop.fs.Path,
                            targetFiles: Int): LeafCompact = {
    val dirStr = dirPath.toString
    val pre = landingParts(spark, dirStr)
    val preVisible = pre.count(isVisible)
    if (preVisible <= targetFiles)
      return LeafCompact(pre, pre, -1L, rewrote = false)
    val parent = dirPath.getParent
    // tmp carries its source dir's name too (same reason as the aside
    // dir below): [[repairLanding]] must be able to attribute a
    // crashed rewrite's debris at the landing's PARENT level, where
    // unrelated siblings may keep their own artifacts
    val tmp = new org.apache.hadoop.fs.Path(
      parent, s".compact-tmp-${dirPath.getName}-${java.util.UUID.randomUUID()}")
    try {
      // one scan; rows counted by the write's own Observation, and
      // the re-run-on-failure story is "overwrite the tmp dir" so
      // the v2 task-side committer is safe here
      val obs = new org.apache.spark.sql.Observation("compact_rows")
      spark.read.parquet(dirStr)
        .coalesce(targetFiles)
        .observe(obs, count(lit(1)).as("n"))
        .write.options(graft.core.Committers.forRerun(overwrite = true))
        .mode("overwrite").parquet(tmp.toString)
      val rows = obs.get("n").asInstanceOf[Long]
      preSwapHook(dirStr)
      // breadcrumbs for [[repairLanding]]: the aside dir's NAME carries
      // the dir it came from, and the compacted output carries a
      // manifest naming the aside dir it replaces — so a crash between
      // the swap and the aside delete is mechanically distinguishable
      // from a landing recreated by a new stream after a crash
      val old = new org.apache.hadoop.fs.Path(
        parent, s".compact-old-${dirPath.getName}-${java.util.UUID.randomUUID()}")
      val manifest = new org.apache.hadoop.fs.Path(tmp, SwapManifest)
      val mfOut = fs.create(manifest, true)
      try mfOut.write(old.getName.getBytes("UTF-8")) finally mfOut.close()
      // Hadoop rename(src, existing-dir) NESTS src inside the target
      // instead of failing, so a rename's boolean can lie when a
      // foreign writer recreates the destination in a gap. Every
      // rename below is therefore VERIFIED by content afterwards, and
      // a restore never renames into an existing dir (nesting would
      // make the original rows invisible to every reader).
      def restoreOrDie(context: String): Nothing = {
        // verify against old's CURRENT content — on the aborted-race
        // path it legitimately holds the foreign file that rode in
        val oldParts = landingParts(spark, old.toString)
        val back =
          !fs.exists(dirPath) && fs.rename(old, dirPath) &&
          relParts(dirPath, landingParts(spark, dirStr)) == relParts(old, oldParts)
        if (back)
          throw new IllegalStateException(
            s"$context; dir restored — re-run when quiet")
        throw new IllegalStateException(
          s"$context AND the restore was not possible (a foreign writer " +
          s"recreated '$dirStr'?); all original rows are intact under '$old' — " +
          "resolve with repairLanding (--repair)")
      }
      // the compacted output's listing, captured before the swap so
      // the swap itself can be verified by content (rename preserves
      // lengths and mtimes)
      val tmpParts = landingParts(spark, tmp.toString)
      if (!fs.rename(dirPath, old))
        throw new IllegalStateException(
          s"could not move '$dirStr' aside for the compaction swap")
      if (relParts(old, landingParts(spark, old.toString)) != relParts(dirPath, pre)) {
        // a foreign commit landed since the rewrite's listing — it
        // rode into the aside dir; put everything back and abort
        restoreOrDie(s"dir '$dirStr' changed during compaction (out-of-band writer)")
      }
      preCommitSwapHook(dirStr)
      val swapped =
        try fs.rename(tmp, dirPath)
        catch { case t: Throwable =>
          restoreOrDie(s"compaction swap into '$dirStr' failed (${t.getMessage})")
        }
      if (!swapped)
        restoreOrDie(s"could not move compacted files into '$dirStr'")
      if (relParts(dirPath, landingParts(spark, dirStr)) != relParts(tmp, tmpParts)) {
        // the rename 'succeeded' but the target does not hold the
        // compacted files — a foreign writer recreated the dir in the
        // gap and the output nested inside it as a dot-dir. The
        // original rows are safe in the aside dir; never delete it.
        throw new IllegalStateException(
          s"a foreign writer recreated '$dirStr' during the compaction swap; " +
          s"all original rows are intact under '$old' — resolve with " +
          "repairLanding (--repair); the nested rewrite debris is swept by it too")
      }
      fs.delete(old, true)
      // the manifest's job ends with the aside dir; drop it BEFORE the
      // post listing so the landing fingerprint never contains it
      fs.delete(new org.apache.hadoop.fs.Path(dirPath, SwapManifest), false)
      val post = landingParts(spark, dirStr)
      postSwapHook(dirStr)
      LeafCompact(pre, post, rows, rewrote = true)
    } finally { if (fs.exists(tmp)) fs.delete(tmp, true); () }
  }

  // ---------- landing expiry (retention) ----------

  /** What [[expireLanding]] did. `carriesKept` is false iff a carried
    * bloom existed and had to be dropped (stale fingerprint, or the
    * pre→post listing delta was not exactly the expired subtrees). */
  final case class ExpireStats(
    dirsDropped: Int, filesDropped: Int, carriesKept: Boolean)

  /** Test seam: invoked after [[expireLanding]]'s pre listing and
    * before the deletes — the window a foreign append to a surviving
    * dir must hit to invalidate the carry re-stamp. No-op in
    * production. */
  @volatile private[graft] var expireHook: String => Unit = _ => ()

  /** Maintenance: DELETE every `partitionCol=value` subtree of a
    * hive-partitioned landing whose unescaped value sorts strictly
    * BEFORE `before` — the retention half of the landing lifecycle
    * story ([[compactLanding]] is the file-count half). A
    * month-partitioned landing at the 100 TB design point ages out
    * data by dropping whole partition directories: pruning-aligned
    * deletion, zero rows read or rewritten, cost proportional to the
    * DIRECTORY count, not the data.
    *
    * The comparison is a plain string compare on the unescaped
    * value — exact for ISO dates/months (`2026-01`) and zero-padded
    * numerics, which is what time-partitioned landings use. The
    * `partitionCol` may sit at any level of a nested layout (e.g.
    * `source=…/month=…`): each matching dir's whole subtree goes, the
    * rest of the tree is untouched, so partition pruning on the
    * survivors is unaffected. A landing with NO `partitionCol=` dir
    * anywhere (flat, or a different column) is refused loudly —
    * expiry on the wrong column must not silently no-op. Spark's
    * `__HIVE_DEFAULT_PARTITION__` (null-value) dirs never expire.
    *
    * Carried state: expiry REMOVES rows, which makes a carried bloom
    * a SUPERSET of the landing — still sound, because a bloom
    * positive is never trusted without the exact confirm join
    * (an expired-then-reposted text probes positive, fails the
    * confirm against the shrunken landing, and is correctly admitted
    * as new). The carry is therefore re-stamped with the post-expiry
    * fingerprint instead of dropped — but only after VALIDATING that
    * the pre→post listing delta is exactly the expired subtrees: a
    * foreign append in the window would make the bloom a SUBSET
    * (false negatives → admitted duplicates), so any unexplained
    * delta drops the carry and the next batch reseeds. The extra
    * superset bits only cost confirm probes until the next natural
    * reseed. `landedCounts` stays an overestimate, which only
    * over-sizes the next bloom. The single-writer slot is held
    * throughout, exactly as compaction. */
  def expireLanding(spark: SparkSession, dir: String, partitionCol: String,
                    before: String): ExpireStats = {
    require(partitionCol.nonEmpty && !partitionCol.contains("="),
      s"partitionCol must be a bare column name, got '$partitionCol'")
    require(before.nonEmpty, "expiry cutoff must be non-empty")
    val landingDir = landingKey(spark, dir)
    val mine = acquireLanding(spark, landingDir)
    try {
      val landingPath = new org.apache.hadoop.fs.Path(landingDir)
      val fs = landingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(landingPath), s"landing dir '$landingDir' does not exist")
      withMaintenanceLock(fs, landingPath) {
      val prefix = partitionCol + "="
      def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(p).toSeq.filter { s =>
          val n = s.getPath.getName
          s.isDirectory && !(n.startsWith(".") || n.startsWith("_"))
        }.flatMap { s =>
          if (s.getPath.getName.startsWith(prefix)) Seq(s.getPath)
          else walk(s.getPath)
        }
      val matched = walk(landingPath)
      if (matched.isEmpty)
        throw new IllegalArgumentException(
          s"landing dir '$landingDir' has no '$prefix…' partition dir at any " +
          "level; refusing to expire on a column the layout does not have")
      val expired = matched.filter { p =>
        // Spark's own unescape (the inverse of the %xx escaping its
        // dynamic-partition writer applies to partition VALUES), so
        // the comparison stays in lockstep with the writer's rules
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(p.getName.substring(prefix.length))
        v != "__HIVE_DEFAULT_PARTITION__" && v < before
      }
      val pre = landingParts(spark, landingDir)
      expireHook(landingDir)
      val expiredPrefixes = expired.map(_.toUri.getPath + "/")
      def isExpired(part: String): Boolean = {
        val p = partPath(part)
        expiredPrefixes.exists(p.startsWith)
      }
      val files = pre.count(p => isVisible(p) && isExpired(p))
      expired.foreach { p =>
        if (!fs.delete(p, true))
          throw new IllegalStateException(s"could not delete expired dir '$p'")
      }
      val post = landingParts(spark, landingDir)
      // The re-stamp asserts "the landing is exactly the pre listing
      // minus the expired subtrees" — validate it. A foreign append to
      // a SURVIVING dir in this window would make the carried bloom a
      // subset (false negatives → admitted duplicates), so any
      // unexplained delta drops the carry instead; a foreign append to
      // an EXPIRED dir was deleted with it and cannot appear in post.
      val valid = post == pre.filterNot(isExpired)
      ExpireStats(expired.size, files,
        carriesKept = restampCarries(landingDir, fpOf(pre), fpOf(post), valid))
      }
    } finally { activeIngests.remove(landingDir, mine); () }
  }

  // ---------- landing repair (crash recovery) ----------

  /** Name of the breadcrumb file a compaction swap plants in its
    * output (deleted again on success): its content is the aside
    * dir's name, proving which `.compact-old-*` dir the swapped-in
    * files replaced. */
  private[graft] val SwapManifest = ".swap-manifest"

  /** `.compact-{tmp,old}-<source>-<uuid>` → the embedded source dir
    * name. The uuid suffix is fixed-width (36 chars + the joining
    * dash), so the parse is exact even when the source name contains
    * dashes — a loose prefix match would misattribute a sibling
    * landing's artifacts (`corpus` vs `corpus-backup`). */
  private def artifactSourceOf(name: String, prefix: String): Option[String] =
    if (name.length > prefix.length + 37 && name.startsWith(prefix))
      Some(name.substring(prefix.length, name.length - 37))
    else None

  /** What [[repairLanding]] did. `unresolved` lists aside dirs it
    * refused to touch (their target exists but carries no manifest
    * naming them — e.g. a new stream recreated the landing after a
    * crash; merging is a human decision because both dirs hold rows). */
  final case class RepairStats(
    tmpsDeleted: Int, oldsRestored: Int, oldsDeleted: Int,
    manifestsCleaned: Int, unresolved: Seq[String])

  /** Maintenance: finish or roll back compaction swaps a crash left
    * half-done — the automated form of the scaladoc's "rename it
    * back". Walks the landing tree (flat or hive-partitioned) and for
    * each crash artifact applies the one provably-safe action:
    *
    *   - `.compact-tmp-*` dirs: always deleted — a rewrite output
    *     never referenced by anything.
    *   - `.compact-old-<dir>-<uuid>` with its source dir MISSING: the
    *     crash hit between the two swap renames; the aside dir IS the
    *     landing — renamed back (restore).
    *   - `.compact-old-<dir>-<uuid>` with the source dir present AND
    *     the source carrying a [[SwapManifest]] naming this aside dir:
    *     the crash hit after the swap, before the aside delete; the
    *     landing is the compacted copy — aside + manifest deleted.
    *   - the same WITHOUT a matching manifest: refused and reported
    *     (`unresolved`) — a new stream may have recreated the landing
    *     with rows the aside dir does not have; deleting or restoring
    *     either side would lose data, so neither happens.
    *   - stray [[SwapManifest]] files whose named aside dir is gone
    *     (crash between the aside delete and the manifest delete):
    *     deleted.
    *
    * Carried state is intentionally untouched: a restore changes the
    * landing listing, so the fingerprint discipline already forces
    * the next batch to reseed — exactly the self-heal the carries
    * were designed around. Holds the single-writer slot: repair never
    * races a stream or another maintenance run in-JVM. */
  def repairLanding(spark: SparkSession, dir: String): RepairStats = {
    val landingDir = landingKey(spark, dir)
    val mine = acquireLanding(spark, landingDir)
    try {
      val landingPath = new org.apache.hadoop.fs.Path(landingDir)
      val fs = landingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      withMaintenanceLock(fs, landingPath) {
      var tmps = 0; var restored = 0; var oldsDeleted = 0; var manifests = 0
      val unresolved = scala.collection.mutable.ArrayBuffer.empty[String]
      def readManifest(dataDir: org.apache.hadoop.fs.Path): Option[String] = {
        val mf = new org.apache.hadoop.fs.Path(dataDir, SwapManifest)
        if (!fs.exists(mf)) None
        else {
          val in = fs.open(mf)
          try {
            val bytes = new Array[Byte](fs.getFileStatus(mf).getLen.toInt)
            in.readFully(bytes)
            Some(new String(bytes, "UTF-8"))
          } finally in.close()
        }
      }
      def handleOld(oldPath: org.apache.hadoop.fs.Path,
                    target: org.apache.hadoop.fs.Path): Unit = {
        if (!fs.exists(target)) {
          if (!fs.rename(oldPath, target))
            throw new IllegalStateException(
              s"could not restore '$oldPath' to '$target'")
          restored += 1
        } else if (readManifest(target).contains(oldPath.getName)) {
          fs.delete(oldPath, true); oldsDeleted += 1
          fs.delete(new org.apache.hadoop.fs.Path(target, SwapManifest), false)
          manifests += 1
        } else unresolved += oldPath.toString
      }
      // a manifest whose aside dir is gone: the crash hit between the
      // aside delete and the manifest delete — remove the breadcrumb
      // (but keep it as evidence while its pair sits unresolved)
      def sweepManifest(dataDir: org.apache.hadoop.fs.Path,
                        level: org.apache.hadoop.fs.Path): Unit =
        readManifest(dataDir).foreach { named =>
          if (!fs.exists(new org.apache.hadoop.fs.Path(level, named)) &&
              !unresolved.exists(_.endsWith("/" + named))) {
            fs.delete(new org.apache.hadoop.fs.Path(dataDir, SwapManifest), false)
            manifests += 1
          }
        }
      // ROOT-level artifacts first: a FLAT landing's swap debris are
      // SIBLINGS of the landing (crash between the two renames even
      // leaves the landing dir itself missing), attributed by the
      // source name embedded in the artifact names — unrelated
      // siblings of the landing are never touched
      val parent = landingPath.getParent
      val rootName = landingPath.getName
      if (parent != null && fs.exists(parent)) {
        fs.listStatus(parent).foreach { s =>
          val n = s.getPath.getName
          if (s.isDirectory && artifactSourceOf(n, ".compact-tmp-").contains(rootName)) {
            fs.delete(s.getPath, true); tmps += 1
          } else if (s.isDirectory &&
                     artifactSourceOf(n, ".compact-old-").contains(rootName)) {
            handleOld(s.getPath, landingPath)
          }
        }
      }
      if (!fs.exists(landingPath)) {
        // name any aside-LOOKING siblings repair could not attribute
        // (e.g. the pre-breadcrumb `.compact-old-<uuid>` format) so
        // the operator knows where the rows may be instead of reading
        // "nothing to repair" while they sit in an unparsed dir
        val candidates =
          if (parent == null || !fs.exists(parent)) Seq.empty[String]
          else fs.listStatus(parent).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith(".compact-old-"))
            .map(_.getPath.toString)
        throw new IllegalStateException(
          s"landing dir '$landingDir' does not exist and no aside dir restored it" +
          (if (candidates.isEmpty) " — nothing to repair"
           else s" — possibly-related aside dirs repair could not attribute " +
                s"(inspect and rename back by hand): ${candidates.mkString(", ")}"))
      }
      // INNER artifacts (partitioned landings): every artifact under
      // the landing belongs to it — the single-writer slot guarantees
      // no other owner
      def walk(p: org.apache.hadoop.fs.Path): Unit = {
        val entries = fs.listStatus(p)
        entries.foreach { s =>
          val n = s.getPath.getName
          if (s.isDirectory && n.startsWith(".compact-tmp-")) {
            fs.delete(s.getPath, true); tmps += 1
          } else if (s.isDirectory && n.startsWith(".compact-old-")) {
            artifactSourceOf(n, ".compact-old-") match {
              case None => unresolved += s.getPath.toString
              case Some(src) => handleOld(s.getPath, new org.apache.hadoop.fs.Path(p, src))
            }
          } else if (s.isDirectory && !n.startsWith(".") && !n.startsWith("_")) {
            walk(s.getPath)
          }
        }
        entries.foreach { s =>
          val n = s.getPath.getName
          if (s.isDirectory && !n.startsWith(".") && !n.startsWith("_"))
            sweepManifest(s.getPath, p)
        }
      }
      walk(landingPath)
      sweepManifest(landingPath, parent)
      RepairStats(tmps, restored, oldsDeleted, manifests, unresolved.toSeq)
      }
    } finally { activeIngests.remove(landingDir, mine); () }
  }

  // ---------- landing stats (observability) ----------

  /** What [[landingStats]] saw. `leaves` is (leaf dir, visible file
    * count, visible bytes) — one row per data-bearing dir; `debris`
    * lists crash artifacts ([[repairLanding]]'s input), `lockHeld`
    * whether a maintenance lock file currently exists, and
    * `writerLockHeld` whether an ingest writer lock does (a stream is
    * — or recently was — writing this landing). */
  final case class LandingStats(
    leaves: Seq[(String, Int, Long)], totalFiles: Int, totalBytes: Long,
    debris: Seq[String], lockHeld: Boolean, writerLockHeld: Boolean = false)

  /** Read-only landing observability — the numbers an operator needs
    * to DECIDE on maintenance: per-leaf visible file counts and bytes
    * (is the landing accreted enough that a compaction pays for
    * itself?), crash debris (`.compact-tmp/old-*`, stray manifests —
    * is a repair due?), and whether a maintenance lock is held.
    * Deliberately takes NO slot and NO lock: it must be safe to run
    * while a stream or a maintenance pass is active, and a pure
    * listing cannot corrupt anything — at worst it reports a
    * transient mid-swap state. Listing cost only; no file contents
    * are read. */
  def landingStats(spark: SparkSession, dir: String): LandingStats = {
    val landingDir = landingKey(spark, dir)
    val landingPath = new org.apache.hadoop.fs.Path(landingDir)
    val fs = landingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val debris = scala.collection.mutable.ArrayBuffer.empty[String]
    val leaves = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]
    // ROOT-level artifacts first (flat-layout swaps leave them in the
    // parent, attributed by the EXACT source-name parse repair uses —
    // a loose prefix would claim a `corpus-backup` sibling's debris
    // for `corpus`). Scanned BEFORE the existence check: the state
    // where the landing root is missing but an aside dir holds it is
    // exactly when the operator most needs the 'run --repair' report.
    val parent = landingPath.getParent
    var lock = false
    var writerLock = false
    if (parent != null && fs.exists(parent)) {
      val rootName = landingPath.getName
      fs.listStatus(parent).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory &&
            (artifactSourceOf(n, ".compact-tmp-").contains(rootName) ||
             artifactSourceOf(n, ".compact-old-").contains(rootName)))
          debris += s.getPath.toString
        if (s.isFile && n == s".maintenance-lock-$rootName") lock = true
        if (s.isFile && n == s".ingest-writer-lock-$rootName") writerLock = true
      }
    }
    if (!fs.exists(landingPath)) {
      require(debris.nonEmpty,
        s"landing dir '$landingDir' does not exist and no crash artifact " +
        "references it")
      // the landing IS the debris — report it instead of erroring
      return LandingStats(Nil, 0, 0L, debris.toSeq.sorted, lock, writerLock)
    }
    // one listing per dir serves both the debris scan and the file
    // counts — the promised cost really is one LIST per directory
    def walk(p: org.apache.hadoop.fs.Path): Unit = {
      val entries = fs.listStatus(p)
      var files = 0; var bytes = 0L
      entries.foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && (n.startsWith(".compact-tmp-") || n.startsWith(".compact-old-")))
          debris += s.getPath.toString
        else if (s.isFile && n == SwapManifest)
          debris += s.getPath.toString
        else if (s.isFile && !n.startsWith(".") && !n.startsWith("_")) {
          files += 1; bytes += s.getLen
        }
      }
      if (files > 0) leaves += ((p.toString, files, bytes))
      entries.foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && !n.startsWith(".") && !n.startsWith("_")) walk(s.getPath)
      }
    }
    walk(landingPath)
    LandingStats(leaves.toSeq.sortBy(_._1), leaves.map(_._2).sum,
      leaves.map(_._3).sum, debris.toSeq.sorted, lock, writerLock)
  }

  // ---------- the three ingest entries ----------

  /** The one shared append shape all three ingest entries land with.
    * Flat (default): `appendFiles` part files per batch. Partitioned
    * (`partitionCols` nonempty — e.g. an ingest month): rows
    * hash-repartition ON the partition columns first, so each touched
    * `key=value` leaf receives exactly ONE file per batch (without
    * this, files per batch = tasks × touched leaves — the small-files
    * problem squared), and the landing becomes the layout the
    * maintenance surface is built for: retention by [[expireLanding]],
    * per-leaf [[compactLanding]], partition-pruned time-sliced reads.
    * The dedup state machine is layout-agnostic — carries fold from
    * the write's own Observation and fingerprints are recursive
    * listings, so nothing else changes. */
  private def appendToLanding(fresh: DataFrame, landingDir: String,
                              appendFiles: Int, partitionCols: Seq[String],
                              obs: org.apache.spark.sql.Observation,
                              metrics: Seq[Column]): Unit = {
    val shaped =
      if (partitionCols.isEmpty) fresh.repartition(appendFiles)
      else fresh.repartition(appendFiles, partitionCols.map(col): _*)
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
    val hidden = partitionCols.filter(c => c.startsWith("_") || c.startsWith("."))
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
    * starts, then the landing's canonical key ([[landingKey]]) drives
    * [[runIngestStream]] over the entry's stage list. */
  private def startDedup(docs: DataFrame, landingDir: String, checkpointDir: String,
                         entry: String, keyCols: Seq[String], appendFiles: Int,
                         partitionCols: Seq[String], stages: Seq[DedupStage],
                         obsPrefix: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(appendFiles > 0, s"appendFiles must be positive, got $appendFiles")
    requireStreamCols(docs, keyCols)
    requireNoReservedCols(docs, entry)
    requirePartitionCols(docs, partitionCols, keyCols)
    runIngestStream(docs, landingKey(docs.sparkSession, landingDir), checkpointDir,
      appendFiles, partitionCols, stages, obsPrefix)
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
                  appendFiles: Int = 4,
                  partitionCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startDedup(docs, landingDir, checkpointDir, "ingestDedup", Seq(textCol, idCol),
      appendFiles, partitionCols, Seq(DedupStage.exact(textCol, idCol)), "ingest")

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
                    appendFiles: Int = 4,
                    partitionCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startDedup(docs, landingDir, checkpointDir, "ingestNearDup", Seq(textCol, idCol),
      appendFiles, partitionCols, Seq(DedupStage.near(textCol, idCol)), "ingest_nd")

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
                     appendFiles: Int = 4,
                     partitionCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startDedup(docs, landingDir, checkpointDir, "ingestSemantic", Seq(vecCol, idCol),
      appendFiles, partitionCols,
      Seq(SemanticStage(tau, vecCol, bits, bands).stage(idCol)), "ingest_sem")

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
    * registered release runs on a failed start and, via
    * [[registerFrozen]], on termination (r17 verdict #7: frozen state
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
    val key = landingKey(docs.sparkSession, landingDir)
    var frozen: List[() => Unit] = Nil
    val q = try startGuarded(docs.sparkSession, key) {
      val score = freeze(release => frozen :+= release)
      docs.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          heartbeatIngestLock(key)
          var pinned: List[DataFrame] = Nil
          try {
            val w = score(batch, df => { pinned ::= df.persist(); pinned.head })
              .write.options(graft.core.Committers.forRerun(overwrite = true))
            (if (landPartitions.isEmpty) w else w.partitionBy(landPartitions: _*))
              .mode("overwrite").parquet(s"$key/batch=$batchId")
          } finally pinned.foreach(_.unpersist())
          ()
        }
        .start()
    } catch {
      case t: Throwable => frozen.foreach(runCleanup); throw t
    }
    registerFrozen(q, frozen)
    q
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
      release(frameCleanup(trained.counts))
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
      release(frameCleanup(bench))
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
                     appendFiles: Int = 4,
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
      Seq(textCol, idCol) ++ semantic.map(_.vecCol), appendFiles, partitionCols,
      Seq(DedupStage.exact(textCol, idCol), DedupStage.near(textCol, idCol)) ++
        semantic.map(_.stage(idCol)),
      "ingest_pipe")
}
