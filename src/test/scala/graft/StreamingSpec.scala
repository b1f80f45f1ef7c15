package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventStreams, LandingGuard, LandingMaintenance}
import graft.streaming.EventStreams.{Event, Session}

/** Structured Streaming behavior through MemoryStream: incremental
  * windowed aggregation, watermark-driven finalization and late-data
  * drop, and custom stateful sessionization with event-time timeout. */
class StreamingSpec extends AnyFunSuite with SparkTestSession {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long = 1L, typ: String = "click",
                 value: Double = 1.0): Event =
    Event(id, ts(minute), user, typ, value)

  /** The open handle of the stream running on `landing`. */
  private def opened(landing: String): LandingGuard.Landing =
    LandingGuard.active(spark, landing).getOrElse(fail(s"no open handle on '$landing'"))

  test("tumbling window aggregates incrementally (update mode)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, 5), ev(2, 10), ev(3, 65))
      q.processAllAvailable()
      val rows = spark.table("tumbling_t")
        .groupBy("window_start").agg(org.apache.spark.sql.functions.max("n").as("n"))
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(rows(Timestamp.valueOf("2026-01-01 10:00:00")) == 2L)
      assert(rows(Timestamp.valueOf("2026-01-01 11:00:00")) == 1L)
    } finally q.stop()
  }

  test("KMV sketch aggregates in streaming state: exact distinct users below k") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    // sentinel -1 → null user: null keys must have NO sketch identity
    // (an ungated xxhash64 would count all nulls as one phantom user)
    val events = input.toDF().withColumn("user_id",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("user_id") === -1L, null)
        .otherwise(org.apache.spark.sql.functions.col("user_id")))
    val q = EventStreams.distinctSketchCounts(events, k = 16)
      .writeStream.format("memory").queryName("kmv_t")
      .outputMode(OutputMode.Update()).start()
    try {
      // window 10:00: users 1,2,3 (user 1 twice — distinct once) plus
      // a null-user event (counts zero); window 11:00: user 7 only.
      // Duplicates arrive ACROSS batches, so the sketch state must
      // round-trip the state store intact.
      input.addData(ev(1, 5, user = 1), ev(2, 10, user = 2), ev(3, 65, user = 7))
      q.processAllAvailable()
      input.addData(ev(4, 20, user = 1), ev(5, 40, user = 3), ev(6, 45, user = -1))
      q.processAllAvailable()
      val rows = spark.table("kmv_t")
        .groupBy("window_start")
        .agg(org.apache.spark.sql.functions.max("n_kept").as("nk"),
             org.apache.spark.sql.functions.max("n_distinct_est").as("est"))
        .collect().map(r => r.getTimestamp(0) -> (r.getInt(1), r.getDouble(2))).toMap
      assert(rows(Timestamp.valueOf("2026-01-01 10:00:00")) == ((3, 3.0)),
        s"expected exact distinct 3: $rows")
      assert(rows(Timestamp.valueOf("2026-01-01 11:00:00")) == ((1, 1.0)))
    } finally q.stop()
  }

  test("watermark: windows finalize in append mode and late data is dropped") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("wm_t")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(1, 5), ev(2, 30))
      q.processAllAvailable()
      // nothing final yet: watermark (max 10:30 - 10min) < window end 11:00
      assert(spark.table("wm_t").count() == 0)
      // push event time far enough that the 10:00 window finalizes
      input.addData(ev(3, 135)) // 12:15 -> watermark 12:05
      q.processAllAvailable()
      val finalized = spark.table("wm_t").collect()
        .map(r => r.getAs[Timestamp]("window_start") -> r.getAs[Long]("n")).toMap
      assert(finalized(Timestamp.valueOf("2026-01-01 10:00:00")) == 2L)
      // a late event inside the already-finalized window must be ignored
      input.addData(ev(4, 10))
      q.processAllAvailable()
      val after = spark.table("wm_t").collect()
        .map(r => r.getAs[Timestamp]("window_start") -> r.getAs[Long]("n")).toMap
      assert(after(Timestamp.valueOf("2026-01-01 10:00:00")) == 2L) // unchanged
    } finally q.stop()
  }

  test("stateful sessionization: gap splits sessions, timeout emits them") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionizeStateful(input.toDS())
      .writeStream.format("memory").queryName("sess_t")
      .outputMode(OutputMode.Append()).start()
    try {
      // session 1: events at 10:00 and 10:10; then a 31+ minute gap
      input.addData(ev(1, 0, value = 2.0), ev(2, 10, value = 3.0))
      q.processAllAvailable()
      input.addData(ev(3, 42, value = 5.0)) // starts session 2 in-batch
      q.processAllAvailable()
      // session 1 closes once a new batch arrives (in-function gap logic)
      // or once the watermark passes last+gap (timeout); push time forward:
      input.addData(ev(4, 120, value = 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_t").as[Session].collect().sortBy(_.session_start.getTime)
      assert(sessions.nonEmpty)
      val s1 = sessions.head
      assert(s1.session_start == ts(0) && s1.session_end == ts(10))
      assert(s1.n_events == 2 && s1.total_value == 5.0)
    } finally q.stop()
  }

  test("stateful sessionization: an in-watermark LATE event lowers the session start (batch ≡ stream)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionizeStateful(input.toDS())
      .writeStream.format("memory").queryName("sess_late")
      .outputMode(OutputMode.Append()).start()
    try {
      // u1 opens a session at minute 20; u2's event at 25 drives the
      // global watermark to 15, so u1's minute-16 event in the next
      // batch is LATE (strictly above the watermark, so admitted) —
      // the batch analog (all rows sorted) opens u1's session at 16
      input.addData(ev(1, 20, value = 2.0), ev(2, 25, user = 2L, value = 1.0))
      q.processAllAvailable()
      input.addData(ev(3, 16, value = 3.0)) // late, in-watermark
      q.processAllAvailable()
      input.addData(ev(4, 120, user = 9L)) // push watermark past last+gap
      q.processAllAvailable()
      val u1 = spark.table("sess_late").as[Session].collect()
        .filter(_.user_id == 1L)
      assert(u1.length == 1)
      assert(u1.head.session_start == ts(16) && u1.head.session_end == ts(20))
      assert(u1.head.n_events == 2 && u1.head.total_value == 5.0)
      // the bounded twin on the same rows agrees row-for-row
      val batch = EventStreams.sessionizeStateful(
          Seq(ev(1, 20, value = 2.0), ev(3, 16, value = 3.0)).toDS(),
          flushOpenAtEnd = true).collect()
      assert(batch.length == 1)
      assert(batch.head.session_start == u1.head.session_start &&
             batch.head.session_end == u1.head.session_end &&
             batch.head.n_events == u1.head.n_events &&
             batch.head.total_value == u1.head.total_value)
    } finally q.stop()
  }

  test("stateful sessionization on a bounded dataset flushes final open sessions") {
    import spark.implicits._
    // batch execution never fires event-time timeouts; flushOpenAtEnd
    // must emit the trailing session instead of dropping it
    val events = Seq(
      ev(1, 0, value = 2.0), ev(2, 10, value = 3.0),  // session 1 (closed by gap)
      ev(3, 60, value = 5.0), ev(4, 70, value = 1.0)) // session 2 (still open at end)
    val sessions = EventStreams.sessionizeStateful(events.toDS(), flushOpenAtEnd = true)
      .collect().sortBy(_.session_start.getTime)
    assert(sessions.length == 2)
    assert(sessions(0).n_events == 2 && sessions(0).total_value == 5.0)
    assert(sessions(1).session_start == ts(60) && sessions(1).session_end == ts(70))
    assert(sessions(1).n_events == 2 && sessions(1).total_value == 6.0)
  }

  test("stream-stream interval join: clicks meet in-window purchases, batch parity") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = Seq(
      ev(1, 0),                               // click at 10:00
      ev(2, 30, typ = "purchase", value = 9.0),  // within the hour -> joins
      ev(3, 90, typ = "purchase", value = 5.0),  // 90 min later -> outside
      ev(4, 95),                              // click at 11:35
      ev(5, 100, typ = "purchase", value = 7.0)) // joins click 4
    val batch = EventStreams.clickPurchaseJoin(events.toDF())
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((1L, 2L), (4L, 5L)))

    val input = MemoryStream[Event]
    val q = EventStreams.clickPurchaseJoin(input.toDF())
      .writeStream.format("memory").queryName("ssj_t")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      // push the watermark far past every join window so results finalize
      input.addData(ev(99, 600))
      q.processAllAvailable()
      val streamed = spark.table("ssj_t").select("click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup drops replayed events within the watermark, bounded state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupeStream(input.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(1, 0), ev(2, 5), ev(1, 0)) // in-batch duplicate
      q.processAllAvailable()
      input.addData(ev(1, 0), ev(3, 8))           // cross-batch replay
      q.processAllAvailable()
      val ids = spark.table("dedup_t").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("writeStream sink + checkpoint restart recovers exactly-once") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def start() =
      EventStreams.streamFromParquet(spark, src, df => df.select("event_id", "ts"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()

    Seq(ev(1, 0), ev(2, 10), ev(3, 20)).toDF().write.mode("append").parquet(src)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // "crash": the query is gone; more data lands while it is down
    Seq(ev(4, 30), ev(5, 40)).toDF().write.mode("append").parquet(src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // the committed output (via the sink's _spark_metadata log) holds
    // every event exactly once — batch 1 not re-emitted after restart
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("stream-static join: each micro-batch enriches against the dim, unmatched kept") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val q = EventStreams.enrichWithDim(input.toDF(), dim)
      .select("event_id", "user_id", "tier")
      .writeStream.format("memory").queryName("enrich_t")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(1, 1, user = 1L), ev(2, 2, user = 2L), ev(3, 3, user = 9L))
      q.processAllAvailable()
      val rows = spark.table("enrich_t").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(rows == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
    } finally q.stop()
  }

  test("Trigger.AvailableNow: incremental runs over a growing dir, exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val src = java.nio.file.Files.createTempDirectory("avnow-src").toString
    val sink = java.nio.file.Files.createTempDirectory("avnow-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("avnow-ckpt").toString
    def land(events: Event*): Unit =
      events.toSeq.toDF().write.mode("append").parquet(src)
    // the modern scheduled-batch pattern: start, drain ALL available
    // input, stop — the checkpoint carries progress to the next run
    def runOnce(): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema).parquet(src)
        .filter(col("event_type") === "click")
        .select("event_id", "user_id")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow query did not drain and stop")
    }
    land(ev(1, 1), ev(2, 2, typ = "view"), ev(3, 3))
    runOnce()
    assert(spark.read.parquet(sink).select("event_id").as[Long].collect().toSet
      == Set(1L, 3L))
    land(ev(4, 4), ev(5, 5, typ = "error"))
    runOnce()
    // run 2 processed ONLY the new files: 1 and 3 are not duplicated
    assert(spark.read.parquet(sink).select("event_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 4L))
  }

  test("file-backed stream: readStream over parquet drives the same transform") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val events = Seq(ev(1, 5), ev(2, 10), ev(3, 65))
    events.toDF().write.mode("overwrite").parquet(dir)
    val q = EventStreams.streamFromParquet(spark, dir, EventStreams.tumblingCounts)
      .writeStream.format("memory").queryName("file_t")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val n = spark.table("file_t")
        .agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0)
      assert(n == 3L)
    } finally q.stop()
  }

  test("one transform, two engines: streaming result equals batch result") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = Seq(ev(1, 5), ev(2, 10), ev(3, 65), ev(4, 70, typ = "view"))
    val batch = EventStreams.tumblingCounts(events.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val input = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("parity_t")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val streamed = spark.table("parity_t")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("ingestDedup: cross-batch corpus dedup, landed corpus as the state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-landing").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(
      input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      // batch 1: an in-batch duplicate (ids 1/2 share text; 1 wins)
      input.addData((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate ("beta"), one genuinely new
      input.addData((4L, "beta"), (5L, "gamma"))
      q.processAllAvailable()
      // batch 3: everything already landed — appends nothing
      input.addData((6L, "alpha"), (7L, "gamma"))
      q.processAllAvailable()
      val landed = spark.read.parquet(landing)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(landed == Seq((1L, "alpha"), (3L, "beta"), (5L, "gamma")))
      // the carried landed count tracks the corpus EXACTLY across all
      // batches (seeded at 0 on the first batch, advanced by each
      // append's observed size) — this is what lets sizedBits run
      // without a per-batch metadata count over the growing file
      // listing of the landing dir
      assert(opened(landing).landed.get() == 3L)
    } finally q.stop()
  }

  test("ingestNearDup: lightly-edited reposts never re-enter the corpus") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-nd-landing").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-nd-ckpt").toString
    // Long texts with disjoint vocabularies: edits perturb a handful
    // of 8-char shingles out of hundreds, so the minhash minima (and
    // hence the band buckets) are stable under the edit, while texts
    // from different vocabularies share no shingles at all.
    val textA = ("the quick brown fox jumps over the lazy dog again and " * 6).trim
    val textB = ("zebra quartz violin xylophone kumquat jackal wombat nectar " * 6).trim
    val textC = ("glacier basalt fjord tundra lichen moraine permafrost drift " * 6).trim
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestNearDup(
      input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      // batch 1: 2 is a lightly-edited repost of 1 — the in-batch
      // bucket-min keeper drops it; 3 is genuinely different
      input.addData((1L, textA), (2L, textA + " tiny tail edit"), (3L, textB))
      q.processAllAvailable()
      // batch 2: 4 reposts textA with a different edit — dropped
      // against the LANDED corpus (cross-batch); 5 is new
      input.addData((4L, "prefix tweak " + textA), (5L, textC))
      q.processAllAvailable()
      // batch 3: an exact re-send and another edit — both drop
      input.addData((6L, textC), (7L, textB + " postscript"))
      q.processAllAvailable()
      val landed = spark.read.parquet(landing)
      assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
               == Seq(1L, 3L, 5L))
      // the landed corpus carries its signature columns — the state
      // that lets later batches dedup from a 4-long column-pruned
      // scan instead of re-tokenizing landed text
      assert(Seq("mh1", "mh2", "mh3", "mh4").forall(landed.columns.contains))
    } finally q.stop()
  }

  test("crash-retry self-heal: leftover v2 task files absorb into an exactly-once corpus") {
    // The landing writes commit task-side (Committers.TaskCommitV2),
    // so a batch that dies between task commit and job completion
    // leaves SOME of its part files in the landing dir — and the
    // retry re-delivers the whole batch. The self-heal contract both
    // ingests claim: the leftover files are valid parquet the next
    // batch reads as corpus, so the retried rows probe as duplicates
    // of themselves and only the genuinely-missing rows append. We
    // simulate the crash by appending the leftover file directly
    // (on-disk state identical to a committed task of a failed job:
    // a bare part-*.parquet among the landed files, no job-level
    // marker distinguishes them), then delivering the full batch.
    import spark.implicits._
    implicit val sq = spark.sqlContext

    // --- exact-dedup ingest (q74's streaming face) ---
    val landing = java.nio.file.Files.createTempDirectory("graft-crash").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-crash-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(
      input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      input.addData((1L, "alpha"), (2L, "beta"))
      q.processAllAvailable()
      // crashed attempt of batch 2: one of its two tasks committed
      // (3,"gamma") before the job died
      Seq((3L, "gamma")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(landing)
      // the retry delivers the FULL batch — (3) again plus (4)
      input.addData((3L, "gamma"), (4L, "delta"))
      q.processAllAvailable()
      val landed = spark.read.parquet(landing)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      // exactly-once corpus: gamma exactly once despite landing via
      // the crashed attempt AND the retry's delivery
      assert(landed == Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta")))
    } finally q.stop()

    // --- near-dup ingest (q82's streaming face): the leftover row
    // carries its mh1..mh4 in the same file, so the retry collides
    // with its own landed buckets ---
    val textA = ("the quick brown fox jumps over the lazy dog again and " * 6).trim
    val textC = ("glacier basalt fjord tundra lichen moraine permafrost drift " * 6).trim
    val ndLanding = java.nio.file.Files.createTempDirectory("graft-crash-nd").toString + "/corpus"
    val ndCkpt = java.nio.file.Files.createTempDirectory("graft-crash-nd-ckpt").toString
    val ndInput = MemoryStream[(Long, String)]
    val ndQ = EventStreams.ingestNearDup(
      ndInput.toDF().toDF("doc_id", "text"), ndLanding, ndCkpt)
    try {
      ndInput.addData((1L, textA))
      ndQ.processAllAvailable()
      // crashed attempt of batch 2 committed doc 3 WITH its signature
      // columns (signatures ride the same rows — the invariant that
      // makes partial publishes absorbable)
      graft.ops.NearDupIncremental.withSigs(Seq((3L, textC)).toDF("doc_id", "text"))
        .coalesce(1).write.mode("append").parquet(ndLanding)
      // retry: 3 again, a lightly-edited repost of 3, and nothing else
      ndInput.addData((3L, textC), (4L, "prefix tweak " + textC))
      ndQ.processAllAvailable()
      val ndLanded = spark.read.parquet(ndLanding)
      val ids = ndLanded.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // 3 exactly once (collides with its own leftover buckets); the
      // repost 4 never enters; signature state stayed consistent
      assert(ids == Seq(1L, 3L))
      assert(Seq("mh1", "mh2", "mh3", "mh4").forall(ndLanded.columns.contains))
    } finally ndQ.stop()
  }

  test("a killed task's _temporary leftover: the next batch lands and dedups exactly") {
    // A task killed mid-write leaves a truncated part file under the
    // committer's `_temporary` tree. Spark's reads skip it, so it is
    // not landing data; taken for data it would also be the
    // steady-state batch's schema source ('_' sorts before 'p') and
    // fail the stream on its footer.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-tmpleft").toString + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(input.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-tmpleft-ck").toString)
    try {
      input.addData((1L, "alpha"), (2L, "beta")); q.processAllAvailable()
      val attempt = java.nio.file.Paths.get(landing, "_temporary", "0", "_temporary",
        "attempt_202610190000_0001_m_000000_0")
      java.nio.file.Files.createDirectories(attempt)
      java.nio.file.Files.write(
        attempt.resolve(s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet"),
        "PAR1 truncated".getBytes("UTF-8"))
      input.addData((3L, "alpha"), (4L, "gamma")); q.processAllAvailable()
      val landed = spark.read.parquet(landing)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(landed == Seq((1L, "alpha"), (2L, "beta"), (4L, "gamma")))
    } finally q.stop()
  }

  test("carried bloom: steady-state batches never rescan the landing for the prefilter") {
    // The round-13 carried-bloom discipline: the exact-stage bloom is
    // built over the LANDING at most once per seed (restart / outgrown
    // / fingerprint mismatch); steady-state batches fold only their own
    // append. Count every bloom_agg execution whose plan reads the
    // landing dir — over a fresh dir and three clean batches there must
    // be ZERO (the first carry seeds from the append itself).
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-cb").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cb-ckpt").toString
    val bloomScansOnLanding = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def touchesLanding(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.analyzed.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains(landing))
              case _ => false
            }
        }.exists(identity)
      private def buildsBloom(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.analyzed.toString.contains("bloom_agg")
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        // a SEED is a standalone driver collect of a bloom aggregate
        // over the landing (DedupStage.buildCarry). The batch
        // WRITE also mentions bloom_agg (the observed append metric)
        // and reads the landing (the exact-confirm join) — that is the
        // legitimate confirm path, not a prefilter rebuild, so only
        // collect-action executions count.
        if (funcName == "collect" && buildsBloom(qe) && touchesLanding(qe))
          bloomScansOnLanding.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      input.addData((1L, "alpha"), (2L, "beta")); q.processAllAvailable()
      input.addData((3L, "beta"), (4L, "gamma")); q.processAllAvailable()
      input.addData((5L, "alpha"), (6L, "delta")); q.processAllAvailable()
      // dedup stayed exact across the carried batches
      val landed = spark.read.parquet(landing)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(landed == Seq((1L, "alpha"), (2L, "beta"), (4L, "gamma"), (6L, "delta")))
      // quiesce the async listener bus, then assert zero landing-wide
      // bloom builds (the carry was seeded from batch 1's own append)
      Thread.sleep(1500)
      assert(bloomScansOnLanding.get() == 0,
        s"expected 0 landing-scanning bloom builds, got ${bloomScansOnLanding.get()}")
      assert(opened(landing).carry("exact").isDefined, "carry missing after 3 batches")
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
    }
  }

  test("ingestDedup: landing dir is never re-counted after the seed") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-landing2").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt2").toString
    // record every `count`-action execution that touches the landing
    // dir — with the carried counter, a fresh stream over an EXISTING
    // corpus seeds with exactly one, and later batches add none
    val countsOnLanding = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      // the landing path never appears in analyzed.toString (relations
      // print columns, not locations) — walk to the file index roots
      private def touchesLanding(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.analyzed.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains(landing))
              case _ => false
            }
        }.exists(identity)
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "count" && touchesLanding(qe))
          countsOnLanding.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    // pre-exist the corpus so the stream's first batch takes the
    // seed path (a restart over landed state — the expensive case)
    Seq((1L, "alpha")).toDF("doc_id", "text").write.parquet(landing)
    spark.listenerManager.register(listener)
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(
      input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      input.addData((2L, "beta"))
      q.processAllAvailable()
      input.addData((3L, "gamma"))
      q.processAllAvailable()
      input.addData((4L, "delta"), (5L, "beta"))
      q.processAllAvailable()
      // listener delivery is async — poll to QUIESCENCE (the counter
      // stable for a full settle window) rather than one fixed sleep:
      // a slow bus can deliver a late extra event after any fixed
      // sleep, flaking the exact-count assert below
      val deadline = System.nanoTime() + 30e9.toLong
      var last = -1L
      var stableSince = System.nanoTime()
      var quiescent = false
      while (!quiescent && System.nanoTime() < deadline) {
        val v = countsOnLanding.get().toLong
        if (v != last) { last = v; stableSince = System.nanoTime() }
        quiescent = last >= 1 && System.nanoTime() - stableSince > 1e9.toLong
        if (!quiescent) Thread.sleep(50)
      }
      assert(countsOnLanding.get() == 1,
        s"expected exactly the one seed count over the landing dir, got ${countsOnLanding.get()}")
      assert(opened(landing).landed.get() == 4L) // 1 seeded + 3 landed
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
    }
  }

  test("ingestDedup: a deleted-and-recreated landing dir resets the carried count") {
    // The carried counter lives on the landing's handle; deleting the
    // dir and starting a NEW stream on the same path must count from
    // the recreated dir, never size the bloom off the ghost corpus.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-recreate").toString
    val landing = root + "/corpus"
    val in1 = MemoryStream[(Long, String)]
    val q1 = EventStreams.ingestDedup(in1.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-recreate-ck1").toString)
    try {
      in1.addData((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      q1.processAllAvailable()
      assert(opened(landing).landed.get() == 3L)
    } finally q1.stop()
    // wipe the landing; new stream, same dir, fresh checkpoint
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(landing))
    val in2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.ingestDedup(in2.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-recreate-ck2").toString)
    try {
      in2.addData((10L, "delta"))
      q2.processAllAvailable()
      assert(opened(landing).landed.get() == 1L,
        "carried count did not reset with the recreated landing dir")
      assert(spark.read.parquet(landing).count() == 1L)
    } finally q2.stop()
  }

  /** Counts QueryExecutions (any action) whose analyzed plan reads the
    * given landing dir, while armed — the round-14 carried-bucket pin:
    * a steady-state batch with no cross-batch duplicates must execute
    * NO plan that touches the landing at all (the two-phase confirm
    * probes batch-side and only joins the landing when a bloom probe
    * is positive). */
  private final class LandingTouchCounter(landing: String) {
    val touches = new java.util.concurrent.atomic.AtomicInteger(0)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def touchesLanding(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.analyzed.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains(landing))
              case _ => false
            }
        }.exists(identity)
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (armed.get() && touchesLanding(qe)) touches.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
  }

  test("carried buckets: clean ingestNearDup batches never touch the landing") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val textA = ("the quick brown fox jumps over the lazy dog again and " * 6).trim
    val textB = ("zebra quartz violin xylophone kumquat jackal wombat nectar " * 6).trim
    val textC = ("glacier basalt fjord tundra lichen moraine permafrost drift " * 6).trim
    val landing = java.nio.file.Files.createTempDirectory("graft-cbk").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cbk-ckpt").toString
    val counter = new LandingTouchCounter(landing)
    spark.listenerManager.register(counter.listener)
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestNearDup(input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      // batch 1 seeds the bucket carry from its own append
      input.addData((1L, textA)); q.processAllAvailable()
      counter.armed.set(true)
      // batches 2-3: genuinely-new texts — every bucket probes
      // bloom-negative, so the landing must never be read
      input.addData((2L, textB)); q.processAllAvailable()
      input.addData((3L, textC)); q.processAllAvailable()
      Thread.sleep(1500) // quiesce the async listener bus
      counter.armed.set(false)
      assert(counter.touches.get() == 0,
        s"clean near-dup batches touched the landing ${counter.touches.get()} times")
      assert(opened(landing).carry("near").isDefined, "bucket carry missing")
      // and the carry still DEDUPS: a cross-batch near-dup (edited
      // repost of textA) is a candidate, confirmed against the
      // landing (a legitimate read, after disarm), and dropped
      input.addData((4L, "prefix tweak " + textA)); q.processAllAvailable()
      val ids = spark.read.parquet(landing).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally {
      q.stop()
      spark.listenerManager.unregister(counter.listener)
    }
  }

  test("carried state: clean ingestPipeline batches never touch the landing") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val textA = ("the quick brown fox jumps over the lazy dog again and " * 6).trim
    val textB = ("zebra quartz violin xylophone kumquat jackal wombat nectar " * 6).trim
    val textC = ("glacier basalt fjord tundra lichen moraine permafrost drift " * 6).trim
    val landing = java.nio.file.Files.createTempDirectory("graft-cpk").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cpk-ckpt").toString
    val counter = new LandingTouchCounter(landing)
    spark.listenerManager.register(counter.listener)
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestPipeline(input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      input.addData((1L, textA)); q.processAllAvailable() // seeds both carries
      counter.armed.set(true)
      input.addData((2L, textB)); q.processAllAvailable()
      input.addData((3L, textC)); q.processAllAvailable()
      Thread.sleep(1500)
      counter.armed.set(false)
      assert(counter.touches.get() == 0,
        s"clean composed-ingest batches touched the landing ${counter.touches.get()} times")
      // both carries alive and still exact: an exact repost and an
      // edited repost both bounce after the armed window
      input.addData((5L, textA), (6L, textC + " postscript")); q.processAllAvailable()
      val ids = spark.read.parquet(landing).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally {
      q.stop()
      spark.listenerManager.unregister(counter.listener)
    }
  }

  test("validated fold: an out-of-band append racing the batch's own drops the carry, dedup stays exact") {
    // The round-13 advice TOCTOU: a file landed BETWEEN a batch's
    // append and its fold used to be folded into the trusted
    // fingerprint without its texts in the blob — later duplicates of
    // those texts would probe definitively-new and be admitted
    // permanently. The validated fold diffs the listings: the delta
    // must be exactly the batch's own committed part files (one write
    // UUID); anything else drops the carry so the next batch reseeds.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-race").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-race-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      input.addData((1L, "alpha"), (2L, "beta"))
      q.processAllAvailable()
      assert(opened(landing).carry("exact").isDefined)
      // arm the race: right after batch 2's append returns and before
      // its fold re-lists, a second writer lands (99,"omega")
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      opened(landing).onPostAppend(_ =>
        if (fired.compareAndSet(false, true))
          Seq((99L, "omega")).toDF("doc_id", "text")
            .coalesce(1).write.mode("append").parquet(landing))
      input.addData((3L, "gamma"))
      q.processAllAvailable()
      assert(fired.get(), "race hook did not fire")
      // the fold saw a delta with two write UUIDs → carry dropped
      assert(opened(landing).carry("exact").isEmpty,
        "carry survived an out-of-band append inside the fold window")
      // next batch reseeds from the landing (which includes omega), so
      // the duplicate of the raced-in row is still rejected
      input.addData((4L, "omega"), (5L, "epsilon"))
      q.processAllAvailable()
      val landed = spark.read.parquet(landing)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(landed == Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
                           (5L, "epsilon"), (99L, "omega")))
      assert(opened(landing).carry("exact").isDefined, "reseed did not restore the carry")
    } finally q.stop()
  }

  test("appendOnlyDelta: only THIS batch's write job's part files validate the fold") {
    def part(path: String, len: Int = 10, mtime: Int = 1): String = s"$path:$len:$mtime"
    val u1 = "0b7ac24e-1111-4abc-9def-0123456789ab"
    val u2 = "9f8e7d6c-2222-4abc-9def-0123456789ab"
    val pre = Seq(part(s"/L/part-00000-$u1-c000.snappy.parquet"), part("/L/_SUCCESS"))
    def f(name: String, len: Int = 10, mtime: Int = 1) = part(s"/L/$name", len, mtime)
    // pure append from one job, rows observed
    assert(EventStreams.appendOnlyDelta(pre,
      pre ++ Seq(f(s"part-00000-$u2-c000.snappy.parquet"), f(s"part-00001-$u2-c000.snappy.parquet")),
      appendedRows = 2))
    // zero-row batch: empty delta is clean
    assert(EventStreams.appendOnlyDelta(pre, pre, appendedRows = 0))
    // zero-row batch + a single-uuid part delta passes the STRUCTURAL
    // check (Spark commits one empty schema-only part file even for a
    // zero-row append — an all-dup batch must not cost the carry);
    // the caller then confirms the delta is actually rowless, which
    // is what rejects a foreign DATA file posing as ours (pinned by
    // the all-duplicate-batch integration case below)
    assert(EventStreams.appendOnlyDelta(pre,
      pre :+ f(s"part-00000-$u2-c000.snappy.parquet"), appendedRows = 0))
    // zero-row batch + TWO uuids: still structurally dirty
    assert(!EventStreams.appendOnlyDelta(pre,
      pre ++ Seq(f(s"part-00000-$u2-c000.snappy.parquet"),
                 f(s"part-00000-9a8b7c6d-3333-4abc-9def-0123456789ab-c000.snappy.parquet")),
      appendedRows = 0))
    // rows observed but no file appeared: inconsistent — refuse
    assert(!EventStreams.appendOnlyDelta(pre, pre, appendedRows = 2))
    // _SUCCESS rewritten in place (mtime moved): hidden files are
    // outside the corpus contract — still clean
    assert(EventStreams.appendOnlyDelta(pre,
      Seq(pre.head, f("_SUCCESS", mtime = 9), f(s"part-00000-$u2-c000.snappy.parquet")),
      appendedRows = 1))
    // TWO write jobs in the delta: an interloper raced the append
    assert(!EventStreams.appendOnlyDelta(pre,
      pre ++ Seq(f(s"part-00000-$u2-c000.snappy.parquet"),
                 f(s"part-00000-9a8b7c6d-3333-4abc-9def-0123456789ab-c000.snappy.parquet")),
      appendedRows = 2))
    // a non-part visible file appeared
    assert(!EventStreams.appendOnlyDelta(pre, pre :+ f("docs.csv"), appendedRows = 1))
    // a visible file deleted
    assert(!EventStreams.appendOnlyDelta(pre, Seq(part("/L/_SUCCESS")), appendedRows = 0))
    // a visible file mutated in place (length changed)
    assert(!EventStreams.appendOnlyDelta(pre,
      Seq(part(s"/L/part-00000-$u1-c000.snappy.parquet", len = 11), part("/L/_SUCCESS")),
      appendedRows = 0))
  }

  test("all-duplicate micro-batch: the zero-row append keeps the carries") {
    // Spark commits an empty schema-only part file even when the
    // batch appends zero rows; the fold must recognize that shape as
    // the batch's own (structural single-uuid + rowless delta) and
    // KEEP the carry — dropping it would cost a full landing reseed
    // on every repost-storm batch, exactly the O(corpus) pattern the
    // carry exists to amortize.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-alldup").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-alldup-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      input.addData((1L, "alpha"), (2L, "beta")); q.processAllAvailable()
      assert(opened(landing).carry("exact").isDefined)
      val before = opened(landing).carry("exact").orNull
      // batch 2: every row a cross-batch duplicate — appends 0 rows
      input.addData((3L, "alpha"), (4L, "beta")); q.processAllAvailable()
      assert(opened(landing).carry("exact").isDefined,
        "carry dropped by an all-duplicate batch's empty append")
      // the blob folded nothing but the fingerprint advanced with the
      // (empty) part file — still the SAME filter content
      assert(java.util.Arrays.equals(
        opened(landing).carry("exact").orNull.blob, before.blob))
      // and dedup continues exactly
      input.addData((5L, "alpha"), (6L, "gamma")); q.processAllAvailable()
      val landed = spark.read.parquet(landing)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(landed == Seq((1L, "alpha"), (2L, "beta"), (6L, "gamma")))
    } finally q.stop()
  }

  test("partitioned ingest landing: hive layout, cross-batch dedup, one file per touched leaf") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-part-ingest")
      .toString + "/corpus"
    val input = MemoryStream[(Long, String, String)]
    val q = EventStreams.ingestDedup(
      input.toDF().toDF("doc_id", "month", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-part-ingest-ck").toString,
      partitionCols = Seq("month"))
    try {
      input.addData((1L, "2026-01", "alpha"), (2L, "2026-01", "beta"),
        (3L, "2026-02", "gamma"))
      q.processAllAvailable()
      // cross-batch exact dup (alpha, even in a NEW month) dropped;
      // fresh text admitted into its month
      input.addData((4L, "2026-02", "alpha"), (5L, "2026-02", "delta"))
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(landing)
      .select("doc_id", "month", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(landed == Seq((1L, "2026-01", "alpha"), (2L, "2026-01", "beta"),
      (3L, "2026-02", "gamma"), (5L, "2026-02", "delta")).sorted)
    // hive layout on disk, one file per touched leaf per batch
    val root = new java.io.File(landing)
    val months = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("month="))
      .map(_.getName).sorted.toSeq
    assert(months == Seq("month=2026-01", "month=2026-02"))
    def leafFiles(m: String): Int = new java.io.File(root, m).listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(leafFiles("month=2026-01") == 1, "batch 1 touched 2026-01 once")
    assert(leafFiles("month=2026-02") == 2, "each batch landed ONE file in 2026-02")
    // partition pruning works on the landed corpus
    val pruned = spark.read.parquet(landing).where($"month" === "2026-01")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.selectedPartitions.partitionCount == 1)
    // bad layouts are refused at START, not in the first batch
    val in2 = MemoryStream[(Long, String, String)]
    val d2 = in2.toDF().toDF("doc_id", "month", "text")
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestDedup(d2, landing + "x", landing + "ck",
        partitionCols = Seq("nope"))
    }.getMessage.contains("not in the stream schema"))
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestDedup(d2, landing + "y", landing + "ck2",
        partitionCols = Seq("text"))
    }.getMessage.contains("collide"))
    // a hidden-prefix column's hive dirs would be invisible to every
    // parquet read (incl. the dedup reseed); duplicates would kill
    // the first micro-batch instead of the start
    val in3 = MemoryStream[(Long, String, String)]
    val d3 = in3.toDF().toDF("doc_id", "_month", "text")
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestDedup(d3, landing + "z", landing + "ck3",
        partitionCols = Seq("_month"))
    }.getMessage.contains("invisible"))
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestDedup(d2, landing + "w", landing + "ck4",
        partitionCols = Seq("month", "month"))
    }.getMessage.contains("duplicate"))
  }

  test("ingest entries refused at start leave no writer slot held") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "mh1")
    val landing = java.nio.file.Files.createTempDirectory("graft-af").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-af-ck").toString
    intercept[IllegalArgumentException](EventStreams.ingestDedup(docs, landing, ckpt))
    intercept[IllegalArgumentException](EventStreams.ingestNearDup(docs, landing, ckpt))
    intercept[IllegalArgumentException](EventStreams.ingestPipeline(docs, landing, ckpt))
    // the refused starts must not leave the landing's writer slot held
    assert(LandingGuard.active(spark, landing).isEmpty,
      "a rejected start must not hold the single-writer slot")
  }

  test("landingKey: path spellings of one dir share one state key") {
    val raw = java.nio.file.Files.createTempDirectory("graft-lk").toString + "/corpus"
    val k1 = LandingGuard.landingKey(spark, raw)
    assert(k1 == LandingGuard.landingKey(spark, raw + "/"), "trailing slash split the key")
    assert(k1 == LandingGuard.landingKey(spark, "file:" + raw), "scheme spelling split the key")
    assert(k1 == LandingGuard.landingKey(spark, k1), "normalization not idempotent")
  }

  test("single-writer guard: a path ALIAS of an active landing dir is refused too") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-alias").toString + "/corpus"
    val in1 = MemoryStream[(Long, String)]
    val q1 = EventStreams.ingestDedup(in1.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-alias-ck1").toString)
    try {
      in1.addData((1L, "alpha")); q1.processAllAvailable()
      val in2 = MemoryStream[(Long, String)]
      // same physical dir, different spellings — both must hit the guard
      for (alias <- Seq(landing + "/", "file:" + landing)) {
        intercept[IllegalStateException] {
          EventStreams.ingestDedup(in2.toDF().toDF("doc_id", "text"), alias,
            java.nio.file.Files.createTempDirectory("graft-alias-ck2").toString)
        }
      }
    } finally q1.stop()
  }

  test("cross-JVM writer lock: a foreign live writer's lock file refuses a new stream; dead/stale locks are taken over") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-xjvm").toString
    val landing = root + "/corpus"
    def writeLock(pid: String): java.nio.file.Path =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, ".ingest-writer-lock-corpus"),
        pid.getBytes("UTF-8"))
    def startStream(ck: String) = {
      val in = MemoryStream[(Long, String)]
      (in, EventStreams.ingestDedup(in.toDF().toDF("doc_id", "text"), landing,
        java.nio.file.Files.createTempDirectory(ck).toString))
    }
    // (1) a FRESH lock naming a live foreign process (pid 1 — init,
    // always alive in this container) refuses the start, loudly
    val lockFile = writeLock("1")
    val err = intercept[IllegalStateException](startStream("graft-xjvm-ck1"))
    assert(err.getMessage.contains("another JVM") ||
           err.getMessage.contains("fresh heartbeat"), err.getMessage)
    assert(java.nio.file.Files.exists(lockFile), "refusal must not delete the foreign lock")
    // (2) a lock naming a DEAD pid is taken over without waiting out
    // the heartbeat window
    java.nio.file.Files.delete(lockFile); writeLock("999999999")
    val (in2, q2) = startStream("graft-xjvm-ck2")
    try { in2.addData((1L, "alpha")); q2.processAllAvailable() } finally q2.stop()
    // clean stop releases the lock (async listener — poll briefly)
    val deadline = System.currentTimeMillis() + 15000
    while (java.nio.file.Files.exists(lockFile) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(!java.nio.file.Files.exists(lockFile),
      "clean stream termination must release the writer lock")
    // (3) a live foreign pid with a STALE heartbeat (1 h, past the
    // 30-min threshold) is taken over, and the new stream heartbeats
    // the lock back to fresh on its first batch
    writeLock("1")
    java.nio.file.Files.setLastModifiedTime(lockFile,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000))
    val (in3, q3) = startStream("graft-xjvm-ck3")
    try {
      in3.addData((2L, "beta")); q3.processAllAvailable()
      assert(java.nio.file.Files.exists(lockFile), "takeover must re-create the lock")
      val mtime = java.nio.file.Files.getLastModifiedTime(lockFile).toMillis
      assert(System.currentTimeMillis() - mtime < 60 * 1000,
        "the new writer's heartbeat must refresh the lock mtime")
      val pid = new String(java.nio.file.Files.readAllBytes(lockFile), "UTF-8").trim
      assert(pid == java.lang.ProcessHandle.current().pid().toString,
        "takeover must stamp the new owner's pid")
    } finally q3.stop()
  }

  test("cross-JVM writer lock: a displaced writer is FENCED — its heartbeat neither refreshes nor clobbers the usurper's lock, and the batch fails loudly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-fence").toString
    val landing = root + "/corpus"
    val lockFile = java.nio.file.Paths.get(root, ".ingest-writer-lock-corpus")
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(in.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-fence-ck").toString)
    try {
      in.addData((1L, "alpha")); q.processAllAvailable()
      // simulate a cross-JVM takeover: the file now names a live
      // foreign process (pid 1). A real usurper writes through the
      // Hadoop fs (fresh .crc sidecar); this nio shortcut must drop
      // the stale sidecar or the displaced writer's read would fail
      // checksum instead of seeing the foreign pid.
      java.nio.file.Files.deleteIfExists(
        lockFile.resolveSibling("." + lockFile.getFileName + ".crc"))
      java.nio.file.Files.write(lockFile, "1".getBytes("UTF-8"))
      val before = java.nio.file.Files.getLastModifiedTime(lockFile).toMillis
      in.addData((2L, "beta"))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("fenced"), err.getMessage)
      val pid = new String(java.nio.file.Files.readAllBytes(lockFile), "UTF-8").trim
      assert(pid == "1", "the fenced writer must not clobber the new owner's lock")
      assert(java.nio.file.Files.getLastModifiedTime(lockFile).toMillis == before,
        "the fenced writer must not refresh the new owner's heartbeat")
    } finally q.stop()
  }

  test("cross-JVM writer lock: a displaced writer does NOT recreate its lock under a live maintenance run") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-mfence").toString
    val landing = root + "/corpus"
    val lockFile = java.nio.file.Paths.get(root, ".ingest-writer-lock-corpus")
    val mLock = java.nio.file.Paths.get(root, ".maintenance-lock-corpus")
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(in.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-mfence-ck").toString)
    try {
      in.addData((1L, "alpha")); q.processAllAvailable()
      // simulate a maintenance takeover of this writer's stale
      // heartbeat: ingest lock cleared, maintenance lock held
      java.nio.file.Files.deleteIfExists(
        lockFile.resolveSibling("." + lockFile.getFileName + ".crc"))
      java.nio.file.Files.delete(lockFile)
      java.nio.file.Files.write(mLock, "1".getBytes("UTF-8"))
      in.addData((2L, "beta"))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("maintenance"), err.getMessage)
      assert(!java.nio.file.Files.exists(lockFile),
        "the fenced writer must not recreate its lock under live maintenance")
    } finally q.stop()
  }

  test("cross-JVM writer lock: maintenance and ingest exclude each other across processes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-xm").toString
    val landing = root + "/corpus"
    // seed a landing with one batch so maintenance has something real
    val in1 = MemoryStream[(Long, String)]
    val q1 = EventStreams.ingestDedup(in1.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-xm-ck1").toString)
    try { in1.addData((1L, "alpha")); q1.processAllAvailable() } finally q1.stop()
    // (1) a stream refuses to start under a foreign maintenance lock
    val mLock = java.nio.file.Paths.get(root, ".maintenance-lock-corpus")
    java.nio.file.Files.write(mLock, "1".getBytes("UTF-8"))
    val in2 = MemoryStream[(Long, String)]
    assert(intercept[IllegalStateException] {
      EventStreams.ingestDedup(in2.toDF().toDF("doc_id", "text"), landing,
        java.nio.file.Files.createTempDirectory("graft-xm-ck2").toString)
    }.getMessage.contains("maintenance lock"))
    java.nio.file.Files.delete(mLock)
    // (2) maintenance refuses to run under a live foreign writer lock
    val iLock = java.nio.file.Paths.get(root, ".ingest-writer-lock-corpus")
    java.nio.file.Files.write(iLock, "1".getBytes("UTF-8"))
    assert(intercept[IllegalStateException] {
      LandingMaintenance.compactLanding(spark, landing)
    }.getMessage.contains("live ingest stream"))
    // (3) ...but clears a DEAD writer's leftover and proceeds
    java.nio.file.Files.delete(iLock)
    java.nio.file.Files.write(iLock, "999999999".getBytes("UTF-8"))
    LandingMaintenance.compactLanding(spark, landing)
    assert(!java.nio.file.Files.exists(iLock),
      "maintenance should clear a dead writer's leftover lock")
    // (3b) a LIVE foreign pid with a STALE heartbeat is cleared too —
    // the ONE takeover policy shared with ingest starters (the two
    // sides of the exclusion must never disagree)
    java.nio.file.Files.write(iLock, "1".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(iLock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000))
    LandingMaintenance.compactLanding(spark, landing)
    assert(!java.nio.file.Files.exists(iLock),
      "maintenance should clear a stale-heartbeat writer lock like an ingest starter would")
    // landing stats reports both lock kinds
    java.nio.file.Files.write(iLock, "1".getBytes("UTF-8"))
    val stats = LandingMaintenance.landingStats(spark, landing)
    assert(stats.writerLockHeld && !stats.lockHeld)
    java.nio.file.Files.delete(iLock)
  }

  test("quality gate: frozen-LM scoring admits reference-like docs, rejects OOV garbage and unscorables; stream ≡ batch twin") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-qg").toString
    val landing = root + "/corpus"
    // the reference LM speaks a tight vocabulary
    val ref = (0L until 30L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again", "en"))
      .toDF("doc_id", "text", "lang")
    val in = MemoryStream[(Long, String, String)]
    val q = EventStreams.ingestQuality(
      in.toDF().toDF("doc_id", "text", "lang"), landing,
      java.nio.file.Files.createTempDirectory("graft-qg-ck").toString,
      ref, maxXentPerToken = 2.0)  // OOV-garbage floor here is ln(V)=ln 10 ≈ 2.30 nats/token;
                                   // reference-like docs read 0.4–0.9
    try {
      in.addData(
        (100L, "the quick brown fox jumps over the lazy dog", "en"),   // reference-like
        (101L, "zxq wvk pqr mnb asd fgh jkl qwe rty uio", "en"),       // OOV garbage
        (102L, "shorty", "en"),                                        // unscorable: 1 token
        (103L, "the quick brown fox", "fr"))                           // unscorable: no fr LM
      q.processAllAvailable()
      in.addData((104L, "the lazy dog jumps over the quick brown fox", "en"))
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(landing)
    assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(100L, 104L),
      "only reference-like docs may land; OOV garbage and unscorables are rejected")
    // the landed scores equal the batch twin's (same frozen LM, exact integers)
    val trained = graft.ops.NgramLm.train(ref)
    val twin = graft.ops.NgramLm.score(
        Seq((100L, "the quick brown fox jumps over the lazy dog", "en"),
            (104L, "the lazy dog jumps over the quick brown fox", "en"))
          .toDF("doc_id", "text", "lang"), trained)
      .select("doc_id", "xent_micronats").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    landed.select("doc_id", "xent_micronats").collect().foreach { r =>
      assert(r.getLong(1) == twin(r.getLong(0)), s"score drift on doc ${r.getLong(0)}")
    }
    // it is an ingest stream: the landing took the writer-lock surface
    // (release is async on the termination listener — poll briefly)
    val lockFile = java.nio.file.Paths.get(root, ".ingest-writer-lock-corpus")
    val deadline = System.currentTimeMillis() + 15000
    while (java.nio.file.Files.exists(lockFile) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(!java.nio.file.Files.exists(lockFile),
      "clean stop must release the writer lock")
  }

  test("quality gate: duplicate doc ids in one batch score per ROW — no merge, no fan-out, per-lang verdicts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-qgdup").toString
    val ref = (0L until 20L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again", "en"))
      .toDF("doc_id", "text", "lang")
    val in = MemoryStream[(Long, String, String)]
    val q = EventStreams.ingestQuality(
      in.toDF().toDF("doc_id", "text", "lang"), root + "/corpus",
      java.nio.file.Files.createTempDirectory("graft-qgdup-ck").toString,
      ref, maxXentPerToken = 2.0)
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog", "en"),
        (1L, "the quick brown fox jumps over the lazy dog", "en"), // exact repost (pre-dedup input)
        (2L, "the quick brown fox jumps over the lazy dog", "en"), // same id, two langs:
        (2L, "the quick brown fox jumps over the lazy dog", "fr")) //   fr has no LM → rejected
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(root + "/corpus")
      .select("doc_id", "lang", "xent_micronats").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // the repost lands TWICE (dedup is downstream's job), each copy
    // with the single-doc score — an id-keyed join would have merged
    // (doubled) the score and fanned 2×2 rows
    val single = graft.ops.NgramLm.score(
        Seq((9L, "the quick brown fox jumps over the lazy dog", "en"))
          .toDF("doc_id", "text", "lang"),
        graft.ops.NgramLm.train(ref))
      .select("xent_micronats").head().getLong(0)
    assert(landed.count(x => x._1 == 1L) == 2)
    assert(landed.filter(_._1 == 1L).forall(_._3 == single),
      "each duplicate row must carry the single-doc score, not a merged one")
    // of the two-lang pair, only the en row survives, with its own score
    assert(landed.filter(_._1 == 2L).map(_._2).toSeq == Seq("en"))
    assert(landed.filter(_._1 == 2L).head._3 == single)
  }

  test("dsir gate: frozen-histogram scoring admits target-like docs, rejects source-like; stream ≡ batch twin, exact integers") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-dsir").toString
    val landing = root + "/corpus"
    // target slice speaks alpha/beta/gamma; source pool delta/epsilon/zeta
    val corpus = ((0L until 20L).map(i =>
        (i, "alpha beta gamma alpha beta gamma alpha", "tgt")) ++
      (20L until 40L).map(i =>
        (i, "delta epsilon zeta delta epsilon zeta delta", "src")))
      .toDF("doc_id", "text", "source")
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDsir(
      in.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-dsir-ck").toString,
      corpus, org.apache.spark.sql.functions.col("source") === "tgt", minLogwMicronats = 1L)
    try {
      in.addData(
        (100L, "alpha beta gamma alpha"),          // target-like: positive logw
        (101L, "delta epsilon zeta delta"),        // source-like: negative
        (102L, ""),                                // empty: logw exactly 0 < 1
        (103L, null.asInstanceOf[String]))         // NULL text = empty doc
      q.processAllAvailable()
      in.addData((104L, "gamma beta alpha gamma")) // target-like, batch 2
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(landing)
    assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(100L, 104L),
      "only target-likelier docs may land; source-like and zero-weight docs are rejected")
    // landed scores equal the batch twin's (same frozen model, exact integers)
    val model = graft.ops.Dsir.train(corpus, org.apache.spark.sql.functions.col("source") === "tgt")
    val twin = graft.ops.Dsir.withScores(
        Seq((100L, "alpha beta gamma alpha"), (104L, "gamma beta alpha gamma"))
          .toDF("doc_id", "text"), model)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val got = landed.select("doc_id", "n_grams", "logw_micronats", "selected")
      .collect()
    assert(got.length == 2)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == twin(r.getLong(0)),
        s"score drift on doc ${r.getLong(0)}")
      assert(r.getLong(2) > 0 && r.getLong(3) == 1L)
    }
  }

  test("dsir gate: refuses streams carrying its score columns; the default strict threshold rejects empty docs, explicit 0 admits them") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-dsir0").toString
    val corpus = Seq((0L, "alpha beta", "tgt"), (1L, "delta zeta", "src"))
      .toDF("doc_id", "text", "source")
    for (c <- Seq("n_grams", "logw_micronats", "selected")) {
      val in = MemoryStream[(Long, String, Long)]
      assert(intercept[IllegalArgumentException] {
        EventStreams.ingestDsir(in.toDF().toDF("doc_id", "text", c),
          root + s"/c-$c", root + s"/ck-$c", corpus, org.apache.spark.sql.functions.col("source") === "tgt")
      }.getMessage.contains(c))
    }
    // the DEFAULT threshold (1 micro-nat) is the paper's strict
    // w > 1 rule: an empty doc scores logw exactly 0 and is REJECTED —
    // the landed corpus never contradicts its own selected column
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDsir(
      in.toDF().toDF("doc_id", "text"), root + "/corpus",
      java.nio.file.Files.createTempDirectory("graft-dsir0-ck").toString,
      corpus, org.apache.spark.sql.functions.col("source") === "tgt")
    try {
      in.addData((10L, ""), (11L, "delta zeta delta"),
        (12L, "alpha beta alpha"))
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(root + "/corpus")
      .select("doc_id", "logw_micronats", "selected").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(landed.map(_._1).toSeq == Seq(12L),
      "default threshold rejects weight-<=1 docs (incl. empties); target-like lands")
    assert(landed.head._2 > 0L && landed.head._3 == 1L)
    // explicit 0 opts back into admitting weight-exactly-1 docs
    val in0 = MemoryStream[(Long, String)]
    val q0 = EventStreams.ingestDsir(
      in0.toDF().toDF("doc_id", "text"), root + "/corpus0",
      java.nio.file.Files.createTempDirectory("graft-dsir00-ck").toString,
      corpus, org.apache.spark.sql.functions.col("source") === "tgt",
      minLogwMicronats = 0L)
    try {
      in0.addData((20L, ""), (21L, "delta zeta delta"))
      q0.processAllAvailable()
    } finally q0.stop()
    val landed0 = spark.read.parquet(root + "/corpus0")
      .select("doc_id", "logw_micronats", "selected").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(landed0.map(_._1).toSeq == Seq(20L),
      "explicit 0 admits the empty doc (logw exactly 0); source-like still rejected")
    assert(landed0.head._2 == 0L && landed0.head._3 == 0L,
      "weight-0 docs land with selected=0 — admitted by threshold, not target-likelier")
  }

  test("decontaminate gate: landed-benchmark probe across batches; clean batch reads the landed set ZERO times; stream ≡ batch twin") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-decon-st").toString
    val benchDir = root + "/bench"
    graft.ops.Decontaminate.landBenchmark(
      Seq((0L, "leaked eval question alpha beta gamma")).toDF("doc_id", "text"),
      benchDir)
    val landing = root + "/corpus"
    // counts executions whose plan scans the landed benchmark files —
    // the clean batch must contribute ZERO (bloom-negative is
    // definitive absence; the confirm path never runs)
    val benchReads = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def touchesBench(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.analyzed.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains(benchDir))
              case _ => false
            }
        }.exists(identity)
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (touchesBench(qe)) benchReads.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDecontaminate(
      in.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-decon-ck").toString,
      benchDir)
    try {
      // batch 0: one contaminated doc (shares 'leaked eval question'
      // and more), one clean — the confirm path legitimately reads
      // the benchmark here
      in.addData(
        (100L, "prefix leaked eval question alpha suffix"),
        (101L, "totally unrelated training text here"))
      q.processAllAvailable()
      // only NOW start counting: batch 1 is all clean and must read
      // the landed set zero times
      spark.listenerManager.register(listener)
      in.addData((102L, "more unrelated words entirely"), (103L, ""))
      q.processAllAvailable()
      Thread.sleep(1500) // quiesce the async listener bus
      assert(benchReads.get() == 0,
        s"clean batch read the landed benchmark ${benchReads.get()} time(s)")
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
    }
    val landed = spark.read.parquet(landing)
    assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(101L, 102L, 103L),
      "contaminated docs are rejected; clean (incl. empty) docs land")
    // landed report columns equal the batch twin's
    val twin = graft.ops.Decontaminate.probe(
        Seq((101L, "totally unrelated training text here"),
            (102L, "more unrelated words entirely"), (103L, ""))
          .toDF("doc_id", "text"), benchDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    landed.select("doc_id", "n_shared", "clean").collect().foreach { r =>
      assert((r.getLong(1), r.getLong(2)) == twin(r.getLong(0)),
        s"report drift on doc ${r.getLong(0)}")
    }
  }

  test("decontaminate gate: threshold admits lightly-shared docs; reserved columns and a missing artifact refuse at start") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-decon-th").toString
    val benchDir = root + "/bench"
    graft.ops.Decontaminate.landBenchmark(
      Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text"), benchDir)
    // threshold 1: a doc sharing exactly one gram is admitted WITH its count
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDecontaminate(
      in.toDF().toDF("doc_id", "text"), root + "/corpus",
      java.nio.file.Files.createTempDirectory("graft-decon-th-ck").toString,
      benchDir, maxSharedGrams = 1L)
    try {
      in.addData(
        (1L, "x alpha beta gamma y"),        // shares 'alpha beta gamma' only
        (2L, "alpha beta gamma delta"))      // shares 2 grams: over threshold
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(root + "/corpus")
      .select("doc_id", "n_shared", "clean").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(landed.toSeq == Seq((1L, 1L, 0L)),
      "exactly the one-shared-gram doc lands, marked not-clean")
    // reserved report columns refuse at start
    for (c <- Seq("n_shared", "clean")) {
      val inR = MemoryStream[(Long, String, Long)]
      assert(intercept[IllegalArgumentException] {
        EventStreams.ingestDecontaminate(inR.toDF().toDF("doc_id", "text", c),
          root + s"/c-$c", root + s"/ck-$c", benchDir)
      }.getMessage.contains(c))
    }
    // a missing artifact fails the start loudly (a gate with no
    // benchmark gates nothing)
    val inM = MemoryStream[(Long, String)]
    intercept[java.io.FileNotFoundException] {
      EventStreams.ingestDecontaminate(inM.toDF().toDF("doc_id", "text"),
        root + "/corpus2", root + "/ck2", root + "/nowhere")
    }
  }

  test("cross-JVM writer lock: a clean stop releases only a lock still naming THIS pid") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-xrel").toString
    val landing = root + "/corpus"
    val lockFile = java.nio.file.Paths.get(root, ".ingest-writer-lock-corpus")
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(in.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-xrel-ck").toString)
    try { in.addData((1L, "alpha")); q.processAllAvailable() } finally {
      // simulate a cross-JVM takeover while our stream idles: the
      // file now names the NEW owner (pid 1) — our clean stop's late
      // release must leave it alone
      java.nio.file.Files.write(lockFile, "1".getBytes("UTF-8"))
      q.stop()
    }
    Thread.sleep(2000) // give the async termination listener its chance to misbehave
    assert(java.nio.file.Files.exists(lockFile) &&
      new String(java.nio.file.Files.readAllBytes(lockFile), "UTF-8").trim == "1",
      "a late release clobbered the new owner's lock")
    java.nio.file.Files.delete(lockFile)
  }

  test("single-writer guard: a second ingest stream on one landing dir is refused while the first is active") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-guard").toString + "/corpus"
    val in1 = MemoryStream[(Long, String)]
    val q1 = EventStreams.ingestDedup(in1.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-guard-ck1").toString)
    try {
      in1.addData((1L, "alpha")); q1.processAllAvailable()
      val in2 = MemoryStream[(Long, String)]
      val err = intercept[IllegalStateException] {
        EventStreams.ingestNearDup(in2.toDF().toDF("doc_id", "text"), landing,
          java.nio.file.Files.createTempDirectory("graft-guard-ck2").toString)
      }
      assert(err.getMessage.contains(landing))
    } finally q1.stop()
    // after the first stream stops, its registration is stale and a
    // new stream takes the landing over
    val in3 = MemoryStream[(Long, String)]
    val q3 = EventStreams.ingestDedup(in3.toDF().toDF("doc_id", "text"), landing,
      java.nio.file.Files.createTempDirectory("graft-guard-ck3").toString)
    try {
      in3.addData((2L, "beta"), (3L, "alpha")); q3.processAllAvailable()
      val landed = spark.read.parquet(landing)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(landed == Seq((1L, "alpha"), (2L, "beta")))
    } finally q3.stop()
  }

  test("ingestPipeline: exact + near-dup composed in one foreachBatch, one landing") {
    // The production ingest shape (round-13 verdict item 8): both
    // dedup stages against one growing landing dir, survivors landing
    // WITH signatures so the corpus is simultaneously exact-dedup
    // state (text) and near-dup state (mh1..mh4).
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val textA = ("the quick brown fox jumps over the lazy dog again and " * 6).trim
    val textB = ("zebra quartz violin xylophone kumquat jackal wombat nectar " * 6).trim
    val textC = ("glacier basalt fjord tundra lichen moraine permafrost drift " * 6).trim
    val landing = java.nio.file.Files.createTempDirectory("graft-pipe-landing").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pipe-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestPipeline(
      input.toDF().toDF("doc_id", "text"), landing, ckpt)
    try {
      // batch 1: 2 is an in-batch EXACT dup of 1; 3 is an in-batch
      // NEAR dup of 1 (tail edit); 4 is genuinely different
      input.addData((1L, textA), (2L, textA),
                    (3L, textA + " tiny tail edit"), (4L, textB))
      q.processAllAvailable()
      // batch 2: 5 is a cross-batch EXACT dup (stops at the cheap
      // stage); 6 a cross-batch NEAR dup of 4; 7 is new
      input.addData((5L, textA), (6L, "prefix tweak " + textB), (7L, textC))
      q.processAllAvailable()
      // batch 3: nothing genuinely new — appends nothing
      input.addData((8L, textC + " postscript"), (9L, textB))
      q.processAllAvailable()
      val landed = spark.read.parquet(landing)
      assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
               == Seq(1L, 4L, 7L))
      // survivors land with their signature columns (near-dup state)
      assert(Seq("mh1", "mh2", "mh3", "mh4").forall(landed.columns.contains))
      // and the carried landed count tracked every append exactly
      assert(opened(landing).landed.get() == 3L)
    } finally q.stop()
  }

  // ---------- semantic ingest (embedding-space dedup) ----------

  private val semVecA = Seq.tabulate(32)(d => math.sin(d * 1.7 + 1))
  private val semVecB = Seq.tabulate(32)(d => math.cos(d * 2.3 + 5))
  private val semVecC = Seq.tabulate(32)(d => math.sin(d * 0.9 + 11) - 0.3)

  test("ingestSemantic: semantically-equivalent reposts never re-enter the corpus") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-sem").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sem-ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.ingestSemantic(
      input.toDF().toDF("doc_id", "embedding"), landing, ckpt, tau = 0.9)
    try {
      // batch 1: 2 is an exact vector copy of 1 — the in-batch keeper
      // drops it; 3 is a genuinely different direction
      input.addData((1L, semVecA), (2L, semVecA), (3L, semVecB))
      q.processAllAvailable()
      // batch 2: 4 is a SCALED copy of vec 1 (cosine 1, same band
      // codes) — dropped against the LANDED corpus; 5 is new
      input.addData((4L, semVecA.map(_ * 2)), (5L, semVecC))
      q.processAllAvailable()
      // batch 3: re-sends of both landed directions — both drop
      input.addData((6L, semVecB.map(_ * 0.5)), (7L, semVecC))
      q.processAllAvailable()
      val landed = spark.read.parquet(landing)
      assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
               == Seq(1L, 3L, 5L))
      // the landed corpus carries its band-code columns — the state
      // that lets later batches find candidates from a one-int-per-
      // band scan instead of recomputing hyperplane codes
      assert(Seq("sb0", "sb1").forall(landed.columns.contains))
    } finally q.stop()
  }

  test("carried sem buckets: clean ingestSemantic batches never touch the landing") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-csb").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-csb-ckpt").toString
    val counter = new LandingTouchCounter(landing)
    spark.listenerManager.register(counter.listener)
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.ingestSemantic(
      input.toDF().toDF("doc_id", "embedding"), landing, ckpt, tau = 0.9)
    try {
      // batch 1 seeds the bucket carry from its own append
      input.addData((1L, semVecA)); q.processAllAvailable()
      counter.armed.set(true)
      // batches 2-3: new directions — if every band bucket probes
      // bloom-negative the landing must never be read (hyperplane
      // codes CAN collide at 8 bits; a collision costs one legitimate
      // confirm read, so only assert when the probe was clean)
      input.addData((2L, semVecB)); q.processAllAvailable()
      input.addData((3L, semVecC)); q.processAllAvailable()
      Thread.sleep(1500) // quiesce the async listener bus
      counter.armed.set(false)
      assert(counter.touches.get() == 0,
        s"clean semantic batches touched the landing ${counter.touches.get()} times")
      assert(opened(landing).carry("sem").isDefined, "sem bucket carry missing")
      // and the carry still DEDUPS: a scaled repost is a candidate,
      // cosine-confirmed against the landing (legitimate read, after
      // disarm), and dropped
      input.addData((4L, semVecA.map(_ * 3))); q.processAllAvailable()
      val ids = spark.read.parquet(landing).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally {
      q.stop()
      spark.listenerManager.unregister(counter.listener)
    }
  }

  test("ingestSemantic crash-retry self-heal: a leftover coded row absorbs its own retry") {
    // Same contract as the text stages: a crashed attempt's committed
    // task file carries the row WITH its sb* band codes (codes ride
    // the same append), so the retry's fold-invalidated carry reseeds
    // from the landing — leftover included — and the retried vector
    // collides with its own landed copy at cosine 1 >= tau.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-crash-sem").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-crash-sem-ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.ingestSemantic(
      input.toDF().toDF("doc_id", "embedding"), landing, ckpt, tau = 0.9)
    try {
      input.addData((1L, semVecA)); q.processAllAvailable()
      // crashed attempt of batch 2 committed doc 3 with its codes
      graft.ops.SemanticIncremental.withCodes(
          Seq((3L, semVecB)).toDF("doc_id", "embedding"))
        .coalesce(1).write.mode("append").parquet(landing)
      // retry: 3 again, a scaled copy of 3, and one genuinely new
      input.addData((3L, semVecB), (4L, semVecB.map(_ * 2)), (5L, semVecC))
      q.processAllAvailable()
      val landed = spark.read.parquet(landing).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(landed == Seq(1L, 3L, 5L),
        s"retry must absorb into exactly-once, got $landed")
    } finally q.stop()
  }

  test("ingestPipeline full: exact, near, and semantic stages compose on one landing") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-full").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-full-ckpt").toString
    val textA = ("the quick brown fox jumps over the lazy dog again and " * 6).trim
    val textB = ("zebra quartz violin xylophone kumquat jackal wombat nectar " * 6).trim
    val textC = ("glacier basalt fjord tundra lichen moraine permafrost drift " * 6).trim
    val textD = ("ember copper sodium helium argon krypton xenon radon signal " * 6).trim
    val input = MemoryStream[(Long, String, Seq[Double])]
    val q = EventStreams.ingestPipeline(
      input.toDF().toDF("doc_id", "text", "embedding"), landing, ckpt,
      semantic = Some(EventStreams.SemanticStage(tau = 0.9)))
    try {
      // batch 1 (all in-batch keepers): 2 = exact text copy of 1;
      // 3 = edited text of 1 (near); 4 = UNRELATED text but a scaled
      // copy of 1's embedding — only the semantic keeper catches it;
      // 5 is genuinely new on both axes
      input.addData(
        (1L, textA, semVecA),
        (2L, textA, semVecC),
        (3L, textA + " tiny tail edit", semVecC),
        (4L, textD, semVecA.map(_ * 2)),
        (5L, textB, semVecB))
      q.processAllAvailable()
      // batch 2 (all cross-batch confirms): 6 exact repost, 7 near
      // repost, 8 = fresh text + scaled landed embedding (the
      // paraphrase case — only the semantic confirm drops it),
      // 9 genuinely new. 6/7 get their own distinct directions —
      // sharing 9's vector would make 9 an in-batch keeper victim
      // of a doc that itself dies in the exact confirm (the greedy
      // trade the keeper documents)
      val vE = Seq.tabulate(32)(d => math.sin(d * 2.9 + 3))
      val vF = Seq.tabulate(32)(d => math.cos(d * 1.3 + 7))
      input.addData(
        (6L, textA, vE),
        (7L, "prefix tweak " + textB, vF),
        (8L, ("maple walnut cedar birch aspen willow poplar rowan alder " * 6).trim,
          semVecB.map(_ * 0.5)),
        (9L, textC, semVecC))
      q.processAllAvailable()
      val landed = spark.read.parquet(landing)
      assert(landed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
               == Seq(1L, 5L, 9L))
      // one landing carries ALL THREE stages' state columns
      assert(Seq("mh1", "mh2", "mh3", "mh4", "sb0", "sb1")
        .forall(landed.columns.contains))
    } finally q.stop()
  }

  test("folded carries equal a rebuild over the landing, for every stage") {
    // Each carry is seeded from batch 1's append, then FOLDED with
    // every later append's observed bloom. A fold that missed or
    // mis-keyed an append would leave the blob short of landed keys
    // (admitting duplicates). Rebuilt here from the landed columns
    // with the same NULL-gated keys at the carry's bits, unioned
    // across keys, each stage's blob must be byte-identical.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val landing = java.nio.file.Files.createTempDirectory("graft-fold").toString + "/corpus"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fold-ckpt").toString
    // disjoint token sets and distinct directions: every row is fresh
    def doc(i: Long) = (i, (0 until 40).map(j => s"w${i}t$j").mkString(" "),
      Seq.tabulate(32)(d => math.sin(d * (1.1 + 0.37 * i) + i)))
    val input = MemoryStream[(Long, String, Seq[Double])]
    val q = EventStreams.ingestPipeline(
      input.toDF().toDF("doc_id", "text", "embedding"), landing, ckpt,
      semantic = Some(EventStreams.SemanticStage(tau = 0.9)))
    // the carries die with the stream: read them while it runs
    val carries = try {
      for (b <- 0L until 3L) {
        input.addData((1L to 4L).map(j => doc(b * 4 + j)): _*)
        q.processAllAvailable()
      }
      opened(landing).carries
    } finally q.stop()
    val landed = spark.read.parquet(landing)
    assert(landed.count() == 12L, "fixture rows must all be fresh")
    val stageKeys = Seq(
      "exact" -> Seq(when(col("text").isNotNull, xxhash64(col("text")))),
      "near" -> Seq((1, "mh1", "mh2"), (2, "mh3", "mh4")).map { case (band, x, y) =>
        when(col(x).isNotNull && col(y).isNotNull, xxhash64(lit(band), col(x), col(y)))
      },
      "sem" -> (0 until 2).map(t =>
        when(col(s"sb$t").isNotNull, xxhash64(lit(t), col(s"sb$t")))))
    for ((stage, keys) <- stageKeys) {
      val carry = carries.getOrElse(stage, fail(s"$stage carry missing after 3 batches"))
      // seeded once from batch 1's 4 rows (capacity 4×4): a reseed
      // would have sized for the larger landing, and would not be a fold
      assert(carry.capacity == 16L, s"$stage carry was reseeded, not folded")
      val rebuilt = keys.map(k => landed
          .agg(call_function("bloom_agg", k, lit(carry.bits),
            lit(graft.ops.DedupStage.ProbeHashes)))
          .collect()(0).getAs[Array[Byte]](0))
        .reduce(graft.ops.DedupStage.unionBloom)
      assert(java.util.Arrays.equals(carry.blob, rebuilt),
        s"$stage carry differs from a bloom rebuilt over the landing")
    }
  }

  test("ingestIndex: streamed vector drops keep the persisted IVF-PQ index searchable") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = all.selectExpr("vec_id", "CAST(embedding AS array<double>)")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    val (first, second) = rows.partition(_._1 < 300)
    val dirS = java.nio.file.Files.createTempDirectory("graft-idx-stream").toString + "/index"
    val dirOne = java.nio.file.Files.createTempDirectory("graft-idx-one").toString + "/index"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idx-ckpt").toString
    // a crashed PREVIOUS attempt of batch 0 left partial output — the
    // retry of the same batch id must overwrite it wholesale (the
    // exactly-once property plain append cannot give)
    Seq((999999L, 0, 0, 0, 0)).toDF("vec_id", "code_0", "code_1", "code_2", "code_3")
      .write.parquet(dirS + "/batch=0/centroid=0")
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.ingestIndex(input.toDF().toDF("vec_id", "embedding"),
      dirS, ckpt, trainingSource = all, coarseK = 16, m = 4, ksub = 16)
    try {
      input.addData(first: _*); q.processAllAvailable()
      input.addData(second: _*); q.processAllAvailable()
    } finally q.stop()
    // two batch partitions landed; the crashed attempt's row is gone
    assert(new java.io.File(dirS, "batch=0").isDirectory)
    assert(new java.io.File(dirS, "batch=1").isDirectory)
    val ids = spark.read.parquet(dirS).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(999999L), "crashed attempt's partial output survived")
    assert(ids == rows.map(_._1).toSet)
    // search over the streamed layout ≡ search over a one-shot index
    graft.ops.IvfPqIndex.land(all, dirOne, coarseK = 16, m = 4, ksub = 16)
    def key(dir: String) = graft.ops.IvfPqIndex.search(spark, dir, all,
        probeIds = Seq(123L, 401L), coarseK = 16, m = 4, ksub = 16,
        nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(key(dirS) == key(dirOne) && key(dirS).nonEmpty)
  }

  test("ingestSemantic: upfront refusals and the landed-bands contract") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-semg").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val docs = input.toDF().toDF("doc_id", "embedding")
    // refusals at stream START, not in the first micro-batch
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestSemantic(docs, base + "/a", base + "/cka", tau = 1.5)
    }.getMessage.contains("tau"))
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestSemantic(docs.withColumnRenamed("embedding", "vec"),
        base + "/b", base + "/ckb")
    }.getMessage.contains("embedding"))
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestSemantic(
        docs.withColumn("sb0", org.apache.spark.sql.functions.lit(1)),
        base + "/c", base + "/ckc")
    }.getMessage.contains("sb0"))
    // a landing written with bands=2 refuses a bands=1 restart (the
    // landed sb1 column would be stranded) and vice versa is caught
    // by the missing-column direction
    val landing = base + "/corpus"
    val q = EventStreams.ingestSemantic(docs, landing, base + "/ck1", bands = 2)
    try { input.addData((1L, semVecA)); q.processAllAvailable() } finally q.stop()
    val input2 = MemoryStream[(Long, Seq[Double])]
    val q2 = EventStreams.ingestSemantic(
      input2.toDF().toDF("doc_id", "embedding"), landing, base + "/ck2", bands = 1)
    try {
      input2.addData((2L, semVecB))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(err.getMessage.contains("sb1"), s"wrong failure: ${err.getMessage}")
    } finally q2.stop()
  }

  test("ingest entries refuse reserved dedup-state column names in the stream schema") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-resv").toString
    val input = MemoryStream[(Long, String, Long)]
    // mh1 in the stream would be OVERWRITTEN by withSigs (near modes)
    // or land as user data that a near-mode restart would read back as
    // a signature (exact mode) — every entry refuses it up front
    val withMh = input.toDF().toDF("doc_id", "text", "mh1")
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestNearDup(withMh, base + "/a", base + "/cka")
    }.getMessage.contains("mh1"))
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestDedup(withMh, base + "/b", base + "/ckb")
    }.getMessage.contains("mh1"))
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestPipeline(withMh, base + "/c", base + "/ckc")
    }.getMessage.contains("mh1"))
    // internal working columns are reserved too (added-then-dropped by
    // the stages — a same-named stream column would vanish)
    val withSig = input.toDF().toDF("doc_id", "text", "sig")
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestNearDup(withSig, base + "/d", base + "/ckd")
    }.getMessage.contains("sig"))
    val withProbe = input.toDF().toDF("doc_id", "text", "maybe_dup")
    assert(intercept[IllegalArgumentException] {
      EventStreams.ingestDedup(withProbe, base + "/e", base + "/cke")
    }.getMessage.contains("maybe_dup"))
    // the quality gate lands score columns alongside the stream's own:
    // a stream already carrying one would die with an ambiguous
    // reference on every micro-batch instead of refusing at start
    val ref = Seq((100L, "clean reference text", "en")).toDF("doc_id", "text", "lang")
    for (c <- Seq("n_pos", "xent_micronats", "xent_micronats_per_pos", "xent_per_token")) {
      val inQ = MemoryStream[(Long, String, String, Long)]
      val withScore = inQ.toDF().toDF("doc_id", "text", "lang", c)
      assert(intercept[IllegalArgumentException] {
        EventStreams.ingestQuality(withScore, base + s"/q-$c", base + s"/ckq-$c",
          ref, maxXentPerToken = 10.0)
      }.getMessage.contains(c))
    }
  }

  test("a narrower ingest mode refuses a landing carrying a richer mode's state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-modes").toString
    val textA = ("the quick brown fox jumps over the lazy dog again and " * 6).trim

    // near landing (mh1..mh4 landed) → ingestDedup restart must refuse:
    // its appends would land NULL signatures that a later near-mode
    // restart silently exempts from near-dup forever
    val landing = base + "/near"
    val in1 = MemoryStream[(Long, String)]
    val q1 = EventStreams.ingestNearDup(
      in1.toDF().toDF("doc_id", "text"), landing, base + "/ck1")
    try { in1.addData((1L, textA)); q1.processAllAvailable() } finally q1.stop()
    val in2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.ingestDedup(
      in2.toDF().toDF("doc_id", "text"), landing, base + "/ck2")
    try {
      in2.addData((2L, "something new"))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(err.getMessage.contains("dedup-state column"),
        s"wrong failure: ${err.getMessage}")
      // nothing appended — the landing still holds exactly batch 1
      assert(spark.read.parquet(landing).count() == 1L)
    } finally q2.stop()

    // semantic landing (sb* landed) → ingestNearDup restart refused too
    val semLanding = base + "/sem"
    val in3 = MemoryStream[(Long, String, Seq[Double])]
    val q3 = EventStreams.ingestSemantic(
      in3.toDF().toDF("doc_id", "text", "embedding"), semLanding, base + "/ck3")
    try { in3.addData((1L, textA, semVecA)); q3.processAllAvailable() } finally q3.stop()
    val in4 = MemoryStream[(Long, String)]
    val q4 = EventStreams.ingestNearDup(
      in4.toDF().toDF("doc_id", "text"), semLanding, base + "/ck4")
    try {
      in4.addData((2L, "another text"))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q4.processAllAvailable()
      }
      assert(err.getMessage.contains("sb0"), s"wrong failure: ${err.getMessage}")
    } finally q4.stop()
  }

  test("exact gate: a confirmed duplicate arriving with a NULL doc_id is dropped (text-keyed confirm)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-nulliddup").toString
    val landing = base + "/corpus"
    val input = MemoryStream[(Option[Long], String)]
    val q = EventStreams.ingestDedup(
      input.toDF().toDF("doc_id", "text"), landing, base + "/ck")
    try {
      input.addData((Some(1L), "alpha bravo"), (Some(2L), "charlie delta"))
      q.processAllAvailable()
      // a cross-batch duplicate text with a NULL id must be dropped —
      // an idCol-keyed anti-join keeps every null-id row (null never
      // equals null) and would land duplicate text, breaking the
      // landed-texts-unique invariant; a null-id NEW text still lands
      input.addData((None, "alpha bravo"), (None, "echo foxtrot"))
      q.processAllAvailable()
      val landed = spark.read.parquet(landing).select("text")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(landed == Seq("alpha bravo", "charlie delta", "echo foxtrot"))
    } finally q.stop()
  }

  test("null texts and null vectors have no bloom identity: clean null-bearing batches stay landing-free") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-nullid").toString
    val textB = ("zebra quartz violin xylophone kumquat jackal wombat nectar " * 6).trim

    // exact mode: a landed null-text row must NOT poison the carried
    // bloom (xxhash64 skips null args, so ungated hashing would give
    // every null text ONE fixed key → every later null-bearing batch
    // probes positive and pays a landing read)
    val landing = base + "/corpus"
    val counter = new LandingTouchCounter(landing)
    spark.listenerManager.register(counter.listener)
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedup(
      input.toDF().toDF("doc_id", "text"), landing, base + "/ck")
    try {
      // batch 1 lands a null text (admitted: null has no exact
      // identity) and a real one; seeds the carry
      input.addData((1L, null.asInstanceOf[String]), (2L, "alpha"))
      q.processAllAvailable()
      counter.armed.set(true)
      // batch 2 carries another null text + a genuinely-new text —
      // must probe bloom-negative throughout and never read the landing
      input.addData((3L, null.asInstanceOf[String]), (4L, textB))
      q.processAllAvailable()
      Thread.sleep(1500) // quiesce the async listener bus
      counter.armed.set(false)
      assert(counter.touches.get() == 0,
        s"null-bearing clean batch touched the landing ${counter.touches.get()} times")
      // null texts are admitted every batch (never confirmable equal)
      assert(spark.read.parquet(landing).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally {
      q.stop()
      spark.listenerManager.unregister(counter.listener)
    }

    // semantic mode: same property for null vectors (null codes)
    val semLanding = base + "/sem"
    val semCounter = new LandingTouchCounter(semLanding)
    spark.listenerManager.register(semCounter.listener)
    val in2 = MemoryStream[(Long, Seq[Double])]
    val q2 = EventStreams.ingestSemantic(
      in2.toDF().toDF("doc_id", "embedding"), semLanding, base + "/ck2")
    try {
      in2.addData((1L, null.asInstanceOf[Seq[Double]]), (2L, semVecA))
      q2.processAllAvailable()
      semCounter.armed.set(true)
      in2.addData((3L, null.asInstanceOf[Seq[Double]]), (4L, semVecB))
      q2.processAllAvailable()
      Thread.sleep(1500)
      semCounter.armed.set(false)
      assert(semCounter.touches.get() == 0,
        s"null-vector clean batch touched the landing ${semCounter.touches.get()} times")
      assert(spark.read.parquet(semLanding).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally {
      q2.stop()
      spark.listenerManager.unregister(semCounter.listener)
    }
  }

  test("frozen-state release: a terminated gate's cached confirm set and checkpointed LM leave executor storage (r17 #7)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sc = spark.sparkContext
    def storedIds(): Set[Int] =
      sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0).map(_.id).toSet ++
        sc.getPersistentRDDs.keySet
    def awaitReleased(before: Set[Int], what: String): Unit = {
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      var extra = storedIds() -- before
      while (extra.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(200); extra = storedIds() -- before
      }
      assert(extra.isEmpty,
        s"$what left cached RDDs ${extra.mkString(",")} after termination")
    }
    val root = java.nio.file.Files.createTempDirectory("graft-frz").toString
    // --- decontaminate gate: the pinned confirm-set cache ---
    val benchDir = root + "/bench"
    graft.ops.Decontaminate.landBenchmark(
      Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text"), benchDir)
    val before1 = storedIds()
    val in1 = MemoryStream[(Long, String)]
    val q1 = EventStreams.ingestDecontaminate(
      in1.toDF().toDF("doc_id", "text"), root + "/c1", root + "/ck1", benchDir)
    try {
      assert((storedIds() -- before1).nonEmpty,
        "the confirm set should be cached (materialized by the regime count) while the gate runs")
      in1.addData((1L, "unrelated text entirely")); q1.processAllAvailable()
    } finally q1.stop()
    awaitReleased(before1, "ingestDecontaminate")
    // --- quality gate: the localCheckpoint'd LM (blocks live OUTSIDE
    // the cache manager — plain Dataset.unpersist would leak them) ---
    val ref = (0L until 10L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog", "en"))
      .toDF("doc_id", "text", "lang")
    val before2 = storedIds()
    val in2 = MemoryStream[(Long, String, String)]
    val q2 = EventStreams.ingestQuality(
      in2.toDF().toDF("doc_id", "text", "lang"), root + "/c2", root + "/ck2",
      ref, maxXentPerToken = 2.0)
    try {
      assert((storedIds() -- before2).nonEmpty,
        "the trained LM should hold checkpoint blocks while the gate runs")
      in2.addData((1L, "the quick brown fox", "en")); q2.processAllAvailable()
    } finally q2.stop()
    awaitReleased(before2, "ingestQuality")
  }

  test("a gate whose start fails inside the guard leaves no writer slot or lock file; the landing restarts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-gatefail").toString
    val landing = root + "/corpus"
    val lockFile = java.nio.file.Paths.get(root, ".ingest-writer-lock-corpus")
    def assertReleased(what: String): Unit = {
      assert(LandingGuard.active(spark, landing).isEmpty,
        s"$what: a failed start left the single-writer slot held")
      assert(!java.nio.file.Files.exists(lockFile),
        s"$what: a failed start left the writer lock file")
    }
    // decontaminate: the benchmark artifact is missing
    val inD = MemoryStream[(Long, String)]
    intercept[java.io.FileNotFoundException] {
      EventStreams.ingestDecontaminate(inD.toDF().toDF("doc_id", "text"),
        landing, root + "/ck-d", root + "/nowhere")
    }
    assertReleased("ingestDecontaminate")
    // quality: the reference lacks its language column, so training fails
    val noLang = Seq((0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val inQ = MemoryStream[(Long, String, String)]
    intercept[Exception] {
      EventStreams.ingestQuality(inQ.toDF().toDF("doc_id", "text", "lang"),
        landing, root + "/ck-q", noLang, maxXentPerToken = 2.0)
    }
    assertReleased("ingestQuality")
    // the landing is free: a correct start on it runs
    val ref = (0L until 10L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog", "en"))
      .toDF("doc_id", "text", "lang")
    val in = MemoryStream[(Long, String, String)]
    val q = EventStreams.ingestQuality(in.toDF().toDF("doc_id", "text", "lang"),
      landing, root + "/ck-ok", ref, maxXentPerToken = 2.0)
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog", "en"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(landing).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("termination registry: cleanups registered after termination run once, at registration") {
    // A stream can terminate before its start path registers what its
    // termination must release; the registration itself then runs it.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Long]
    val q = input.toDF().writeStream.format("noop").start()
    q.stop(); q.awaitTermination()
    val landing = java.nio.file.Files.createTempDirectory("graft-term").toString + "/corpus"
    val handle = LandingGuard.open(spark, landing)
    val runs = List.fill(3)(new java.util.concurrent.atomic.AtomicInteger())
    handle.startStream { release =>
      runs.foreach(c => release(() => { c.incrementAndGet(); () }))
      q
    }
    assert(runs.map(_.get) == List(1, 1, 1), "each cleanup must run once, at registration")
    assert(LandingGuard.active(spark, landing).isEmpty, "the ended run still holds the slot")
    handle.close() // a later termination event for the run
    assert(runs.map(_.get) == List(1, 1, 1), "a later termination event must run none")
  }

  test("landing release: a stopped stream's handle, carries and count are released; a restart reseeds once and still dedups") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-release").toString
    val landing = root + "/corpus"
    val in1 = MemoryStream[(Long, String)]
    val q1 = EventStreams.ingestPipeline(in1.toDF().toDF("doc_id", "text"), landing, root + "/ck1")
    val handle = try {
      in1.addData((1L, "alpha"), (2L, "beta")); q1.processAllAvailable()
      in1.addData((3L, "gamma")); q1.processAllAvailable()
      val h = opened(landing)
      assert(h.carries.keySet == Set("exact", "near") && h.landed.get() == 3L)
      h
    } finally q1.stop()
    // termination is observed asynchronously — poll, as for the lock
    def released = LandingGuard.active(spark, landing).isEmpty &&
      handle.carries.isEmpty && handle.landed.get() == -1L
    val deadline = System.currentTimeMillis() + 15000
    while (!released && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(LandingGuard.active(spark, landing).isEmpty, "the registry still holds the stopped stream")
    assert(handle.carries.isEmpty, "the stopped stream's carries survived it")
    assert(handle.landed.get() == -1L, "the stopped stream's landed count survived it")
    // a second stream reseeds every stage's carry ONCE (one bloom
    // build over the landing per stage) and still drops a cross-batch
    // duplicate on both batches
    val bloomScans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def touchesLanding(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.analyzed.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains(landing))
              case _ => false
            }
        }.exists(identity)
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "collect" && qe.analyzed.toString.contains("bloom_agg") &&
            touchesLanding(qe))
          bloomScans.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val in2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.ingestPipeline(in2.toDF().toDF("doc_id", "text"), landing, root + "/ck2")
    try {
      in2.addData((10L, "alpha"), (11L, "delta")); q2.processAllAvailable()
      in2.addData((12L, "delta"), (13L, "epsilon")); q2.processAllAvailable()
      Thread.sleep(1500) // quiesce the async listener bus
      assert(bloomScans.get() == 2, s"expected one reseed per stage, got ${bloomScans.get()} builds")
      val landed = spark.read.parquet(landing).select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(landed == Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
                           (11L, "delta"), (13L, "epsilon")))
    } finally {
      q2.stop()
      spark.listenerManager.unregister(listener)
    }
  }
}
