package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (cross-batch) exact dedup: which documents of an
  * incoming batch are new against an already-ingested corpus? The
  * continuous-ingestion twin of the one-shot q21 — a training-data
  * pipeline runs this on every crawl drop, and the corpus side is the
  * 100 TB side.
  *
  * Scale shape — Bloom prefilter, exact confirm:
  *  1. `bloom_agg` folds the corpus's text hashes into ONE bits/8-byte
  *     blob (map-side partial bitsets, word-wise OR on the exchange) —
  *     the corpus is scanned once and never joined wholesale.
  *  2. The blob ships to the batch scan as a literal (like the
  *     driver-resident centroid tables of `argmax_dot`);
  *     `bloom_might_contain` = false is DEFINITIVE absence — those
  *     rows are new with no join at all.
  *  3. Only the bloom-positive minority (true dups + the sized false-
  *     positive rate) joins the corpus for exact text confirmation, so
  *     the join input is bounded by the dup rate, not the batch size.
  *
  * The result is EXACT (bloom has no false negatives; positives are
  * confirmed by equality), which is what makes the operator
  * oracle-checkable — the filter only prunes work.
  */
object IncrementalDedup {

  /** `bits` for a corpus of `n` rows: ~16 bits/row (k=3 → ~0.5% FP)
    * rounded up to a power of two, clamped to [2^13, 2^30] — the cap
    * is a 128 MB blob, the floor avoids degenerate tiny filters. */
  def sizedBits(n: Long): Int = {
    val want = math.max(n, 1L) * 16L
    val clamped = math.min(math.max(want, 1L << 13), 1L << 30)
    java.lang.Long.highestOneBit(
      if (java.lang.Long.bitCount(clamped) == 1) clamped else clamped << 1).toInt
  }

  /** Probe-hash count k of every dedup bloom the engine builds:
    * [[newDocs]]' prefilter and the streaming ingest carries
    * ([[graft.streaming.EventStreams]]). One constant — a carried
    * blob is built, folded AND probed assuming this k; a mismatch
    * between build and probe sites would raise the false-negative
    * rate, i.e. silently admit duplicates. */
  private[graft] val ProbeHashes = 3

  /** Mark each batch row `is_new` = its `textCol` value appears
    * nowhere in `corpus`. The prefilter is sized from
    * `corpus.count()` — ~16 bits per corpus row ([[sizedBits]]),
    * which keeps the false-positive confirm traffic ~0.5% regardless
    * of corpus size. The count is one cheap extra job (parquet
    * row-count metadata, no text read). */
  def newDocs(corpus: DataFrame, batch: DataFrame,
              textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val blob = buildBloom(corpus, textCol, sizedBits(corpus.count()))
    // the bloom is ONLY an optimization: a false positive is removed
    // by the exact confirm join below
    val probed = batch.withColumn("maybe_dup",
      coalesce(call_function("bloom_might_contain", lit(blob),
        textHash(col(textCol))), lit(false)))
    // exact confirmation for the bloom-positive minority only. The
    // dup side is consumed ONCE and stays fully lazy: nothing is
    // persisted (a cached-but-never-unpersisted frame would pin
    // CacheManager blocks for the session's lifetime) and no
    // broadcast hint is forced (the dup side is bounded by the DUP
    // RATE, not the batch, but a pathological ~all-dup
    // multi-million-row batch would overwhelm the driver). AQE's
    // runtime size check converts the join to broadcast whenever the
    // confirmed set is actually small — the common case — which is
    // exactly the adaptive form of the size guard a hand-picked
    // row-count constant approximated.
    val confirmed = probed.filter(col("maybe_dup"))
      .join(corpus.select(col(textCol)).distinct(), Seq(textCol), "left_semi")
      .select(col(idCol).as("dup_id"))
    probed
      .join(confirmed, col(idCol) === col("dup_id"), "left")
      .select(col(idCol), col("dup_id").isNull.as("is_new"))
  }

  /** xxhash64 of a text value, NULL-GATED. Spark's `xxhash64` SKIPS
    * null arguments (yielding the bare seed hash, a fixed non-null
    * value) rather than propagating null — ungated, every null text
    * would share ONE hash key, so a single landed null-text row would
    * make every later null-text row probe bloom-positive forever,
    * forcing the confirm join on batches that should be clean. Null
    * text has no exact identity (SQL equality never confirms it), so
    * its hash is null: `bloom_agg` skips it on the build side and a
    * probe on it is definitively negative (gate the probe with
    * `coalesce(..., false)`). */
  private[graft] def textHash(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNotNull, xxhash64(c))

  /** Aggregate the corpus texts into a bloom blob — ONE corpus scan. */
  private def buildBloom(corpus: DataFrame, textCol: String, bits: Int): Array[Byte] =
    corpus
      .agg(call_function("bloom_agg",
        textHash(col(textCol)), lit(bits), lit(ProbeHashes)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)

  /** Bitwise union of two same-shape blooms: the union of the sets
    * they represent. Shape is VERIFIED from the blobs' own headers
    * (word 0 = probe-hash count k, word 1 = bit count m — the
    * `bloom_agg` layout), not just byte length: two equal-length blobs
    * with different k would OR their headers into a garbage probe
    * count, and a wrong k produces false NEGATIVES — silently admitted
    * duplicates — the one failure mode the bloom contract forbids.
    * Only the bitset words are OR'd; the (equal) header is copied. */
  def unionBloom(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length && a.length >= 16,
      s"unionBloom: blob shapes differ (${a.length} vs ${b.length} bytes)")
    val ha = java.nio.ByteBuffer.wrap(a).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val hb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val (ka, ma) = (ha.getLong(0), ha.getLong(8))
    val (kb, mb) = (hb.getLong(0), hb.getLong(8))
    require(ka == kb && ma == mb,
      s"unionBloom: header mismatch (hashes $ka vs $kb, bits $ma vs $mb)")
    val out = new Array[Byte](a.length)
    System.arraycopy(a, 0, out, 0, 16)
    var i = 16
    while (i < a.length) { out(i) = (a(i) | b(i)).toByte; i += 1 }
    out
  }
}
