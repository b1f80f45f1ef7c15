package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One two-phase dedup stage — Bloom prefilter, exact confirm — and
  * the bloom contract (probe-hash count, sizing, blob layout, NULL-gated
  * keys) that the batch exact operator ([[DedupStage.newDocs]], q74),
  * the streaming ingest carries and the decontamination artifact
  * ([[Decontaminate]]) share. The four ingest entries of
  * [[graft.streaming.EventStreams]] are one state machine — in-batch
  * keepers, carried-bloom probe, confirm for positives, observed fold
  * after the append — over a list of stages, which differ only in what
  * each computes and which keys identify a row to it; the loop owns
  * only the carry lifecycle (seed, fold, validation, locks).
  */
private[graft] final case class DedupStage(
  /** The stage's key in the carry map and its Observation alias prefix. */
  name: String,
  /** In-batch keeper + state-column computation (runs on the
    * previous stage's survivors; on the first batch the preps
    * compose with no cross-batch confirms between them). */
  prep: DataFrame => DataFrame,
  /** Landed state columns this stage owns (mh* / sb*) — the mode's
    * union feeds the ingest loop's foreign-state refusal. */
  stateCols: Set[String] = Set.empty,
  /** Extra landed-schema contract, e.g. the semantic stage's code columns. */
  landingCheck: (DataFrame, String) => Unit = (_, _) => (),
  /** The NULL-gated 64-bit keys that identify a row to this stage:
    * the carry holds every landed row's keys, and a row probes
    * positive when ANY of its keys might be in it. */
  keys: Seq[Column],
  probeCol: String,
  /** (persisted probed frame with at least one positive, LAZY
    * corpus) → surviving rows. The corpus thunk must only be forced
    * here: a clean batch (the steady-state common case) must build
    * no corpus relation at all — not even its file listing. */
  confirm: (DataFrame, () => DataFrame) => DataFrame) {

  /** THE one carry constructor. The ingest loop calls it from BOTH
    * carry paths — the first-batch seed (rows = the persisted append)
    * and the steady-state reseed (rows = the landed corpus; Catalyst
    * prunes to the stage's key columns). */
  def buildCarry(rows: DataFrame, cap: Long, fp: String): DedupStage.CarriedBloom = {
    // sized for `cap` docs at keys.size keys each, overflow-clamped
    val n = keys.size
    val bits = DedupStage.sizedBits(math.min(cap, Long.MaxValue / n) * n)
    DedupStage.CarriedBloom(DedupStage.buildBloom(rows, name, keys, bits), bits, cap, fp)
  }
}

object DedupStage {

  /** `bits` for a corpus of `n` rows: ~16 bits/row (k=3 → ~0.5% FP)
    * rounded up to a power of two, clamped to [2^13, 2^30] — the cap
    * is a 128 MB blob, the floor avoids degenerate tiny filters. */
  def sizedBits(n: Long): Int = {
    val want = math.max(n, 1L) * 16L
    val clamped = math.min(math.max(want, 1L << 13), 1L << 30)
    java.lang.Long.highestOneBit(
      if (java.lang.Long.bitCount(clamped) == 1) clamped else clamped << 1).toInt
  }

  /** Probe-hash count k of every bloom the engine builds: [[newDocs]]'
    * prefilter, the streaming ingest carries and the decontamination
    * artifact. One constant — a carried blob is built, folded AND
    * probed assuming this k; a mismatch between build and probe sites
    * would raise the false-negative rate, i.e. silently admit
    * duplicates. */
  private[graft] val ProbeHashes = 3

  // ---------- the bloom contract: one build site, one probe site ----------

  /** THE one `bloom_agg` site: one aggregate per key, aliased
    * `<prefix>_bloom<i>`, so several stages' aggregates can ride one
    * Observation side by side; the per-key blobs are unioned
    * driver-side ([[keyBlob]]) — no explode in the write path. The
    * aggregate folds map-side partial bitsets with a word-wise OR on
    * the exchange, so the rows are scanned once and never joined
    * wholesale. A NULL key (no identity) is skipped. */
  private[graft] def keyAggs(prefix: String, keys: Seq[Column], bits: Int): Seq[Column] =
    keys.zipWithIndex.map { case (k, i) =>
      call_function("bloom_agg", k, lit(bits), lit(ProbeHashes)).as(s"${prefix}_bloom$i")
    }

  /** The union of the per-key blobs out of one [[keyAggs]] result (a
    * collected row or an append Observation). */
  private[graft] def keyBlob(prefix: String, nKeys: Int,
                             result: String => Any): Array[Byte] =
    (0 until nKeys).map(i => result(s"${prefix}_bloom$i").asInstanceOf[Array[Byte]])
      .reduce(unionBloom)

  /** One scan of `rows`: the bloom of all its `keys` at `bits`. */
  private[graft] def buildBloom(rows: DataFrame, prefix: String, keys: Seq[Column],
                                bits: Int): Array[Byte] = {
    val aggs = keyAggs(prefix, keys, bits)
    val r = rows.agg(aggs.head, aggs.tail: _*).collect()(0)
    keyBlob(prefix, keys.size, (c: String) => r.getAs[Any](c))
  }

  /** THE one `bloom_might_contain` site: any of the row's keys possibly
    * present in `blob`. The blob ships to the probe side as a literal
    * (like the driver-resident centroid tables of `argmax_dot`), and
    * all-negative is DEFINITIVE absence — no row of the bloom's set
    * shares a key, so the row cannot be a duplicate or a candidate and
    * needs no join at all. A NULL key (no identity) probes null →
    * false. */
  private[graft] def mightContain(keys: Seq[Column], blob: Array[Byte]): Column =
    keys.map(k =>
      coalesce(call_function("bloom_might_contain", lit(blob), k), lit(false))
    ).reduce(_ || _)

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

  // ---------- the NULL-gated stage keys ----------

  // Every key is NULL-GATED. Spark's `xxhash64` SKIPS null arguments
  // (yielding a fixed non-null hash of the remaining ones) rather than
  // propagating null — ungated, every null-text / null-sig /
  // null-vector row would share ONE key, so a single landed such row
  // would make every later one probe bloom-positive forever, forcing
  // the confirm join on batches that should be clean. A null value has
  // no identity (SQL equality and the bucket equi-joins never match
  // it), so its key is null: `bloom_agg` skips it on the build side and
  // a probe on it is definitively negative ([[mightContain]]).

  /** A text value's key. */
  private def textHash(c: Column): Column =
    when(c.isNotNull, xxhash64(c))

  /** An LSH band bucket's key — the hashed form of the (band, x, y)
    * triples [[NearDupIncremental.bucketsFromSigs]] joins on. */
  private def bucketHash(band: Int, x: Column, y: Column): Column =
    when(x.isNotNull && y.isNotNull, xxhash64(lit(band), x, y))

  /** A hyperplane band bucket's key: the `sb<band>` code columns
    * [[SemanticIncremental.withCodes]] lands. */
  private def semBucketHash(band: Int, code: Column): Column =
    when(code.isNotNull, xxhash64(lit(band), code))

  // ---------- the carried key bloom ----------

  /** One stage's bloom carried across micro-batches per landing: the
    * blob over the landed rows' [[DedupStage.keys]] (built by
    * [[DedupStage.buildCarry]]), its `bits`, the landed row `capacity`
    * it was sized for, and the landing fingerprint `landingFp` it
    * covers. Lifecycle: [[graft.streaming.LandingGuard.Landing]]. */
  private[graft] final case class CarriedBloom(
    blob: Array[Byte], bits: Int, capacity: Long, landingFp: String)

  // ---------- batch exact dedup ----------

  /** Incremental (cross-batch) exact dedup: mark each batch row
    * `is_new` = its `textCol` value appears nowhere in `corpus`. The
    * continuous-ingestion twin of the one-shot q21 — a training-data
    * pipeline runs this on every crawl drop, and the corpus side is the
    * 100 TB side.
    *
    * The exact stage's keys, built over the corpus ([[buildBloom]], ONE
    * corpus scan) and probed batch-side ([[mightContain]]); only the
    * bloom-positive minority (true dups + the sized false-positive
    * rate) joins the corpus for exact text confirmation, so the join
    * input is bounded by the dup rate, not the batch size. The result
    * is EXACT (bloom has no false negatives; positives are confirmed by
    * equality), which is what makes the operator oracle-checkable — the
    * filter only prunes work.
    *
    * The prefilter is sized from `corpus.count()` — ~16 bits per corpus
    * row ([[sizedBits]]), which keeps the false-positive confirm
    * traffic ~0.5% regardless of corpus size. The count is one cheap
    * extra job (parquet row-count metadata, no text read). */
  def newDocs(corpus: DataFrame, batch: DataFrame,
              textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keys = Seq(textHash(col(textCol)))
    val blob = buildBloom(corpus, "exact", keys, sizedBits(corpus.count()))
    // the bloom is ONLY an optimization: a false positive is removed
    // by the exact confirm join below
    val probed = batch.withColumn("maybe_dup", mightContain(keys, blob))
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

  // ---------- the streaming stages ----------

  /** Exact stage: in-batch keeper is the lowest id per text (the q21
    * discipline; the id leads the struct so min() orders by it); a
    * doc's one key is its text hash. */
  private[graft] def exact(textCol: String, idCol: String): DedupStage =
    DedupStage("exact",
      prep = b => b.groupBy(col(textCol))
        .agg(min(struct((col(idCol) +: b.columns.filterNot(_ == idCol).map(col).toSeq): _*)).as("r"))
        .select(col("r.*")),
      keys = Seq(textHash(col(textCol))),
      probeCol = "maybe_dup",
      confirm = (probed, corpus) => exactConfirm(probed, corpus, textCol))

  /** Near stage: a doc's keys are its two band buckets — band 1 =
    * (mh1,mh2), band 2 = (mh3,mh4). Candidates confirm through the
    * exact bucket join ([[NearDupIncremental.newDocs]]) against the
    * landing's signature columns (column-pruned, 4 longs/row, text
    * never re-read). */
  private[graft] def near(textCol: String, idCol: String): DedupStage =
    DedupStage("near",
      prep = b => NearDupIncremental.keepBucketMins(
        NearDupIncremental.withSigs(b, textCol), idCol),
      stateCols = Set("mh1", "mh2", "mh3", "mh4"),
      keys = Seq(bucketHash(1, col("mh1"), col("mh2")), bucketHash(2, col("mh3"), col("mh4"))),
      probeCol = "maybe_nd",
      confirm = (probed, corpus) => candidateConfirm(probed, "maybe_nd", idCol)(cands =>
        NearDupIncremental.newDocs(
          corpus().select(col(idCol), col("mh1"), col("mh2"), col("mh3"), col("mh4")),
          cands, idCol)))

  /** Semantic stage: a doc's keys are its `bands` hyperplane band
    * buckets. Candidates confirm through the exact bucket join +
    * cosine ([[SemanticIncremental.newDocsCoded]]); the corpus side
    * contributes its landed `sb*` codes to the candidate join (one int
    * per band per row — codes are READ, never recomputed from vectors)
    * and its vectors only for distinct candidate pairs. */
  private[graft] def sem(tau: Double, vecCol: String, bits: Int, bands: Int,
                         idCol: String): DedupStage = {
    val sbCols = (0 until bands).map(t => s"sb$t")
    DedupStage("sem",
      prep = b => SemanticIncremental.keepSemanticMins(
        SemanticIncremental.withCodes(b, vecCol, bits, bands), tau, idCol, vecCol, bands),
      stateCols = sbCols.toSet,
      landingCheck = (corpus, dir) => requireLandedSemCols(corpus, bands, dir),
      keys = (0 until bands).map(t => semBucketHash(t, col(s"sb$t"))),
      probeCol = "maybe_sem",
      confirm = (probed, corpus) => candidateConfirm(probed, "maybe_sem", idCol)(cands =>
        SemanticIncremental.newDocsCoded(
          corpus().select((col(idCol) +: col(vecCol) +: sbCols.map(col)): _*),
          cands, tau, idCol, vecCol, bands)))
  }

  /** Cross-batch exact confirm over the probed in-batch keepers:
    * confirm the bloom-positive rows with a semi-join against the
    * landed text and anti-join the confirmed dups away. */
  private def exactConfirm(probed: DataFrame, corpus: () => DataFrame,
                           textCol: String): DataFrame = {
    // exact confirmation for the bloom-positive minority only; the
    // corpus side is column-pruned to the text column, and AQE's
    // runtime size check broadcasts whichever side is small
    // no distinct on the corpus side: a left_semi join is already
    // duplicate-insensitive on its right input, and the landed texts
    // are unique by the dedup invariant anyway — a distinct here
    // would add a full-corpus hash aggregation to every
    // bloom-positive batch for nothing.
    // the confirm AND the anti both key on the TEXT (the actual
    // duplicate semantic), not idCol: an anti-join on idCol keeps
    // every NULL-id row (null never equals null), so a confirmed
    // duplicate with a null id would land duplicate text and break
    // the landed-texts-unique invariant the optimization above
    // relies on. Null-TEXT rows never probe bloom-positive (no
    // bloom identity) and null anti-keys survive, so null-text
    // rows still land exactly once per row, as before.
    val dupTexts = probed.filter(col("maybe_dup"))
      .join(corpus().select(col(textCol)), Seq(textCol), "left_semi")
      .select(col(textCol))
    // re-select in probed's column order: a USING join hoists its
    // key first, and the landing's column order must not depend on
    // which confirm branch a batch took
    probed.join(dupTexts, Seq(textCol), "left_anti")
      .select(probed.columns.filterNot(_ == "maybe_dup").map(col): _*)
  }

  /** Cross-batch candidate confirm of the bucket stages (near,
    * semantic): only the probe-positive rows go through the stage's
    * exact `newDocs` against the landing, and the confirmed-new join
    * the probe-negatives. */
  private def candidateConfirm(probed: DataFrame, probeCol: String, idCol: String)
                              (newDocs: DataFrame => DataFrame): DataFrame = {
    val candidates = probed.filter(col(probeCol)).drop(probeCol)
    val confirmedNew = candidates.join(
      newDocs(candidates).filter(col("is_new")).select(col(idCol)),
      Seq(idCol), "left_semi")
    probed.filter(!col(probeCol)).drop(probeCol).unionByName(confirmedNew)
  }

  /** A landing read back by the semantic stage must carry exactly this
    * stream's band-code columns: fewer means it was landed by another
    * ingest mode (or more bands than now configured would silently
    * stop landing a code column the layout has), so both directions
    * are refused loudly. `bits` has no schema footprint — see
    * [[graft.streaming.EventStreams.ingestSemantic]] for the
    * recall-only drift contract. */
  private def requireLandedSemCols(corpus: DataFrame, bands: Int,
                                   landingDir: String): Unit = {
    val have = corpus.schema.fieldNames.toSet
    val missing = (0 until bands).map(t => s"sb$t").filterNot(have.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"landing '$landingDir' lacks code column(s) ${missing.mkString(", ")} — " +
      s"not written by ingestSemantic with bands=$bands")
    if (have.contains(s"sb$bands")) throw new IllegalStateException(
      s"landing '$landingDir' carries code column sb$bands beyond bands=$bands — " +
      "restarting with fewer bands than landed would strand a code column; " +
      "use the landing's band count")
  }
}
