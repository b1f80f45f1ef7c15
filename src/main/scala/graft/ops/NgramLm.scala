package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet/Gopher-class
  * "perplexity filter" (Wenzek et al. 2020 train a per-language LM on
  * a trusted reference and rank the crawl by cross-entropy; docs that
  * the reference LM finds surprising are the quality cut). Their KenLM
  * is a single-node artifact; the scale-safe re-expression is a
  * Laplace-smoothed hashed-bigram LM built and applied relationally:
  *
  *   1. LM build ([[train]]) — ONE aggregation over the reference:
  *      the fused `word_lm_entries` generator
  *      ([[graft.functions.LmEntries]] — one byte scan; the q49
  *      fingerprint convention: grams cross exchanges as 8-byte XXH64
  *      longs, never strings) exploded to (lang, kind, hash) rows,
  *      counted, MATERIALIZED (vocab-sized). Vocabulary sizes V(lang)
  *      derive from the materialized result — the reference is
  *      scanned exactly once.
  *   2. Scoring ([[score]]) — the position stream (prev-unigram +
  *      bigram entries per doc) left-joins the LM once on
  *      (lang, kind, hash) — broadcast under the 8M-entry regime gate
  *      (the materialized RDD carries no stats, so the choice is
  *      explicit, sized at train time), shuffle on the slim 8-byte
  *      key above it — then one partial-aggregated doc regroup.
  *      Two exchanges total in the big-LM regime, one in the
  *      broadcast regime.
  *
  * Cross-entropy is computed in FIXED-POINT MICRO-NATS — the
  * integer-cents discipline applied to logs: lp(k) = ⌊ln(k)·10⁶ +
  * 0.5⌋ is bit-identical across JVM `Math.log`/`StrictMath.log`,
  * glibc, and DuckDB for the whole count domain (swept k = 1..5·10⁶,
  * BASELINE round 15), so per-doc sums are EXACT BIGINTs — no
  * float-association order hazard in the aggregation, and the oracle
  * reproduces the score to the bit. Per position i with previous
  * token w, Laplace-smoothed p(tᵢ|w) = (c₂(w tᵢ)+1)/(c₁(w)+V) gives
  * the non-negative per-position cost lp(c₁+V) − lp(c₂+1); the two
  * terms ride the SAME join as the two `kind`s of one union-keyed LM
  * table, so the plan pays one join, not two.
  *
  * Fingerprint-exact like q49: a 64-bit gram collision merges two
  * counts identically in engine and... oracle counts gram STRINGS, so
  * a collision WOULD diverge — at ~10⁴–10⁷ distinct grams the
  * probability is ~n²/2⁶⁵ (vanishing; the accepted q49 tradeoff,
  * bought back as slim exchanges at 100 TB).
  */
object NgramLm {

  /** Fixed-point natural log in micro-nats: ⌊ln(k)·10⁶ + 0.5⌋ as
    * BIGINT. `k` must be ≥ 1 (counts + Laplace offsets are). */
  def lpMicroNats(k: Column): Column =
    floor(log(k.cast("double")) * lit(1e6) + lit(0.5)).cast("long")

  /** Per-document (kind, hash) gram entries as ONE array — exploding
    * it feeds both LM roles through one generator. kind 0 = unigrams,
    * kind 1 = bigrams. The LM side counts ALL unigram occurrences
    * (the textbook add-one denominator c₁(w) and vocabulary V);
    * the scoring side (`prefixOnly`) takes only the prev-token
    * unigrams of each bigram position, i.e. tokens 0..t−2. One fused
    * byte scan ([[graft.functions.LmEntries]]) — the compositional
    * `word_text_gram_hashes(text,1) ++ (text,2)` form tokenized twice
    * and built three intermediate arrays per document (NgramLmSpec
    * pins the equivalence). */
  private def entries(text: Column, prefixOnly: Boolean): Column =
    call_function("word_lm_entries", text, lit(prefixOnly))

  /** (lang, kind, h, c) counts over the reference slice — the LM:
    * kind 0 = unigram counts c₁, kind 1 = bigram counts c₂. */
  def lm(ref: DataFrame, textCol: String = "text", langCol: String = "lang"): DataFrame =
    ref.select(col(langCol).as("lang"),
        explode_outer(entries(col(textCol), prefixOnly = false)).as("e"))
      .filter(col("e").isNotNull)
      .groupBy(col("lang"), col("e.kind").as("kind"), col("e.h").as("h"))
      .agg(count(lit(1)).as("c"))

  /** LMs at or under this entry count broadcast (≈200 MB of slim
    * (lang, kind, h, c) rows — executor-safe); above it the shuffle
    * join is the right plan. ONE constant gates both the relational
    * broadcast join and [[scoreRows]]' map-fold arm, so the two paths
    * can never pick different regimes for the same LM. */
  val BroadcastEntries: Long = 8L * 1000 * 1000

  /** A materialized LM ready to score against: the counts table and
    * its per-language vocabulary sizes, built once ([[train]]) and
    * reusable across any number of scoring passes — including every
    * micro-batch of a streaming quality gate, where re-deriving the
    * LM per batch would re-scan the reference corpus each time. */
  final case class TrainedLm(counts: DataFrame, vocab: DataFrame, entries: Long) {
    @volatile private var mapsRef: org.apache.spark.broadcast.Broadcast[graft.functions.LmMaps] = _

    /** The LM as driver-built open-addressing probe maps, broadcast
      * once and reused by every [[scoreRows]] call against this model
      * (first use pays the collect; a streaming gate's micro-batches
      * all share it). Licensed by the same [[BroadcastEntries]] bound
      * that licenses the relational broadcast join — callers check it
      * first. V(lang) is derived from the collected rows (counts are
      * distinct by (lang, kind, h), so V = the lang's kind-0 row
      * count) — no extra Spark job. */
    def maps: org.apache.spark.broadcast.Broadcast[graft.functions.LmMaps] = {
      var m = mapsRef
      if (m == null) synchronized {
        m = mapsRef
        if (m == null) {
          val byLang = new java.util.HashMap[String, (scala.collection.mutable.ArrayBuilder.ofLong, scala.collection.mutable.ArrayBuilder.ofLong, scala.collection.mutable.ArrayBuilder.ofLong, scala.collection.mutable.ArrayBuilder.ofLong)]()
          counts.select("lang", "kind", "h", "c").collect().foreach { r =>
            val b = byLang.computeIfAbsent(r.getString(0), _ =>
              (new scala.collection.mutable.ArrayBuilder.ofLong,
               new scala.collection.mutable.ArrayBuilder.ofLong,
               new scala.collection.mutable.ArrayBuilder.ofLong,
               new scala.collection.mutable.ArrayBuilder.ofLong))
            if (r.getInt(1) == 0) { b._1 += r.getLong(2); b._2 += r.getLong(3) }
            else { b._3 += r.getLong(2); b._4 += r.getLong(3) }
          }
          val langs = Map.newBuilder[org.apache.spark.unsafe.types.UTF8String, graft.functions.LangLm]
          byLang.forEach { (lang, b) =>
            val (uk, uv, bk, bv) = (b._1.result(), b._2.result(), b._3.result(), b._4.result())
            langs += org.apache.spark.unsafe.types.UTF8String.fromString(lang) ->
              graft.functions.LangLm(uk.length.toLong,
                graft.functions.LongLongOpenMap(uk, uv),
                graft.functions.LongLongOpenMap(bk, bv))
          }
          m = counts.sparkSession.sparkContext.broadcast(
            graft.functions.LmMaps(langs.result()))
          mapsRef = m
        }
      }
      m
    }

    /** Destroy the probe-map broadcast if it was ever built —
      * best-effort, for stream-termination cleanup. */
    def releaseMaps(): Unit = {
      val m = mapsRef
      if (m != null) {
        mapsRef = null
        try m.destroy() catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Build and MATERIALIZE the LM from a reference corpus
    * (vocab-sized, NOT corpus-sized — the q87 localCheckpoint
    * precedent): without the checkpoint, Catalyst re-plans the whole
    * reference explode+aggregate for EACH consumer, and the
    * vocabulary derivation was re-scanning the reference corpus
    * (plan-probed: 4 documents scans → 3). */
  def train(ref: DataFrame, textCol: String = "text",
            langCol: String = "lang"): TrainedLm = {
    val lmDf = lm(ref, textCol, langCol).localCheckpoint()
    TrainedLm(lmDf,
      lmDf.filter(col("kind") === 0).groupBy("lang").agg(count(lit(1)).as("v")),
      lmDf.count())
  }

  /** Score every document against [[lm]] built from the reference
    * predicate: (doc_id, lang, n_pos, xent_micronats,
    * xent_micronats_per_pos, xent_per_token) — n_pos = bigram
    * positions (t−1), xent_micronats the EXACT integer cross-entropy
    * sum, xent_micronats_per_pos its integer-division per-position
    * form (exact, engine-stable: the sum is provably ≥ 0 so floor and
    * truncating division agree), xent_per_token the human-facing
    * per-position mean in nats rounded to 6 (both NULL for docs under
    * 2 tokens). Cross-engine carriers should hash the integer column,
    * not the double (round-half ties are engine-specific). */
  def perplexity(docs: DataFrame, refPred: Column,
                 textCol: String = "text", idCol: String = "doc_id",
                 langCol: String = "lang"): DataFrame =
    score(docs, train(docs.filter(refPred), textCol, langCol),
      textCol, idCol, langCol)

  /** [[perplexity]] against an already-[[train]]ed LM. */
  def score(docs: DataFrame, trained: TrainedLm,
            textCol: String = "text", idCol: String = "doc_id",
            langCol: String = "lang"): DataFrame = {
    val lmDf = trained.counts
    val v = trained.vocab
    // The position stream pays exactly TWO exchanges when the LM is
    // big (the LM join's, AQE-converted to broadcast when it is
    // small, and the final doc regroup's). v MUST be an explicit
    // broadcast: it is ≤ #langs rows by construction, but keyed by
    // lang — the few-groups trap — and the checkpointed LM carries no
    // stats, so left to the planner this was a lang-keyed
    // SortMergeJoin funneling the whole stream through #langs
    // partitions (sf10 probe: 70 s → 8 s). A per-doc gram pre-count
    // was tried and removed: it bought ~25 % fewer join-input rows
    // for a THIRD full-stream exchange (its (doc, gram) grouping
    // cannot serve the (lang, kind, h) join key).
    // q49-style regime gate: the checkpointed LM carries no stats, so
    // the planner would SMJ unconditionally — which at the probe's
    // sf10 means exchanging the full position stream against a ~4M-row
    // LM that fits a broadcast with room to spare. The entry count
    // was taken once at train time (metadata-cheap on the
    // materialized RDD); ≲8M entries ≈ 200 MB broadcast
    // (executor-safe), past which the shuffle join is the right plan.
    val lmJoin = if (trained.entries <= BroadcastEntries) broadcast(lmDf) else lmDf
    val perDoc = docs
      .select(col(idCol), col(langCol).as("lang"),
        explode_outer(entries(col(textCol), prefixOnly = true)).as("e"))
      .filter(col("e").isNotNull)
      .select(col(idCol), col("lang"), col("e.kind").as("kind"), col("e.h").as("h"))
      .join(lmJoin, Seq("lang", "kind", "h"), "left")
      // LEFT: a language with no reference docs has no LM — its docs
      // must score NULL (all-null contribs sum to null) while n_pos
      // still counts their real bigram positions
      .join(broadcast(v), Seq("lang"), "left")
      .select(col(idCol), col("lang"), col("kind"),
        when(col("v").isNotNull,
          when(col("kind") === 0,
              lpMicroNats(coalesce(col("c"), lit(0L)) + col("v")))
            .otherwise(-lpMicroNats(coalesce(col("c"), lit(0L)) + lit(1L))))
          .as("contrib"))
      .groupBy(col(idCol), col("lang"))
      // n_pos rides the same aggregation (bigram entries per doc) —
      // no third tokenization pass for it
      .agg(sum(col("contrib")).as("xent_micronats"),
           sum(when(col("kind") === 1, 1L).otherwise(0L)).as("n_pos"))
    // docs under 2 tokens have no entries at all: re-attach them
    // through a text-free (doc_id, lang)-pruned scan
    docs.select(col(idCol), col(langCol).as("lang"))
      .join(perDoc, Seq(idCol, "lang"), "left")
      .select(col(idCol), col("lang"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"), col("xent_micronats"),
        when(col("n_pos") > 0, expr("xent_micronats div n_pos"))
          .as("xent_micronats_per_pos"),
        when(col("n_pos") > 0,
          round(col("xent_micronats") / col("n_pos") / lit(1e6), 6))
          .as("xent_per_token"))
  }

  /** Per-ROW map-fold scoring — the q93 sf10 A/B winner (BASELINE
    * round 18). CONTRACT: (idCol, langCol) is unique per row — both
    * in-tree callers guarantee it (q93's doc_id over `documents`, the
    * quality gate's synthetic `__qid`). Under that contract the output
    * is IDENTICAL to [[score]] row-for-row (NgramLmSpec A/B pin);
    * with duplicate (id, lang) rows [[score]] merges the group's
    * entries while this path scores each row alone — callers with
    * duplicates must use [[score]].
    *
    * In the [[BroadcastEntries]] regime the whole computation is ONE
    * map-only projection: a native byte-scan expression
    * ([[graft.functions.LmScore]]) probes the broadcast
    * open-addressing maps per position — no explode (the relational
    * path materializes ~2(t−1) entry rows per doc), no join, no
    * doc-regroup exchange, nothing shuffled at any scale. Above the
    * bound it falls back to [[score]], which shuffle-joins the slim 8-byte
    * keys — per-row and per-group semantics agree under the
    * uniqueness contract, so the fallback is seamless. */
  def scoreRows(docs: DataFrame, trained: TrainedLm,
                textCol: String = "text", idCol: String = "doc_id",
                langCol: String = "lang"): DataFrame =
    if (trained.entries > BroadcastEntries)
      score(docs, trained, textCol, idCol, langCol)
    else {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val s = ColumnBridge.column(graft.functions.LmScore(
        ColumnBridge.expression(col(textCol)),
        ColumnBridge.expression(col(langCol)), trained.maps))
      docs
        .select(col(idCol), col(langCol).as("lang"), s.as("s"))
        .select(col(idCol), col("lang"), col("s.n_pos").as("n_pos"),
          col("s.xent_micronats").as("xent_micronats"))
        .select(col(idCol), col("lang"), col("n_pos"), col("xent_micronats"),
          when(col("n_pos") > 0, expr("xent_micronats div n_pos"))
            .as("xent_micronats_per_pos"),
          when(col("n_pos") > 0,
            round(col("xent_micronats") / col("n_pos") / lit(1e6), 6))
            .as("xent_per_token"))
    }
}
