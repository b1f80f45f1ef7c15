package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (Xie et al. 2023, DSIR) —
  * the model-targeted cousin of the q93 perplexity filter: score every
  * raw document by how much more likely a TARGET-distribution bag-of-
  * hashed-ngrams model finds it than a SOURCE (raw-pool) model, and
  * keep the target-likelier docs. The paper's estimator is exactly a
  * pair of Laplace-smoothed multinomials over hashed n-gram BUCKETS,
  * which is what makes it scale-honest: the learned state is 2·B
  * counts (B = bucket constant, NOT data-sized), so
  *
  *   1. one corpus pass aggregates both bucket histograms at once
  *      (explode → bucket → one groupBy with conditional sums, ≤ B
  *      result rows — the only shuffle, bounded by B);
  *   2. the collected histograms become a B-long integer DELTA table
  *      (lp(t_b+1) − lp(s_b+1) in fixed-point micro-nats, the q93
  *      discipline — driver-side `Math.log` is bit-identical to the
  *      engines' over the count domain, BASELINE round 15) shipped as
  *      ONE array literal;
  *   3. scoring is MAP-ONLY: a fold over each doc's gram array looks
  *      up the delta per gram — no join, no exchange, whole-stage
  *      codegen'd. At 100 TB the scoring pass touches each doc once
  *      and shuffles nothing; selection plugs into `bounded_topk`
  *      when a fixed budget is wanted instead of the w > 1 rule.
  *
  * Buckets use the md5 bridge (q50/q88 convention) rather than
  * xxhash64 so a relational oracle reproduces them bit-for-bit:
  * bucket(g) = ('0x' || substr(md5(g),1,8))::BIGINT % B. Grams are
  * word 1- and 2-grams from the proven q46/q49 tokenizer
  * ([[graft.functions.WordTextNgrams]] — gram STRINGS here, since md5
  * needs the bytes; the per-doc fold reduces each gram to a bucket
  * int immediately, nothing gram-sized leaves the expression).
  *
  * log w(x) in micro-nats = Σ_grams [lp(t_b+1) − lp(s_b+1)]
  *                        + n_grams · [lp(S+B) − lp(T+B)]
  * with T/S the gram totals of each histogram — integer-EXACT, so
  * `selected` (w > 1 ⇔ logw > 0) is reproducible to the bit.
  */
object Dsir {

  /** Word 1-gram ++ 2-gram strings of a document. NULL text counts as
    * an empty document (0 grams, weight 0, not selected) — the
    * relational oracle's unnest-of-NULL emits no rows, so the engine
    * must not propagate NULL into the score. */
  private[graft] def grams(text: Column): Column = {
    val t = coalesce(text, lit(""))
    concat(Text.ngramsOfText(t, 1), Text.ngramsOfText(t, 2))
  }

  /** md5-bridge bucket in [0, b): re-derivable in ANSI SQL. */
  private[graft] def bucketOf(g: Column, b: Int): Column =
    conv(substring(md5(g), 1, 8), 16, 10).cast("long") % b

  /** Fixed-point ⌊ln(k)·10⁶ + 0.5⌋ — driver-side twin of
    * [[NgramLm.lpMicroNats]] (bit-identical, BASELINE round-15 sweep). */
  private def lp(k: Long): Long = {
    require(k >= 1, s"lp domain is k >= 1, got $k")
    math.floor(math.log(k.toDouble) * 1e6 + 0.5).toLong
  }

  /** The learned state: the B-long fixed-point delta table plus the
    * per-gram totals term — 2·B longs collapsed to B+1, bounded by the
    * bucket CONSTANT, never the data. Frozen and broadcast-embedded
    * (an array literal folded in whole-stage codegen), it is the ideal
    * streaming-gate state: train once, score every micro-batch
    * map-only ([[graft.streaming.EventStreams.ingestDsir]]). */
  final case class DsirModel(delta: IndexedSeq[Long], constPerGram: Long,
                             buckets: Int)

  /** One corpus pass builds BOTH bucket histograms (≤ `buckets` rows
    * survive the shuffle — the collect is licensed by the bucket
    * constant) and folds them into the [[DsirModel]] delta table.
    * `targetPred` marks the target-distribution slice; everything else
    * is the source pool. */
  def train(docs: DataFrame, targetPred: Column, textCol: String = "text",
            buckets: Int = 4096): DsirModel = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    // the histogram explode carries 4-byte bucket ints from the fused
    // single-scan native (r19) — the gram-string explode with md5/conv
    // layers per gram survives in DsirSpec's relational twin over
    // [[grams]], which pins the two bucketings identical
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bucketsCol = ColumnBridge.column(graft.functions.DsirBuckets(
      ColumnBridge.expression(coalesce(col(textCol), lit(""))),
      ColumnBridge.expression(lit(buckets))))
    val hist: Array[Row] = docs
      .select(targetPred.as("is_t"), explode(bucketsCol).as("b0"))
      .select(col("is_t"), col("b0").cast("long").as("b"))
      .groupBy("b")
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("t"),
           sum(when(col("is_t"), 0L).otherwise(1L)).as("s"))
      .collect()
    val t = new Array[Long](buckets)
    val s = new Array[Long](buckets)
    hist.foreach { r => t(r.getLong(0).toInt) = r.getLong(1); s(r.getLong(0).toInt) = r.getLong(2) }
    val totalT = t.sum; val totalS = s.sum
    // Refuse degenerate training slices (ADVICE r17): with an empty
    // target (or source) histogram every delta collapses to the same
    // constant, the model scores all documents identically, and the
    // gate silently passes/rejects everything — a mis-typed predicate
    // must fail the TRAIN, not ship a model that gates nothing.
    require(totalT > 0,
      "DSIR train: targetPred matched no grams — an empty target slice " +
      "trains a degenerate constant model; check the predicate against " +
      "the training corpus")
    require(totalS > 0,
      "DSIR train: the source pool contributed no grams — either " +
      "targetPred matched every doc, or the non-target docs are all " +
      "empty/NULL text; importance weights need both distributions")
    DsirModel((0 until buckets).map(b => lp(t(b) + 1) - lp(s(b) + 1)),
      lp(totalS + buckets) - lp(totalT + buckets), buckets)
  }

  /** Append the frozen-model score columns (n_grams, logw_micronats,
    * selected — all BIGINT) to `docs`, keeping every input column:
    * MAP-ONLY, a per-doc fold over the gram array against the embedded
    * delta literal; no join, no exchange, whole-stage codegen'd. Rows
    * are scored independently, so duplicate ids are fine (the
    * streaming gate's pre-dedup input). Callers must not already carry
    * the three score names (the gate refuses them at start). */
  def withScores(docs: DataFrame, model: DsirModel,
                 textCol: String = "text"): DataFrame = {
    // ONE byte scan per doc (fused native, r19): grams are bucketed and
    // the delta fold happens inside the expression — the previous HOF
    // form (kept in DsirSpec as the relational twin, pinned ≡)
    // materialized the gram-string array, then per gram paid
    // md5 → substring → conv → element_at interpretation; the A/B read
    // 1.72 → 0.84 s solo at sf0.1 (BASELINE r19)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val s = ColumnBridge.column(graft.functions.DsirScore(
      ColumnBridge.expression(col(textCol)),
      model.delta.toArray, model.constPerGram, model.buckets))
    docs
      .withColumn("_dsir", s)
      .withColumn("n_grams", col("_dsir.n_grams"))
      .withColumn("logw_micronats", col("_dsir.logw_micronats"))
      // BIGINT 0/1, not BOOLEAN: integer-only output columns keep
      // cross-engine hashes canonicalization-free (round-15 lesson)
      .withColumn("selected", (col("logw_micronats") > 0).cast("bigint"))
      .drop("_dsir")
  }

  /** Score documents against a frozen [[DsirModel]]: (idCol, n_grams,
    * logw_micronats, selected). */
  def score(docs: DataFrame, model: DsirModel,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    withScores(docs.select(col(idCol), col(textCol)), model, textCol)
      .drop(textCol)

  /** Score every document of one pool against the model trained from
    * that same pool's `targetPred` split — the q94 batch carrier:
    * (doc_id, n_grams, logw_micronats, selected). `buckets` is the
    * hashed feature dimension (the paper's 10⁴-bucket regime; the
    * default keeps the oracle's bucket join small). */
  def importanceWeights(docs: DataFrame, targetPred: Column,
                        textCol: String = "text", idCol: String = "doc_id",
                        buckets: Int = 4096): DataFrame =
    score(docs, train(docs, targetPred, textCol, buckets), textCol, idCol)
}
