package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (cross-batch) SEMANTIC dedup — the embedding-space
  * member of the incremental-dedup family, next to
  * [[DedupStage.newDocs]] (exact text) and [[NearDupIncremental]]
  * (MinHash/LSH text): which documents of an incoming batch are
  * *semantically* already in the accepted corpus? A training-data
  * pipeline runs this on embedded crawl drops so a paraphrased or
  * re-rendered copy of an accepted page never re-enters the corpus,
  * even when its text shares no shingles with the original.
  *
  * Semantics differ from the MinHash twin on purpose: a hyperplane
  * band collision is only a CANDIDATE signal (it bounds angle per
  * band, not similarity), so every collision is confirmed with the
  * exact cosine before anything is dropped — a batch doc is a dup iff
  * some corpus doc shares a band bucket AND scores `cosine >= tau`.
  * That is q47's accepted-dedup rule applied across a corpus/batch
  * boundary instead of within one frame.
  *
  * Scale shape (the [[Similarity.bucketJoin]] discipline, cross-frame):
  *  - Candidates come from a bucket EQUI-JOIN of slim
  *    (id, band, bucket) rows — the corpus side never ships vectors
  *    to the banding shuffle, and doc pairs materialize only for
  *    bucket collisions, never corpus × batch.
  *  - Vectors are fetched by id for the candidate rows only; the
  *    cosine runs once per collision row (≤ bands per pair).
  *  - `bits` follows [[Similarity.occupancyBits]] as the corpus
  *    grows; the streaming face
  *    ([[graft.streaming.EventStreams.ingestSemantic]]) lands each
  *    accepted row's band bucket codes WITH the row, so the per-batch
  *    corpus side is a column-pruned code read, never a re-embedding
  *    or re-hashing of the landed corpus.
  */
object SemanticIncremental {

  /** Adds the per-band bucket-code columns `sb0..sb{bands-1}` computed
    * from `vecCol` (one pass of the native `hyperplane_codes`) — the
    * semantic twin of [[NearDupIncremental.withSigs]]. Landed rows
    * carry these so cross-batch checks never recompute codes for the
    * corpus. A null vector yields null codes (and can never collide). */
  def withCodes(docs: DataFrame, vecCol: String = "embedding",
                bits: Int = 8, bands: Int = 2): DataFrame = {
    val coded = docs.withColumn("sem_codes",
      call_function("hyperplane_codes", col(vecCol).cast("array<double>"), lit(bits), lit(bands)))
    (0 until bands).foldLeft(coded) { (d, t) =>
      d.withColumn(s"sb$t", element_at(col("sem_codes"), t + 1))
    }.drop("sem_codes")
  }

  /** Slim `(idCol, band, bucket)` rows from the `sb*` code columns of
    * [[withCodes]] — the join keys, with vectors left behind. */
  def bucketsFromCodes(coded: DataFrame, bands: Int,
                       idCol: String = "vec_id"): DataFrame =
    coded.select(col(idCol),
      explode(array((0 until bands).map(t =>
        struct(lit(t).as("band"), col(s"sb$t").as("bucket"))): _*)).as("b"))
      .filter(col("b.bucket").isNotNull)
      .select(col(idCol), col("b.band").as("band"), col("b.bucket").as("bucket"))

  /** Mark each batch row: `is_new` = no corpus doc both shares a band
    * bucket and reaches `cosine >= tau`. Both inputs carry
    * `idCol` + `vecCol`; code columns are computed here (callers that
    * already carry `sb*` codes — the streaming landing — use
    * [[newDocsCoded]] and skip the corpus-side recompute). */
  def newDocs(corpusEmb: DataFrame, batchEmb: DataFrame, tau: Double,
              idCol: String = "vec_id", vecCol: String = "embedding",
              bits: Int = 8, bands: Int = 2): DataFrame =
    newDocsCoded(withCodes(corpusEmb, vecCol, bits, bands),
                 withCodes(batchEmb, vecCol, bits, bands),
                 tau, idCol, vecCol, bands)

  /** [[newDocs]] over inputs that ALREADY carry the `sb*` code columns
    * (plus `idCol` and `vecCol`). The corpus side contributes two
    * column-pruned projections — (id, codes) to the candidate join and
    * (id, vec) fetched only for candidate pairs — and is never scanned
    * wider. */
  def newDocsCoded(corpusCoded: DataFrame, batchCoded: DataFrame, tau: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   bands: Int = 2): DataFrame = {
    val cb = bucketsFromCodes(
      corpusCoded.select(col(idCol) +: (0 until bands).map(t => col(s"sb$t")): _*),
      bands, idCol)
      .select(col(idCol).as("corpus_id"), col("band"), col("bucket"))
    val bb = bucketsFromCodes(
      batchCoded.select(col(idCol) +: (0 until bands).map(t => col(s"sb$t")): _*),
      bands, idCol)
      .select(col(idCol).as("batch_id"), col("band"), col("bucket"))
    // slim bucket equi-join → candidate rows, deliberately NOT
    // deduplicated to pairs: a pair repeats only when it collides in
    // more than one band (0.75% of rows at sf10, measured), so a
    // pair-level distinct buys almost nothing and costs a full
    // candidate-sized exchange + hash aggregate — interleaved
    // fresh-JVM A/B at sf10 read 6.8-8.4 s with it vs 4.4-6.7 s
    // without (sf1 a wash). The cosine instead runs once per
    // COLLISION row (≤ bands per pair) and only the final small
    // dup-id set is deduplicated.
    val cand = bb.join(cb, Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id"))
    val bv = batchCoded.select(col(idCol).as("batch_id"),
      col(vecCol).cast("array<double>").as("bv"))
    val cv = corpusCoded.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val dupIds = cand.join(bv, Seq("batch_id")).join(cv, Seq("corpus_id"))
      .filter(Similarity.cosine(col("bv"), col("cv")) >= tau)
      .select(col("batch_id")).distinct()
    batchCoded
      .join(dupIds, col(idCol) === col("batch_id"), "left")
      .select(col(idCol), col("batch_id").isNull.as("is_new"))
  }

  /** In-batch greedy keeper, the semantic twin of
    * [[NearDupIncremental.keepBucketMins]] WITH the cosine confirm a
    * hyperplane collision needs: among batch pairs that share a band
    * bucket and score `cosine >= tau`, the smaller id survives
    * (greedy — a dropped doc's own would-be victims are still dropped,
    * the deterministic one-pass ingest trade). Returns surviving rows
    * of `batchCoded` (which must carry `sb*` codes + `vecCol`). */
  def keepSemanticMins(batchCoded: DataFrame, tau: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       bands: Int = 2): DataFrame = {
    val b = bucketsFromCodes(
      batchCoded.select(col(idCol) +: (0 until bands).map(t => col(s"sb$t")): _*),
      bands, idCol)
    val cand = b.select(col(idCol).as("id1"), col("band"), col("bucket"))
      .join(b.select(col(idCol).as("id2"), col("band"), col("bucket")),
            Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val typed = batchCoded.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val dropped = cand
      .join(typed.select(col(idCol).as("id1"), col("v").as("v1")), Seq("id1"))
      .join(typed.select(col(idCol).as("id2"), col("v").as("v2")), Seq("id2"))
      .filter(Similarity.cosine(col("v1"), col("v2")) >= tau)
      .select(col("id2").as("drop_id")).distinct()
    batchCoded.join(dropped, col(idCol) === col("drop_id"), "left_anti")
  }
}
