package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (cross-batch) NEAR-dup filtering — the MinHash/LSH twin
  * of [[DedupStage.newDocs]]' exact filter: which documents of an
  * incoming batch are near-duplicates of an already-accepted corpus?
  * A training-data pipeline runs BOTH on every crawl drop — exact
  * first (cheap, catches byte-identical mirrors), then this, so a
  * lightly-edited repost of an accepted page never re-enters the
  * corpus.
  *
  * Semantics: a batch doc is a near-dup when ANY of its LSH band
  * buckets already contains a corpus doc — the banding collision
  * criterion, which by construction implies `jaccard_est >= 0.5`
  * (a band collision fixes 2 of the 4 signature components; the same
  * guarantee q60's candidate threshold rides on). This is the
  * CANDIDATE-level filter with LSH's usual recall profile; a pipeline
  * wanting exact-Jaccard confirmation composes q35's scorer on the
  * collisions before dropping.
  *
  * Scale shape:
  *  - The corpus side is read as its four SIGNATURE COLUMNS, never
  *    text: [[graft.streaming.EventStreams.ingestNearDup]] lands
  *    `mh1..mh4` WITH each accepted row (one atomic append — state
  *    and corpus cannot diverge on a retry), so the per-batch scan is
  *    a column-pruned read of 4 longs/row, no re-tokenization.
  *  - Bucket rows are slim `(band, x, y)` triples; the only exchange
  *    is the bucket-keyed semi-join. Doc pairs never materialize —
  *    a batch doc colliding with a million-member corpus bucket
  *    produces ONE semi-join hit, not a million pairs (the q60
  *    star-edge lesson applied to ingest).
  */
object NearDupIncremental {

  /** `(idCol, band, x, y)` bucket rows from signature columns
    * `mh1..mh4` (2 bands × 2 rows — [[graft.SparkEntry.bandedPairs]]'s
    * banding, kept in lockstep with the DuckDB oracle CTEs). */
  def bucketsFromSigs(sigs: DataFrame, idCol: String = "doc_id"): DataFrame =
    sigs.select(col(idCol),
      explode(array(
        struct(lit(1).as("band"), col("mh1").as("x"), col("mh2").as("y")),
        struct(lit(2).as("band"), col("mh3").as("x"), col("mh4").as("y")))).as("b"))
      .select(col(idCol), col("b.band").as("band"),
              col("b.x").as("x"), col("b.y").as("y"))

  /** Adds `mh1..mh4` signature columns computed from `textCol` (the
    * native one-scan `minhash_sigs` expression). */
  def withSigs(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("sig", call_function("minhash_sigs", col(textCol)))
      .withColumn("mh1", col("sig").getItem(0))
      .withColumn("mh2", col("sig").getItem(1))
      .withColumn("mh3", col("sig").getItem(2))
      .withColumn("mh4", col("sig").getItem(3))
      .drop("sig")

  /** Mark each batch row: `is_new` = none of its band buckets appear
    * in `corpusSigs` (a frame carrying `idCol, mh1..mh4`; extra
    * columns are ignored). Both inputs must already carry signature
    * columns — compose with [[withSigs]] when starting from text. */
  def newDocs(corpusSigs: DataFrame, batchSigs: DataFrame,
              idCol: String = "doc_id"): DataFrame = {
    val landedBuckets = bucketsFromSigs(corpusSigs, idCol)
      .select("band", "x", "y").distinct()
    val dupIds = bucketsFromSigs(batchSigs, idCol)
      .join(landedBuckets, Seq("band", "x", "y"), "left_semi")
      .select(col(idCol).as("dup_id")).distinct()
    batchSigs
      .join(dupIds, col(idCol) === col("dup_id"), "left")
      .select(col(idCol), col("dup_id").isNull.as("is_new"))
  }

  /** In-batch greedy keeper: drop a doc when any of its buckets holds
    * a SMALLER-id batch doc (the q60 star-hub discipline applied
    * within one batch). Greedy — the smaller doc is the keeper even
    * if it is itself dropped against the landed corpus; that
    * over-drops relative to full connected-components reconciliation,
    * which is the standard ingest trade (deterministic, one pass; the
    * batch q60 operator exists for exact cluster dedup). Returns the
    * surviving rows of `batchSigs`. */
  def keepBucketMins(batchSigs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val b = bucketsFromSigs(batchSigs, idCol)
    val hubs = b.groupBy("band", "x", "y").agg(min(idCol).as("hub"))
    val dropped = b.join(hubs, Seq("band", "x", "y"))
      .filter(col(idCol) =!= col("hub"))
      .select(col(idCol).as("drop_id")).distinct()
    batchSigs.join(dropped, col(idCol) === col("drop_id"), "left_anti")
  }
}
