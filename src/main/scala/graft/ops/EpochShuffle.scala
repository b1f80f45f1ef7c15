package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic epoch shuffle + token-budget shard packing — the
  * "global shuffle" a training pipeline runs per epoch so batches
  * don't replay the corpus's storage order. The single-node form is
  * an in-memory RNG permutation; the scale-safe re-expression is a
  * KEYED one: permutation position = order by a 60-bit md5 of
  * (epoch salt, doc id) — no RNG state, so any engine, any partition
  * count, any retry lands the same permutation (the q45/q50/q64
  * determinism discipline applied to ordering instead of sampling).
  *
  * Packing rides [[PrefixSum.runningTotal]] over the permuted order
  * (range exchange + per-chunk windows + broadcast offsets — never a
  * global single-partition window): shard = exclusive-prefix div
  * budget, i.e. greedy first-fit in permutation order, the q51 rule
  * under a shuffled order. The doc id is the tiebreak column, so the
  * composite order key is exact even on a 60-bit fingerprint
  * collision.
  *
  * At 100 TB this is one range exchange of (id, key, n_tokens) slim
  * rows per epoch — text never moves; the permutation output is a
  * (doc → shard, position) assignment that a writer joins back or
  * feeds to a bucketed sink. */
object EpochShuffle {

  /** 60-bit md5 permutation key (q88/q92 hash convention —
    * re-derivable in ANSI SQL) of a document id under an epoch salt. */
  private def epochKey(id: Column, epoch: Int): Column =
    conv(substring(md5(concat(lit(s"epoch$epoch:"), id.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** (id, epoch_key, n_tokens, cum_tokens, shard) for every document:
    * the epoch-`epoch` permutation with greedy `tokensPerShard`
    * packing in permuted order. */
  def shuffleAndPack(docs: DataFrame, epoch: Int, tokensPerShard: Long,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    packFromToks(tokenCounts(docs, textCol, idCol), epoch, tokensPerShard, idCol)

  /** The epoch-INDEPENDENT half of [[shuffleAndPack]]: one text scan
    * producing slim (id, n_tokens) rows. Multi-epoch callers
    * ([[landManifests]]) materialize this once instead of re-scanning
    * the corpus text per epoch (guide §2.4 — the token count does not
    * depend on the epoch salt, only the permutation key does). */
  private def tokenCounts(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
      size(Text.tokens(coalesce(col(textCol), lit("")))).cast("long").as("n_tokens"))

  /** The epoch-DEPENDENT half: permutation key + prefix sum + greedy
    * packing over a precomputed (id, n_tokens) frame. */
  private def packFromToks(toks: DataFrame, epoch: Int, tokensPerShard: Long,
                           idCol: String): DataFrame = {
    require(tokensPerShard >= 1, s"need a positive shard budget, got $tokensPerShard")
    val keyed = toks.select(col(idCol),
      epochKey(col(idCol), epoch).as("epoch_key"), col("n_tokens"))
    PrefixSum.runningTotal(keyed, Seq("epoch_key", idCol), "n_tokens", "cum_tokens")
      .withColumn("shard",
        expr(s"CAST((cum_tokens - n_tokens) div $tokensPerShard AS BIGINT)"))
  }

  /** Manifest dir derived from (user, source data dir) — the
    * [[IvfPqIndex.dirFor]] discipline. */
  def dirFor(dataDir: String): String =
    graft.core.ArtifactDirs.dirFor("graft_q98_epochs", dataDir)

  /** LAND the epoch assignments as servable shard manifests —
    * `epoch=N` hive partitions of slim (shard, doc_id, epoch_key,
    * n_tokens, cum_tokens) rows, SORTED by (shard, id) within each
    * file. A training-data engine SERVES shards; computing assignments
    * and dropping them ([[shuffleAndPack]] alone) leaves every trainer
    * re-deriving the permutation. One manifest write per run covers
    * all `epochs` (one union write — text never lands here, only
    * assignments), overwrite-whole so a re-land with a new budget or
    * epoch set cannot leave a stale mix.
    *
    * Shard is a DATA column, not a directory: a `shard=K` hive layout
    * was built first and REJECTED on measurement — shard count grows
    * as corpus_tokens/budget, and at sf1 (2,708 shards) the leaf-dir
    * namespace made the land 17 s and a single-shard fetch 5 s (file
    * listing dominates; at 100 TB it would be millions of dirs). The
    * kept layout needs NO extra exchange: shard = exclusive-prefix div
    * budget is monotone in the (epoch_key, id) order the PrefixSum
    * range exchange already established, so each task's file covers a
    * CONTIGUOUS shard range and the single-shard fetch
    * ([[manifest]]/[[fetchShard]]) prunes to the epoch dir plus the
    * one-two files whose row-group [min,max] covers K (pushed-filter
    * stats skip, PlanSpec-pinned) — O(files-per-epoch) cheap footer
    * probes instead of O(shards) directories, at any budget. */
  def landManifests(docs: DataFrame, dir: String, epochs: Seq[Int],
                    tokensPerShard: Long,
                    textCol: String = "text", idCol: String = "doc_id"): Unit = {
    require(epochs.nonEmpty, "need at least one epoch")
    require(epochs.distinct == epochs, s"duplicate epochs in ${epochs.mkString(",")}")
    // one corpus text scan for ALL epochs: n_tokens is
    // epoch-independent, so only the slim (id, n_tokens) checkpoint
    // feeds each epoch's keying + prefix sum (r21; values identical —
    // same counts, same keys, same packing). localCheckpoint blocks
    // are executor-local and unreplicated: at cluster scale an
    // executor loss mid-land fails the whole job instead of
    // recomputing — the repo's standing deterministic-rerun trade
    // (BASELINE.md; the same failure recovery Committers.forRerun
    // assumes). Use reliable checkpoint/persist if that trade ever
    // stops holding (ADVICE r21).
    val toks = tokenCounts(docs, textCol, idCol).localCheckpoint()
    // ONE range exchange for ALL epochs (r22, guide §2.4): per-epoch
    // packFromToks ran the full PrefixSum pipeline — range sampling,
    // corpus-slim exchange, chunk windows, offset broadcast — once
    // per epoch over rows that fit a single exchange keyed
    // (epoch, epoch_key, id). runningTotalPerGroup restarts the
    // running total at each epoch boundary, so every epoch's
    // (cum_tokens, shard) values are identical to the per-epoch
    // pipeline's (EpochShuffleSpec pins landing fidelity against
    // shuffleAndPack); only the file boundaries may differ, and the
    // write re-sorts within partitions by (epoch, shard, id) exactly
    // as before, so per-file shard stats stay tight for the
    // single-shard fetch's row-group skip.
    val keyedAll = epochs.map(e =>
        toks.select(lit(e.toLong).as("epoch"), col(idCol),
          epochKey(col(idCol), e).as("epoch_key"), col("n_tokens")))
      .reduce(_ unionByName _)
    PrefixSum.runningTotalPerGroup(keyedAll, "epoch",
        Seq("epoch_key", idCol), "n_tokens", "cum_tokens")
      .withColumn("shard",
        expr(s"CAST((cum_tokens - n_tokens) div $tokensPerShard AS BIGINT)"))
      .select(col("epoch"), col("shard"), col(idCol),
        col("epoch_key"), col("n_tokens"), col("cum_tokens"))
      .sortWithinPartitions("epoch", "shard", idCol)
      .write.partitionBy("epoch")
      // task-side commit (v2): whole-dir overwrite landing — a failed
      // job's re-run clears partial output wholesale (Committers doc)
      .options(graft.core.Committers.forRerun(true))
      .mode("overwrite").parquet(dir)
  }

  /** One shard's manifest: the scan prunes to the `epoch=N` dir
    * (PartitionFilters) and skips every file/row-group whose shard
    * stats exclude K (PushedFilters — files are shard-sorted, so the
    * ranges are tight). The epoch partition column comes back as
    * BIGINT regardless of what directory-name inference guesses. */
  def manifest(spark: SparkSession, dir: String, epoch: Long, shard: Long): DataFrame =
    spark.read.parquet(dir)
      .filter(col("epoch") === epoch && col("shard") === shard)
      .withColumn("epoch", col("epoch").cast("bigint"))

  /** Per-(epoch, shard) summary of a landed manifest dir — the q98
    * carrier's read side (its land/read split is in BASELINE.md, round
    * 16). Partition columns cast to BIGINT (directory-name inference is
    * magnitude-dependent). */
  def manifestSummary(spark: SparkSession, dir: String,
                      idCol: String = "doc_id"): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("epoch").cast("bigint").as("epoch"),
               col("shard").cast("bigint").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("sum_tokens"),
           min(col(idCol)).as("first_doc"),
           max(col(idCol)).as("last_doc"))
      .orderBy("epoch", "shard")

  /** Serve epoch `epoch` shard `shard` in training order: the
    * manifest's slim rows (budget-bounded — broadcast) join the
    * corpus, the ONLY stage where text moves, and only this shard's
    * text leaves the scan. Rows come back in permutation order with
    * their token prefix positions. */
  def fetchShard(corpus: DataFrame, dir: String, epoch: Long, shard: Long,
                 idCol: String = "doc_id"): DataFrame = {
    val m = manifest(corpus.sparkSession, dir, epoch, shard)
      .select(col(idCol), col("epoch_key"), col("n_tokens"), col("cum_tokens"))
    corpus.join(broadcast(m), Seq(idCol))
      .orderBy("epoch_key", idCol)
  }
}
