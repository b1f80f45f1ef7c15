package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables
import graft.ops.{PrefixSum, Text}
import graft.queries.SimilarityQueries.spreadSmallScan

/** Corpus curation: exact, chunk and span dedup, contamination and
  * cross-source overlap, stratified sampling, source mixtures, hash
  * splits, token-budget shards, DSIR resampling and epoch shuffles. */
object CurationQueries {

  val all: Seq[Query] = Seq(

    // ---- exact deduplication over documents ----
    Query("q21_dedup_exact", (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("text_hash")
    }, _ =>
      """SELECT md5(text) AS text_hash,
        |  CAST(MIN(doc_id) AS BIGINT) AS keeper,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY text_hash""".stripMargin),

    // ---- deterministic hash split (train/val/test assignment) ----
    // Stable across runs/engines (md5-prefix mod 100, no RNG): the
    // standard way a training pipeline partitions a corpus so that
    // re-runs and late-arriving shards land in the same split.
    Query("q45_hash_split", (s, dir) => {
      val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("bigint") % 100
      val split = when(bucket < 80, "train")
        .when(bucket < 90, "val").otherwise("test")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), split.as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("total_chars"),
             min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("split")
    }, _ =>
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM s
        |GROUP BY split
        |ORDER BY split""".stripMargin),

    // ---- benchmark-contamination check (n-gram overlap) ----
    // Docs sharing any word-trigram with the held-out "benchmark"
    // slice (doc_id % 20 == 0 — deterministic, oracle-reproducible).
    // Scale shape: explode to slim (doc, gram) rows, distinct, LEFT
    // SEMI against the benchmark gram set, count per doc — gram
    // strings are the shuffle keys, never doc×doc pairs. (Production
    // runs 8–13-grams; 3 here because the synthetic 40-word vocabulary
    // makes longer grams collision-free and the carrier vacuous.)
    Query("q49_contamination", (s, dir) => {
      // fused tokenize+gram native expression: one byte scan, no
      // intermediate token array (and no HOF-inlining hazard — the
      // round-2 bug where inlined tokens() re-evaluated per
      // element_at cost 52 s vs 1 s at sf0.1)
      // grams travel as 64-bit fingerprints, per-doc DISTINCT at
      // emission (word_text_gram_hashes_distinct — the dedup runs in
      // the same byte scan): the semi-join and the bit of counting
      // below have per-doc SET semantics, so within-doc duplicates
      // never leave the expression, the explode emits fewer rows, and
      // the post-semi (doc_id, gram) rows are unique BY CONSTRUCTION
      // — the former `.distinct()` exchange is gone from the plan
      // explode_outer, not explode: InferFiltersFromGenerate turns a
      // plain explode into a `size(g3) > 0` pre-filter that RE-computes
      // the whole gram expression per doc (2-3 evaluations of the byte
      // scan); the outer variant is exempt, so the expression runs
      // once and the null row an empty doc produces is dropped by a
      // cheap isNotNull on the already-exploded column (and a null
      // gram could never match the semi-join anyway).
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), Text.distinctGramHashesOfText(col("text"), 3).as("g3"))
      val bench = grams.filter(col("doc_id") % 20 === 0)
        .select(explode_outer(col("g3")).as("gram"))
        .filter(col("gram").isNotNull).distinct()
      val corpus = grams.filter(col("doc_id") % 20 =!= 0)
      // The bench gram set grows with the corpus (5% slice × grams/doc
      // × 8 B), so the regime is gated on the doc count (a memoized
      // parquet-metadata job): ≳20k bench docs ≈ tens of MB of
      // fingerprints, past which a forced broadcast — which bypasses
      // autoBroadcastJoinThreshold — would be driver-hostile.
      val benchDocs = Tables.documentsCount(s, dir) / 20
      if (benchDocs <= 20000) {
        // Broadcast regime (the common one): ONE corpus pipeline.
        // Each per-doc-distinct gram left-joins the broadcast bench
        // set with a marker, so n_shared = count(hit) per doc — and
        // because explode_outer keeps empty docs as a null-gram row,
        // EVERY corpus doc reaches the aggregate. No second documents
        // scan, no join-back for the zero rows.
        corpus.select(col("doc_id"), explode_outer(col("g3")).as("gram"))
          .join(broadcast(bench.withColumn("hit", lit(1))), Seq("gram"), "left")
          .groupBy("doc_id").agg(count(col("hit")).as("n_shared"))
          .orderBy("doc_id")
      } else {
        // Shuffle regime: the semi prunes to the SHARED grams before
        // any exchange (contamination is rare by construction), and
        // the zero rows re-attach through a doc_id-only scan.
        val hits = corpus
          .select(col("doc_id"), explode_outer(col("g3")).as("gram"))
          .filter(col("gram").isNotNull)
          .join(bench, Seq("gram"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        corpus.select("doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
          .orderBy("doc_id")
      }
    }, _ =>
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(range(0, len(toks) - 2),
        |                i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) END AS g3
        |  FROM t),
        |bench AS (
        |  SELECT DISTINCT gram FROM (
        |    SELECT unnest(g3) AS gram FROM g WHERE doc_id % 20 = 0)),
        |cg AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(g3) AS gram FROM g WHERE doc_id % 20 <> 0)),
        |hits AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM cg WHERE gram IN (SELECT gram FROM bench)
        |  GROUP BY doc_id)
        |SELECT g.doc_id, COALESCE(h.n_shared, 0) AS n_shared
        |FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
        |WHERE g.doc_id % 20 <> 0
        |ORDER BY g.doc_id""".stripMargin),

    // ---- stratified deterministic sampling ----
    // Per-language 10% sample by md5 bucket: engine-stable (no RNG),
    // re-runs and late shards land identically — the q45 split
    // discipline applied per stratum.
    Query("q50_stratified_sample", (s, dir) => {
      val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("bigint") % 10
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             count(when(bucket === 0, 1)).as("n_sampled"),
             min(when(bucket === 0, col("doc_id"))).as("first_sampled"),
             max(when(bucket === 0, col("doc_id"))).as("last_sampled"))
        .orderBy("lang")
    }, _ =>
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 10 AS bucket
        |  FROM documents)
        |SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) FILTER (bucket = 0) AS BIGINT) AS n_sampled,
        |  MIN(doc_id) FILTER (bucket = 0) AS first_sampled,
        |  MAX(doc_id) FILTER (bucket = 0) AS last_sampled
        |FROM s
        |GROUP BY lang
        |ORDER BY lang""".stripMargin),

    // ---- per-stratum top-k curation ----
    // Keep the k best documents per language — the "best N per
    // stratum" selection every curation pipeline ends with, via
    // ops/TopK: per-partition bounded heaps prune BEFORE the shuffle,
    // so the per-stratum window sorts k × partitions survivors instead
    // of the whole stratum (the naive window is one task per stratum
    // at 100 TB).
    Query("q53_top_per_lang", (s, dir) => {
      ops.TopK.perGroup(
          Tables.documents(s, dir).select(col("lang"), col("doc_id"), col("n_chars")),
          groupCols = Seq("lang"), orderCol = "n_chars", tieBreakCol = "doc_id", k = 3)
        .orderBy("lang", "rk")
    }, _ =>
      """SELECT lang, doc_id, n_chars, rk FROM (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS INT) AS rk
        |  FROM documents)
        |WHERE rk <= 3
        |ORDER BY lang, rk""".stripMargin),

    // ---- token-budget shard assignment (distributed prefix sums) ----
    // Pack the corpus into ~2000-token shards in doc_id order: shard =
    // tokens-before-this-doc ÷ budget. The running total runs through
    // ops/PrefixSum (range-partitioned chunks + broadcast offsets) —
    // never the global single-partition window `SUM OVER (ORDER BY)`
    // plans to, which is the scale trap this query exists to exercise.
    Query("q51_token_shards", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
                size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      PrefixSum.runningTotal(toks, "doc_id", "n_tokens", "cum_tokens")
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
                expr("CAST((cum_tokens - n_tokens) div 2000 AS BIGINT)").as("shard"))
        .orderBy("doc_id")
    }, _ =>
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000 AS BIGINT) AS shard
        |FROM t
        |ORDER BY doc_id""".stripMargin),

    // ---- source-mixture sampling (temperature-weighted corpus mix) ----
    // Each source gets its own deterministic sampling rate (10/30/50/
    // 70% by source tier) — how a pretraining mix up/down-weights
    // sources. Same md5-bucket discipline as q45/q50: no RNG, re-runs
    // and late shards land identically on every engine.
    Query("q64_source_mixture", (s, dir) => {
      val srcNum = regexp_replace(col("source"), "[^0-9]", "").cast("int")
      val rate = lit(10) + (srcNum % 4) * 20
      val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("bigint") % 100
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             max(rate).as("rate_pct"),
             count(when(bucket < rate, 1)).as("n_sampled"),
             coalesce(sum(when(bucket < rate, col("n_chars"))), lit(0L))
               .as("sampled_chars"))
        .orderBy("source")
    }, _ =>
      """WITH d AS (
        |  SELECT source, n_chars,
        |    10 + (CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) % 4) * 20
        |      AS rate_pct,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MAX(rate_pct) AS rate_pct,
        |  CAST(COUNT(*) FILTER (bucket < rate_pct) AS BIGINT) AS n_sampled,
        |  CAST(COALESCE(SUM(n_chars) FILTER (bucket < rate_pct), 0) AS BIGINT)
        |    AS sampled_chars
        |FROM d
        |GROUP BY source
        |ORDER BY source""".stripMargin),

    // ---- per-stratum quantile bucketing (ntile) ----
    // Curriculum/balance tooling: decile buckets of document length
    // within each language. The tie-break on doc_id makes the order
    // total, so ntile's bucket boundaries are engine-identical.
    Query("q65_length_buckets", (s, dir) => {
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      Tables.documents(s, dir)
        .withColumn("bucket", ntile(10).over(w))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
             min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang", "bucket")
    }, _ =>
      """WITH b AS (
        |  SELECT lang, n_chars,
        |    ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bucket
        |  FROM documents)
        |SELECT lang, CAST(bucket AS INT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM b
        |GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin),

    // ---- cross-source n-gram overlap matrix ----
    // Mixture-design tooling: exact Jaccard of 3-gram SETS between
    // every source pair. Scale shape: one gram-keyed shuffle folds
    // each gram's sources into a BITMASK (bit_or is idempotent — no
    // distinct needed), then the mask HISTOGRAM — ≤ 2^|sources| rows
    // at ANY corpus size, domain-bounded like the cents histogram —
    // crossJoins the broadcast 190-pair table. Never doc×doc, never
    // gram×gram, and the corpus-proportional stage carries slim
    // (gram, mask) rows only.
    Query("q66_source_overlap", (s, dir) => {
      // 'srcN' → bit N (SQL-form shiftleft: the Column API variant
      // only takes a literal shift amount). try_cast, not cast: a
      // source outside the srcNN convention yields a NULL bit (the
      // row contributes nothing to any mask — bit_or skips NULLs)
      // instead of an ANSI cast failure killing the whole query.
      // Range-guarded to 0..63 — the driver-side bitOf below uses
      // the SAME range, so a source numbered ≥64 is absent from both
      // the masks and the pair table (shiftleft would otherwise wrap
      // mod 64 and alias another source's bit, corrupting its rows).
      def onebit(name: String): Column =
        expr(s"""CASE WHEN try_cast(substring($name, 4, 2) as int)
                 BETWEEN 0 AND 63
                 THEN shiftleft(1L, try_cast(substring($name, 4, 2) as int))
                 END""")
      // gram identity = 64-bit fingerprint, per-doc distinct at
      // emission (word_text_gram_hashes_distinct): bit_or is
      // duplicate-insensitive, so the in-scan dedup is free
      // semantics-wise and the explode feeds the partial bit_or fewer
      // rows; the per-gram exchange keys on a long, not a gram string
      // The explicit repartition after the histogram matters: the
      // histogram exchange is tiny (≤2^|sources| rows), so AQE
      // coalesces it to ONE partition — but the 190× pair expansion
      // happens DOWNSTREAM of that read, so without the pin a single
      // task pays the whole crossJoin+aggregate (~0.9 s at sf1).
      // A fixed-N repartition is exempt from AQE coalescing, and the
      // extra exchange it adds carries only histogram rows.
      // explode_outer + isNotNull (not plain explode): see q49 — the
      // inferred `size(g3) > 0` filter would re-run the gram byte scan
      // per doc; the outer null row is dropped before the fold
      val masks = Tables.documents(s, dir)
        .select(col("source"), Text.distinctGramHashesOfText(col("text"), 3).as("g3"))
        .select(onebit("source").as("m"), explode_outer(col("g3")).as("gram"))
        .filter(col("gram").isNotNull)
        .groupBy("gram").agg(expr("bit_or(m)").as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("c"))
        .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      // the 190-row pair table is built DRIVER-SIDE from the memoized
      // source domain (bounded metadata, the codebook discipline) — a
      // LocalTableScan instead of a second corpus scan + distinct
      // exchange + crossJoin stages per execution; bit columns are
      // precomputed (same substring(4,2) convention as onebit) so the
      // crossJoin's per-row work is two AND+compare ops
      val srcNames = Tables.sourceNames(s, dir)
      // total (never-throwing) mirror of onebit's try_cast AND its
      // 0..63 range guard: a name that doesn't parse as srcNN — or
      // parses outside the representable bit range — gets no bit on
      // EITHER side, so the two stay consistent and a stray source
      // value can't throw NumberFormatException on the driver.
      def bitOf(name: String): Option[Long] =
        scala.util.Try(name.drop(3).take(2).toInt).toOption
          .filter(n => n >= 0 && n <= 63).map(1L << _)
      val pairRows = for {
        a <- srcNames; b <- srcNames if a < b
        ba <- bitOf(a); bb <- bitOf(b)
      } yield (a, b, ba, bb)
      val pairs = {
        import s.implicits._
        pairRows.toDF("src_a", "src_b", "ba", "bb")
      }
      def bit(b: String): Column = col("mask").bitwiseAND(col(b)) =!= 0
      masks.crossJoin(broadcast(pairs))
        .groupBy("src_a", "src_b")
        .agg(sum(when(bit("ba") && bit("bb"), col("c"))
                   .otherwise(0L)).as("n_common"),
             sum(when(bit("ba") || bit("bb"), col("c"))
                   .otherwise(0L)).as("n_union"))
        .select(col("src_a"), col("src_b"), col("n_common"), col("n_union"),
                round(col("n_common").cast("double") / col("n_union"), 6)
                  .as("jaccard"))
        .orderBy("src_a", "src_b")
    }, _ =>
      """WITH t AS (
        |  SELECT source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT source,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(range(0, len(toks) - 2),
        |                i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) END AS g3
        |  FROM t),
        |gm AS (
        |  SELECT gram,
        |    bit_or(1::BIGINT << CAST(substr(source, 4, 2) AS INT)) AS mask
        |  FROM (SELECT source, unnest(g3) AS gram FROM g)
        |  GROUP BY gram),
        |mc AS (SELECT mask, CAST(count(*) AS BIGINT) AS c FROM gm GROUP BY mask),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a CROSS JOIN srcs b WHERE a.source < b.source),
        |agg AS (
        |  SELECT src_a, src_b,
        |    CAST(SUM(CASE WHEN
        |        (mask & (1::BIGINT << CAST(substr(src_a, 4, 2) AS INT))) != 0
        |        AND (mask & (1::BIGINT << CAST(substr(src_b, 4, 2) AS INT))) != 0
        |      THEN c ELSE 0 END) AS BIGINT) AS n_common,
        |    CAST(SUM(CASE WHEN
        |        (mask & (1::BIGINT << CAST(substr(src_a, 4, 2) AS INT))) != 0
        |        OR (mask & (1::BIGINT << CAST(substr(src_b, 4, 2) AS INT))) != 0
        |      THEN c ELSE 0 END) AS BIGINT) AS n_union
        |  FROM mc CROSS JOIN pairs
        |  GROUP BY src_a, src_b)
        |SELECT src_a, src_b, n_common, n_union,
        |  round(CAST(n_common AS DOUBLE) / n_union, 6) AS jaccard
        |FROM agg
        |ORDER BY src_a, src_b""".stripMargin),

    // ---- paragraph(chunk)-level dedup (boilerplate removal) ----
    // Dolma-style sub-document dedup: an 8-word per-source header is
    // prepended (identically in both engines), so chunk 0 is shared
    // boilerplate across each source's documents; ops/ChunkDedup
    // keeps the corpus-wide first occurrence of every distinct chunk
    // and reassembles survivors in document order. Shuffle keys are
    // chunk texts (high-cardinality — the window parallelizes), then
    // one doc_id regroup; never doc×doc.
    Query("q73_chunk_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("std header boilerplate for source "), col("source"),
               lit(" v1 end "), col("text")).as("text"))
      ops.ChunkDedup.dedup(docs, "text", "doc_id", w = 8)
        .orderBy("doc_id")
    }, _ =>
      """WITH d AS (
        |  SELECT doc_id,
        |    'std header boilerplate for source ' || source || ' v1 end ' || text AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
        |n AS (SELECT doc_id,
        |        greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1) AS n_chunks
        |      FROM t),
        |c AS (SELECT doc_id, toks,
        |        CAST(unnest(range(0, greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1))) AS INT) AS pos
        |      FROM t),
        |ch AS (SELECT doc_id, pos,
        |         array_to_string(toks[pos*8+1 : pos*8+8], ' ') AS chunk
        |       FROM c),
        |r AS (SELECT doc_id, pos, chunk,
        |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |      FROM ch),
        |k AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |        string_agg(chunk, ' ' ORDER BY pos) AS text_dedup
        |      FROM r WHERE rn = 1 GROUP BY doc_id)
        |SELECT n.doc_id, n.n_chunks, COALESCE(k.n_kept, 0) AS n_kept,
        |       COALESCE(k.text_dedup, '') AS text_dedup
        |FROM n LEFT JOIN k ON n.doc_id = k.doc_id
        |ORDER BY n.doc_id""".stripMargin),

    // ---- exact substring-SPAN dedup (arbitrary-offset repeats) ----
    // The Lee-et-al ExactSubstr family: q73's chunk grid misses
    // repeats that sit at different word offsets in different
    // documents; ops/SpanDedup shingles each document into
    // OVERLAPPING w=8-word spans at stride s=4 and drops a stride
    // block only when every span covering it was seen before. The
    // constructed corpus plants a 23-word licence boiler behind a
    // 0–4-word pad (doc_id % 5) — offsets differing by the stride
    // phase, the exact case chunk dedup cannot catch. Shuffle keys
    // are 60-bit md5 span fingerprints (q88 convention — the oracle
    // re-derives them bit-for-bit), then one doc_id regroup; span
    // text never shuffles, never doc×doc.
    Query("q92_span_dedup", (s, dir) => {
      val boiler = "terms of service apply to all content in this corpus " +
        "redistribution prohibited without prior written consent of the " +
        "publisher all rights reserved worldwide"
      // spread: word_spans explodes ~len/s spans per doc with an md5
      // per span — the heaviest per-row step of the query — and the
      // one-row-group fixture otherwise fuses it into a 1-task scan
      // (guide §2.5; no-op when the scan already fills the session)
      val docs = spreadSmallScan(Tables.documents(s, dir))
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          concat(expr("repeat('pad ', CAST(doc_id % 5 AS INT))"),
                 lit(boiler), lit(" "), col("text")).as("text"))
      ops.SpanDedup.dedup(docs, "text", "doc_id", w = 8, s = 4)
        .orderBy("doc_id")
    },
    // q92: the oracle re-derives the stride-4 / width-8 shingle grid,
    // the 60-bit md5 span fingerprints, the corpus-wide
    // first-occurrence keeper, and the covered-by-any-keeper block
    // rule relationally. The oracle's span-to-block coverage is a
    // small range self-join (fine for an oracle); the engine computes
    // it inside the doc-keyed aggregation instead.
    _ =>
      """WITH d AS (
        |  SELECT doc_id,
        |    repeat('pad ', CAST(doc_id % 5 AS INT)) ||
        |    'terms of service apply to all content in this corpus redistribution prohibited without prior written consent of the publisher all rights reserved worldwide'
        |    || ' ' || text AS text
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
        |c AS (SELECT doc_id, toks,
        |        CAST(unnest(range(0, greatest(CAST(ceil(len(toks) / 4.0) AS BIGINT), 1))) AS INT) AS pos
        |      FROM t),
        |sp AS (SELECT doc_id, pos,
        |         array_to_string(toks[pos*4+1 : pos*4+4], ' ') AS block,
        |         CAST(('0x' || substr(md5(array_to_string(toks[pos*4+1 : pos*4+8], ' ')), 1, 15)) AS BIGINT) AS span_h
        |       FROM c),
        |k AS (SELECT doc_id, pos, block,
        |        (row_number() OVER (PARTITION BY span_h ORDER BY doc_id, pos) = 1) AS keep
        |      FROM sp),
        |cov AS (SELECT b.doc_id, b.pos, b.block, bool_or(s2.keep) AS kept
        |        FROM k b JOIN k s2 ON s2.doc_id = b.doc_id
        |                          AND s2.pos BETWEEN b.pos - 1 AND b.pos
        |        GROUP BY b.doc_id, b.pos, b.block),
        |agg1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_spans
        |         FROM k GROUP BY doc_id),
        |agg2 AS (SELECT doc_id,
        |           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_blocks,
        |           COALESCE(string_agg(CASE WHEN kept THEN block END, ' ' ORDER BY pos), '') AS text_dedup
        |         FROM cov GROUP BY doc_id)
        |SELECT a.doc_id, a.n_spans, a.n_dup_spans, b.n_kept_blocks, b.text_dedup
        |FROM agg1 a JOIN agg2 b ON a.doc_id = b.doc_id
        |ORDER BY a.doc_id""".stripMargin),

    // ---- DSIR importance resampling (hashed-ngram weights) ----
    // Target = src0 docs, source = the rest; the learned state is two
    // B-bucket histograms (B=4096 — bounded by the CONSTANT, not the
    // data, which is what licenses the collect), scoring is map-only
    // via a folded delta-array literal (ops/Dsir). Exact fixed-point
    // micro-nat log-weights; selected ⇔ w > 1.
    Query("q94_dsir_weights", (s, dir) =>
      ops.Dsir.importanceWeights(
          Tables.documents(s, dir), col("source") === "src0")
        .orderBy("doc_id"),
    // q94: the oracle re-derives the two hashed-gram bucket
    // histograms (md5 bridge — bit-exact across engines), the
    // fixed-point delta table, and the per-doc folded log-weight.
    // Buckets a document references always exist in the histogram
    // (its own grams were counted), so the bucket join loses nothing.
    _ =>
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, unnest(toks) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, source,
        |         unnest(list_transform(range(1, len(toks)),
        |                               i -> toks[i] || ' ' || toks[i+1])) AS g
        |  FROM t WHERE len(toks) >= 2),
        |bk AS (
        |  SELECT doc_id, source = 'src0' AS is_t,
        |         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
        |  FROM g),
        |hist AS (
        |  SELECT b,
        |    CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tc,
        |    CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS sc
        |  FROM bk GROUP BY b),
        |tot AS (SELECT SUM(tc) AS tt, SUM(sc) AS ts FROM hist),
        |delta AS (
        |  SELECT b,
        |    CAST(floor(ln(CAST(tc + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) -
        |    CAST(floor(ln(CAST(sc + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS d
        |  FROM hist),
        |score AS (
        |  SELECT bk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |         CAST(SUM(delta.d) AS BIGINT) AS base
        |  FROM bk JOIN delta USING (b) GROUP BY bk.doc_id),
        |w AS (
        |  SELECT t.doc_id,
        |    CAST(COALESCE(score.n_grams, 0) AS BIGINT) AS n_grams,
        |    CAST(COALESCE(score.base, 0) + COALESCE(score.n_grams, 0) *
        |      (CAST(floor(ln(CAST(tot.ts + 4096 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) -
        |       CAST(floor(ln(CAST(tot.tt + 4096 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT))
        |      AS BIGINT) AS logw_micronats
        |  FROM t LEFT JOIN score ON score.doc_id = t.doc_id, tot)
        |SELECT doc_id, n_grams, logw_micronats,
        |  CAST(logw_micronats > 0 AS BIGINT) AS selected
        |FROM w
        |ORDER BY doc_id""".stripMargin),

    // ---- deterministic epoch shuffle + shard packing ----
    // The per-epoch "global shuffle": permutation position = 60-bit
    // md5 of (epoch salt, doc_id) — RNG-free, engine-stable — and
    // q51's greedy token packing applied in PERMUTED order via the
    // composite-key PrefixSum (range exchange + broadcast offsets,
    // never a single-partition window).
    Query("q95_epoch_shuffle", (s, dir) =>
      ops.EpochShuffle.shuffleAndPack(
          Tables.documents(s, dir), epoch = 7, tokensPerShard = 2000L)
        .orderBy("doc_id"),
    // q95: the oracle re-derives the epoch-7 permutation key (60-bit
    // md5 — bit-exact across engines), the running total in permuted
    // order, and the greedy shard rule as one window.
    _ =>
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('epoch7:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) AS epoch_key,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, epoch_key, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY epoch_key, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY epoch_key, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000 AS BIGINT) AS shard
        |FROM t
        |ORDER BY doc_id""".stripMargin)
  )
}
