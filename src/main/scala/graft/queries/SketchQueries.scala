package graft
package queries

import org.apache.spark.sql.functions._

import graft.core.Tables

/** Sketches and percentiles: exact percentiles and quartiles through
  * bounded histograms, grouped describe, KMV distinct counts, set
  * operations and re-aggregation, Misra-Gries heavy hitters, and the
  * mergeable quantile sketch. */
object SketchQueries {

  val all: Seq[Query] = Seq(

    // ---- exact percentiles via the bounded cents histogram ----
    // The fixed-precision twin of q32's sort-based selection: every
    // intermediate is bounded by the VALUE DOMAIN (coarse buckets =
    // domain/256, fine level <=256 distinct cents per target bucket),
    // not the corpus — no corpus-wide range shuffle anywhere.
    Query("q57_percentile_hist", (s, dir) => {
      ops.Percentiles.exactByCentsHistogram(
          Tables.lineitem(s, dir), "l_extendedprice", Seq(0.25, 0.5, 0.75))
        .select(round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
                round(col("p75"), 6).as("p75"))
    }, _ =>
      """WITH q AS (
        |  SELECT quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS p FROM lineitem)
        |SELECT round(p[1], 6) AS p25, round(p[2], 6) AS p50, round(p[3], 6) AS p75
        |FROM q""".stripMargin),

    // ---- grouped describe: per-stratum exact quartiles ----
    // pandas' groupby().describe() shape: count/mean/quartiles of doc
    // length per language. Groups are stratum-like (few, large), so the
    // per-group `percentile` value-map aggregate is the right tool here
    // (distinct n_chars values are bounded); the ~all-distinct global
    // case is q32's sort-based plan.
    Query("q62_grouped_describe", (s, dir) => {
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"),
          min(col("n_chars")).as("min_chars"),
          expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))").as("pct"),
          max(col("n_chars")).as("max_chars"))
        .select(col("lang"), col("n_docs"), round(col("mean_chars"), 6).as("mean_chars"),
                col("min_chars"),
                round(col("pct").getItem(0), 6).as("q25_chars"),
                round(col("pct").getItem(1), 6).as("q50_chars"),
                round(col("pct").getItem(2), 6).as("q75_chars"),
                col("max_chars"))
        .orderBy("lang")
    }, _ =>
      """SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_chars,
        |  MIN(n_chars) AS min_chars,
        |  round(quantile_cont(n_chars, 0.25), 6) AS q25_chars,
        |  round(quantile_cont(n_chars, 0.5), 6) AS q50_chars,
        |  round(quantile_cont(n_chars, 0.75), 6) AS q75_chars,
        |  MAX(n_chars) AS max_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin),

    // ---- exact quartiles, bits-histogram regime (vs q32's sort) ----
    // The SAME exact quartiles q32 computes for l_extendedprice, via
    // the third percentile regime: a two-level histogram over
    // order-preserving IEEE-754 bits (ops/Percentiles.
    // exactByBitsHistogram) — no range sampling, no corpus sort;
    // aggregation-only, bucket count bounded by the data's exponent
    // spread. Same oracle numbers as q32's pct_p columns; the bench
    // table shows the two regimes side by side on identical work.
    Query("q70_quartiles_hist", (s, dir) => {
      ops.Percentiles.exactByBitsHistogram(
        Tables.lineitem(s, dir).select(col("l_extendedprice")),
        "l_extendedprice", Seq(0.25, 0.5, 0.75), prefix = "pp")
        .select(round(col("pp25"), 6).as("q25_price"),
                round(col("pp50"), 6).as("q50_price"),
                round(col("pp75"), 6).as("q75_price"))
    }, _ =>
      """SELECT
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS q25_price,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS q50_price,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS q75_price
        |FROM lineitem""".stripMargin),

    // ---- KMV distinct-count sketch ----
    // A MERGEABLE sketch per group: the k smallest DISTINCT
    // md5-derived 60-bit text hashes (native `kmv_agg`,
    // ObjectHashAggregate with map-side partials — the exchange
    // carries at most k longs per (partition, lang), never texts),
    // plus the standard KMV estimate (k-1)/(v_k / 2^60), exact when a
    // group holds fewer than k distinct texts. At 100 TB this is the
    // "distinct documents per slice without rescanning" primitive:
    // per-shard sketches persist and union by re-trimming. All md5
    // arithmetic (the q25/q45 engine bridge) — zero RNG, so the
    // DuckDB oracle re-derives the identical sketch and estimate.
    Query("q88_kmv_distinct", (s, dir) => {
      val k = 64
      val hv = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("bigint")
      Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("lang"), hv.as("hv"))
        .groupBy("lang")
        .agg(call_function("kmv_agg", col("hv"), lit(k)).as("mins"))
        .select(
          col("lang"),
          size(col("mins")).as("n_kept"),
          element_at(col("mins"), size(col("mins"))).as("kth_hash"),
          round(
            when(size(col("mins")) < k, size(col("mins")).cast("double"))
              .otherwise(lit((k - 1).toDouble) /
                (element_at(col("mins"), k).cast("double") /
                  lit(1152921504606846976.0))), // 2^60, the hash domain
            6).as("est_distinct"))
        .orderBy("lang")
    },
    // KMV sketch re-derived relationally: the same md5-60-bit hashes,
    // per-lang distinct, ordered, capped at k=64; the estimate uses
    // the identical (k-1)/(v_k / 2^60) double arithmetic.
    _ =>
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hv
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT lang, hv,
        |    row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS nd
        |  FROM h)
        |SELECT lang,
        |  CAST(LEAST(MAX(nd), 64) AS INT) AS n_kept,
        |  CAST(MAX(CASE WHEN rn = LEAST(nd, 64) THEN hv END) AS BIGINT) AS kth_hash,
        |  round(CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
        |        ELSE 63.0 / (MAX(CASE WHEN rn = 64 THEN hv END) / 1152921504606846976.0)
        |        END, 6) AS est_distinct
        |FROM r WHERE rn <= 64
        |GROUP BY lang
        |ORDER BY lang""".stripMargin),

    // ---- heavy hitters: Misra-Gries prefilter + exact confirm ----
    // Frequent tokens (>= 0.5% of the stream) in TWO bounded passes:
    // pass 1 reduces every partition's token stream to a <=256-entry
    // MG summary + the total count in ONE aggregation (the exchange
    // carries summaries, never tokens); pass 2 exact-counts ONLY the
    // candidate set (an InSet map-side filter, so the groupBy
    // shuffles <=256 distinct keys). MG guarantees every token above
    // total/257 survives pass 1, and 0.5% > 1/257 — so the confirmed
    // output is EXACT (and oracle-checkable as a plain GROUP BY ..
    // HAVING), while a naive formulation shuffles the full exploded
    // token stream. The 100 TB shape: frequent domains/tokens with
    // bounded executor state and a candidate-sized shuffle.
    Query("q89_heavy_hitters", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(call_function("word_tokens", col("text"))).as("tok"))
      val r = toks.agg(
        call_function("mg_agg", col("tok"), lit(256)).as("cand"),
        count(lit(1)).as("total")).collect()(0)
      val total = r.getAs[Long]("total")
      val cands = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("cand")
        .map(_.getString(0))
      toks.filter(col("tok").isInCollection(cands))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .filter(col("n") * 200 >= lit(total))
        .orderBy(col("n").desc, col("tok"))
    },
    // Exact heavy hitters relationally (the MG prefilter only prunes
    // work — its guarantee makes the confirmed output identical to
    // the direct GROUP BY .. HAVING). Tokenization is q46's proven
    // word_tokens twin.
    _ =>
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            w -> w <> '')) AS tok
        |  FROM documents),
        |tot AS (SELECT count(*) AS total FROM t)
        |SELECT tok, CAST(count(*) AS BIGINT) AS n
        |FROM t
        |GROUP BY tok
        |HAVING count(*) * 200 >= (SELECT total FROM tot)
        |ORDER BY n DESC, tok""".stripMargin),

    // ---- KMV set operations: distinct overlap WITHOUT a join ----
    // Two sub-corpora (doc_id%2==0 vs doc_id%3==0, overlapping on
    // %6==0) are each reduced to a k=64 KMV sketch in one grouped
    // pass, then `kmv_set_est` derives union/intersection/jaccard
    // estimates from the two ≤64-long arrays alone — the theta-sketch
    // answer to "how many distinct documents do A and B share" that
    // at 100 TB replaces a corpus×corpus distinct join with sketch
    // arithmetic on the driver. θ discipline: below the smaller
    // saturated k-th value both sketches are uniform samples; when
    // neither saturates the outputs are EXACT. Deterministic md5
    // arithmetic — the oracle re-derives identical values.
    Query("q90_kmv_setops", (s, dir) => {
      val k = 64
      val hv = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("bigint")
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), hv.as("hv"))
      val sketches = docs
        .select(col("hv"),
          (col("doc_id") % 2 === 0).as("in_a"), (col("doc_id") % 3 === 0).as("in_b"))
        .agg(
          call_function("kmv_agg", when(col("in_a"), col("hv")), lit(k)).as("sa"),
          call_function("kmv_agg", when(col("in_b"), col("hv")), lit(k)).as("sb"))
      sketches
        .select(call_function("kmv_set_est",
          col("sa"), col("sb"), lit(k), lit(60)).as("e"))
        .select(
          round(col("e.union_est"), 6).as("union_est"),
          round(col("e.intersect_est"), 6).as("intersect_est"),
          round(col("e.jaccard_est"), 6).as("jaccard_est"))
    },
    // Theta-sketch set estimates re-derived relationally: the same
    // two k=64 sketches (per-set ordered distinct md5-60-bit hashes,
    // capped), the same θ = min of saturated k-th values (domain
    // 2^60 when unsaturated), the same strictly-below-θ union /
    // intersection counts, and the identical count·(M/θ) double
    // arithmetic.
    _ =>
      """WITH h AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hv
        |  FROM documents WHERE text IS NOT NULL),
        |sa AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn, count(*) OVER () AS nd
        |       FROM (SELECT DISTINCT hv FROM h WHERE doc_id % 2 = 0)),
        |sb AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn, count(*) OVER () AS nd
        |       FROM (SELECT DISTINCT hv FROM h WHERE doc_id % 3 = 0)),
        |ka AS (SELECT hv FROM sa WHERE rn <= 64),
        |kb AS (SELECT hv FROM sb WHERE rn <= 64),
        |theta AS (SELECT LEAST(
        |  CASE WHEN (SELECT MAX(nd) FROM sa) >= 64
        |       THEN (SELECT hv FROM sa WHERE rn = 64)
        |       ELSE 1152921504606846976 END,
        |  CASE WHEN (SELECT MAX(nd) FROM sb) >= 64
        |       THEN (SELECT hv FROM sb WHERE rn = 64)
        |       ELSE 1152921504606846976 END) AS th),
        |u AS (SELECT count(*) AS cu
        |      FROM (SELECT hv FROM ka UNION SELECT hv FROM kb) x
        |      WHERE hv < (SELECT th FROM theta)),
        |i AS (SELECT count(*) AS ci
        |      FROM (SELECT hv FROM ka INTERSECT SELECT hv FROM kb) x
        |      WHERE hv < (SELECT th FROM theta))
        |SELECT
        |  round(cu * (1152921504606846976.0 / th), 6) AS union_est,
        |  round(ci * (1152921504606846976.0 / th), 6) AS intersect_est,
        |  round(CASE WHEN cu = 0 THEN 0.0
        |        ELSE CAST(ci AS DOUBLE) / CAST(cu AS DOUBLE) END, 6) AS jaccard_est
        |FROM u, i, theta""".stripMargin),

    // ---- sketch re-aggregation: per-source sketches → corpus sketch ----
    // The persistence contract as a gate-checked query: one kmv_agg
    // sketch per source (the per-shard rows a pipeline would LAND),
    // then kmv_union_agg over just those ≤k-long arrays — never the
    // raw hashes again — must equal the direct whole-corpus sketch.
    // KMV union is lossless by construction, so the oracle can derive
    // the k smallest GLOBAL distinct hashes directly and the hash
    // match proves the two-level aggregation is exact, not just close.
    Query("q91_kmv_reagg", (s, dir) => {
      val k = 64
      val hv = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("bigint")
      val perSource = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("source"), hv.as("hv"))
        .groupBy("source")
        .agg(call_function("kmv_agg", col("hv"), lit(k)).as("sketch"))
      perSource
        .agg(call_function("kmv_union_agg", col("sketch"), lit(k)).as("mins"))
        .select(
          size(col("mins")).as("n_kept"),
          element_at(col("mins"), lit(1)).as("min_hash"),
          element_at(col("mins"), size(col("mins"))).as("kth_hash"),
          round(
            when(size(col("mins")) < k, size(col("mins")).cast("double"))
              .otherwise(lit((k - 1).toDouble) /
                (element_at(col("mins"), k).cast("double") /
                  lit(1152921504606846976.0))),
            6).as("est_distinct"))
    },
    // Losslessness makes the oracle simple: the union of per-source
    // sketches must equal the k smallest GLOBAL distinct hashes, so
    // the oracle skips the two-level structure entirely and the hash
    // match proves it exact.
    _ =>
      """WITH h AS (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hv
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
        |         count(*) OVER () AS nd
        |  FROM h)
        |SELECT
        |  CAST(LEAST(MAX(nd), 64) AS INT) AS n_kept,
        |  CAST(MIN(hv) AS BIGINT) AS min_hash,
        |  CAST(MAX(CASE WHEN rn = LEAST(nd, 64) THEN hv END) AS BIGINT) AS kth_hash,
        |  round(CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
        |        ELSE 63.0 / (MAX(CASE WHEN rn = 64 THEN hv END) / 1152921504606846976.0)
        |        END, 6) AS est_distinct
        |FROM r WHERE rn <= 64""".stripMargin),

    // ---- mergeable quantile sketch (bottom-k sampling) ----
    // Per-source n_chars quantiles from deterministic bottom-k value
    // samples (ops/QuantileSketch): built per (source, doc_id%4
    // SHARD), then MERGED per source — while the oracle computes the
    // global bottom-k sample directly, so the green hash IS the
    // mergeability proof (bottom-k of bottom-k's ≡ global bottom-k;
    // the q56 equivalence trick). Estimates are exact below k=32 and
    // integer-exact always (index rule, no interpolation).
    Query("q96_quantile_sketch", (s, dir) => {
      val shards = ops.QuantileSketch.build(
        Tables.documents(s, dir)
          .withColumn("shard", col("doc_id") % 4),
        Seq("source", "shard"), "doc_id", "n_chars", k = 32)
      val merged = ops.QuantileSketch.merge(shards, Seq("source"), k = 32)
      merged.select(col("source"), col("n_rows").as("n_docs"),
          size(col("sketch")).cast("bigint").as("n_sample"),
          ops.QuantileSketch.quantile(col("sketch"), 0.5).as("p50_est"),
          ops.QuantileSketch.quantile(col("sketch"), 0.9).as("p90_est"))
        .orderBy("source")
    },
    // q96: the oracle ranks every doc by its md5 sampling key and
    // takes the GLOBAL per-source bottom-32 sample; the engine builds
    // per-shard sketches and merges them — equal results prove the
    // mergeable property (bottom-k of bottom-k's ≡ global bottom-k).
    _ =>
      """WITH h AS (
        |  SELECT source, doc_id, n_chars,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |r AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM h),
        |s AS (
        |  SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_sample,
        |    list_sort(list(n_chars)) AS vals
        |  FROM r WHERE rn <= 32 GROUP BY source)
        |SELECT source, n_docs, n_sample,
        |  vals[CAST(floor(0.5 * (n_sample - 1)) AS BIGINT) + 1] AS p50_est,
        |  vals[CAST(floor(0.9 * (n_sample - 1)) AS BIGINT) + 1] AS p90_est
        |FROM s
        |ORDER BY source""".stripMargin)
  )
}
