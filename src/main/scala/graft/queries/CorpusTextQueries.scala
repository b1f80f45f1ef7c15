package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables
import graft.ops.{Multimodal, PrefixSum, Text}

/** Per-document text operators of the LLM-corpus family: token stats
  * and estimates, quality and repetition signals, language ID,
  * fingerprints, tf-idf terms, PII scrub, URL/domain caps, Unicode
  * cleanup, BPE shards and chunking, n-gram LM perplexity, and the
  * multimodal decodes. */
object CorpusTextQueries {

  val all: Seq[Query] = Seq(

    // ---- token statistics per language ----
    Query("q22_token_stats", (s, dir) => {
      val tokens = (length(col("text")) -
                    length(expr("replace(text, ' ', '')")) + 1).cast("bigint")
      Tables.documents(s, dir)
        .select(col("lang"), col("n_chars"), tokens.as("tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("tokens")).as("sum_tokens"),
             (sum(col("tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
             (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("lang")
    }, _ =>
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM (SELECT lang, n_chars,
        |        CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS tokens
        |      FROM documents) t
        |GROUP BY lang
        |ORDER BY lang""".stripMargin),

    // ---- per-document quality scoring ----
    // 'the' counted as a whole word from the token array (round 1
    // counted substrings, so 'other' inflated the stopword signal).
    Query("q23_text_quality", (s, dir) => {
      val tokens = (length(col("text")) -
                    length(expr("replace(text, ' ', '')")) + 1).cast("bigint")
      val stopCnt = size(filter(col("toks"), t => t === "the")).cast("bigint")
      val flags = when(stopCnt === 0, 1).otherwise(0) +
                  when(col("n_chars") < 100, 1).otherwise(0)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("n_chars"),
                Text.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"), tokens.as("tokens"), stopCnt.as("stop_cnt"),
          (stopCnt.cast("double") / tokens.cast("double")).as("stop_ratio"),
          (least(lit(1.0), tokens.cast("double") / 100.0) *
            (lit(1.0) - lit(0.1) * flags.cast("double"))).as("quality_score"))
        .orderBy("doc_id")
    }, _ =>
      """SELECT doc_id, tokens, stop_cnt,
        |  CAST(stop_cnt AS DOUBLE) / CAST(tokens AS DOUBLE) AS stop_ratio,
        |  least(1.0, CAST(tokens AS DOUBLE) / 100.0) *
        |    (1.0 - 0.1 * CAST(flags AS DOUBLE)) AS quality_score
        |FROM (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS tokens,
        |    CAST(len(list_filter(
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0),
        |      x -> x = 'the')) AS BIGINT) AS stop_cnt,
        |    (CASE WHEN len(list_filter(
        |       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0),
        |       x -> x = 'the')) = 0 THEN 1 ELSE 0 END
        |     + CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS flags
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    // ---- language-ID heuristic (whole-word marker scoring) ----
    // Counts marker TOKENS on word boundaries (round-1 version counted
    // substrings, so 'other' scored as 'the'). All five marker counts
    // come from ONE byte scan (native word_marker_counts) — the HOF
    // form paid a token-array materialization plus five interpreted
    // filter lambdas per row (q24 3.09→0.73 s solo at sf1).
    Query("q24_langid", (s, dir) => {
      val markers = Seq("the", "table", "filter", "data", "query")
      def occ(i: Int): Column = element_at(col("c"), i)
      val (en, de, fr, es, zh) = (occ(1), occ(2), occ(3), occ(4), occ(5))
      val pred = when(en >= de && en >= fr && en >= es && en >= zh, "en")
        .when(de >= fr && de >= es && de >= zh, "de")
        .when(fr >= es && fr >= zh, "fr")
        .when(es >= zh, "es")
        .otherwise("zh")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          call_function("word_marker_counts", col("text"),
            array(markers.map(lit): _*)).as("c"))
        .select(
          col("doc_id"), pred.as("pred_lang"),
          when(pred === col("lang"), 1).otherwise(0).as("is_match"))
        .orderBy("doc_id")
    }, _ =>
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> x = 'the')) AS BIGINT) AS c_en,
        |    CAST(len(list_filter(toks, x -> x = 'table')) AS BIGINT) AS c_de,
        |    CAST(len(list_filter(toks, x -> x = 'filter')) AS BIGINT) AS c_fr,
        |    CAST(len(list_filter(toks, x -> x = 'data')) AS BIGINT) AS c_es,
        |    CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS c_zh
        |  FROM t),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh THEN 'en'
        |         WHEN c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
        |         WHEN c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
        |         WHEN c_es >= c_zh THEN 'es'
        |         ELSE 'zh' END AS pred_lang
        |  FROM c)
        |SELECT doc_id, pred_lang,
        |  CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS is_match
        |FROM p
        |ORDER BY doc_id""".stripMargin),

    // ---- document fingerprint ----
    Query("q25_fingerprint", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
                conv(substring(md5(col("text")), 1, 15), 16, 10)
                  .cast("bigint").as("fingerprint"))
        .orderBy("doc_id")
    }, _ =>
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // ---- real tokenizer: arrays, n-grams, word-boundary stopwords ----
    // (Round-1 text ops were length arithmetic; these produce actual
    // token/gram arrays the downstream ops consume.)
    Query("q33_token_ops", (s, dir) => {
      // tokenize ONCE in a prior projection: HOF columns are
      // CodegenFallback, so a projection with four `tokens(text)`
      // occurrences re-splits the text four times (no CSE outside
      // codegen).
      Tables.documents(s, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_unique_tokens"),
          size(Text.ngrams(col("toks"), 2)).as("n_bigrams"),
          round(Text.stopwordRatio(col("toks")), 6).as("stopword_ratio"))
        .orderBy("doc_id")
    }, _ =>
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INT) AS n_unique_tokens,
        |  CAST(CASE WHEN len(toks) < 2 THEN 0 ELSE len(toks) - 1 END AS INT) AS n_bigrams,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(toks, x -> list_contains($SqlStopwords, x))) AS DOUBLE)
        |         / CAST(len(toks) AS DOUBLE) END, 6) AS stopword_ratio
        |FROM t
        |ORDER BY doc_id""".stripMargin),

    // ---- multimodal: real BINARY columns through decode + features ----
    // Payloads are built as actual binary blobs (fake GIMG container
    // over document text), decoded per-partition in mapPartitions, and
    // reduced to typed features — the full multimodal plumbing shape;
    // the oracle recomputes the same statistics from the source text.
    Query("q38_multimodal", (s, dir) => {
      import s.implicits._
      val media = Multimodal
        .mediaFromText(Tables.documents(s, dir), "doc_id", "text")
        .as[Multimodal.Media]
      Multimodal.features(Multimodal.decode(media))
        .select(col("media_id"), col("width"), col("height"), col("channels"),
                col("n_bytes"), round(col("mean_byte"), 6).as("mean_byte"))
        .orderBy("media_id")
    },
    // ASCII PRECONDITION: Spark computes n_bytes/mean_byte over the
    // UTF-8 payload BYTES while this oracle uses length(text)
    // (characters) and ascii() (code points) — equivalent only because
    // the synthetic corpus is pure ASCII (as MinHash.scala documents
    // for the whole text family). A non-ASCII corpus needs the oracle
    // rewritten over encode(text) for true byte parity.
    _ =>
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST((doc_id % 16) + 1 AS INT) AS width,
        |  CAST((doc_id % 8) + 1 AS INT) AS height,
        |  CAST(1 AS INT) AS channels,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(list_sum(list_transform(range(length(text)),
        |           i -> ascii(text[i+1]))) AS DOUBLE) / length(text) END, 6) AS mean_byte
        |FROM documents
        |ORDER BY media_id""".stripMargin),

    // ---- BPE-ish token-count estimate ----
    // Whitespace words chunked into <=4-char subword units — the cheap
    // estimator a data pipeline uses for budget accounting before any
    // real tokenizer runs. Exact count q22/q33; this is Σ⌈len/4⌉.
    Query("q46_token_estimate", (s, dir) => {
      val toks = Text.tokens(col("text"))
      val est = aggregate(toks, lit(0L), (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long"))
      Tables.documents(s, dir)
        .select(col("doc_id"), est.as("tokens_est"),
                size(toks).as("words"))
        .orderBy("doc_id")
    }, _ =>
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(toks,
        |    x -> CAST(ceil(len(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS tokens_est,
        |  CAST(len(toks) AS INT) AS words
        |FROM t
        |ORDER BY doc_id""".stripMargin),

    // ---- repetition / boilerplate quality signals (Gopher-style) ----
    // Duplicate-word ratio and most-frequent-bigram fraction: the two
    // cheap repetition filters a pretraining pipeline applies before
    // any model-based scoring. Pure per-doc projections — zero shuffle.
    Query("q48_repetition", (s, dir) => {
      // One fused byte scan per doc (native `repetition_stats`): token
      // count, exact distinct-token count, bigram count, and max
      // bigram multiplicity — replacing the five-array-pass composed
      // plan (tokens → bigram strings → array_sort → interpreted
      // aggregate lambda → array_distinct; 1.2 s of q48 at sf1). The
      // oracle keeps its independent sort-based formulation: identical
      // counts, different algorithm — a real cross-check.
      Tables.documents(s, dir)
        .select(col("doc_id"),
                call_function("repetition_stats", col("text")).as("st"))
        .select(
          col("doc_id"),
          col("st.n_tokens").cast("int").as("n_tokens"),
          round(when(col("st.n_tokens") === 0, 0.0).otherwise(
            lit(1.0) - col("st.n_distinct").cast("double") /
              col("st.n_tokens").cast("double")), 6).as("dup_word_ratio"),
          round(when(col("st.n_bigrams") === 0, 0.0).otherwise(
            col("st.top_bigram").cast("double") /
              col("st.n_bigrams").cast("double")), 6).as("top_bigram_frac"))
        .orderBy("doc_id")
    }, _ =>
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(range(0, len(toks) - 1),
        |                i -> concat_ws(' ', toks[i+1], toks[i+2])) END AS bg
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |  END, 6) AS dup_word_ratio,
        |  round(CASE WHEN len(bg) = 0 THEN 0.0
        |    ELSE CAST(list_max(list_transform(list_distinct(bg),
        |           g -> len(list_filter(bg, x -> x = g)))) AS DOUBLE)
        |         / CAST(len(bg) AS DOUBLE)
        |  END, 6) AS top_bigram_frac
        |FROM b
        |ORDER BY doc_id""".stripMargin),

    // ---- distinctive-term extraction (tf-idf family) ----
    // Top-3 terms per document by tf × N/df — the rational-idf variant
    // (no log damping) so the score is pure IEEE mul/div with the same
    // expression shape on both engines (ln is libm-dependent and has
    // no cross-engine bit guarantee). Scale shape: slim (doc, term)
    // rows shuffle once for tf and once for the per-term window, N
    // broadcasts as one row; the rank window is per-doc
    // (high-cardinality → parallel).
    Query("q61_tfidf_terms", (s, dir) => {
      // explode_outer + isNotNull: the plain explode's inferred
      // size-filter re-evaluates the tokenizer per doc (see q49)
      val terms = Tables.documents(s, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode_outer(col("toks")).as("term"))
        .filter(col("term").isNotNull)
      // ONE term-keyed exchange serves BOTH the tf aggregate and the
      // df window: hash(term) partitioning satisfies the aggregate's
      // ClusteredDistribution(doc_id, term) (the subset rule — all
      // rows of a (doc, term) pair share the term) and the window's
      // ClusteredDistribution(term), so the explicit repartition
      // replaces the aggregate's own (doc_id, term) exchange AND the
      // window's term re-exchange — 2 corpus exchanges in the whole
      // plan instead of 3 (measured r9: sf10 solo 6.9 → 5.6 s).
      // Trade-off: the occurrences shuffle raw (map-side combine
      // needs the agg to own its exchange); within-doc term repeats
      // are modest, so the removed tf-row exchange carried comparable
      // volume to what dedup would have saved here.
      val tf = terms.repartition(col("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df = docs containing the term = rows per term in tf ((doc,
      // term) is distinct there). A count window OVER (PARTITION BY
      // term) computes it in the same term-clustered pass a separate
      // groupBy+join would shuffle for twice — one term exchange
      // instead of an aggregate subtree plus a join re-shuffle (and
      // the tokenize+explode subtree keeps its ONE consumer; twin
      // subtrees re-execute, see q35).
      val wdf = Window.partitionBy("term")
      // corpus size from the documentsCount metadata memo (the q49
      // discipline: catalog-statistics class, one metadata job per
      // session) instead of a second documents-scan subtree + a
      // broadcast crossJoin of its 1-row result — the scan, the
      // exchange, and the join all disappear from the plan.
      val n = Tables.documentsCount(s, dir)
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
      tf.withColumn("df", count(lit(1)).over(wdf))
        .withColumn("score", col("tf").cast("double") * lit(n) / col("df"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
                round(col("score"), 6).as("score"), col("rk"))
        .orderBy("doc_id", "rk")
    }, _ =>
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                       x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM t GROUP BY doc_id, term),
        |df AS (
        |  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM t GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * n.n / df.df AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) * n.n / df.df DESC, tf.term) AS rk
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, round(score, 6) AS score, CAST(rk AS INT) AS rk
        |FROM scored
        |WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin),

    // ---- PII detection + masking (the pre-training scrub stage) ----
    // Deterministic doc_id-derived emails/phones/IPs are appended to
    // the synthetic text (both engines construct the identical string
    // — the q38 enrichment discipline), then the native single-pass
    // `pii_scrub` masks and counts all three families at once (the
    // composed regexp built-ins it replaces paid six regex passes and
    // five intermediate strings per row). Pure per-row projection:
    // zero shuffles, and the patterns stay in the regex subset where
    // Java and RE2 agree.
    Query("q72_pii_scrub", (s, dir) => {
      val enriched = concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" reach u"), col("doc_id").cast("string"), lit("@mail"),
                 (col("doc_id") % 5).cast("string"), lit(".example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call +1-555-"),
                 lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
                 lit(".0."), ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(lit("")))
      // the scrub struct stays behind an alias across two selects
      // (pqEncode discipline) so CollapseProject cannot re-run the
      // scan once per consumed field
      Tables.documents(s, dir)
        .select(col("doc_id"), ops.Pii.scrub(enriched).as("p"))
        .select(col("doc_id"),
          col("p.n_emails").as("n_emails"),
          col("p.n_phones").as("n_phones"),
          col("p.n_ips").as("n_ips"),
          col("p.clean_text").as("clean_text"))
        .orderBy("doc_id")
    }, _ =>
      """WITH e AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' reach u' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' from 10.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |      || CAST((doc_id * 7) % 256 AS VARCHAR)
        |      ELSE '' END AS t2
        |  FROM documents),
        |m1 AS (SELECT doc_id, t2,
        |  regexp_replace(t2,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS s1
        |  FROM e),
        |m2 AS (SELECT doc_id, t2, s1,
        |  regexp_replace(s1,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS s2
        |  FROM m1)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(s2,
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(s1,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS n_ips,
        |  regexp_replace(s2,
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
        |FROM m2 ORDER BY doc_id""".stripMargin),

    // ---- URL/domain analysis + per-domain caps ----
    // The domain-mixture control every crawl pipeline runs: extract
    // host (built-in parse_url), reduce to the registered domain
    // (anchored 3-label regexp — hosts with fewer labels give an
    // empty domain, fine for this corpus's uniform 4-label hosts; a
    // general deployment consults a public-suffix list), then
    // per-domain doc counts + a
    // per-domain cap — the cap reuses the bounded_topk native
    // aggregate (q53's operator), so stage-1 memory is 2 rows per
    // domain per map task and no window sort exists. The 30-row
    // domain-count table broadcasts back onto the capped rows.
    Query("q76_domain_caps", (s, dir) => {
      val url = concat(lit("https://sub"), (col("doc_id") % 7).cast("string"),
        lit(".domain"), (col("doc_id") % 30).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string"))
      val hosted = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), url.as("url"))
        .select(col("doc_id"), col("n_chars"),
          regexp_extract(expr("parse_url(url, 'HOST')"),
            "([a-z0-9-]+\\.[a-z0-9-]+\\.[a-z]+)$", 1).as("domain"))
      val counts = hosted.groupBy("domain")
        .agg(count(lit(1)).as("n_docs"))
      ops.TopK.perGroup(hosted, Seq("domain"), "n_chars", "doc_id", 2)
        .join(broadcast(counts), Seq("domain"))
        .select(col("domain"), col("n_docs"), col("rk"),
                col("doc_id"), col("n_chars"))
        .orderBy("domain", "rk")
    }, _ =>
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    'https://sub' || CAST(doc_id % 7 AS VARCHAR) || '.domain'
        |      || CAST(doc_id % 30 AS VARCHAR) || '.example.org/p/'
        |      || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |h AS (SELECT doc_id, n_chars,
        |        regexp_extract(regexp_extract(url, '^https?://([^/]+)', 1),
        |                       '([a-z0-9-]+\.[a-z0-9-]+\.[a-z]+)$', 1) AS domain
        |      FROM u),
        |c AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs FROM h GROUP BY domain),
        |r AS (SELECT domain, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY domain
        |                           ORDER BY n_chars DESC, doc_id) AS rk
        |      FROM h)
        |SELECT r.domain, c.n_docs, CAST(r.rk AS INT) AS rk, r.doc_id, r.n_chars
        |FROM r JOIN c ON r.domain = c.domain
        |WHERE r.rk <= 2
        |ORDER BY r.domain, r.rk""".stripMargin),

    // ---- Unicode text cleanup (NFC + control strip + collapse) ----
    // Deterministic dirt is appended (alternating composed é /
    // decomposed e+U+0301 — both engines build the identical bytes —
    // plus tab, BEL, double spaces, trailing space); Text.cleanup
    // NFC-composes (native nfc_normalize — Spark has no built-in;
    // DuckDB's nfc_normalize is the oracle), strips controls,
    // collapses runs, trims. Pure projection, zero shuffles.
    Query("q77_text_cleanup", (s, dir) => {
      val dirty = concat(col("text"), lit(" caf"),
        when(col("doc_id") % 2 === 0, lit("e\u0301")) // decomposed e+combining acute
          .otherwise(lit("\u00e9")),                  // precomposed \u00e9
        lit("\tctrl\u0007bell  done "))
      Tables.documents(s, dir)
        .select(col("doc_id"), ops.Text.cleanup(dirty).as("clean_text"))
        .select(col("doc_id"), col("clean_text"),
                length(col("clean_text")).as("n_cp"))
        .orderBy("doc_id")
    }, _ =>
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' caf'
        |      || CASE WHEN doc_id % 2 = 0 THEN 'e' || chr(769) ELSE chr(233) END
        |      || chr(9) || 'ctrl' || chr(7) || 'bell  done ' AS t2
        |  FROM documents),
        |n AS (SELECT doc_id,
        |        trim(regexp_replace(
        |          regexp_replace(nfc_normalize(t2), '[\x00-\x1f\x7f]', ' ', 'g'),
        |          '  +', ' ', 'g')) AS clean_text
        |      FROM d)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS n_cp
        |FROM n ORDER BY doc_id""".stripMargin),

    // ---- REAL audio decode (multimodal, javax.sound) ----
    // WAV containers are built from each doc's bytes (16-bit PCM,
    // 8 kHz mono — the producer shape a real ingest lands), then
    // decoded through the JDK's actual RIFF parser inside
    // mapPartitions; features = frame count, duration, and a signed
    // 16-bit LE sample-sum checksum over the DECODED payload. The
    // oracle recomputes all three independently from the source text
    // bytes, so a green hash proves the container round-trip is
    // byte-exact — the audio analog of q38's pixel-exact image check.
    Query("q80_audio_decode", (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(length(col("text")) >= 2)
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val media = docs.map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val pcm = java.util.Arrays.copyOf(bytes, bytes.length / 2 * 2)
        ops.Multimodal.Media(id, "audio", ops.Multimodal.AudioCodec.wavBytes(pcm, 8000))
      }
      ops.Multimodal.audioFeatures(media).toDF()
        .select(col("media_id").as("doc_id"), col("sample_rate"), col("channels"),
                col("n_frames"), round(col("duration_ms"), 6).as("duration_ms"),
                col("sum_samples"))
        .orderBy("doc_id")
    },
    // recomputes the audio features straight from the source text
    // bytes (ASCII corpus: ascii() == byte) — frames/duration from
    // arithmetic, the checksum by assembling each signed 16-bit LE
    // sample; matching the Spark side proves the WAV round-trip
    _ =>
      """WITH t AS (
        |  SELECT doc_id, text, CAST(length(text) // 2 AS BIGINT) AS nf
        |  FROM documents WHERE length(text) >= 2),
        |g AS (
        |  SELECT doc_id, text, CAST(unnest(range(0, nf)) AS BIGINT) AS i FROM t),
        |v AS (
        |  SELECT doc_id,
        |    ascii(substr(text, CAST(2*i+1 AS INT), 1))
        |      + 256 * ascii(substr(text, CAST(2*i+2 AS INT), 1)) AS v
        |  FROM g),
        |s AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(SUM(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END), 0)
        |         AS BIGINT) AS sum_samples
        |  FROM v GROUP BY doc_id)
        |SELECT t.doc_id, 8000 AS sample_rate, 1 AS channels, t.nf AS n_frames,
        |  round(t.nf * 1000.0 / 8000, 6) AS duration_ms, s.sum_samples
        |FROM t JOIN s USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin),

    // ---- REAL subword token counts driving shard packing ----
    // q46/q51's Σ⌈len/4⌉ estimator replaced by the actual greedy
    // longest-match tokenizer over the committed BpeVocab (native
    // bpe_token_count — one byte scan, trie-walk matching, no
    // per-row allocation), feeding the same q51 PrefixSum
    // shard-packing so token budgets are exact, not estimated. The
    // DuckDB oracle re-derives every count from the SAME vocab list
    // via a recursive CTE — the two engines share the merge table by
    // construction, not by coincidence.
    Query("q84_bpe_shards", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
                call_function("bpe_token_count", col("text")).as("n_tokens"))
      PrefixSum.runningTotal(toks, "doc_id", "n_tokens", "cum_tokens")
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
                expr("CAST((cum_tokens - n_tokens) div 2000 AS BIGINT)").as("shard"))
        .orderBy("doc_id")
    },
    // Greedy longest-match tokenization re-derived from the SAME
    // committed vocabulary (graft.functions.BpeVocab — interpolated
    // below, so engine and oracle cannot drift): per word instance,
    // the recursive CTE repeatedly strips the longest vocab prefix
    // (or one character when nothing matches), counting one token per
    // step; the q51 window then packs the exact counts into shards.
    _ =>
      s"""WITH RECURSIVE vocab(tok) AS (VALUES ${
            graft.functions.BpeVocab.Entries.map(v => s"('$v')").mkString(",")}),
        |words AS (
        |  SELECT doc_id, w
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
        |        FROM documents)
        |  WHERE w <> ''),
        |winst AS (SELECT doc_id, w, row_number() OVER () AS wid FROM words),
        |step AS (
        |  SELECT wid, doc_id, w AS rem, CAST(0 AS BIGINT) AS ntok FROM winst
        |  UNION ALL
        |  SELECT wid, doc_id,
        |         substr(rem, 1 + coalesce((SELECT max(length(v.tok)) FROM vocab v
        |                                    WHERE v.tok = substr(rem, 1, length(v.tok))), 1)),
        |         ntok + 1
        |  FROM step WHERE rem <> ''),
        |t AS (
        |  SELECT d.doc_id, CAST(coalesce(n.n, 0) AS BIGINT) AS n_tokens
        |  FROM documents d
        |  LEFT JOIN (SELECT doc_id, SUM(ntok) AS n FROM step WHERE rem = ''
        |             GROUP BY doc_id) n USING (doc_id))
        |SELECT doc_id, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000 AS BIGINT) AS shard
        |FROM t
        |ORDER BY doc_id""".stripMargin),

    // ---- context-window chunking by token budget ----
    // The step between counting (q84) and packing (q51): documents
    // longer than the model window are cut into ≤64-token pieces at
    // WORD granularity (greedy — add whole words until the next would
    // overflow; an over-budget single word gets its own chunk). The
    // native bpe_chunks emits the chunk array in the same one-byte
    // scan that counts tokens; per-chunk counts are re-derived with
    // bpe_token_count (equal to the sum of the chunk's word counts by
    // construction — the chunk IS its words space-joined). Map-only
    // until the final sort; the oracle re-derives chunk boundaries
    // from the same vocab via a recursive greedy accumulate.
    Query("q85_token_chunks", (s, dir) => {
      // posexplode_OUTER + post-filter, not plain posexplode: the
      // inner form makes the optimizer infer a `size(bpe_chunks(..))
      // > 0` pre-filter that re-runs the whole byte scan a second
      // time per doc (the ChunkDedup/Similarity generator discipline)
      Tables.documents(s, dir)
        .select(col("doc_id"),
                posexplode_outer(call_function("bpe_chunks", col("text"), lit(64)))
                  .as(Seq("chunk_id", "chunk_text")))
        .filter(col("chunk_text").isNotNull)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
                col("chunk_text"),
                call_function("bpe_token_count", col("chunk_text")).as("n_tokens"))
        .orderBy("doc_id", "chunk_id")
    },
    // Greedy token-budget chunking re-derived from the SAME vocab:
    // per-word counts via the strip-longest-prefix recursion (as
    // q84), then a second recursion accumulates word counts in doc
    // order, starting a new chunk when the running total would pass
    // the budget — the exact greedy rule bpe_chunks implements.
    _ =>
      s"""WITH RECURSIVE vocab(tok) AS (VALUES ${
            graft.functions.BpeVocab.Entries.map(v => s"('$v')").mkString(",")}),
        |w0 AS (
        |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS wi0
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS ws
        |        FROM documents)),
        |words AS (
        |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY wi0) AS wi
        |  FROM w0 WHERE w <> ''),
        |step AS (
        |  SELECT doc_id, wi, w AS rem, CAST(0 AS BIGINT) AS ntok FROM words
        |  UNION ALL
        |  SELECT doc_id, wi,
        |         substr(rem, 1 + coalesce((SELECT max(length(v.tok)) FROM vocab v
        |                                    WHERE v.tok = substr(rem, 1, length(v.tok))), 1)),
        |         ntok + 1
        |  FROM step WHERE rem <> ''),
        |wt AS (
        |  SELECT s.doc_id, s.wi, w.w, s.ntok AS t
        |  FROM (SELECT doc_id, wi, ntok FROM step WHERE rem = '') s
        |  JOIN words w USING (doc_id, wi)),
        |chunk AS (
        |  SELECT doc_id, wi, CAST(0 AS BIGINT) AS chunk_id, t AS cur FROM wt WHERE wi = 1
        |  UNION ALL
        |  SELECT w.doc_id, w.wi,
        |         CASE WHEN c.cur + w.t > 64 THEN c.chunk_id + 1 ELSE c.chunk_id END,
        |         CASE WHEN c.cur + w.t > 64 THEN w.t ELSE c.cur + w.t END
        |  FROM chunk c JOIN wt w ON w.doc_id = c.doc_id AND w.wi = c.wi + 1)
        |SELECT c.doc_id, c.chunk_id,
        |       string_agg(w.w, ' ' ORDER BY c.wi) AS chunk_text,
        |       CAST(SUM(w.t) AS BIGINT) AS n_tokens
        |FROM chunk c JOIN wt w USING (doc_id, wi)
        |GROUP BY c.doc_id, c.chunk_id
        |ORDER BY c.doc_id, c.chunk_id""".stripMargin),

    // ---- n-gram LM perplexity quality scoring (CCNet-style) ----
    // Per-language Laplace bigram LM trained on the doc_id%10==0
    // reference slice, every doc scored in EXACT fixed-point
    // micro-nats (ops/NgramLm — the integer-cents discipline applied
    // to logs; lp(k)=⌊ln(k)·1e6+0.5⌋ verified bit-identical JVM vs
    // DuckDB over the whole count domain). One union-keyed LM join
    // (kinds 0/1 = prev-unigram/bigram), grams as 8-byte XXH64
    // fingerprints (q49 convention), per-doc counts collapse before
    // any exchange.
    // Carrier hashes integer columns only: the library also emits the
    // human-facing rounded-double xent_per_token, but round-half ties
    // are engine-specific, so the cross-engine gate rides
    // xent_micronats_per_pos (exact integer division).
    // scoreRows (the map-fold arm, r18): doc_id is unique in
    // `documents`, the contract under which it is ≡ score()
    // (NgramLmSpec A/B pin + this carrier's unchanged oracle hash).
    Query("q93_lm_perplexity", (s, dir) => {
      val docs = Tables.documents(s, dir)
      ops.NgramLm.scoreRows(docs,
          ops.NgramLm.train(docs.filter(col("doc_id") % 10 === 0)))
        .drop("xent_per_token")
        .orderBy("doc_id")
    },
    // q93: the oracle re-derives the per-language Laplace bigram LM
    // (reference = doc_id%10==0) and the fixed-point micro-nat
    // cross-entropy from gram STRINGS (q49 tokenizer twin); the
    // engine counts 64-bit gram fingerprints instead — identical
    // counts absent a 64-bit collision (the accepted q49 tradeoff).
    // lp(k) = floor(ln(k)*1e6 + 0.5) is bit-identical across engines
    // over the count domain (BASELINE round 15 sweep), so
    // xent_micronats is integer-EXACT.
    _ =>
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |lmpos AS (
        |  SELECT lang, 0 AS kind, unnest(toks) AS g
        |  FROM t WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT lang, 1 AS kind,
        |         unnest(list_transform(range(1, len(toks)),
        |                               i -> toks[i] || ' ' || toks[i+1])) AS g
        |  FROM t WHERE doc_id % 10 = 0 AND len(toks) >= 2),
        |lm AS (
        |  SELECT lang, kind, g, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lmpos GROUP BY 1, 2, 3),
        |v AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS v
        |  FROM lm WHERE kind = 0 GROUP BY 1),
        |scpos AS (
        |  SELECT doc_id, lang, 0 AS kind,
        |         unnest(toks[1:len(toks)-1]) AS g
        |  FROM t WHERE len(toks) >= 2
        |  UNION ALL
        |  SELECT doc_id, lang, 1 AS kind,
        |         unnest(list_transform(range(1, len(toks)),
        |                               i -> toks[i] || ' ' || toks[i+1])) AS g
        |  FROM t WHERE len(toks) >= 2),
        |nk AS (
        |  SELECT doc_id, lang, kind, g, CAST(COUNT(*) AS BIGINT) AS nk
        |  FROM scpos GROUP BY 1, 2, 3, 4),
        |sc AS (
        |  SELECT nk.doc_id, nk.lang,
        |    CAST(SUM(nk.nk * CASE WHEN nk.kind = 0
        |      THEN CAST(floor(ln(CAST(COALESCE(lm.c, 0) + v.v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      ELSE -CAST(floor(ln(CAST(COALESCE(lm.c, 0) + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      END) AS BIGINT) AS xent_micronats
        |  FROM nk
        |  LEFT JOIN lm ON lm.lang = nk.lang AND lm.kind = nk.kind AND lm.g = nk.g
        |  JOIN v ON v.lang = nk.lang
        |  GROUP BY 1, 2)
        |SELECT t.doc_id, t.lang,
        |  CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_pos,
        |  sc.xent_micronats,
        |  CASE WHEN len(toks) >= 2
        |       THEN CAST(sc.xent_micronats // (len(toks) - 1) AS BIGINT) END
        |    AS xent_micronats_per_pos
        |FROM t LEFT JOIN sc ON sc.doc_id = t.doc_id AND sc.lang = t.lang
        |ORDER BY t.doc_id""".stripMargin)
  )

  /** DuckDB literal for Text.Stopwords (kept in lockstep). */
  private def SqlStopwords: String =
    Text.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
}
