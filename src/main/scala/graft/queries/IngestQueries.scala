package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Parity.{AnnBits, AnnBands, sqlBandedBuckets, SqlMinhashPairCtes}
import graft.queries.SimilarityQueries.{spreadSmallScan, minhashSigsCk}

/** Landed artifacts and incremental ingest: queries that land files
  * (ingest landing, jsonl shards, IVF-PQ index, benchmark grams, epoch
  * manifests) and whose results or oracles read them back, plus the
  * batch twins of the streaming dedup stages. */
object IngestQueries {

  val all: Seq[Query] = Seq(

    // ---- end-to-end ingest: fetch → clean → land → pruned query ----
    // The reference's whole pipeline (run_pipeline.py:271-305) as one
    // driver-checked flow: distributed multi-point fetch (fixtures),
    // extract-stage clean, month-partitioned parquet landing, then a
    // partition-pruned point query. The oracle reads the SAME landed
    // parquet back in DuckDB (IngestSpec proves only one month's files
    // are opened). Scale-independent inputs: the fixture point set.
    Query("q59_ingest_landing", (s, _) =>
      pipeline.LandedIngest.runAndQuery(s),
    // reads the parquet the Spark side just landed — the oracle checks
    // the full fetch→clean→land→query chain, not a re-derivation
    _ =>
      s"""SELECT time, latitude, longitude, temperature, salinity
        |FROM read_parquet(
        |  '${pipeline.LandedIngest.Q59LandingDir}/month=*/z_bucket=*/*.parquet',
        |  hive_partitioning = true)
        |WHERE month = '1960-07' AND latitude = 32.5 AND longitude = -70.0
        |ORDER BY time""".stripMargin),

    // ---- incremental dedup: bloom prefilter + exact confirm ----
    // The cross-batch form of q21: corpus = doc_id < 400, batch =
    // doc_id >= 400 with every third document carrying the text of
    // corpus doc (doc_id − 400) — deterministic overlap constructed
    // identically by both engines. The native `bloom_agg` blob prunes
    // the batch before the exact confirm join (ops/DedupStage);
    // pruning never changes the answer, so the oracle is the plain
    // NOT IN.
    Query("q74_incremental_dedup", (s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.filter(col("doc_id") < 400).select("doc_id", "text")
      val donors = d.select((col("doc_id") + 400).as("doc_id"),
                            col("text").as("donor_text"))
      val batch = d.filter(col("doc_id") >= 400)
        .join(donors, Seq("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, col("donor_text"))
            .otherwise(col("text")).as("text"))
      ops.DedupStage.newDocs(corpus, batch).orderBy("doc_id")
    }, _ =>
      """WITH b AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 3 = 0 THEN o.text ELSE d.text END AS text
        |  FROM documents d JOIN documents o ON o.doc_id = d.doc_id - 400
        |  WHERE d.doc_id >= 400)
        |SELECT doc_id,
        |  (text NOT IN (SELECT text FROM documents WHERE doc_id < 400)) AS is_new
        |FROM b ORDER BY doc_id""".stripMargin),

    // ---- jsonl corpus round-trip (the training-corpus interchange) ----
    // Spark lands the documents as gzip jsonl shards, reads them back
    // with an explicit schema, and summarizes; the oracle reads the
    // SAME shards with DuckDB's independent JSON parser (the q59
    // landed-artifact discipline), so the green hash proves the
    // emitted format cross-parses — escaping and numerics included.
    // md5-distinct and length sums pin text payload fidelity.
    Query("q78_jsonl_roundtrip", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
      sources.CorpusJsonl.roundTrip(docs, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"),
             sum(length(col("text")).cast("long")).as("sum_text_len"),
             countDistinct(md5(col("text"))).as("n_distinct_text"),
             min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang", "source")
    },
    // reads the gzip jsonl shards the Spark side just landed — an
    // independent parser checking the emitted format itself
    d =>
      s"""SELECT lang, source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_len,
        |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_text,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM read_json('${d.jsonl}/*.json.gz',
        |  format = 'newline_delimited',
        |  columns = {doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
        |             source: 'VARCHAR', n_chars: 'BIGINT'})
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin),

    // ---- PERSISTED IVF-PQ index: train → land → search from codes ----
    // The production flow q75/q79 point at: the index lands as parquet
    // partitioned by coarse centroid, and the search scan reads ONLY
    // the probed centroids' partitions (partition pruning) and ONLY
    // the m int codes — never a raw vector (PlanSpec pins both). The
    // oracle reads the SAME landed parquet (q59/q78 landed-artifact
    // discipline) and recomputes the LUT scores independently.
    Query("q81_ivfpq_index", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxDir = ops.IvfPqIndex.dirFor(dir)
      // train once, share the codebooks with the search (r22): the
      // land+search flow paid the 16-row codebook collect TWICE per
      // execution — the search now reuses the tables the training
      // just derived (one fewer driver action; values unchanged, the
      // rows are the same by construction)
      val cb = ops.IvfPqIndex.trainCodebooks(emb, coarseK = 16, ksub = 16)
      ops.IvfPqIndex.landEncoded(emb, idxDir, m = 4, cb)
      ops.IvfPqIndex.search(s, idxDir, emb, probeIds = Seq(123L, 77L, 401L),
          coarseK = 16, m = 4, ksub = 16, nprobe = 4, k = 10,
          codebooksOpt = Some(cb))
        .select(col("probe_id"), col("vec_id"), col("centroid"),
                round(col("adc"), 6).as("adc"), col("rk"))
        .orderBy("probe_id", "rk")
    },
    // reads the LANDED index parquet (codes, centroid partitions) the
    // Spark side just wrote — the stored-code twin of q79: probes and
    // LUTs recompute from embeddings, but the corpus-side scores come
    // from the persisted codes, so a green hash proves the landed
    // layout round-trips
    d =>
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
        |probes AS (SELECT vec_id AS probe_id, v AS pv FROM v
        |           WHERE vec_id IN (123, 77, 401)),
        |pc AS (
        |  SELECT probe_id, cid FROM (
        |    SELECT p.probe_id, cb.cid,
        |      row_number() OVER (PARTITION BY p.probe_id
        |                         ORDER BY list_dot_product(pv, cv) DESC, cid) AS rn
        |    FROM probes p CROSS JOIN cb) WHERE rn <= 4),
        |idx AS (
        |  SELECT vec_id, CAST(centroid AS BIGINT) AS centroid,
        |         code_0, code_1, code_2, code_3
        |  FROM read_parquet('${d.ivfPq}/centroid=*/*.parquet',
        |                    hive_partitioning = true)),
        |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |scb AS (SELECT cid, j, cv[j*16+1 : (j+1)*16] AS scv FROM cb CROSS JOIN js),
        |lut AS (
        |  SELECT probe_id, j, cid,
        |         list_dot_product(pv[j*16+1 : (j+1)*16], scv) AS term
        |  FROM probes CROSS JOIN scb),
        |adc AS (
        |  SELECT pc.probe_id, i.vec_id, i.centroid,
        |    ((MAX(CASE WHEN l.j = 0 THEN l.term END)
        |      + MAX(CASE WHEN l.j = 1 THEN l.term END))
        |      + MAX(CASE WHEN l.j = 2 THEN l.term END))
        |      + MAX(CASE WHEN l.j = 3 THEN l.term END) AS adc
        |  FROM idx i
        |  JOIN pc ON pc.cid = i.centroid
        |  JOIN lut l ON l.probe_id = pc.probe_id AND l.cid =
        |    CASE l.j WHEN 0 THEN i.code_0 WHEN 1 THEN i.code_1
        |             WHEN 2 THEN i.code_2 ELSE i.code_3 END
        |  WHERE i.vec_id <> pc.probe_id
        |  GROUP BY pc.probe_id, i.vec_id, i.centroid),
        |ranked AS (
        |  SELECT probe_id, vec_id, centroid, adc,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |                            ORDER BY adc DESC, vec_id) AS INT) AS rk
        |  FROM adc)
        |SELECT probe_id, vec_id, centroid, round(adc, 6) AS adc, rk
        |FROM ranked WHERE rk <= 10
        |ORDER BY probe_id, rk""".stripMargin),

    // ---- cross-batch NEAR-dup filter (incremental ingest shape) ----
    // q74's MinHash/LSH twin (ops/NearDupIncremental): the 5% slice
    // doc_id % 20 == 0 plays the already-accepted corpus, the rest is
    // the incoming batch; a batch doc is a near-dup when any of its
    // LSH band buckets holds a corpus doc (collision ⇒ est ≥ 0.5 by
    // banding). Scale shape: the corpus side reduces to a DISTINCT
    // (band, x, y) bucket table — slim triples, one semi-join, doc
    // pairs never materialize (one hit per colliding batch doc, not
    // one per corpus bucket-mate). The streaming face is
    // EventStreams.ingestNearDup, which lands signature columns with
    // the corpus so this check never re-tokenizes landed text.
    Query("q82_neardup_incremental", (s, dir) => {
      val sigs = minhashSigsCk(s, dir)
      ops.NearDupIncremental.newDocs(
          corpusSigs = sigs.filter(col("doc_id") % 20 === 0),
          batchSigs = sigs.filter(col("doc_id") % 20 =!= 0))
        .orderBy("doc_id")
    }, _ =>
      s"""WITH $SqlMinhashPairCtes,
        |landed AS (
        |  SELECT DISTINCT band, x, y FROM bands WHERE doc_id % 20 = 0),
        |dup AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM bands b JOIN landed USING (band, x, y)
        |  WHERE b.doc_id % 20 <> 0)
        |SELECT d.doc_id, (dup.doc_id IS NULL) AS is_new
        |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
        |WHERE d.doc_id % 20 <> 0
        |ORDER BY d.doc_id""".stripMargin),

    // ---- composed ingest: exact + near-dup confirm, one pass ----
    // Batch twin of EventStreams.ingestPipeline's cross-batch stages
    // (the streaming in-batch keepers have their own specs): corpus =
    // every 20th doc, landed; batch = the rest with deterministic
    // overlap constructed identically in both engines — doc_id%7==1
    // docs carry an EXACT copy of their base corpus doc (base =
    // doc_id − doc_id%20), %7==2 docs a suffix-edited NEAR copy. A
    // batch doc is new iff it survives BOTH confirms: q74's
    // bloom-pruned exact NOT-IN and q82's landed-bucket collision.
    // The flags are computed independently and ANDed, which equals
    // the pipeline's run-near-only-on-exact-survivors because each
    // flag depends only on the doc itself and the landed corpus.
    Query("q83_ingest_pipeline", (s, dir) => {
      val d = Tables.documents(s, dir)
      // only multiples of 20 can be bases (base_id = doc_id − doc_id%20),
      // so the broadcast side is 1/20th of the corpus, not all of it
      val base = d.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("base_id"), col("text").as("base_text"))
      val corpus = d.filter(col("doc_id") % 20 === 0).select("doc_id", "text")
      // localCheckpoint: the constructed batch (self-join + text
      // rewrite) has TWO consumers below (exact confirm, near sigs) —
      // the q35 twin-subtree discipline; materialize once.
      val batch = d.filter(col("doc_id") % 20 =!= 0)
        .join(base, col("base_id") === col("doc_id") - (col("doc_id") % 20))
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 1, col("base_text"))
            .when(col("doc_id") % 7 === 2,
              concat(col("base_text"), lit(" ingest edit marker")))
            .otherwise(col("text")).as("text"))
        .localCheckpoint()
      val exactFlag = ops.DedupStage.newDocs(corpus, batch)
        .select(col("doc_id"), col("is_new").as("exact_new"))
      val nearFlag = ops.NearDupIncremental.newDocs(
          ops.NearDupIncremental.withSigs(corpus),
          // spread: the checkpointed batch is 1 partition at bench
          // scale and minhash_sigs is the expensive per-row step of
          // this chain (guide §2.5; see spreadSmallScan — corpus is
          // 1/20th the rows, below the win threshold, so only the
          // batch side opts in)
          ops.NearDupIncremental.withSigs(spreadSmallScan(batch)))
        .select(col("doc_id"), col("is_new").as("near_new"))
      exactFlag.join(nearFlag, Seq("doc_id"))
        .select(col("doc_id"), (col("exact_new") && col("near_new")).as("is_new"))
        .orderBy("doc_id")
    },
    // Composed ingest: q74's exact NOT-IN AND q82's landed-bucket
    // collision, over the same constructed batch texts as the Spark
    // side (exact copy at %7==1, suffix edit at %7==2). The minhash
    // CTE chain is re-derived over corpus ∪ modified-batch instead of
    // the raw documents table, constants identical to
    // SqlMinhashPairCtes (kept in lockstep with the native
    // minhash_sigs expression).
    _ =>
      """WITH b AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 1 THEN o.text
        |         WHEN d.doc_id % 7 = 2 THEN o.text || ' ingest edit marker'
        |         ELSE d.text END AS text
        |  FROM documents d JOIN documents o
        |    ON o.doc_id = d.doc_id - (d.doc_id % 20)
        |  WHERE d.doc_id % 20 <> 0),
        |all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id, text FROM b),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(1, length(text) - 7) + 1),
        |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 8)) AS BIGINT) % 1000003) AS hm
        |  FROM all_docs),
        |sigs AS (
        |  SELECT doc_id,
        |    list_min(list_transform(hm, x -> (x * 961748941 + 101) % 1000003)) AS mh1,
        |    list_min(list_transform(hm, x -> (x * 982451653 + 202) % 1000003)) AS mh2,
        |    list_min(list_transform(hm, x -> (x * 899809343 + 303) % 1000003)) AS mh3,
        |    list_min(list_transform(hm, x -> (x * 472882027 + 404) % 1000003)) AS mh4
        |  FROM h),
        |bands AS (
        |  SELECT doc_id, 1 AS band, mh1 AS x, mh2 AS y FROM sigs
        |  UNION ALL
        |  SELECT doc_id, 2 AS band, mh3 AS x, mh4 AS y FROM sigs),
        |landed AS (
        |  SELECT DISTINCT band, x, y FROM bands WHERE doc_id % 20 = 0),
        |neardup AS (
        |  SELECT DISTINCT bd.doc_id
        |  FROM bands bd JOIN landed USING (band, x, y)
        |  WHERE bd.doc_id % 20 <> 0)
        |SELECT b.doc_id,
        |  (b.text NOT IN (SELECT text FROM documents WHERE doc_id % 20 = 0)
        |   AND neardup.doc_id IS NULL) AS is_new
        |FROM b LEFT JOIN neardup ON neardup.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin),

    // ---- incremental SEMANTIC dedup (embedding space) ----
    // The q83 construction transplanted to vector space: corpus =
    // every 20th embedding, landed; batch = the rest, with %7==1 rows
    // carrying an EXACT copy of their base corpus vector and %7==2 a
    // one-coordinate perturbation (+0.25 on dim 0 — IEEE-exact in
    // both engines). A batch doc is a dup iff some corpus doc shares
    // a hyperplane band bucket AND scores cosine >= 0.4 — unlike the
    // MinHash twin (q82), a hyperplane collision alone proves
    // nothing, so every candidate is cosine-confirmed (q47's rule
    // across the corpus/batch boundary). Candidates come from the
    // slim (id, band, bucket) equi-join; vectors are fetched only for
    // distinct candidate pairs.
    Query("q86_semantic_incremental", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      // only multiples of 20 can be bases — the broadcast side is
      // 1/20th of the corpus (the q83 sizing discipline)
      val base = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("base_id"),
                col("embedding").cast("array<double>").as("base_v"))
      val corpus = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"), col("embedding"))
      // localCheckpoint: the constructed batch has three consumers in
      // newDocs (codes, vectors, final flag join) — materialize once
      val batch = e.filter(col("vec_id") % 20 =!= 0)
        .join(base, col("base_id") === col("vec_id") - (col("vec_id") % 20))
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 1, col("base_v"))
            .when(col("vec_id") % 7 === 2,
              transform(col("base_v"),
                (x, i) => when(i === 0, x + lit(0.25)).otherwise(x)))
            .otherwise(col("embedding").cast("array<double>")).as("embedding"))
        .localCheckpoint()
      ops.SemanticIncremental.newDocs(corpus, batch, tau = 0.4,
          bits = AnnBits, bands = AnnBands)
        .orderBy("vec_id")
    },
    // Incremental semantic dedup: the q83 corpus/batch construction in
    // vector space (exact vector copy at %7==1, +0.25 on dim 0 at
    // %7==2 — both IEEE-exact), hyperplane codes from the SAME
    // sqlLshCode integer formulas as the native expression, candidates
    // from the cross-side (band, bucket) join, dup iff a candidate
    // corpus partner reaches cosine >= 0.4 (list_dot_product — the
    // q47-proven parity form of the native array_dot cosine).
    _ =>
      s"""WITH base AS (
        |  SELECT vec_id AS base_id, CAST(embedding AS DOUBLE[]) AS bv
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |b AS (
        |  SELECT e.vec_id,
        |    CASE WHEN e.vec_id % 7 = 1 THEN o.bv
        |         WHEN e.vec_id % 7 = 2 THEN list_transform(range(len(o.bv)),
        |           d -> CASE WHEN d = 0 THEN o.bv[d+1] + 0.25 ELSE o.bv[d+1] END)
        |         ELSE CAST(e.embedding AS DOUBLE[]) END AS v
        |  FROM embeddings e JOIN base o ON o.base_id = e.vec_id - (e.vec_id % 20)
        |  WHERE e.vec_id % 20 <> 0),
        |v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 20 = 0
        |  UNION ALL
        |  SELECT vec_id, v FROM b),
        |bk AS (
        |$sqlBandedBuckets),
        |cand AS (
        |  SELECT DISTINCT l.vec_id AS batch_id, r.vec_id AS corpus_id
        |  FROM bk l JOIN bk r ON l.band = r.band AND l.bucket = r.bucket
        |  WHERE l.vec_id % 20 <> 0 AND r.vec_id % 20 = 0),
        |dup AS (
        |  SELECT DISTINCT c.batch_id AS vec_id
        |  FROM cand c JOIN v x ON x.vec_id = c.batch_id
        |              JOIN v y ON y.vec_id = c.corpus_id
        |  WHERE list_dot_product(x.v, y.v) /
        |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4)
        |SELECT b.vec_id, (dup.vec_id IS NULL) AS is_new
        |FROM b LEFT JOIN dup ON dup.vec_id = b.vec_id
        |ORDER BY b.vec_id""".stripMargin),

    // ---- full three-stage ingest: exact ∧ near ∧ semantic ----
    // Batch twin of EventStreams.ingestPipeline(semantic = Some(..)):
    // q83's constructed overlap extended with BOTH text and vector
    // axes over documents ⋈ embeddings. %7==1 copies the base's text
    // AND vector (exact catches it); %7==2 edits the text and
    // perturbs the vector (near catches it); %7==3 is the PARAPHRASE
    // case — the doc's own text (shares no shingles with anything
    // landed) but the base's exact embedding: only the semantic
    // stage drops it, which is the reason the third stage exists.
    // A doc is new iff it survives all three confirms; the flags are
    // independent of each other (each depends only on the doc and
    // the landed corpus), so the AND equals the pipeline's
    // sequential stages — the q83 argument with one more link.
    Query("q87_full_ingest", (s, dir) => {
      val (corpus, batch) = fullIngestBase(s, dir)
      val (exactFlag, nearFlag, semFlag) = fullIngestFlags(corpus, batch)
      exactFlag.join(nearFlag, Seq("doc_id")).join(semFlag, Seq("doc_id"))
        .select(col("doc_id"),
          (col("exact_new") && col("near_new") && col("sem_new")).as("is_new"))
        .orderBy("doc_id")
    },
    // Three-stage composition: q83's exact NOT-IN + minhash-banding
    // chain (constants in lockstep with the native minhash_sigs) and
    // q86's hyperplane-code + cosine chain, over the SAME constructed
    // batch carrying both axes (text edit + vector perturbation at
    // %7==2, exact copies at %7==1, base vector under the doc's own
    // text at %7==3 — the paraphrase only the semantic stage drops).
    _ =>
      s"""WITH de AS (
        |  SELECT d.doc_id, d.text, CAST(e.embedding AS DOUBLE[]) AS vec
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        |base AS (
        |  SELECT doc_id AS base_id, text AS base_text, vec AS base_v
        |  FROM de WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT de.doc_id,
        |    CASE WHEN de.doc_id % 7 = 1 THEN o.base_text
        |         WHEN de.doc_id % 7 = 2 THEN o.base_text || ' ingest edit marker'
        |         ELSE de.text END AS text,
        |    CASE WHEN de.doc_id % 7 = 1 THEN o.base_v
        |         WHEN de.doc_id % 7 = 2 THEN list_transform(range(len(o.base_v)),
        |           dd -> CASE WHEN dd = 0 THEN o.base_v[dd+1] + 0.25 ELSE o.base_v[dd+1] END)
        |         WHEN de.doc_id % 7 = 3 THEN o.base_v
        |         ELSE de.vec END AS v
        |  FROM de JOIN base o ON o.base_id = de.doc_id - (de.doc_id % 20)
        |  WHERE de.doc_id % 20 <> 0),
        |all_docs AS (
        |  SELECT doc_id, text FROM de WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id, text FROM b),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(1, length(text) - 7) + 1),
        |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 8)) AS BIGINT) % 1000003) AS hm
        |  FROM all_docs),
        |sigs AS (
        |  SELECT doc_id,
        |    list_min(list_transform(hm, x -> (x * 961748941 + 101) % 1000003)) AS mh1,
        |    list_min(list_transform(hm, x -> (x * 982451653 + 202) % 1000003)) AS mh2,
        |    list_min(list_transform(hm, x -> (x * 899809343 + 303) % 1000003)) AS mh3,
        |    list_min(list_transform(hm, x -> (x * 472882027 + 404) % 1000003)) AS mh4
        |  FROM h),
        |bands AS (
        |  SELECT doc_id, 1 AS band, mh1 AS x, mh2 AS y FROM sigs
        |  UNION ALL
        |  SELECT doc_id, 2 AS band, mh3 AS x, mh4 AS y FROM sigs),
        |landed AS (
        |  SELECT DISTINCT band, x, y FROM bands WHERE doc_id % 20 = 0),
        |neardup AS (
        |  SELECT DISTINCT bd.doc_id
        |  FROM bands bd JOIN landed USING (band, x, y)
        |  WHERE bd.doc_id % 20 <> 0),
        |v AS (
        |  SELECT doc_id AS vec_id, vec AS v FROM de WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id AS vec_id, v FROM b),
        |bk AS (
        |$sqlBandedBuckets),
        |semcand AS (
        |  SELECT DISTINCT l.vec_id AS batch_id, r.vec_id AS corpus_id
        |  FROM bk l JOIN bk r ON l.band = r.band AND l.bucket = r.bucket
        |  WHERE l.vec_id % 20 <> 0 AND r.vec_id % 20 = 0),
        |semdup AS (
        |  SELECT DISTINCT c.batch_id AS doc_id
        |  FROM semcand c JOIN v x ON x.vec_id = c.batch_id
        |                 JOIN v y ON y.vec_id = c.corpus_id
        |  WHERE list_dot_product(x.v, y.v) /
        |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4)
        |SELECT b.doc_id,
        |  (b.text NOT IN (SELECT text FROM de WHERE doc_id % 20 = 0)
        |   AND neardup.doc_id IS NULL AND semdup.doc_id IS NULL) AS is_new
        |FROM b LEFT JOIN neardup ON neardup.doc_id = b.doc_id
        |       LEFT JOIN semdup ON semdup.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin),

    // ---- landed benchmark decontamination (persisted-artifact q49) ----
    // The benchmark gram set is FIXED while the corpus streams, so it
    // is landed ONCE (distinct grams under TWO keys — the md5 bridge
    // for the oracle, xxhash64 for the engine's fused q49 native — plus
    // a Bloom sidecar; ops/Decontaminate) and every corpus pass probes
    // the artifact; the oracle re-reads the very files the engine
    // landed (the q81 discipline). Benchmark slice = doc_id%20==0
    // (q49's), corpus = the rest. Engine and oracle count hits through
    // DIFFERENT hash families, so counts agree absent a 64-bit
    // collision in either — the same accepted q49/q93 tradeoff.
    Query("q97_decontaminate", (s, dir) => {
      val d = Tables.documents(s, dir)
      val benchDir = ops.Decontaminate.dirFor(dir)
      ops.Decontaminate.landBenchmark(d.filter(col("doc_id") % 20 === 0), benchDir)
      ops.Decontaminate.probe(d.filter(col("doc_id") % 20 =!= 0), benchDir)
        .orderBy("doc_id")
    },
    // q97: the oracle re-derives each corpus doc's DISTINCT 3-gram
    // md5-bridge fingerprints from its text and joins them against the
    // `gram` column of the parquet the ENGINE landed (the q81
    // persisted-artifact discipline); the oracle's own join is
    // md5-bit-identical, while the engine probes the `gx` xxhash64
    // column — counts agree absent a 64-bit collision in either hash
    // family (the accepted q49/q93 tradeoff).
    d =>
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents WHERE doc_id % 20 <> 0),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(range(0, len(toks) - 2),
        |                i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) END AS g3
        |  FROM t),
        |cg AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS fp
        |  FROM (SELECT doc_id, unnest(g3) AS gram FROM g)),
        |hits AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM cg
        |  WHERE fp IN (SELECT gram FROM read_parquet('${d.benchGrams}/*.parquet'))
        |  GROUP BY doc_id),
        |r AS (
        |  SELECT g.doc_id,
        |    CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared
        |  FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id)
        |SELECT doc_id, n_shared,
        |  CAST(n_shared = 0 AS BIGINT) AS clean
        |FROM r
        |ORDER BY doc_id""".stripMargin),

    // ---- landed epoch-shard manifests (persisted q95) ----
    // The epoch shuffle's assignments, LANDED as servable
    // epoch=N/shard=K manifests and read back: the carrier's output is
    // derived entirely from the landed files, while the oracle
    // re-derives both epochs' permutations from the documents table
    // from scratch — a green hash proves the round trip preserved
    // every assignment (the q81 landed-artifact proof shape). Two
    // epochs land so the manifest layout, not one permutation, is
    // what is exercised.
    Query("q98_epoch_manifests", (s, dir) => {
      val mDir = ops.EpochShuffle.dirFor(dir)
      ops.EpochShuffle.landManifests(
        Tables.documents(s, dir), mDir, epochs = Seq(7, 8), tokensPerShard = 2000L)
      ops.EpochShuffle.manifestSummary(s, mDir)
    },
    // q98: the oracle re-derives BOTH epochs' permutations and the
    // greedy packing from the documents table from scratch (no landed
    // file involved); the engine's result comes entirely from the
    // landed epoch=N/shard=K manifests — equality proves landing
    // fidelity (the q81 proof shape).
    _ =>
      """WITH e AS (SELECT unnest([7, 8]) AS epoch),
        |t AS (
        |  SELECT e.epoch, doc_id,
        |    CAST(('0x' || substr(md5('epoch' || CAST(e.epoch AS VARCHAR) || ':'
        |         || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS epoch_key,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents CROSS JOIN e),
        |p AS (
        |  SELECT epoch, doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY epoch
        |        ORDER BY epoch_key, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
        |      AS BIGINT) AS shard
        |  FROM t)
        |SELECT CAST(epoch AS BIGINT) AS epoch, shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM p
        |GROUP BY 1, 2
        |ORDER BY epoch, shard""".stripMargin)
  )

  /** q87's constructed corpus/batch pair (documents ⋈ embeddings with
    * the %7 text/vector overlap construction). BOTH sides are
    * localCheckpointed: the batch has three direct consumers per
    * chain, and the corpus is consumed FOUR times across the chains
    * (the exact stage's bloom-blob collect + confirm join, the near
    * stage's signing, the semantic stage's coding) — without the
    * checkpoint each consumer re-runs the documents ⋈ embeddings
    * join (BASELINE.md, Round 15, "q87 phase table": the
    * re-derivation was ~30% of the cell at sf0.1). In the STREAMING
    * twin this materialize-once role is played by the landing dir
    * itself. */
  private def fullIngestBase(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // r21: materialize the doc⨝embedding base ONCE — it feeds THREE
    // subtrees (base, corpus, batch), and without the checkpoint the
    // r20 executed plan re-ran the two scans + the join per subtree
    // (q87 scans=11). One join per execution, re-run from parquet
    // every execution.
    val de = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .join(Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"),
                col("embedding").cast("array<double>").as("vec")),
        Seq("doc_id"))
      .localCheckpoint()
    val base = de.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("base_id"), col("text").as("base_text"),
              col("vec").as("base_v"))
    val corpus = de.filter(col("doc_id") % 20 === 0).localCheckpoint()
    val batch = de.filter(col("doc_id") % 20 =!= 0)
      .join(base, col("base_id") === col("doc_id") - (col("doc_id") % 20))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 1, col("base_text"))
          .when(col("doc_id") % 7 === 2,
            concat(col("base_text"), lit(" ingest edit marker")))
          .otherwise(col("text")).as("text"),
        when(col("doc_id") % 7 === 1, col("base_v"))
          .when(col("doc_id") % 7 === 2,
            transform(col("base_v"),
              (x, i) => when(i === 0, x + lit(0.25)).otherwise(x)))
          .when(col("doc_id") % 7 === 3, col("base_v"))
          .otherwise(col("vec")).as("vec"))
      .localCheckpoint() // many consumers below — q83/q86 discipline
    (corpus, batch)
  }

  /** The three per-stage is_new flag frames of the q87 carrier. */
  private def fullIngestFlags(corpus: DataFrame, batch: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val exactFlag = ops.DedupStage.newDocs(
        corpus.select("doc_id", "text"), batch.select("doc_id", "text"))
      .select(col("doc_id"), col("is_new").as("exact_new"))
    // NOT spread (unlike q83's near chain): measured three A/B pairs
    // at sf0.1 — the extra exchange+stage in this already ~34-job
    // query costs ~0.15 s more than the parallelized sig scan saves
    // (the three flag chains overlap, so the sig task is off the
    // critical path here); see OPTIMIZATION_r21.md.
    val nearFlag = ops.NearDupIncremental.newDocs(
        ops.NearDupIncremental.withSigs(corpus.select("doc_id", "text")),
        ops.NearDupIncremental.withSigs(batch.select("doc_id", "text")))
      .select(col("doc_id"), col("is_new").as("near_new"))
    val semFlag = ops.SemanticIncremental.newDocs(
        corpus.select(col("doc_id").as("vec_id"), col("vec").as("embedding")),
        batch.select(col("doc_id").as("vec_id"), col("vec").as("embedding")),
        tau = 0.4, bits = AnnBits, bands = AnnBands)
      .select(col("vec_id").as("doc_id"), col("is_new").as("sem_new"))
    (exactFlag, nearFlag, semFlag)
  }
}
