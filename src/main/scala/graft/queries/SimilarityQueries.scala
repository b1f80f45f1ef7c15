package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Similarity, Text}
import graft.queries.Parity.{AnnBits, AnnBands, sqlBandedBuckets, SqlMinhashPairCtes}

/** Near-duplicate and vector similarity: MinHash/SimHash signatures and
  * LSH banding, cosine top-k, banded hyperplane ANN, IVF and IVF-PQ,
  * k-means, embedding and semantic dedup. Also holds the signature-frame
  * helpers the ingest and curation families reuse. */
object SimilarityQueries {

  val all: Seq[Query] = Seq(

    // ---- MinHash signatures over 8-char shingles ----
    // Computed entirely per-row: shingle→hash array via transform(
    // sequence(...)), then array_min per permutation. Zero explode,
    // zero shuffle — the round-1 explode+groupBy formulation shuffled
    // ~8× the corpus bytes, a 100 TB scale-killer (VERDICT r1).
    Query("q26_minhash_sig", (s, dir) => {
      minhashSigsFrame(s, dir).orderBy("doc_id")
    }, _ =>
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(1, length(text) - 7) + 1),
        |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 8)) AS BIGINT) % 1000003) AS hm
        |  FROM documents)
        |SELECT doc_id,
        |  list_min(list_transform(hm, x -> (x * 961748941 + 101) % 1000003)) AS mh1,
        |  list_min(list_transform(hm, x -> (x * 982451653 + 202) % 1000003)) AS mh2,
        |  list_min(list_transform(hm, x -> (x * 899809343 + 303) % 1000003)) AS mh3,
        |  list_min(list_transform(hm, x -> (x * 472882027 + 404) % 1000003)) AS mh4
        |FROM h
        |ORDER BY doc_id""".stripMargin),

    // ---- brute-force cosine top-k over embeddings ----
    // The query vector's norm is computed ONCE on the broadcast side
    // (round 1 recomputed it per row).
    Query("q27_knn_cosine", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("v").as("qv"),
                sqrt(Similarity.dot(col("v"), col("v"))).as("qnorm"))
      emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id"),
                round(Similarity.dot(col("v"), col("qv")) /
                      (sqrt(Similarity.dot(col("v"), col("v"))) * col("qnorm")), 6)
                  .as("cosine"))
        .orderBy(desc("cosine"), asc("vec_id"))
        .limit(20)
    }, _ =>
      """WITH q AS (
        |  SELECT qv, sqrt(list_dot_product(qv, qv)) AS qnorm
        |  FROM (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |        FROM embeddings WHERE vec_id = 0)),
        |e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id,
        |  round(list_dot_product(v, qv) /
        |        (sqrt(list_dot_product(v, v)) * qnorm), 6)
        |    AS cosine
        |FROM e, q
        |ORDER BY cosine DESC, vec_id
        |LIMIT 20""".stripMargin),

    // ---- LSH banding join: near-duplicate candidate pairs ----
    // Bands the q26 signatures (2 bands x 2 rows), self-equi-joins on
    // the band bucket — the scale path for many-to-many similarity:
    // shuffle is on (band, bucket) keys, never all-pairs. Estimated
    // Jaccard = fraction of the 4 signature components that agree.
    // Signatures are MATERIALIZED first (r21, guide §2.4/§5): the
    // self-join's two sides are canonically different once AQE
    // broadcast-converts one, so without the checkpoint the corpus
    // scan + minhash ran TWICE per execution (executed-plan
    // fingerprint: scans=2, reused=0).
    Query("q31_neardup_pairs", (s, dir) => {
      bandedPairs(minhashSigsCk(s, dir)).orderBy("doc1", "doc2")
    }, _ =>
      s"""WITH $SqlMinhashPairCtes
        |SELECT doc1, doc2, jaccard_est FROM pairs
        |ORDER BY doc1, doc2""".stripMargin),

    // ---- SimHash document fingerprint (native expression) ----
    Query("q34_simhash", (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        Text.simhash(Text.tokens(col("text"))).as("simhash"))
        .orderBy("doc_id")
    }, _ =>
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(toks, x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
        |  FROM t)
        |SELECT doc_id, $SqlSimhash AS simhash
        |FROM h
        |ORDER BY doc_id""".stripMargin),

    // ---- exact trigram-Jaccard + SimHash-Hamming over LSH candidates ----
    // The verify step of the near-dup pipeline: banding proposes pairs
    // (q31), this scores them exactly. Joins are equi-joins on doc_id;
    // candidate count (not corpus size) bounds the work.
    Query("q35_ngram_jaccard", (s, dir) => {
      // localCheckpoint: the candidate-pair table is tiny (~10
      // pairs/doc) but its minhash+banding subtree is the most
      // expensive in the query, and `pairs` has TWO consumers (the
      // needed-doc semi and the final join) which would each
      // re-execute it — materializing once is the candidate-table
      // analog of the driver-resident codebook discipline.
      val pairs = bandedPairs(minhashSigsCk(s, dir))
        .select("doc1", "doc2").localCheckpoint()
      // Expensive per-doc features (grams, simhash) are computed ONLY
      // for docs that appear in a candidate pair — at scale the
      // candidate set, not the corpus, bounds this cost.
      val needed = pairs
        .select(explode(array(col("doc1"), col("doc2"))).as("doc_id"))
        .distinct()
      val docs = Tables.documents(s, dir)
        .join(needed, Seq("doc_id"), "left_semi")
        .select(
          col("doc_id"),
          // grams as 64-bit fingerprints (word_text_gram_hashes):
          // jaccard only needs equality, so the feature arrays that
          // ride the two pair joins are 8 B/gram, not gram strings;
          // dedupe ONCE per doc (inside the join it would redo per
          // candidate pair)
          Text.distinctGramHashesOfText(col("text"), 3).as("g3"),
          Text.simhash(Text.tokens(col("text"))).as("sh"))
        // r21: materialize — the feature table has TWO consumers (the
        // doc1 and doc2 joins below) and the r20 executed plan shows
        // both subtrees running in full (scans=2 of documents,
        // reused=0): the semi-join AND the gram/simhash byte scans
        // were paid twice per execution. Candidate-bounded rows, so
        // the checkpoint is small by construction.
        .localCheckpoint()
      pairs
        .join(docs.select(col("doc_id").as("doc1"), col("g3").as("g3_1"), col("sh").as("sh_1")), "doc1")
        .join(docs.select(col("doc_id").as("doc2"), col("g3").as("g3_2"), col("sh").as("sh_2")), "doc2")
        .select(
          col("doc1"), col("doc2"),
          round(Text.jaccard(col("g3_1"), col("g3_2")), 6).as("jaccard3"),
          Text.hamming32(col("sh_1"), col("sh_2")).as("hamming"))
        .orderBy("doc1", "doc2")
    }, _ =>
      s"""WITH hsh AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(1, length(text) - 7) + 1),
        |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 8)) AS BIGINT) % 1000003) AS hm
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id,
        |    list_min(list_transform(hm, x -> (x * 961748941 + 101) % 1000003)) AS mh1,
        |    list_min(list_transform(hm, x -> (x * 982451653 + 202) % 1000003)) AS mh2,
        |    list_min(list_transform(hm, x -> (x * 899809343 + 303) % 1000003)) AS mh3,
        |    list_min(list_transform(hm, x -> (x * 472882027 + 404) % 1000003)) AS mh4
        |  FROM hsh),
        |bands AS (
        |  SELECT doc_id, mh1, mh2, mh3, mh4, 1 AS band, mh1 AS x, mh2 AS y FROM sigs
        |  UNION ALL
        |  SELECT doc_id, mh1, mh2, mh3, mh4, 2 AS band, mh3 AS x, mh4 AS y FROM sigs),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS toks
        |  FROM documents),
        |t2 AS (
        |  SELECT doc_id, toks,
        |    list_transform(toks, x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
        |  FROM t),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(range(0, len(toks) - 2),
        |                i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) END AS g3,
        |    $SqlSimhash AS sh
        |  FROM t2)
        |SELECT p.doc1, p.doc2,
        |  round(CASE WHEN len(list_distinct(list_concat(x.g3, y.g3))) = 0 THEN 0.0
        |    ELSE CAST(len(list_intersect(x.g3, y.g3)) AS DOUBLE)
        |         / CAST(len(list_distinct(list_concat(x.g3, y.g3))) AS DOUBLE) END, 6) AS jaccard3,
        |  CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
        |FROM pairs p
        |JOIN g x ON p.doc1 = x.doc_id
        |JOIN g y ON p.doc2 = y.doc_id
        |ORDER BY doc1, doc2""".stripMargin),

    // ---- ANN: banded random-hyperplane LSH bucket codes ----
    // bits/bands are the scale knobs (2^bits buckets per band, a pair
    // is a candidate when ANY band collides — OR-amplification like
    // the minhash banding). AnnBits/AnnBands here are sized for the
    // test corpus; a 100 TB run raises bits so n/2^bits stays small.
    Query("q36_ann_buckets", (s, dir) => {
      Similarity.bandedBuckets(Tables.embeddings(s, dir),
          bits = AnnBits, bands = AnnBands)
        .select(col("vec_id"), col("band"), col("bucket"))
        .orderBy("vec_id", "band")
    }, _ =>
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT vec_id, band, bucket FROM (
        |$sqlBandedBuckets)
        |ORDER BY vec_id, band""".stripMargin),

    // ---- ANN: many-to-many similarity join via banded bucket joins ----
    // The scale path q27 lacks: distinct candidates from slim
    // (id, band, bucket) equi-joins (never all-pairs, vectors don't
    // ride the banding shuffle), exact cosine only on candidates.
    Query("q37_ann_sim_join", (s, dir) => {
      Similarity.bucketJoin(Tables.embeddings(s, dir),
          bits = AnnBits, bands = AnnBands)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id1", "id2")
    }, _ =>
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bk AS (
        |$sqlBandedBuckets),
        |pairs AS (
        |  SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
        |  FROM bk l JOIN bk r
        |    ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id)
        |SELECT p.id1, p.id2,
        |  round(list_dot_product(x.v, y.v) /
        |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)
        |    AS cosine
        |FROM pairs p JOIN v x ON p.id1 = x.vec_id JOIN v y ON p.id2 = y.vec_id
        |ORDER BY id1, id2""".stripMargin),

    // ---- near-dup DEDUP: keeper selection over the LSH pairs ----
    // Completes the dedup pipeline (signatures → banding candidates →
    // keeper): a doc is dropped when it is the HIGHER id of a pair
    // whose estimated Jaccard ≥ 0.75 ("keep first" policy). Anti-join
    // on the (tiny, broadcastable) duplicate-id set — at 100 TB the
    // corpus never shuffles, only the dup ids do.
    Query("q39_neardup_dedup", (s, dir) => {
      val dups = bandedPairs(minhashSigsCk(s, dir))
        .filter(col("jaccard_est") >= 0.75)
        .select(col("doc2").as("doc_id")).distinct()
      Tables.documents(s, dir)
        .join(broadcast(dups), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }, _ =>
      """WITH hsh AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(1, length(text) - 7) + 1),
        |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 8)) AS BIGINT) % 1000003) AS hm
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id,
        |    list_min(list_transform(hm, x -> (x * 961748941 + 101) % 1000003)) AS mh1,
        |    list_min(list_transform(hm, x -> (x * 982451653 + 202) % 1000003)) AS mh2,
        |    list_min(list_transform(hm, x -> (x * 899809343 + 303) % 1000003)) AS mh3,
        |    list_min(list_transform(hm, x -> (x * 472882027 + 404) % 1000003)) AS mh4
        |  FROM hsh),
        |bands AS (
        |  SELECT doc_id, mh1, mh2, mh3, mh4, 1 AS band, mh1 AS x, mh2 AS y FROM sigs
        |  UNION ALL
        |  SELECT doc_id, mh1, mh2, mh3, mh4, 2 AS band, mh3 AS x, mh4 AS y FROM sigs),
        |dups AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id
        |  WHERE (CAST(a.mh1 = b.mh1 AS INT) + CAST(a.mh2 = b.mh2 AS INT) +
        |         CAST(a.mh3 = b.mh3 AS INT) + CAST(a.mh4 = b.mh4 AS INT)) / 4.0 >= 0.75)
        |SELECT d.doc_id, d.n_chars
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM dups)
        |ORDER BY d.doc_id""".stripMargin),

    // ---- IVF coarse assignment (the other ANN scale path) ----
    Query("q42_ivf_assign", (s, dir) => {
      Similarity.ivfAssign(Tables.embeddings(s, dir), k = 8)
        .select(col("vec_id"), col("centroid"), round(col("dot"), 6).as("dot"))
        .orderBy("vec_id")
    }, _ =>
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (
        |  SELECT vec_id AS centroid, v AS cv FROM v WHERE vec_id < 8),
        |scored AS (
        |  SELECT v.vec_id, c.centroid,
        |    list_dot_product(v.v, c.cv) AS dot,
        |    row_number() OVER (PARTITION BY v.vec_id
        |                       ORDER BY list_dot_product(v.v, c.cv) DESC, c.centroid) AS rn
        |  FROM v CROSS JOIN c)
        |SELECT vec_id, centroid, round(dot, 6) AS dot
        |FROM scored WHERE rn = 1
        |ORDER BY vec_id""".stripMargin),

    // ---- embedding-cosine near-dup dedup ----
    // The vector-space member of the dedup family: candidates from the
    // LSH bucket join, pairs above the cosine threshold mark the
    // higher id as duplicate, anti-join keeps survivors. (Corpus
    // embeddings are near-orthogonal — max cosine ≈0.43 — so the 0.4
    // threshold exercises the path with a real, small drop set.)
    // Runs the PRODUCTION occupancyBits sizing (r19): fixed bits=10 at
    // n=200k meant ~195 vectors/bucket → ~39M cosine confirms, the
    // suite's worst work-bound sf10 cell (8× gross, variance to
    // minutes); the policy holds occupancy ~8 so the confirm stays
    // linear in n at every scale. The oracle recomputes the same width
    // from COUNT(*) (the q99 construction), so the cell stays
    // value-exact. Fixed-knob banding behavior remains carried by
    // q36/q37/q55.
    Query("q47_embed_dedup", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dups = Similarity.bucketJoin(emb,
          bits = Similarity.occupancyBits(emb.count()), bands = AnnBands)
        .filter(col("cosine") >= 0.4)
        .select(col("id2").as("vec_id")).distinct()
      emb.join(broadcast(dups), Seq("vec_id"), "left_anti")
        .select(col("vec_id"))
        .orderBy("vec_id")
    },
    // q47: candidates at the PRODUCTION occupancyBits width — the nn/k
    // CTEs recompute the engine's bits from COUNT(*) (q99 construction)
    _ =>
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |$sqlDynamicBandedBuckets,
        |pairs AS (
        |  SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
        |  FROM bk l JOIN bk r
        |    ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
        |dups AS (
        |  SELECT DISTINCT p.id2 AS vec_id
        |  FROM pairs p JOIN v x ON p.id1 = x.vec_id JOIN v y ON p.id2 = y.vec_id
        |  WHERE list_dot_product(x.v, y.v) /
        |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4)
        |SELECT e.vec_id
        |FROM embeddings e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM dups)
        |ORDER BY e.vec_id""".stripMargin),

    // ---- k-means update step: per-centroid vector mean ----
    // The missing half of the IVF pair (q42 assigns, this re-centers):
    // explode vectors to (centroid, dim, val) rows and aggregate per
    // (centroid, dim) — THE scale shape for averaging vectors (the
    // shuffle carries scalar cells keyed by centroid×dim; no vector is
    // ever buffered whole). Sums accumulate in DECIMAL(38,30) so the
    // float inputs aggregate order-independently on both engines; one
    // double conversion + division at the end.
    Query("q52_kmeans_step", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfUpdate(emb, Similarity.ivfAssign(emb, k = 8))
        .select(col("centroid"), col("dim"), round(col("mean_val"), 6).as("mean_val"))
        .orderBy("centroid", "dim")
    }, _ =>
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS centroid, v AS cv FROM v WHERE vec_id < 8),
        |scored AS (
        |  SELECT v.vec_id, c.centroid,
        |    row_number() OVER (PARTITION BY v.vec_id
        |                       ORDER BY list_dot_product(v.v, c.cv) DESC, c.centroid) AS rn
        |  FROM v CROSS JOIN c),
        |a AS (SELECT vec_id, centroid FROM scored WHERE rn = 1),
        |x AS (
        |  SELECT a.centroid, CAST(r.i AS INT) AS dim, v.v[r.i + 1] AS val
        |  FROM a JOIN v USING (vec_id) CROSS JOIN range(64) AS r(i))
        |SELECT centroid, dim,
        |  round(CAST(SUM(CAST(val AS DECIMAL(38,30))) AS DOUBLE) / COUNT(*), 6) AS mean_val
        |FROM x
        |GROUP BY centroid, dim
        |ORDER BY centroid, dim""".stripMargin),

    // ---- multi-probe LSH candidate pairs ----
    // The recall amplifier besides banding: each probe row also visits
    // every bucket at Hamming distance 1 (bit flips), so a near-miss on
    // one hyperplane sign still collides. Only slim (id, band, bucket)
    // rows expand (bits+1 probes per row) — never vectors.
    Query("q55_multiprobe_pairs", (s, dir) => {
      Similarity.multiProbePairs(Tables.embeddings(s, dir),
          bits = AnnBits, bands = AnnBands)
        .orderBy("id1", "id2")
    },
    // probe side: the exact bucket plus every single-bit flip — the
    // same 1 + bits expansion multiProbePairs builds with bitwiseXOR
    _ =>
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bk AS (
        |$sqlBandedBuckets),
        |probes AS (
        |  SELECT bk.vec_id AS id1, bk.band, xor(bk.bucket, f.flip) AS bucket
        |  FROM bk CROSS JOIN (
        |    SELECT unnest(${(0 +: (0 until AnnBits).map(1 << _)).mkString("[", ", ", "]")}) AS flip) f)
        |SELECT DISTINCT p.id1, r.vec_id AS id2
        |FROM probes p JOIN bk r
        |  ON p.band = r.band AND p.bucket = r.bucket AND p.id1 < r.vec_id
        |ORDER BY id1, id2""".stripMargin),

    // ---- near-dup CLUSTER dedup: components over the candidate graph ----
    // Similarity is not transitive, so pairwise keeper rules can chain-
    // drop documents wrongly; the production shape is candidates →
    // connected components → one representative per component. Min-label
    // propagation gives a deterministic component id (min reachable
    // doc_id), which a DuckDB recursive CTE reproduces exactly.
    Query("q60_neardup_clusters", (s, dir) => {
      // Star edges, not pairs: the candidate threshold here (0.5) is
      // implied by any band collision, so the component structure only
      // depends on bucket CONNECTIVITY — see [[bandedStarEdges]]. The
      // oracle keeps the pairwise formulation; components are provably
      // identical (clique and star connect the same bucket).
      // maxIter 50, not the default 25: a star has diameter 2 where
      // the clique had 1, so label propagation can need up to ~2× the
      // rounds on the same bucket-chain — the cap moves with it.
      val edges = bandedStarEdges(minhashSigsCk(s, dir))
      ops.ConnectedComponents.minLabel(
          Tables.documents(s, dir), "doc_id", edges, "doc1", "doc2",
          maxIter = 50)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
    // transitive closure of the thresholded candidate graph; MIN over
    // reachable ids = the same canonical component id minLabel emits
    _ =>
      s"""WITH RECURSIVE $SqlMinhashPairCtes,
        |e AS (
        |  SELECT doc1 AS a, doc2 AS b FROM pairs WHERE jaccard_est >= 0.5
        |  UNION
        |  SELECT doc2, doc1 FROM pairs WHERE jaccard_est >= 0.5),
        |cc(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, cc.comp FROM cc JOIN e ON cc.id = e.b)
        |SELECT id AS doc_id, MIN(comp) AS component
        |FROM cc
        |GROUP BY id
        |ORDER BY doc_id""".stripMargin),

    // ---- product-quantization encoding (IVF-PQ compression) ----
    // 4 subspaces × 16 dims, 16-entry sub-codebooks from the first 16
    // corpus vectors: each 64-dim vector compresses to 4 small codes.
    // Pure projection via argmax_dot per slice — no join/window/row
    // expansion (ops/Similarity.pqEncode).
    Query("q67_pq_encode", (s, dir) => {
      val enc = ops.Similarity.pqEncode(Tables.embeddings(s, dir), m = 4, ksub = 16)
      enc.select(col("vec_id") +: (0 until 4).flatMap(j =>
        Seq(col(s"code_$j"), round(col(s"dot_$j"), 6).as(s"dot_$j"))): _*)
        .orderBy("vec_id")
    }, _ =>
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
        |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |sub AS (SELECT vec_id, j, v[j*16+1 : (j+1)*16] AS sv
        |        FROM v CROSS JOIN js),
        |scb AS (SELECT cid, j, cv[j*16+1 : (j+1)*16] AS scv
        |        FROM cb CROSS JOIN js),
        |scored AS (
        |  SELECT vec_id, sub.j AS j, cid,
        |    list_dot_product(sv, scv) AS dot,
        |    row_number() OVER (PARTITION BY vec_id, sub.j
        |                       ORDER BY list_dot_product(sv, scv) DESC, cid) AS rn
        |  FROM sub JOIN scb ON sub.j = scb.j)
        |SELECT vec_id,
        |  CAST(MAX(CASE WHEN j = 0 THEN cid END) AS INT) AS code_0,
        |  round(MAX(CASE WHEN j = 0 THEN dot END), 6) AS dot_0,
        |  CAST(MAX(CASE WHEN j = 1 THEN cid END) AS INT) AS code_1,
        |  round(MAX(CASE WHEN j = 1 THEN dot END), 6) AS dot_1,
        |  CAST(MAX(CASE WHEN j = 2 THEN cid END) AS INT) AS code_2,
        |  round(MAX(CASE WHEN j = 2 THEN dot END), 6) AS dot_2,
        |  CAST(MAX(CASE WHEN j = 3 THEN cid END) AS INT) AS code_3,
        |  round(MAX(CASE WHEN j = 3 THEN dot END), 6) AS dot_3
        |FROM scored WHERE rn = 1
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin),

    // ---- semantic dedup (SemDeDup-style, centroid-anchored) ----
    // Embedding-space dedup at cluster granularity: one cosine per
    // row against a broadcast k-row representative table — linear at
    // any corpus size (ops/Similarity.semanticDedup; the pairwise
    // member of the family is q47's LSH path). τ=0.4 mirrors q47's
    // threshold against the near-orthogonal synthetic embeddings.
    Query("q68_semantic_dedup", (s, dir) => {
      ops.Similarity.semanticDedup(Tables.embeddings(s, dir), k = 16, tau = 0.4)
        .select(col("vec_id"), col("rep_id"),
                round(col("rep_cos"), 6).as("rep_cos"))
        .orderBy("vec_id")
    }, _ =>
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS centroid, v AS cv FROM v WHERE vec_id < 16),
        |scored AS (
        |  SELECT v.vec_id, c.centroid,
        |    list_dot_product(v.v, c.cv) AS dot,
        |    row_number() OVER (PARTITION BY v.vec_id
        |                       ORDER BY list_dot_product(v.v, c.cv) DESC, c.centroid) AS rn
        |  FROM v CROSS JOIN c),
        |asg AS (SELECT vec_id, centroid, dot FROM scored WHERE rn = 1),
        |reps AS (
        |  SELECT centroid, vec_id AS rep_id,
        |    row_number() OVER (PARTITION BY centroid
        |                       ORDER BY dot DESC, vec_id) AS rr
        |  FROM asg),
        |r1 AS (SELECT centroid, rep_id FROM reps WHERE rr = 1),
        |j AS (
        |  SELECT a.vec_id, r.rep_id,
        |    list_dot_product(v1.v, v2.v) /
        |      (sqrt(list_dot_product(v1.v, v1.v)) *
        |       sqrt(list_dot_product(v2.v, v2.v))) AS rep_cos
        |  FROM asg a
        |  JOIN r1 r ON a.centroid = r.centroid
        |  JOIN v v1 ON v1.vec_id = a.vec_id
        |  JOIN v v2 ON v2.vec_id = r.rep_id)
        |SELECT vec_id, rep_id, round(rep_cos, 6) AS rep_cos
        |FROM j WHERE vec_id = rep_id OR rep_cos < 0.4
        |ORDER BY vec_id""".stripMargin),

    // ---- IVF-PQ probe-time ANN search (ADC) ----
    // The read path the q42/q67 build steps exist for: prune to the
    // probe's nprobe=4 coarse clusters, score members by asymmetric
    // distance (m=4 LUT lookups per row — codes, not vectors), top-20
    // via TakeOrderedAndProject. Scan → projections → filter → top-k;
    // no join, no window, no shuffle (ops/Similarity.ivfPqTopK).
    Query("q75_ivfpq_search", (s, dir) => {
      ops.Similarity.ivfPqTopK(Tables.embeddings(s, dir), probeId = 123,
          coarseK = 16, m = 4, ksub = 16, nprobe = 4, k = 20)
        .select(col("vec_id"), col("centroid"),
                round(col("adc"), 6).as("adc"))
        .orderBy(desc("adc"), col("vec_id"))
    }, _ =>
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
        |probe AS (SELECT v AS pv FROM v WHERE vec_id = 123),
        |pc AS (SELECT cid FROM cb, probe
        |       ORDER BY list_dot_product(pv, cv) DESC, cid LIMIT 4),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, cb.cid,
        |      row_number() OVER (PARTITION BY v.vec_id
        |                         ORDER BY list_dot_product(v.v, cb.cv) DESC, cb.cid) AS rn
        |    FROM v CROSS JOIN cb WHERE v.vec_id <> 123) WHERE rn = 1),
        |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |sub AS (SELECT vec_id, j, v[j*16+1 : (j+1)*16] AS sv
        |        FROM v CROSS JOIN js WHERE vec_id <> 123),
        |scb AS (SELECT cid, j, cv[j*16+1 : (j+1)*16] AS scv
        |        FROM cb CROSS JOIN js),
        |codes AS (
        |  SELECT vec_id, j, cid AS code FROM (
        |    SELECT sub.vec_id, sub.j, scb.cid,
        |      row_number() OVER (PARTITION BY sub.vec_id, sub.j
        |                         ORDER BY list_dot_product(sv, scv) DESC, cid) AS rn
        |    FROM sub JOIN scb ON sub.j = scb.j) WHERE rn = 1),
        |lut AS (
        |  SELECT j, cid, list_dot_product(pv[j*16+1 : (j+1)*16], scv) AS term
        |  FROM probe CROSS JOIN scb),
        |adc AS (
        |  SELECT c.vec_id,
        |    ((MAX(CASE WHEN c.j = 0 THEN l.term END)
        |      + MAX(CASE WHEN c.j = 1 THEN l.term END))
        |      + MAX(CASE WHEN c.j = 2 THEN l.term END))
        |      + MAX(CASE WHEN c.j = 3 THEN l.term END) AS adc
        |  FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.code
        |  GROUP BY c.vec_id),
        |top AS (
        |  SELECT a.vec_id, g.cid AS centroid, a.adc
        |  FROM adc a JOIN asg g ON g.vec_id = a.vec_id
        |  WHERE g.cid IN (SELECT cid FROM pc)
        |  ORDER BY a.adc DESC, a.vec_id LIMIT 20)
        |SELECT vec_id, centroid, round(adc, 6) AS adc
        |FROM top ORDER BY round(adc, 6) DESC, vec_id""".stripMargin),

    // ---- batch IVF-PQ search (the serving shape of q75) ----
    // Q probes against one corpus pass: probe-independent work
    // (coarse assign + PQ codes) computed once, per-probe LUTs ride a
    // broadcast (probe_id, centroid, lut) spec table, per-probe
    // top-k via the bounded_topk aggregate — no corpus re-scan per
    // probe (PlanSpec pins one parquet scan in the whole plan).
    Query("q79_ivfpq_batch", (s, dir) => {
      ops.Similarity.ivfPqSearch(Tables.embeddings(s, dir),
          probeIds = Seq(123L, 77L, 401L),
          coarseK = 16, m = 4, ksub = 16, nprobe = 4, k = 10)
        .select(col("probe_id"), col("vec_id"), col("centroid"),
                round(col("adc"), 6).as("adc"), col("rk"))
        .orderBy("probe_id", "rk")
    }, _ =>
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
        |probes AS (SELECT vec_id AS probe_id, v AS pv FROM v
        |           WHERE vec_id IN (123, 77, 401)),
        |pc AS (
        |  SELECT probe_id, cid FROM (
        |    SELECT p.probe_id, cb.cid,
        |      row_number() OVER (PARTITION BY p.probe_id
        |                         ORDER BY list_dot_product(pv, cv) DESC, cid) AS rn
        |    FROM probes p CROSS JOIN cb) WHERE rn <= 4),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, cb.cid,
        |      row_number() OVER (PARTITION BY v.vec_id
        |                         ORDER BY list_dot_product(v.v, cb.cv) DESC, cb.cid) AS rn
        |    FROM v CROSS JOIN cb) WHERE rn = 1),
        |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |sub AS (SELECT vec_id, j, v[j*16+1 : (j+1)*16] AS sv FROM v CROSS JOIN js),
        |scb AS (SELECT cid, j, cv[j*16+1 : (j+1)*16] AS scv FROM cb CROSS JOIN js),
        |codes AS (
        |  SELECT vec_id, j, cid AS code FROM (
        |    SELECT sub.vec_id, sub.j, scb.cid,
        |      row_number() OVER (PARTITION BY sub.vec_id, sub.j
        |                         ORDER BY list_dot_product(sv, scv) DESC, cid) AS rn
        |    FROM sub JOIN scb ON sub.j = scb.j) WHERE rn = 1),
        |lut AS (
        |  SELECT probe_id, j, cid,
        |         list_dot_product(pv[j*16+1 : (j+1)*16], scv) AS term
        |  FROM probes CROSS JOIN scb),
        |adc AS (
        |  SELECT l.probe_id, c.vec_id,
        |    ((MAX(CASE WHEN c.j = 0 THEN l.term END)
        |      + MAX(CASE WHEN c.j = 1 THEN l.term END))
        |      + MAX(CASE WHEN c.j = 2 THEN l.term END))
        |      + MAX(CASE WHEN c.j = 3 THEN l.term END) AS adc
        |  FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.code
        |  GROUP BY l.probe_id, c.vec_id),
        |ranked AS (
        |  SELECT a.probe_id, a.vec_id, g.cid AS centroid, a.adc,
        |    CAST(row_number() OVER (PARTITION BY a.probe_id
        |                            ORDER BY a.adc DESC, a.vec_id) AS INT) AS rk
        |  FROM adc a
        |  JOIN asg g ON g.vec_id = a.vec_id
        |  JOIN pc ON pc.probe_id = a.probe_id AND pc.cid = g.cid
        |  WHERE a.vec_id <> a.probe_id)
        |SELECT probe_id, vec_id, centroid, round(adc, 6) AS adc, rk
        |FROM ranked WHERE rk <= 10
        |ORDER BY probe_id, rk""".stripMargin),

    // ---- ANN: the occupancyBits PRODUCTION sizing policy, oracled ----
    // q36/q55 pin fixed (bits, bands) knobs; this carrier runs the
    // policy a production ingest actually uses — bits grown with the
    // corpus so expected bucket occupancy stays ~8 and candidate pairs
    // stay LINEAR in n (BASELINE.md, "The `occupancyBits` production
    // knob, measured end-to-end": ×17–20 pairs per ×10 corpus vs ×100
    // under fixed bits). One count job sizes the code; the oracle
    // recomputes the identical width from COUNT(*) in SQL, so the
    // policy arithmetic AND the plane codes at that width are both
    // value-checked at every scale factor (the chosen width
    // rides along as a column). Occupancy summary per band on top: the
    // policy's TARGET (mean occupancy ≈ 8, never a quadratic bucket)
    // is what the carrier asserts, not just the code bits. The mean is
    // emitted in FIXED-POINT MICRO-UNITS as BIGINT — round-half-up via
    // exact integer arithmetic, (2e6·rows + buckets) div (2·buckets) —
    // because a round(avg,6) DOUBLE compared bit-for-bit across engines
    // is a half-way-boundary hash hazard (Spark rounds BigDecimal
    // HALF_UP on the shortest-decimal repr, DuckDB float-multiplies
    // then std::round), the same integer-only-output-columns lesson
    // the suite learned in round 15.
    Query("q99_occupancy_policy", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bits = Similarity.occupancyBits(emb.count())
      Similarity.bandedBuckets(emb, bits = bits, bands = AnnBands)
        .groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("occupancy"))
        .groupBy(col("band"))
        .agg(lit(bits).as("bits"),
             count(lit(1)).as("n_buckets"),
             sum(col("occupancy")).as("n_rows"),
             max(col("occupancy")).as("max_occupancy"))
        .withColumn("mean_occupancy_micro",
          expr("CAST((2000000 * n_rows + n_buckets) DIV (2 * n_buckets) AS BIGINT)"))
        .orderBy("band")
    },
    // q99: the production occupancyBits policy, both sides data-driven.
    // bits = min(24, max(4, ceil(log2(max(1, n div 8))))) is recomputed
    // from COUNT(*) in SQL (the dynamic twin of Similarity.occupancyBits),
    // and the per-band codes regenerate the a(j)/b(j) plane formulas
    // INLINE (sqlLshCode bakes per-plane constants at a fixed width, so
    // a runtime width needs the closed forms: a(j) = 1 + (37+41j) % 1008,
    // b(j) = (7+13j) % 1009, j = band*bits + k).
    // mean in fixed-point micro-units, round-half-up via exact integer
    // arithmetic — never a cross-engine DOUBLE rounding comparison
    _ =>
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |$sqlDynamicBandedBuckets,
        |occ AS (
        |  SELECT band, bits, bucket, COUNT(*) AS occupancy
        |  FROM bk GROUP BY 1, 2, 3)
        |SELECT band, bits,
        |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(occupancy) AS BIGINT) AS n_rows,
        |  CAST(MAX(occupancy) AS BIGINT) AS max_occupancy,
        |  CAST((2000000 * SUM(occupancy) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
        |    AS mean_occupancy_micro
        |FROM occ
        |GROUP BY 1, 2
        |ORDER BY band""".stripMargin)
  )

  /** Spread a scan whose split count under-fills the session across
    * the cores before an EXPENSIVE per-row expression (guide §2.5's
    * unsplittable-input fix: parquet cannot split below a row group,
    * so a single-row-group file pins everything fused into its scan
    * stage to ONE task no matter the core count). The repartition is
    * CONDITIONAL on the planned scan parallelism, not unconditional:
    * at the 100 TB design point the corpus arrives in thousands of
    * row groups, splits ≥ cores holds, and this is structurally a
    * no-op — an unconditional repartition there would shuffle the
    * full text payload, the exact §8 anti-pattern. Partition count
    * check is plan-time only (split arithmetic; no job runs).
    * Correctness: every consumer aggregates with order-independent
    * functions (min/bit_or/exact sums) and ends in a total ORDER BY,
    * so row placement cannot change any result; round-robin stays
    * deterministic under retry via sortBeforeRepartition (default
    * on). Only worth it when the per-row expression dominates the
    * exchange cost — minhash_sigs (4 perms × every shingle) gains
    * 0.38 → 0.19 s at sf0.1, while bpe_token_count / gram-hash
    * scans LOSE ~40 ms to the added exchange (OPTIMIZATION_r21.md,
    * "Change 5"), so only the signature frame opts in. */
  private[graft] def spreadSmallScan(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // r22 (VERDICT r21 item 6): BYTES bound before the partition-count
    // probe. The count-only trigger was payload-blind — at mid scale
    // (say a 100-file corpus on a 512-core cluster) it would round-
    // robin-shuffle the full text payload, the guide-§8 anti-pattern
    // this helper documents avoiding. The bound sums the FILE-BACKED
    // leaves' sizeInBytes (actual file bytes), NOT the top-level plan
    // estimate: a checkpointed-RDD input reports unknown/defaulted
    // stats (q83's batch frame read as Long.MaxValue and lost its
    // measured spread — caught by the r22 fingerprint drift check),
    // and join-product estimates inflate the same way. Frames with no
    // file leaves fall through to the partition probe, exactly the
    // r21 behavior. Parameterised (conf, not a constant) with a local
    // default that keeps every bench SF firing exactly as before
    // (documents: 0.6 MB at sf0.1, ~6 MB at sf1); production sets it
    // per deployment like shuffle.partitions. The file check is
    // plan-only and SHORT-CIRCUITS the .rdd partition probe below —
    // which builds a full physical plan — so big scans never pay
    // that planning either (ADVICE r21).
    val maxBytes = scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf.get("spark.graft.spread.maxBytes", "256m")))
      .getOrElse(256L * 1024 * 1024)
    // saturating: non-file relations may report Long.MaxValue, and two
    // of those must not wrap negative and slip under the veto
    val fileLeafBytes = df.queryExecution.optimizedPlan.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.sizeInBytes
    }.foldLeft(0L) { (acc, b) =>
      if (b >= Long.MaxValue - acc) Long.MaxValue else acc + b
    }
    if (fileLeafBytes > maxBytes) df
    // partition probe: the INITIAL (non-adaptive) split count — plan-
    // time file-split arithmetic, no job. That is the right quantity
    // here: the question is how many map tasks the SCAN yields (AQE
    // only resizes reduce sides, never map-side splits).
    else if (df.rdd.getNumPartitions * 2 <= cores) df.repartition(cores)
    else df
  }

  /** MinHash signature frame shared by q26 and q31: the native
    * [[graft.functions.MinHashSigs]] expression computes all four
    * permutations in one pass per row (registered by GraftSession;
    * the composed transform+array_min form it replaces ran the HOF
    * lambda interpreted per shingle — 7.5 s vs <1 s at sf0.1). */
  private[graft] def minhashSigsFrame(s: SparkSession, dir: String): DataFrame =
    spreadSmallScan(Tables.documents(s, dir))
      .select(col("doc_id"), expr("minhash_sigs(text)").as("sig"))
      .select(col("doc_id"),
        col("sig").getItem(0).as("mh1"), col("sig").getItem(1).as("mh2"),
        col("sig").getItem(2).as("mh3"), col("sig").getItem(3).as("mh4"))

  /** [[minhashSigsFrame]] MATERIALIZED (localCheckpoint) for consumers
    * that read the signatures more than once per execution (q31's
    * banding self-join, q35/q39 via [[bandedPairs]], q60's star-edge
    * hub join, q82's corpus/batch split). Without it each consumer
    * subtree re-runs the corpus scan + the minhash byte scan: the two
    * sides of the banding self-join stop being canonically equal the
    * moment AQE broadcast-converts one, so exchange reuse never fires
    * (r20 executed-plan fingerprints: q31 scans=2, q39 scans=3,
    * reused=0). The checkpointed frame is 5 longs/doc — the slim
    * "decide on proxies, not payloads" table of guide §8 — and is
    * recomputed from parquet on EVERY execution (a per-run
    * materialization inside the timed region, not a cross-run cache).
    * At 100 TB this is exactly the landed-signature-column discipline
    * the incremental ingest path already uses
    * (EventStreams.ingestNearDup). */
  private[graft] def minhashSigsCk(s: SparkSession, dir: String): DataFrame =
    minhashSigsFrame(s, dir).localCheckpoint()

  /** LSH banding self-join (2 bands × 2 rows) over a signature frame:
    * candidate near-dup pairs with estimated Jaccard = fraction of the
    * 4 signature components agreeing. Shuffle keys are (band, bucket)
    * — never all-pairs (shared by q31 and q35). */
  private[graft] def bandedPairs(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("*"),
      explode(array(
        struct(lit(1).as("band"), col("mh1").as("x"), col("mh2").as("y")),
        struct(lit(2).as("band"), col("mh3").as("x"), col("mh4").as("y")))).as("b"))
      .select(col("doc_id"), col("mh1"), col("mh2"), col("mh3"), col("mh4"),
              col("b.band").as("band"), col("b.x").as("x"), col("b.y").as("y"))
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.x") === col("b.x") && col("a.y") === col("b.y") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        (((col("a.mh1") === col("b.mh1")).cast("int") +
          (col("a.mh2") === col("b.mh2")).cast("int") +
          (col("a.mh3") === col("b.mh3")).cast("int") +
          (col("a.mh4") === col("b.mh4")).cast("int")) / lit(4.0)).as("jaccard_est"))
      .distinct()
  }

  /** Per-bucket STAR edges over the same banding collision graph:
    * `(bucket_min, member)` instead of every in-bucket pair. For any
    * consumer that only needs CONNECTIVITY (connected-components
    * dedup, q60) this is exactly equivalent — a bucket's members form
    * a clique under [[bandedPairs]] and a star under this generator,
    * and both connect the same set — but the edge count per bucket is
    * O(members), not O(members²). That is the difference between a
    * near-dup clustering that survives a pathological mega-dup-group
    * (boilerplate duplicated millions of times at 100 TB would emit
    * ~10^12 clique pairs from ONE bucket) and one that OOMs on it.
    * Note every banded pair carries `jaccard_est >= 0.5` by
    * construction (a band collision fixes 2 of the 4 signature
    * components), so q60's `>= 0.5` candidate threshold is already
    * implied and no per-pair estimate is lost. Consumers that filter
    * on a HIGHER estimate (q39's 0.75) still need the pairwise form.
    * Shape: one bucket-keyed aggregate for the hubs, a join back on
    * the same key (the exchange is shared), and an edge distinct —
    * every shuffled row is slim (ids + bucket key). */
  private[graft] def bandedStarEdges(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("doc_id"),
      explode(array(
        struct(lit(1).as("band"), col("mh1").as("x"), col("mh2").as("y")),
        struct(lit(2).as("band"), col("mh3").as("x"), col("mh4").as("y")))).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
              col("b.x").as("x"), col("b.y").as("y"))
    val hubs = bands.groupBy("band", "x", "y").agg(min("doc_id").as("hub"))
    bands.join(hubs, Seq("band", "x", "y"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("doc1"), col("doc_id").as("doc2"))
      .distinct()
  }

  /** CTE chain `nn, k, bd, bk` — banded hyperplane codes at the
    * PRODUCTION width: `bits` recomputed from COUNT(*) in SQL (the
    * dynamic twin of [[graft.ops.Similarity.occupancyBits]]) and the
    * a(j)/b(j) plane formulas inlined as closed forms ([[Parity.sqlLshCode]]
    * bakes per-plane constants at a fixed width, so a runtime width
    * needs the formulas inline). Expects a prior CTE
    * `v(vec_id, v DOUBLE[])`; yields bk(vec_id, band, bits, bucket).
    * Shared by q99 (the policy carrier) and q47 (embed dedup at the
    * production width). */
  private def sqlDynamicBandedBuckets: String =
    s"""nn AS (SELECT COUNT(*) AS n FROM embeddings),
      |k AS (SELECT CAST(LEAST(24, GREATEST(4,
      |        CAST(CEIL(LOG2(GREATEST(1, n // 8))) AS INTEGER))) AS INTEGER) AS bits
      |      FROM nn),
      |bd AS (SELECT CAST(UNNEST(range($AnnBands)) AS INTEGER) AS band),
      |bk AS (
      |  SELECT vec_id, band, bits,
      |    CAST(list_sum(list_transform(range(bits), kk ->
      |      CASE WHEN COALESCE(list_sum(list_transform(range(len(v)),
      |          d -> v[d+1] * (((((1 + ((37 + 41*(band*bits+kk)) % 1008)) * (d+1)
      |                           + ((7 + 13*(band*bits+kk)) % 1009)) % 1009) / 1009.0)
      |                         - 0.5))), 0.0) >= 0
      |           THEN (CAST(1 AS BIGINT) << kk) ELSE 0 END)) AS INTEGER) AS bucket
      |  FROM v CROSS JOIN bd CROSS JOIN k)""".stripMargin

  /** DuckDB expression mirroring the native SimHash32 over a column
    * `hs` of md5-prefix token hashes: per-bit ±1 votes, ties → 1. */
  private val SqlSimhash: String =
    """CAST(list_sum(list_transform(range(32), b ->
      |    CASE WHEN COALESCE(list_sum(list_transform(hs, x ->
      |           CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) >= 0
      |         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)"""
      .stripMargin.linesIterator.map(_.trim).mkString(" ")
}
