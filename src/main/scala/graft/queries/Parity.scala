package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Driver contract (see SURVEY.md §7 and TESTDATA.md).
  *
  * Every [[Query]] carries its DuckDB equivalent; the driver
  * hash-compares both results, so results must be *bit-identical* across
  * engines, not just approximately equal. The parity rules used
  * throughout:
  *
  *  - Sums/avgs over doubles are order-dependent in IEEE arithmetic, so
  *    every such aggregate is computed as an exact DECIMAL sum and only
  *    then cast to DOUBLE (`dsum`/`davg` here, `CAST(SUM(CAST(x AS
  *    DECIMAL(30,10))) AS DOUBLE)` in SQL). Inputs have ≤2 decimals so
  *    the decimal representation is exact; the final decimal→double
  *    conversion is deterministic.
  *  - Integer aggregates are cast to BIGINT on both sides (DuckDB's
  *    SUM(BIGINT) returns HUGEINT, COUNT returns BIGINT).
  *  - Scalar double math (ratios, scores, distances) keeps the *same
  *    expression shape* on both sides — IEEE ops are deterministic when
  *    the operand order matches.
  *  - Timestamp outputs are cast to TIMESTAMP_NTZ (Spark) / TIMESTAMP
  *    (DuckDB, microseconds) so the parquet logical types line up.
  *  - Every query ends in a total ORDER BY.
  */
object Parity {

  // ---------- cross-engine numeric parity helpers ----------
  /** Exact (order-independent) sum of a ~2-decimal double column, on
    * the INTEGER fast path: round to cents, sum as BIGINT (HUGEINT in
    * DuckDB — both exact), one double conversion at the end. Replaces
    * the earlier DECIMAL(18,2) accumulation, which cost ~0.2 s per
    * aggregate at sf0.1 (Spark's decimal sum runs ~4× slower than a
    * long sum); values land on the same doubles because cents sums
    * stay < 2^53 so the final cast and /100.0 are each correctly
    * rounded on both engines. */
  private[queries] def cents(c: Column): Column = round(c * 100, 0).cast("long")
  private[queries] def dsum(c: Column): Column = sum(cents(c)).cast("double") / 100.0
  private[queries] def davg(c: Column): Column = dsum(c) / count(c)
  private val DS = "(CAST(SUM(CAST(round(%s * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0)"
  private[queries] def S_DSUM(x: String) = DS.format(x)
  private[queries] def S_DAVG(x: String) = s"(${DS.format(x)} / COUNT($x))"

  /** Banded hyperplane-LSH sizing for the q36/q37/q47 ANN family at
    * test scale: 2^10 buckets per band × 2 bands. Both knobs are
    * caller-configurable ([[graft.ops.Similarity.bucketJoin]]); a
    * 100 TB corpus raises `bits` (buckets = 2^bits, within-bucket pair
    * count ~ n²/2^bits) and `bands` restores recall. */
  private[queries] val AnnBits = 10
  private[queries] val AnnBands = 2

  /** DuckDB expression mirroring HyperplaneLSH over a column `v`
    * (ARRAY<DOUBLE>): K=8 planes from the same integer formula,
    * left-to-right double accumulation, sign bits packed LSB-first. */
  /** DuckDB expression for band `band` of the hyperplane-LSH code over
    * a column `v` — regenerated from the SAME `a(j)`/`b(j)` integer
    * formulas as the native [[graft.functions.HyperplaneLSH]], so the
    * two engines' planes are bit-identical at any (bits, band). */
  private def sqlLshCode(bits: Int, band: Int): String = {
    import graft.functions.HyperplaneLSH.{a, b, M}
    val terms = (0 until bits).map { k =>
      val j = band * bits + k
      s"""CASE WHEN COALESCE(list_sum(list_transform(range(len(v)),
         |  d -> v[d+1] * ((((${a(j)} * (d+1) + ${b(j)}) % $M) / $M.0) - 0.5))), 0.0) >= 0
         |  THEN ${1 << k} ELSE 0 END""".stripMargin.linesIterator.map(_.trim).mkString(" ")
    }
    s"CAST((${terms.mkString(" + ")}) AS INT)"
  }

  /** UNION ALL body producing (vec_id, band, bucket) for all bands —
    * the oracle twin of [[graft.ops.Similarity.bandedBuckets]]. */
  private[queries] def sqlBandedBuckets: String =
    (0 until AnnBands).map { t =>
      s"SELECT vec_id, $t AS band, ${sqlLshCode(AnnBits, t)} AS bucket FROM v"
    }.mkString("\nUNION ALL\n")

  /** Shared CTE chain producing the minhash-banding candidate pair set
    * `pairs(doc1, doc2, jaccard_est)` — the oracle twin of
    * [[SimilarityQueries.bandedPairs]]∘[[SimilarityQueries.minhashSigsFrame]],
    * used by q31 (the pair carrier) and q60 (components over the same
    * graph). */
  private[queries] val SqlMinhashPairCtes: String =
    """h AS (
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
      |  FROM h),
      |bands AS (
      |  SELECT doc_id, mh1, mh2, mh3, mh4, 1 AS band, mh1 AS x, mh2 AS y FROM sigs
      |  UNION ALL
      |  SELECT doc_id, mh1, mh2, mh3, mh4, 2 AS band, mh3 AS x, mh4 AS y FROM sigs),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
      |    (CAST(a.mh1 = b.mh1 AS INT) + CAST(a.mh2 = b.mh2 AS INT) +
      |     CAST(a.mh3 = b.mh3 AS INT) + CAST(a.mh4 = b.mh4 AS INT)) / 4.0 AS jaccard_est
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id)""".stripMargin
}
