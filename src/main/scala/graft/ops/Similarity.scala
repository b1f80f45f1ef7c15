package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity-search operators over embedding columns.
  *
  * Two regimes, as a 100 TB pipeline needs:
  *  - brute-force scan against ONE probe vector (q27: [[cosine]]
  *    with a broadcast probe + TakeOrderedAndProject) — right
  *    when probes are few; cost is one pass over the corpus.
  *  - [[bucketed]] + [[bucketJoin]]: random-hyperplane LSH code per
  *    vector, then many-to-many candidate generation via an equi-join
  *    on the bucket — shuffle keys are bucket codes, never all-pairs.
  *    Exact cosine is then computed only on candidates.
  */
object Similarity {
  /** Dot product via the native [[graft.functions.ArrayDot]] — same
    * left-to-right accumulation as `aggregate(zip_with(...))` and
    * DuckDB's `list_dot_product`, minus the interpreted lambdas. */
  def dot(a: Column, b: Column): Column = call_function("array_dot", a, b)

  /** Cosine between two ARRAY<DOUBLE> columns (same expression shape
    * as the q27 oracle: dot / (|a|·|b|), left-to-right accumulation). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** LSH bucket code (native [[graft.functions.HyperplaneLSHCode]]).
    * `bits` sizes the bucket space (2^bits buckets): pick it so
    * corpus/2^bits stays O(1..100) — the within-bucket pair count is
    * O(n²/2^bits), so a fixed small code is a scale-killer. */
  def bucket(vec: Column, bits: Int = 8): Column =
    call_function("hyperplane_lsh", vec, lit(bits))

  /** The scale rule the docstrings above cite, as a function: the
    * code width that keeps EXPECTED bucket occupancy ≈
    * `targetOccupancy` for an `n`-vector corpus —
    * `ceil(log2(n / target))`, clamped. Pair-generating work per
    * bucket is O(occupancy²), so holding occupancy constant is what
    * keeps candidate counts LINEAR in corpus size as it grows (the
    * sf10 spot bench measures exactly what a fixed `bits` does
    * instead: candidates, and both engines' wall clocks, go
    * quadratic). Callers at a fixed benchmark scale keep the fixed
    * default; a production ingest sizes `bits =
    * occupancyBits(corpusCount)` as the corpus grows. */
  def occupancyBits(n: Long, targetOccupancy: Long = 8L,
                    minBits: Int = 4, maxBits: Int = 24): Int = {
    val buckets = math.max(1L, n / math.max(1L, targetOccupancy))
    val ceilLog2 =
      if (buckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1L)
    math.min(maxBits, math.max(minBits, ceilLog2))
  }

  /** Attach the band-0 bucket code to an embeddings frame. */
  def bucketed(emb: DataFrame, vecCol: String = "embedding", bits: Int = 8): DataFrame =
    emb.withColumn("bucket", bucket(col(vecCol).cast("array<double>"), bits))

  /** One (id, band, bucket) row per band — the banded OR-amplification
    * construction (same as the minhash banding): growing `bits` keeps
    * buckets small at any corpus size, growing `bands` restores the
    * recall that the longer code would otherwise cost. One pass of the
    * native `hyperplane_codes` computes all bands; `posexplode` fans
    * the slim (id, band, bucket) rows out — vectors do NOT ride along. */
  def bandedBuckets(emb: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    bits: Int = 8, bands: Int = 2): DataFrame =
    // posexplode_outer + isNotNull, not posexplode: the plain form's
    // inferred `size(...) > 0` pre-filter re-evaluates hyperplane_codes
    // (bands× dot products) per row; the outer variant computes the
    // codes once and the filter re-drops only null-vector rows
    emb.select(
      col(idCol),
      posexplode_outer(call_function("hyperplane_codes",
        col(vecCol).cast("array<double>"), lit(bits), lit(bands))))
      .filter(col("col").isNotNull)
      .select(col(idCol), col("pos").as("band"), col("col").as("bucket"))

  /** Distinct candidate id pairs (id1 < id2) colliding in ANY band.
    * The self-join carries only (id, band, bucket) — at 100 TB the
    * shuffle is slim ids keyed by (band, bucket), never vectors and
    * never all-pairs. */
  def candidatePairs(emb: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     bits: Int = 8, bands: Int = 2): DataFrame = {
    val b = bandedBuckets(emb, idCol, vecCol, bits, bands)
    val l = b.select(col(idCol).as("id1"), col("band"), col("bucket"))
    val r = b.select(col(idCol).as("id2"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
  }

  /** Multi-probe candidate pairs: like [[candidatePairs]], but the
    * probe side ALSO visits every bucket at Hamming distance 1 from
    * its code (bit flips), so near-misses on a single hyperplane sign
    * still collide — the other recall amplifier besides banding
    * (probing trades one-sided bits× row expansion for recall, where
    * banding trades extra codes; they compose). Only the slim
    * (id, band, bucket) rows expand — never vectors. */
  def multiProbePairs(emb: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      bits: Int = 8, bands: Int = 2): DataFrame = {
    val b = bandedBuckets(emb, idCol, vecCol, bits, bands)
    val probes = b.select(
      col(idCol).as("id1"), col("band"),
      explode(array(
        (col("bucket") +:
          (0 until bits).map(k => col("bucket").bitwiseXOR(lit(1 << k)))): _*))
        .as("bucket"))
    val exact = b.select(col(idCol).as("id2"), col("band"), col("bucket"))
    probes.join(exact, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
  }

  /** Candidate pairs scored with exact cosine: banded-LSH candidates,
    * then two equi-joins fetch the vectors for scoring — each side of
    * the corpus shuffles once on id, and only pair-participating
    * vectors are scored. Candidate count — not corpus² — bounds the
    * work. */
  def bucketJoin(emb: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 bits: Int = 8, bands: Int = 2): DataFrame = {
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    candidatePairs(emb, idCol, vecCol, bits, bands)
      .join(typed.select(col(idCol).as("id1"), col("v").as("v1")), "id1")
      .join(typed.select(col(idCol).as("id2"), col("v").as("v2")), "id2")
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("cosine"))
  }

  /** IVF coarse quantization: assign every vector to its
    * nearest-by-dot-product centroid. Centroids are themselves rows of
    * the corpus (ids < k — deterministic, no RNG to ship to an
    * oracle); a production deployment would k-means them, the
    * assignment plan is identical.
    *
    * Scale shape: the centroid table is DRIVER-RESIDENT METADATA
    * (k rows — every k-means loop materializes exactly this between
    * iterations), shipped inside the native `argmax_dot` expression.
    * One pass over the corpus emits ONE (vec_id, centroid, dot) row
    * per vector — no join, no window, no shuffle. The previous
    * crossJoin(broadcast) + window-top-1 formulation materialized and
    * window-shuffled an n·k row expansion of the corpus: fine at k=8,
    * a 10,000× blowup at a real coarse quantizer's k ≈ √n. Ties keep
    * the lowest centroid id (same winner as ORDER BY dot DESC,
    * centroid ASC). Probe-time search then touches only the probe's
    * cluster (`nprobe` clusters generally). */
  def ivfAssign(emb: DataFrame, k: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val centroidRows = typed.filter(col(idCol) < k).orderBy(idCol).collect()
    val ids: Seq[Long] = centroidRows.map(_.getAs[Number](0).longValue()).toSeq
    val matrix: Seq[Seq[Double]] = centroidRows.map(_.getSeq[Double](1).toSeq).toSeq
    typed
      .select(col(idCol),
        call_function("argmax_dot", col("v"), typedlit(matrix)).as("am"))
      // empty centroid set → argmax is null → zero rows, the same
      // output contract as the crossJoin formulation this replaced
      .filter(col("am").isNotNull)
      .select(col(idCol),
        element_at(typedlit(ids), col("am.idx") + 1).as("centroid"),
        col("am.dot").as("dot"))
  }

  /** The k-means/IVF UPDATE step paired with [[ivfAssign]]:
    * per-centroid vector means as (centroid, dim, mean_val) rows.
    * One whole-vector aggregate per row (native `vec_decimal_sum` —
    * element-wise EXACT decimal sums, bit-identical to the former
    * dimension-exploded `sum(cast(x as decimal(38,30)))` but without
    * shuffling dim× scalar cells; the buffer crossing the exchange is
    * one k×dim decimal vector per map task). Decimal accumulation
    * keeps the sum order-independent (cross-engine/re-run
    * deterministic); the tiny k-row result explodes to (centroid,
    * dim) cells at the end. */
  def ivfUpdate(emb: DataFrame, assignments: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val vecs = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    assignments.select(col(idCol), col("centroid"))
      .join(vecs, idCol)
      .groupBy(col("centroid"))
      .agg(count(lit(1)).as("n"), call_function("vec_decimal_sum", col("v")).as("sums"))
      .select(col("centroid"), col("n"), posexplode(col("sums")))
      .select(col("centroid"), col("pos").cast("int").as("dim"),
              (col("col").cast("double") / col("n")).as("mean_val"))
  }

  /** SemDeDup-style semantic dedup, centroid-anchored: cluster by
    * nearest centroid ([[ivfAssign]]), pick each cluster's
    * REPRESENTATIVE (max dot to its centroid, ties to the lowest id),
    * and drop every other member whose cosine to the representative
    * reaches `tau`. The published SemDeDup computes all within-cluster
    * pairs — O(Σ|cluster|²), which at a fixed k grows quadratically in
    * the corpus; anchoring at one representative per cluster keeps
    * the scan LINEAR (one cosine per row against a broadcast k-row
    * table) while preserving the semantic-dup-collapse behavior for
    * the dense near-dup neighborhoods the method targets. The
    * pairwise-exact variant on bounded candidate sets is the LSH
    * bucket path (`bucketJoin` + threshold, q47).
    *
    * Returns survivors as (id, rep_id, rep_cos): the representative
    * itself plus members below the threshold. */
  def semanticDedup(emb: DataFrame, k: Int, tau: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // The assignment projection KEEPS the vector so the representative
    // aggregate can carry (id, vector) in one max_by and the member
    // scan joins only the broadcast k-row rep table — the corpus is
    // never joined with itself (re-attaching vectors by id would
    // shuffle the corpus twice at 10⁹ rows).
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val cbRows = typed.filter(col(idCol) < k).orderBy(idCol).collect()
    val ids: Seq[Long] = cbRows.map(_.getAs[Number](0).longValue()).toSeq
    val matrix: Seq[Seq[Double]] = cbRows.map(_.getSeq[Double](1).toSeq).toSeq
    val asgv = typed
      .select(col(idCol), col("v"),
        call_function("argmax_dot", col("v"), typedlit(matrix)).as("am"))
      .filter(col("am").isNotNull)
      .select(col(idCol), col("v"),
        element_at(typedlit(ids), col("am.idx") + 1).as("centroid"),
        col("am.dot").as("dot"))
    // partial max_by keeps ONE (id, vector) candidate per centroid per
    // map task — the exchange carries ≤ k·partitions slim rows
    val reps = asgv.groupBy("centroid")
      .agg(expr(s"max_by(struct($idCol, v), struct(dot, -$idCol))").as("rep"))
      .select(col("centroid"), col(s"rep.$idCol").as("rep_id"), col("rep.v").as("rep_v"))
    asgv.join(broadcast(reps), "centroid")
      .select(col(idCol), col("rep_id"), cosine(col("v"), col("rep_v")).as("rep_cos"))
      .filter(col(idCol) === col("rep_id") || col("rep_cos") < tau)
  }

  /** Product-quantization (PQ) encoding — the compression half of
    * IVF-PQ, the standard billion-vector ANN layout: split each
    * vector into `m` contiguous subspaces and store, per subspace,
    * the id of the nearest sub-codebook centroid (by dot product,
    * ties to the lowest id — the [[ivfAssign]] discipline). A
    * 64-dim float vector (256 bytes) becomes `m` small ints; at the
    * 100 TB design point that ~64× compression is what lets the
    * candidate scan stay in memory.
    *
    * Scale shape: like [[ivfAssign]] this is a PURE PROJECTION — the
    * k×dim codebook lives driver-side (every PQ trainer keeps it
    * resident; k ≤ 256 per subspace), each subspace code is one
    * native `argmax_dot` over the vector slice, no join, no window,
    * no row expansion. Codebook here: the first `ksub` corpus
    * vectors, sliced per subspace (a real trainer would k-means each
    * subspace; the assignment plan is identical either way).
    *
    * Output: (id, code_0 … code_{m−1}, dot_0 … dot_{m−1}) — codes
    * are codebook row ids, dots the winning similarities. */
  def pqEncode(emb: DataFrame, m: Int, ksub: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val cbRows = typed.filter(col(idCol) < ksub).orderBy(idCol).collect()
    val ids: Seq[Long] = cbRows.map(_.getAs[Number](0).longValue()).toSeq
    val full: Seq[Seq[Double]] = cbRows.map(_.getSeq[Double](1).toSeq).toSeq
    val dim = full.headOption.map(_.length).getOrElse(0)
    require(full.isEmpty || dim % m == 0,
      s"pqEncode: dim $dim not divisible into $m subspaces")
    val subLen = if (full.isEmpty) 0 else dim / m
    // Two projections, not one: each argmax struct is consumed twice
    // (code + dot), and keeping the struct behind an alias blocks
    // CollapseProject from inlining the argmax per field reference
    // (the ivfAssign discipline).
    val ams = (0 until m).map { j =>
      val sub: Seq[Seq[Double]] = full.map(_.slice(j * subLen, (j + 1) * subLen))
      call_function("argmax_dot",
        slice(col("v"), j * subLen + 1, subLen), typedlit(sub)).as(s"am_$j")
    }
    val outs = (0 until m).flatMap { j =>
      Seq(element_at(typedlit(ids), col(s"am_$j").getField("idx") + 1)
            .cast("int").as(s"code_$j"),
          col(s"am_$j").getField("dot").as(s"dot_$j"))
    }
    typed.select(col(idCol) +: ams: _*).select(col(idCol) +: outs: _*)
  }

  /** IVF-PQ probe-time search — the read path that [[ivfAssign]]
    * (coarse quantizer) and [[pqEncode]] (compression) exist to serve,
    * i.e. the full billion-vector ANN query: restrict the scan to the
    * probe's `nprobe` nearest coarse clusters, score the members by
    * asymmetric distance computation (ADC), return the top `k`.
    *
    * ADC: the probe precomputes, per subspace `j`, the dot of its
    * slice with every sub-codebook centroid — an m×ksub lookup table.
    * A member's score is then `Σ_j lut[j][code_j]`: m table lookups
    * and m−1 additions per row. NOTE: here the codes are derived
    * inline from each member's full vector (the same `argmax_dot` as
    * [[pqEncode]]) because the test corpus stores vectors, not codes;
    * a real deployment lands [[pqEncode]]'s output once and this scan
    * then reads codes (m bytes/row) instead of vectors (256+
    * bytes/row), which is the entire point of PQ — the plan shape
    * (scan → project → prune → ADC → top-k) is identical either way.
    *
    * Scale shape: the coarse centroids, sub-codebooks, and LUT are all
    * driver-resident metadata shipped as literals (the [[ivfAssign]]
    * discipline); the whole query is scan → projection → filter
    * (cluster pruning) → projection (ADC) → TakeOrderedAndProject.
    * No join, no window, no shuffle beyond the k-row final heap
    * merge. Both argmaxes keep their struct behind an alias so
    * CollapseProject cannot duplicate them per field ([[pqEncode]]
    * discipline). Ties: coarse assignment and codes tie to the lowest
    * centroid id; the final top-k ties to the lowest member id.
    *
    * Codebooks here are corpus rows (coarse: ids < `coarseK`; PQ: ids
    * < `ksub`, sliced per subspace) — deterministic, no RNG to ship
    * to an oracle; a production deployment k-means both, the search
    * plan is identical. The probe itself is excluded from results. */
  def ivfPqTopK(emb: DataFrame, probeId: Long, coarseK: Int, m: Int,
                ksub: Int, nprobe: Int, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    // ONE driver round-trip for all driver-resident rows (codebook +
    // probe): the two separate collects this replaces were each a
    // full scan job, and FloorDecompProbe put the pair at most of
    // q75/q79's ~350 ms build phase — half of it pure job overhead.
    val nCb = math.max(coarseK, ksub).toLong
    val wanted = typed
      .filter(col(idCol) < nCb || col(idCol) === probeId)
      .orderBy(idCol).collect()
    val cbRows = wanted.filter(_.getAs[Number](0).longValue() < nCb)
    val ids: Seq[Long] = cbRows.map(_.getAs[Number](0).longValue()).toSeq
    require(ids == (0L until nCb),
      s"ivfPqTopK: codebook rows must be the contiguous ids 0..${nCb - 1}; " +
        s"got ${ids.take(8).mkString(",")}${if (ids.length > 8) ",…" else ""} — a missing low id " +
        "would silently pair the wrong vector with the wrong codebook slot")
    val vecs: Seq[Seq[Double]] = cbRows.map(_.getSeq[Double](1).toSeq).toSeq
    val coarseIds = ids.take(coarseK)
    val coarse = vecs.take(coarseK)
    val pq = vecs.take(ksub)
    val probe: Seq[Double] = wanted
      .find(_.getAs[Number](0).longValue() == probeId)
      .map(_.getSeq[Double](1).toSeq)
      .getOrElse(throw new IllegalArgumentException(s"ivfPqTopK: no vector with $idCol=$probeId"))
    val dim = probe.length
    require(dim % m == 0, s"ivfPqTopK: dim $dim not divisible into $m subspaces")
    val subLen = dim / m

    // left-to-right accumulation — the same summation order as the
    // native array_dot / DuckDB list_dot_product, so LUT doubles are
    // bit-identical to what either engine would compute
    def ddot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val probeCentroids: Seq[Long] =
      coarseIds.zip(coarse).map { case (cid, cv) => (cid, ddot(probe, cv)) }
        .sortBy { case (cid, d) => (-d, cid) }.take(nprobe).map(_._1)
    val lut: Seq[Seq[Double]] = (0 until m).map { j =>
      pq.map(cv => ddot(probe.slice(j * subLen, (j + 1) * subLen),
                        cv.slice(j * subLen, (j + 1) * subLen)))
    }

    val assigned = typed.filter(col(idCol) =!= probeId)
      .select(col(idCol), col("v"),
        call_function("argmax_dot", col("v"), typedlit(coarse)).as("amc"))
      .filter(col("amc").isNotNull)
      .select(col(idCol), col("v"),
        element_at(typedlit(coarseIds), col("amc.idx") + 1).as("centroid"))
      .filter(col("centroid").isin(probeCentroids: _*))
    val ams = (0 until m).map { j =>
      val sub: Seq[Seq[Double]] = pq.map(_.slice(j * subLen, (j + 1) * subLen))
      call_function("argmax_dot",
        slice(col("v"), j * subLen + 1, subLen), typedlit(sub)).as(s"am_$j")
    }
    val terms: Seq[Column] = (0 until m).map { j =>
      element_at(typedlit(lut(j)), col(s"am_$j").getField("idx") + 1)
    }
    assigned
      .select(col(idCol) +: col("centroid") +: ams: _*)
      .select(col(idCol), col("centroid"),
        terms.reduceLeft(_ + _).as("adc"))
      .orderBy(desc("adc"), col(idCol))
      .limit(k)
  }

  /** BATCH IVF-PQ search: [[ivfPqTopK]] generalized from one probe to
    * a probe TABLE — the shape a real retrieval pipeline runs, where
    * a serving batch of Q queries must not cost Q corpus scans.
    *
    * One corpus pass computes what is probe-independent (coarse
    * assignment + per-subspace codes, and only for rows inside SOME
    * probed cluster); per-probe work rides a broadcast spec table of
    * (probe_id, centroid, flattened LUT) rows — Q·nprobe rows, built
    * driver-side exactly like the single-probe LUT. The equi-join on
    * `centroid` fans each corpus row out ONLY to the probes probing
    * its cluster (expected expansion Q·nprobe/coarseK — the honest
    * IVF read amplification), the ADC score is one projection over
    * the joined row, and per-probe top-k is the bounded-heap
    * `bounded_topk` aggregate ([[TopK.perGroup]]) — map tasks emit
    * ≤k rows per probe, no per-probe window sort, no corpus re-scan
    * per probe (PlanSpec pins one parquet scan in the whole plan).
    *
    * Output: (probe_id, `idCol`, centroid, adc, rk), rk = 1..k best-
    * first per probe; each probe is excluded from its own results.
    * Same codebook convention and tie rules as [[ivfPqTopK]]. */
  def ivfPqSearch(emb: DataFrame, probeIds: Seq[Long], coarseK: Int, m: Int,
                  ksub: Int, nprobe: Int, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(probeIds.nonEmpty, "ivfPqSearch: empty probe batch")
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    // ONE driver round-trip for all driver-resident rows (codebook +
    // probe batch — the incoming query set, driver-resident by
    // definition): replaces two separate scan jobs, each ~half of the
    // ~350 ms build phase FloorDecompProbe measured for q79.
    val nCb = math.max(coarseK, ksub).toLong
    val wanted = typed
      .filter(col(idCol) < nCb || col(idCol).isin(probeIds: _*))
      .orderBy(idCol).collect()
    val cbRows = wanted.filter(_.getAs[Number](0).longValue() < nCb)
    val ids: Seq[Long] = cbRows.map(_.getAs[Number](0).longValue()).toSeq
    require(ids == (0L until nCb),
      s"ivfPqSearch: codebook rows must be the contiguous ids 0..${nCb - 1}")
    val vecs: Seq[Seq[Double]] = cbRows.map(_.getSeq[Double](1).toSeq).toSeq
    val coarseIds = ids.take(coarseK)
    val coarse = vecs.take(coarseK)
    val pq = vecs.take(ksub)
    val probeIdSet = probeIds.toSet
    val probeRows: Map[Long, Seq[Double]] =
      wanted.iterator
        .filter(r => probeIdSet.contains(r.getAs[Number](0).longValue()))
        .map(r => r.getAs[Number](0).longValue() -> r.getSeq[Double](1).toSeq).toMap
    val missing = probeIds.filterNot(probeRows.contains)
    require(missing.isEmpty, s"ivfPqSearch: no vector for probe id(s) ${missing.mkString(",")}")
    val dim = probeRows(probeIds.head).length
    require(dim % m == 0, s"ivfPqSearch: dim $dim not divisible into $m subspaces")
    val subLen = dim / m
    def ddot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // spec rows (probe_id, centroid, lut): lut flattened [j*ksub + code]
    val spec: Seq[(Long, Long, Seq[Double])] = probeIds.flatMap { pid =>
      val pv = probeRows(pid)
      val pcs = coarseIds.zip(coarse).map { case (cid, cv) => (cid, ddot(pv, cv)) }
        .sortBy { case (cid, d) => (-d, cid) }.take(nprobe).map(_._1)
      val lutFlat: Seq[Double] = (0 until m).flatMap { j =>
        pq.map(cv => ddot(pv.slice(j * subLen, (j + 1) * subLen),
                          cv.slice(j * subLen, (j + 1) * subLen)))
      }
      pcs.map(cid => (pid, cid, lutFlat))
    }
    val spark = emb.sparkSession
    import spark.implicits._
    val probeSpec = spec.toDF("probe_id", "centroid", "lut")
    val probedCentroids = spec.map(_._2).distinct

    // ONE corpus pass: assign, prune to probed clusters, THEN pay the
    // m per-subspace code argmaxes only for surviving rows
    val assigned = typed
      .select(col(idCol), col("v"),
        call_function("argmax_dot", col("v"), typedlit(coarse)).as("amc"))
      .filter(col("amc").isNotNull)
      .select(col(idCol), col("v"),
        element_at(typedlit(coarseIds), col("amc.idx") + 1).as("centroid"))
      .filter(col("centroid").isin(probedCentroids: _*))
    val ams = (0 until m).map { j =>
      val sub: Seq[Seq[Double]] = pq.map(_.slice(j * subLen, (j + 1) * subLen))
      call_function("argmax_dot",
        slice(col("v"), j * subLen + 1, subLen), typedlit(sub)).as(s"am_$j")
    }
    val codes = assigned.select(col(idCol) +: col("centroid") +: ams: _*)
    val terms: Seq[Column] = (0 until m).map { j =>
      element_at(col("lut"), lit(j * ksub) + col(s"am_$j").getField("idx") + 1)
    }
    val scored = codes.join(broadcast(probeSpec), Seq("centroid"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol), col("centroid"),
        terms.reduceLeft(_ + _).as("adc"))
    TopK.perGroup(scored, Seq("probe_id"), "adc", idCol, k)
  }
}
