package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** ANN/bucketed-similarity semantics: LSH recall behavior on
  * constructed vectors, bucket-join candidate bounding, brute-force
  * top-k sanity. */
class SimilaritySpec extends AnyFunSuite with SparkTestSession {

  private def vecs(rows: (Long, Seq[Double])*) = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  /** Brute-force top-k against one probe vector (q27's shape, without
    * its rounding). */
  private def cosineTopK(emb: org.apache.spark.sql.DataFrame, probeId: Long, k: Int,
                         idCol: String = "vec_id", vecCol: String = "embedding") = {
    import Similarity.dot
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val probe = typed.filter(col(idCol) === probeId)
      .select(col("v").as("qv"), sqrt(dot(col("v"), col("v"))).as("qnorm"))
    typed.filter(col(idCol) =!= probeId).crossJoin(broadcast(probe))
      .select(col(idCol),
              (dot(col("v"), col("qv")) / (sqrt(dot(col("v"), col("v"))) * col("qnorm")))
                .as("cosine"))
      .orderBy(desc("cosine"), asc(idCol))
      .limit(k)
  }

  test("identical vectors share a bucket; opposite vectors do not") {
    val v = Seq.tabulate(64)(d => math.sin(d + 1))
    val df = Similarity.bucketed(vecs(1L -> v, 2L -> v, 3L -> v.map(-_)))
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(df(1L) == df(2L))
    // every sign flips: the opposite vector lands in the complement bucket
    assert(df(3L) == (~df(1L) & 0xFF))
  }

  test("bucket codes stay within K bits") {
    val df = Similarity.bucketed(
      vecs((1L to 50L).map(i => i -> Seq.tabulate(64)(d => ((i * 31 + d) % 17).toDouble - 8.0)): _*))
    val buckets = df.select("bucket").collect().map(_.getInt(0))
    assert(buckets.forall(b => b >= 0 && b < 256))
    assert(buckets.distinct.length > 1) // the formula actually discriminates
  }

  test("bucketJoin emits each candidate pair once with exact cosine") {
    val v = Seq.tabulate(64)(d => 1.0 / (d + 1))
    val near = v.updated(0, 1.0001)
    val got = Similarity.bucketJoin(vecs(1L -> v, 2L -> near, 3L -> v.map(-_)))
      .select("id1", "id2", "cosine").collect()
    // 1 and 2 collide (near-identical); 3 is in the complement bucket
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(math.abs(got.head.getDouble(2) - 1.0) < 1e-4)
  }

  test("ivfAssign ranks a NaN dot greatest (ORDER BY dot DESC parity)") {
    val finite = Seq.tabulate(8)(d => math.cos(d))
    val poisoned = finite.updated(3, Double.NaN) // centroid 1 -> NaN dot
    val got = Similarity.ivfAssign(
        vecs(0L -> finite, 1L -> poisoned, 7L -> finite.map(_ * 2)), k = 2)
      .filter(col("vec_id") === 7L).select("centroid").head().getLong(0)
    // the window formulation (desc puts NaN first) and DuckDB both
    // pick the NaN centroid; the native argmax must agree
    assert(got == 1L)
  }

  test("ivfAssign with an empty centroid set returns zero rows (old-plan contract)") {
    val v = Seq.tabulate(8)(d => math.sin(d + 1))
    // k=0: no vec_id < 0 → no centroids; the crossJoin formulation
    // produced an empty frame, the argmax projection must too
    assert(Similarity.ivfAssign(vecs(5L -> v, 6L -> v.map(-_)), k = 0).count() == 0)
  }

  test("pqEncode: per-subspace codes pick the max-dot sub-centroid independently") {
    // 4-dim vectors, 2 subspaces × 2 dims, 2-entry sub-codebooks from
    // vec_id 0/1. Vector 2 is built to agree with codebook 0 in
    // subspace 0 and codebook 1 in subspace 1 — the codes must differ
    // across subspaces, which a whole-vector argmax could never emit.
    val df = Similarity.pqEncode(vecs(
      0L -> Seq(1.0, 0.0, 0.0, 1.0),
      1L -> Seq(0.0, 1.0, 1.0, 0.0),
      2L -> Seq(2.0, 0.0, 3.0, 0.0)), m = 2, ksub = 2)
    val rows = df.collect().map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[Int]("code_0"), r.getAs[Double]("dot_0")),
       (r.getAs[Int]("code_1"), r.getAs[Double]("dot_1")))).toMap
    assert(rows(2L)._1 == ((0, 2.0))) // subspace 0: (2,0)·(1,0)=2 beats (2,0)·(0,1)=0
    assert(rows(2L)._2 == ((1, 3.0))) // subspace 1: (3,0)·(1,0)=3 beats (3,0)·(0,1)=0
    // codebook vectors reconstruct themselves exactly in every subspace
    assert(rows(0L) == (((0, 1.0), (0, 1.0))))
    assert(rows(1L) == (((1, 1.0), (1, 1.0))))
  }

  test("pqEncode ties keep the lowest codebook id (ivfAssign discipline)") {
    val df = Similarity.pqEncode(vecs(
      0L -> Seq(1.0, 0.0), 1L -> Seq(1.0, 0.0), 2L -> Seq(5.0, 0.0)),
      m = 1, ksub = 2)
    val codes = df.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("code_0")).toMap
    assert(codes == Map(0L -> 0, 1L -> 0, 2L -> 0)) // both centroids dot equal → id 0
  }

  test("semanticDedup drops near-representative members, keeps orthogonal ones") {
    // 4-dim space, k=2 (centroids = vectors 0 and 1). Vector 2 is a
    // scaled copy of vector 0 (same direction → cosine 1 to the rep),
    // vector 3 is orthogonal to everything (cosine 0 → survives).
    val df = Similarity.semanticDedup(vecs(
      0L -> Seq(1.0, 0.0, 0.0, 0.0),
      1L -> Seq(0.0, 1.0, 0.0, 0.0),
      2L -> Seq(0.9, 0.0, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 1.0, 0.0)), k = 2, tau = 0.4)
    val rows = df.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("rep_id"), r.getAs[Double]("rep_cos"))).sortBy(_._1)
    // vector 2 (cos 1.0 to rep 0) is gone; rep rows keep cos 1.0 to themselves
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 3L))
    assert(rows.map(_._2).toSeq == Seq(0L, 1L, 0L)) // 3 ties to centroid 0 (dot 0 both)
    assert(math.abs(rows(2)._3) < 1e-12) // orthogonal survivor: cosine 0
  }

  test("cosineTopK ranks by true cosine against the probe") {
    val base = Seq.tabulate(64)(d => math.cos(d * 0.1))
    val close = base.map(_ * 2.0)         // cosine 1.0 (scaled copy)
    val mid = base.updated(0, 10.0)       // perturbed
    val far = base.map(-_)                // cosine -1.0
    val got = cosineTopK(
      vecs(0L -> base, 1L -> close, 2L -> mid, 3L -> far), probeId = 0L, k = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("ivfAssign: centroids claim themselves; assignment is the argmax dot") {
    val base = Seq.tabulate(64)(d => math.sin(d * 0.3))
    val other = Seq.tabulate(64)(d => math.cos(d * 0.7))
    val df = Similarity.ivfAssign(
      vecs(0L -> base, 1L -> other,
           5L -> base.map(_ * 0.9),   // near centroid 0
           6L -> other.map(_ * 1.1)), // near centroid 1
      k = 2)
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) == 0L && m(1L) == 1L) // a centroid's best match is itself
    assert(m(5L) == 0L)
    assert(m(6L) == 1L)
  }

  test("multi-probe candidates strictly contain the banded candidates") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(Similarity.candidatePairs(emb, bits = 10, bands = 2))
    val probed = pairs(Similarity.multiProbePairs(emb, bits = 10, bands = 2))
    assert(plain.subsetOf(probed), "probing lost exact-collision candidates")
    assert(probed.size > plain.size,
           s"distance-1 probing added nothing (${probed.size} vs ${plain.size})")
    val n = emb.count()
    assert(probed.size < n * (n - 1) / 2, "must stay below all-pairs")
  }

  test("vec_mean UDAF matches the dimension-exploded mean within 1e-9") {
    import org.apache.spark.sql.functions.expr
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    // typed-aggregate path: one O(dim) buffer per label
    val byAgg = emb
      .groupBy("label")
      .agg(expr("vec_mean(cast(embedding as array<double>))").as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    // dimension-exploded path (the ivfUpdate shape), exact decimal sums
    val exploded = emb
      .select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .groupBy("label", "pos")
      .agg(avg("col").as("m"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(byAgg.nonEmpty)
    byAgg.foreach { case (label, vec) =>
      vec.zipWithIndex.foreach { case (m, d) =>
        assert(math.abs(m - exploded((label, d))) < 1e-9,
               s"label $label dim $d: $m vs ${exploded((label, d))}")
      }
    }
  }

  test("bucket join is a strict subset of all-pairs work") {
    val df = vecs((1L to 40L).map(i =>
      i -> Seq.tabulate(64)(d => math.sin(i * 7.0 + d))): _*)
    val candidates = Similarity.bucketJoin(df).count()
    assert(candidates < 40L * 39 / 2)
  }

  // hand-traceable IVF-PQ corpus: ids 0/1 double as coarse centroids
  // and PQ codebook (dim 4, m=2); probe 10 leans toward cluster 0
  private def ivfPqCorpus = vecs(
    0L -> Seq(1.0, 0.0, 1.0, 0.0),
    1L -> Seq(0.0, 1.0, 0.0, 1.0),
    2L -> Seq(0.9, 0.0, 1.0, 0.2),  // cluster 0, codes (0,0)
    3L -> Seq(0.0, 0.8, 0.1, 0.9),  // cluster 1 — pruned at nprobe=1
    4L -> Seq(1.0, 0.0, 0.0, 1.0),  // coarse TIE (1.0 both) → cluster 0
    10L -> Seq(1.0, 0.1, 0.9, 0.0)) // the probe

  test("ivfPqTopK: ADC scores, cluster pruning, ties, and probe exclusion") {
    val got = Similarity.ivfPqTopK(ivfPqCorpus, probeId = 10L,
        coarseK = 2, m = 2, ksub = 2, nprobe = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // cluster 0 members = {0, 2, 4}; LUT: l0=[1.0, 0.1], l1=[0.9, 0.0];
    // ADC: id0 → l0[0]+l1[0]=1.9, id2 → 1.9, id4 codes (0,1) → 1.0;
    // adc ties break by vec_id; probe 10 and cluster-1 id 3 absent
    assert(got.toSeq == Seq((0L, 0L, 1.9), (2L, 0L, 1.9), (4L, 0L, 1.0)))
  }

  test("IvfPqIndex: search over the landed codes equals the inline batch search") {
    // the persisted index must be a pure re-layout: landing codes and
    // searching from them yields exactly what the inline (vector-
    // recomputing) batch search yields on the same corpus and probes
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString + "/index"
    graft.ops.IvfPqIndex.land(emb, dir, coarseK = 16, m = 4, ksub = 16)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("probe_id"), col("vec_id"), col("centroid"),
              round(col("adc"), 9).as("adc"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getDouble(3), r.getInt(4))).sortBy(t => (t._1, t._5))
    val stored = key(graft.ops.IvfPqIndex.search(spark, dir, emb,
      probeIds = Seq(123L, 77L, 401L), coarseK = 16, m = 4, ksub = 16,
      nprobe = 4, k = 10))
    val inline = key(Similarity.ivfPqSearch(emb,
      probeIds = Seq(123L, 77L, 401L), coarseK = 16, m = 4, ksub = 16,
      nprobe = 4, k = 10))
    assert(stored.nonEmpty && stored.toSeq == inline.toSeq)
  }

  test("IvfPqIndex: appended batches are searchable — the index grows in place") {
    // the production flow: index the first vector drop, append the
    // second (which carries NO codebook rows — codebooks come from
    // the training frame via codebookSource), search sees the union:
    // landing in two drops must equal landing once over everything
    val all = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val first = all.filter(col("vec_id") < 300)   // includes codebook ids
    val second = all.filter(col("vec_id") >= 300)
    val dirApp = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString + "/index"
    val dirOne = java.nio.file.Files.createTempDirectory("graft-ivfpq-one").toString + "/index"
    graft.ops.IvfPqIndex.land(first, dirApp, coarseK = 16, m = 4, ksub = 16)
    graft.ops.IvfPqIndex.land(second, dirApp, coarseK = 16, m = 4, ksub = 16,
      overwrite = false, codebookSource = Some(first))
    graft.ops.IvfPqIndex.land(all, dirOne, coarseK = 16, m = 4, ksub = 16)
    def key(dir: String) = graft.ops.IvfPqIndex.search(spark, dir, all,
        probeIds = Seq(123L, 401L), coarseK = 16, m = 4, ksub = 16,
        nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(key(dirApp) == key(dirOne) && key(dirApp).nonEmpty)
  }

  test("ivfPqTopK: nprobe=2 admits the second cluster; k caps the heap") {
    val got = Similarity.ivfPqTopK(ivfPqCorpus, probeId = 10L,
        coarseK = 2, m = 2, ksub = 2, nprobe = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // all five members compete; top-2 by ADC are the 1.9 pair
    assert(got.toSeq == Seq((0L, 0L), (2L, 0L)))
    val all = Similarity.ivfPqTopK(ivfPqCorpus, probeId = 10L,
        coarseK = 2, m = 2, ksub = 2, nprobe = 2, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(0L, 1L, 2L, 3L, 4L), "nprobe=2 must cover both clusters")
  }

  // ---------- incremental semantic dedup ----------

  test("SemanticIncremental: copies and scalings drop, opposites and strangers survive") {
    import graft.ops.SemanticIncremental
    val v = Seq.tabulate(32)(d => math.sin(d * 1.7 + 1))
    val u = Seq.tabulate(32)(d => math.cos(d * 2.3 + 5)) // unrelated direction
    val corpus = vecs(100L -> v)
    val batch = vecs(
      1L -> v,             // exact copy: collides in every band, cosine 1
      2L -> v.map(_ * 2),  // positive scaling: same sign pattern, cosine 1
      3L -> v.map(-_),     // negation: complement code in EVERY band — never a candidate
      4L -> u)             // unrelated: survives (cosine far below tau even on collision)
    val got = SemanticIncremental.newDocs(corpus, batch, tau = 0.9, bits = 6, bands = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> true, 4L -> true))
  }

  test("SemanticIncremental: a null batch vector cannot collide and stays new") {
    import spark.implicits._
    import graft.ops.SemanticIncremental
    val corpus = vecs(100L -> Seq.tabulate(8)(_.toDouble + 1))
    val batch = Seq(
      (1L, Some(Seq.tabulate(8)(_.toDouble + 1))),
      (2L, Option.empty[Seq[Double]])).toDF("vec_id", "embedding")
    val got = SemanticIncremental.newDocs(corpus, batch, tau = 0.5, bits = 4, bands = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> false, 2L -> true))
  }

  test("SemanticIncremental.newDocs matches a driver-side reference on seeded vectors") {
    import graft.ops.SemanticIncremental
    import graft.functions.HyperplaneLSH
    val rnd = new scala.util.Random(0x5EEDCL)
    val dim = 16; val bits = 4; val bands = 2; val tau = 0.3
    def rv() = Seq.fill(dim)(rnd.nextGaussian())
    val corpusVecs = (0L until 40L).map(i => i -> rv())
    // plant real dups: every 10th batch vector copies a corpus vector
    val batchVecs = (1000L until 1120L).map { i =>
      if (i % 10 == 0) i -> corpusVecs(((i / 10) % 40).toInt)._2 else i -> rv()
    }
    // reference: same left-to-right float discipline as the native ops
    def code(v: Seq[Double], band: Int): Int = {
      var out = 0
      for (k <- 0 until bits) {
        val j = band * bits + k
        var dot = 0.0
        for (d <- 0 until dim) dot += v(d) * HyperplaneLSH.plane(j, d)
        if (dot >= 0.0) out |= (1 << k)
      }
      out
    }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def dt(x: Seq[Double], y: Seq[Double]) = {
        var s = 0.0; for (d <- 0 until dim) s += x(d) * y(d); s
      }
      dt(a, b) / (math.sqrt(dt(a, a)) * math.sqrt(dt(b, b)))
    }
    val expected = batchVecs.map { case (id, bv) =>
      val dup = corpusVecs.exists { case (_, cv) =>
        (0 until bands).exists(t => code(bv, t) == code(cv, t)) && cos(bv, cv) >= tau
      }
      id -> !dup
    }.toMap
    assert(expected.values.exists(!_), "seed must plant at least one dup")
    assert(expected.values.exists(identity), "seed must leave some new docs")
    val got = SemanticIncremental.newDocs(
        vecs(corpusVecs: _*), vecs(batchVecs: _*), tau, bits = bits, bands = bands)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == expected)
  }

  test("keepSemanticMins: greedy in-batch keeper needs collision AND cosine") {
    import graft.ops.SemanticIncremental
    val v = Seq.tabulate(32)(d => math.sin(d * 1.7 + 1))
    val u = Seq.tabulate(32)(d => math.cos(d * 2.3 + 5))
    val coded = SemanticIncremental.withCodes(
      vecs(5L -> v, 9L -> v, 7L -> v.map(_ * 3), 8L -> u), bits = 6, bands = 2)
    val kept = SemanticIncremental.keepSemanticMins(coded, tau = 0.9, bands = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // 5 is the min of the {5, 7, 9} cosine-1 group; 8 is unrelated
    assert(kept == Set(5L, 8L))
  }
}
