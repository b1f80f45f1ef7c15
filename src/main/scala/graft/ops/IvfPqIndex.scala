package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED form of the IVF-PQ index — the production flow the
  * inline searches (q75 single-probe, q79 batch) point at in their
  * docstrings: train once, LAND `(vec_id, codes…, centroid)` as
  * parquet partitioned by coarse centroid, and serve every later
  * query from the stored codes.
  *
  * Why this layout is the one a 100 TB vector corpus wants:
  *  - `centroid` is a PARTITION COLUMN, so a probe's `nprobe` cluster
  *    restriction becomes partition PRUNING — the scan opens only
  *    nprobe/coarseK of the directories (the `zland` discipline
  *    applied to vector space; PlanSpec pins the pruned count).
  *  - The landed rows carry `m` small int codes (PQ compression, ~64×
  *    smaller than the raw vectors); the raw `embedding` column never
  *    appears in a search scan's ReadSchema — reading codes instead
  *    of vectors is the entire point of PQ.
  *  - Search itself is the q79 shape over the landed table: shared
  *    broadcast of per-probe LUT spec rows, ADC score as a projection,
  *    per-probe top-k via the bounded-heap `bounded_topk` aggregate.
  *
  * Codebooks follow the repo convention (coarse: corpus rows with
  * ids < coarseK; PQ sub-codebooks: ids < ksub, sliced per subspace
  * — deterministic, reproducible by the DuckDB oracle); a production
  * deployment k-means both, and only [[land]] changes. */
object IvfPqIndex {

  /** Landing dir derived from (user, source data dir) — the
    * [[graft.sources.CorpusJsonl.dirFor]] discipline, so concurrent
    * runs over different datasets never clobber each other's index. */
  def dirFor(dataDir: String): String =
    graft.core.ArtifactDirs.dirFor("graft_q81_ivfpq", dataDir)

  /** Dir of the most recent [[land]] in this JVM — what the no-arg
    * oracle map points at ([[graft.sources.CorpusJsonl.lastDir]]
    * discipline; `Verify` derives the dir from its own data dir
    * instead). */
  @volatile private var lastDirVar: String = dirFor("")
  def lastDir: String = lastDirVar

  private def codebooks(emb: DataFrame, coarseK: Int, ksub: Int,
                        idCol: String, vecCol: String)
      : (Seq[Long], Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val cbRows = typed.filter(col(idCol) < math.max(coarseK, ksub)).orderBy(idCol).collect()
    val ids: Seq[Long] = cbRows.map(_.getAs[Number](0).longValue()).toSeq
    require(ids == (0L until math.max(coarseK, ksub).toLong),
      s"IvfPqIndex: codebook rows must be the contiguous ids 0..${math.max(coarseK, ksub) - 1}")
    val vecs: Seq[Seq[Double]] = cbRows.map(_.getSeq[Double](1).toSeq).toSeq
    (ids.take(coarseK), vecs.take(coarseK), vecs.take(ksub))
  }

  // left-to-right accumulation — the same summation order as the
  // native array_dot / DuckDB list_dot_product
  private def ddot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Train-and-land: ONE corpus pass computes each vector's coarse
    * assignment (native `argmax_dot` against the driver-resident
    * centroid table) and its `m` per-subspace PQ codes, then writes
    * `(vec_id, code_0…code_{m−1})` parquet partitioned by `centroid`.
    * No join, no window — the only data movement is the partitioned
    * write itself.
    *
    * `codebookSource` (default: `emb` itself) is where the codebook
    * rows come from — an APPEND batch passes the original training
    * frame here so its vectors encode in the SAME space as the
    * already-landed codes (the incremental-indexing contract: the
    * batch itself need not, and usually does not, contain the
    * codebook ids). */
  def land(emb: DataFrame, dir: String, coarseK: Int, m: Int, ksub: Int,
           idCol: String = "vec_id", vecCol: String = "embedding",
           overwrite: Boolean = true,
           codebookSource: Option[DataFrame] = None): Unit =
    landEncoded(emb, dir, m,
      trainCodebooks(codebookSource.getOrElse(emb), coarseK, ksub, idCol, vecCol),
      idCol, vecCol, overwrite)

  /** The driver-resident codebook tables [[landEncoded]] encodes
    * against: (coarse centroid ids, coarse centroids, PQ subspace
    * codebook rows). One training-frame scan; derive ONCE and reuse
    * when landing repeatedly against the same training source (the
    * streaming gate's frozen-state discipline — per-batch re-derivation
    * would re-scan the training frame every micro-batch). */
  def trainCodebooks(source: DataFrame, coarseK: Int, ksub: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : (Seq[Long], Seq[Seq[Double]], Seq[Seq[Double]]) =
    codebooks(source, coarseK, ksub, idCol, vecCol)

  /** [[land]] with pre-derived codebooks. */
  def landEncoded(emb: DataFrame, dir: String, m: Int,
                  cb: (Seq[Long], Seq[Seq[Double]], Seq[Seq[Double]]),
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  overwrite: Boolean = true): Unit = {
    encode(emb, m, cb, idCol, vecCol)
      .write.partitionBy("centroid")
      // task-side commit only under overwrite: the re-run clears a
      // failed job's partial v2 output wholesale. A failed APPEND
      // re-run would NOT — search has no dedup-on-read, so append
      // keeps the job-side atomic committer (v1).
      .options(graft.core.Committers.forRerun(overwrite))
      .mode(if (overwrite) "overwrite" else "append")
      .parquet(dir)
    lastDirVar = dir
  }

  /** The `(idCol, centroid, code_0…code_{m−1})` rows [[landEncoded]]
    * writes, unwritten — the streaming index gate lands them itself. */
  def encode(emb: DataFrame, m: Int,
             cb: (Seq[Long], Seq[Seq[Double]], Seq[Seq[Double]]),
             idCol: String, vecCol: String): DataFrame = {
    val (coarseIds, coarse, pq) = cb
    val dim = coarse.headOption.map(_.length).getOrElse(0)
    require(coarse.isEmpty || dim % m == 0,
      s"IvfPqIndex.land: dim $dim not divisible into $m subspaces")
    val subLen = if (coarse.isEmpty) 0 else dim / m
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val assigned = typed
      .select(col(idCol), col("v"),
        call_function("argmax_dot", col("v"), typedlit(coarse)).as("amc"))
      .filter(col("amc").isNotNull)
      .select(col(idCol), col("v"),
        element_at(typedlit(coarseIds), col("amc.idx") + 1).as("centroid"))
    val ams = (0 until m).map { j =>
      val sub: Seq[Seq[Double]] = pq.map(_.slice(j * subLen, (j + 1) * subLen))
      call_function("argmax_dot",
        slice(col("v"), j * subLen + 1, subLen), typedlit(sub)).as(s"am_$j")
    }
    val codes = (0 until m).map(j =>
      col(s"am_$j").getField("idx").cast("int").as(s"code_$j"))
    // two projections: each argmax struct stays behind an alias so
    // CollapseProject cannot inline it per field (pqEncode discipline)
    assigned.select(col(idCol) +: col("centroid") +: ams: _*)
      .select(col(idCol) +: col("centroid") +: codes: _*)
  }

  /** Search the landed index: per-probe LUT spec rows broadcast
    * against ONLY the probed centroids' partitions, ADC from stored
    * codes, per-probe top-k via `bounded_topk`. `emb` supplies probe
    * vectors and codebooks (driver-resident metadata) — the
    * corpus-side scan reads the INDEX, never raw vectors.
    *
    * Note the code→centroid id convention: PQ codes here are 0-based
    * positions into the sub-codebook (= codebook ids, which are the
    * contiguous 0..ksub−1 by the [[codebooks]] require), so the LUT
    * lookup is `lut[j·ksub + code_j]`. Output and tie rules match
    * [[Similarity.ivfPqSearch]] exactly. */
  def search(spark: SparkSession, dir: String, emb: DataFrame,
             probeIds: Seq[Long], coarseK: Int, m: Int, ksub: Int,
             nprobe: Int, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             // r22: callers that just trained (the q81 land→search
             // flow) pass the codebooks they hold instead of paying a
             // second driver collect of the same rows per execution
             codebooksOpt: Option[(Seq[Long], Seq[Seq[Double]], Seq[Seq[Double]])] = None)
      : DataFrame = {
    require(probeIds.nonEmpty, "IvfPqIndex.search: empty probe batch")
    val (coarseIds, coarse, pq) =
      codebooksOpt.getOrElse(codebooks(emb, coarseK, ksub, idCol, vecCol))
    val dim = coarse.headOption.map(_.length).getOrElse(0)
    require(dim % m == 0, s"IvfPqIndex.search: dim $dim not divisible into $m subspaces")
    val subLen = dim / m
    val typed = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val probeRows: Map[Long, Seq[Double]] =
      typed.filter(col(idCol).isin(probeIds: _*)).collect()
        .map(r => r.getAs[Number](0).longValue() -> r.getSeq[Double](1).toSeq).toMap
    val missing = probeIds.filterNot(probeRows.contains)
    require(missing.isEmpty,
      s"IvfPqIndex.search: no vector for probe id(s) ${missing.mkString(",")}")
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
    import spark.implicits._
    val probeSpec = spec.toDF("probe_id", "centroid", "lut")
    val probedCentroids = spec.map(_._2).distinct

    // the index scan: centroid is a PARTITION column, so this isin is
    // partition pruning — only nprobe directories are opened, and the
    // ReadSchema is (vec_id, codes…): no vector column anywhere
    val idx = spark.read.parquet(dir)
      .withColumn("centroid", col("centroid").cast("long"))
      .filter(col("centroid").isin(probedCentroids: _*))
    val terms: Seq[Column] = (0 until m).map { j =>
      element_at(col("lut"), lit(j * ksub) + col(s"code_$j") + 1)
    }
    val scored = idx.join(broadcast(probeSpec), Seq("centroid"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol), col("centroid"),
        terms.reduceLeft(_ + _).as("adc"))
    TopK.perGroup(scored, Seq("probe_id"), "adc", idCol, k)
  }
}
