package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable quantile sketches via deterministic bottom-k sampling
  * (Cohen & Kaplan's bottom-k sketches) — the third member of the
  * engine's mergeable-sketch family (KMV distinct counts q88,
  * Misra-Gries heavy hitters q89): per group, keep the k rows whose
  * 60-bit md5 SAMPLING KEY (hashed row id — independent of the value)
  * is smallest; that is a uniform without-replacement sample, so the
  * sample's empirical quantiles estimate the group's (rank error
  * concentrates as ~√(q(1−q)/k)), EXACTLY equal to them when the
  * group has ≤ k rows.
  *
  * Why not `approx_percentile`: its GK summary is neither
  * deterministic across engines nor relationally re-derivable, so it
  * can never pass a hash-exact oracle. The bottom-k sample is BOTH —
  * the oracle re-ranks by the same md5 keys — and it is mergeable by
  * construction: the bottom-k of a union IS the bottom-k of the
  * parts' bottom-k's, so per-shard sketches re-aggregate without
  * touching the rows again (the q91 persistence contract; the q96
  * carrier BUILDS per-shard and MERGES, while its oracle computes the
  * global sample directly — the green hash is the mergeability
  * proof, the q56 trick).
  *
  * Scale shape: sketches ride [[graft.functions.BoundedTopK]]
  * (ObjectHashAggregate, map-side partial), so every exchange carries
  * ≤ k-entry buffers per group, never rows; quantile extraction is a
  * per-group array sort of ≤ k values. */
object QuantileSketch {

  /** 60-bit md5 sampling key of a row id (q88/q92 hash convention —
    * re-derivable in ANSI SQL). */
  private def sampleKey(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  /** Per-group sketches: one row per `groupCols` combination with
    * `n_rows` (exact), `sketch` = the bottom-k (h, id, v) entries
    * (smallest hash first, ties by id — a total order, so the sketch
    * is unique), and `sketch_k` = the build bound, carried so
    * [[merge]] can verify compatibility (the kmv_union_agg
    * header-check convention). NULL ids or values are REFUSED
    * relationally (the sketch-family hardening rule): a null id has
    * no deterministic rank and a null value sorts differently across
    * engines — both would silently break the oracle contract. */
  def build(df: DataFrame, groupCols: Seq[String], idCol: String,
            valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need a positive sample bound, got $k")
    // h is projected ONCE per row (the aggregate's payload and order
    // expressions evaluate independently — an inline getField would
    // pay the md5 twice per row after extract-value simplification)
    val guarded = df.select(
      groupCols.map(col) :+
        when(col(idCol).isNull || col(valueCol).isNull,
          raise_error(lit(s"quantile sketch refuses null $idCol/$valueCol rows")))
          .otherwise(sampleKey(col(idCol))).as("__h") :+
        col(idCol).as("__id") :+ col(valueCol).as("__v"): _*)
    guarded.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        call_function("bounded_topk",
          struct(col("__h").as("h"), col("__id").as("id"), col("__v").as("v")),
          -col("__h"), col("__id"), lit(k)).as("sketch"))
      .withColumn("sketch_k", lit(k))
  }

  /** Re-aggregate per-shard sketches to coarser groups: bottom-k of
    * the union of bottom-k's ≡ bottom-k of the union — but ONLY at or
    * below the bound the inputs were built with (a k-16 sketch does
    * not contain the global bottom-32), so inputs whose `sketch_k` is
    * under the requested k are refused relationally. ONE aggregation
    * over the position-exploded entries computes the merged sketch
    * AND the exact count (n_rows rides the pos-0 entry — every group
    * has one, since k ≥ 1 and empty groups produce no sketch row;
    * null/empty sketch arrays, which build can never emit, are
    * REFUSED loudly rather than silently dropping their n_rows);
    * exchanges carry only sketch buffers and one long, and the plan
    * has no join for PlanSpec to whitelist. */
  def merge(sketches: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"need a positive sample bound, got $k")
    val gc = groupCols.map(col)
    sketches
      .select(gc ++ Seq(
        when(col("sketch_k") < k,
          raise_error(concat(lit(s"cannot merge at k=$k sketches built with k="),
            col("sketch_k").cast("string"),
            lit(" — the union of smaller bottom-k's is not the global bottom-k"))))
          .otherwise(col("n_rows")).as("n_rows"),
        // the guard lives INSIDE the generator's input, so it is
        // evaluated for every input row: a bare posexplode of an empty
        // array yields no rows at all, which would silently drop the
        // row's n_rows from the merged count (and vanish an all-empty
        // group) instead of refusing corrupt input loudly — build
        // (k ≥ 1) can never emit an empty sketch, so one can only mean
        // a hand-assembled or damaged frame
        posexplode(
          when(col("sketch").isNull || size(col("sketch")) === 0,
            raise_error(lit("quantile sketch merge refuses null/empty " +
              "sketch arrays — build (k >= 1) never emits them, so one " +
              "means a corrupt or hand-assembled input")))
            .otherwise(col("sketch"))).as(Seq("pos", "e"))): _*)
      .groupBy(gc: _*)
      .agg(
        sum(when(col("pos") === 0, col("n_rows")).otherwise(0L)).as("n_rows"),
        call_function("bounded_topk",
          col("e"), -col("e.h"), col("e.id"), lit(k)).as("sketch"))
      .withColumn("sketch_k", lit(k))
  }

  /** Empirical quantile of a sketch column at `q`: the value at
    * 1-based index ⌊q·(nₛ−1)⌋+1 of the sorted sampled values — a
    * deterministic integer index rule both engines compute identically
    * (one IEEE multiply + floor; no interpolation, so integer-typed
    * values stay integers and the oracle compare is exact). NULL for
    * an empty sketch (no sample, no estimate). */
  def quantile(sketch: Column, q: Double): Column = {
    require(q >= 0 && q <= 1, s"quantile must be in [0,1], got $q")
    val vals = array_sort(transform(sketch, _.getField("v")))
    when(size(vals) > 0,
      element_at(vals, (floor(lit(q) * (size(vals) - 1)) + 1).cast("int")))
  }
}
