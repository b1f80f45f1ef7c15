package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles as ONE LAZY PLAN, memory-bounded at
  * any scale (SURVEY §7.4's describe/quartile path).
  *
  * Spark's exact `percentile` aggregate builds a per-partition
  * value→count map — memory ∝ distinct values, degenerate for
  * ~all-distinct columns. The classic fix is a distributed sort +
  * rank selection; round 2 ran that eagerly (RDD sortBy + two
  * driver collects at query-construction time — two jobs outside the
  * measured plan). This operator expresses the same selection as a
  * single declarative plan, so it is lazy, appears in `.explain`, and
  * every piece is bounded:
  *
  *  1. range-repartition the values (the "sort" — each partition holds
  *     one contiguous value range),
  *  2. `row_number` per partition chunk (window keyed by partition id:
  *     distributed, spillable — never a global single-partition window),
  *  3. global rank = within-chunk rank + broadcast per-chunk offsets
  *     (chunk counts are P rows — tiny),
  *  4. pick the ⌊r⌋/⌈r⌉ bracketing ranks for r = p·(n−1) — n comes
  *     from the same chunk counts, inside the plan — and interpolate
  *     `v_lo + (v_hi − v_lo)·(r − ⌊r⌋)`, the `quantile_cont` formula.
  *
  * The rank-pick join is a broadcast of |ps| rows against the ranked
  * corpus — candidate rows, not the corpus, flow to the final 1-row
  * aggregate.
  */
object Percentiles {

  /** One-row frame of exact percentiles of `valueCol`, columns named
    * `<prefix><100·p>` (e.g. `pp25`, `pp50`, `pp75`). Nulls are
    * dropped first; an empty input yields one all-null row.
    *
    * The ranged data is materialized ONCE — range-exchange + local
    * sort into a `localCheckpoint` (block-stored, lineage truncated,
    * blocks freed when the RDD is GC'd — no CacheManager entry to
    * leak) — and both consumers (the P-row chunk counts and the
    * ranked rows) branch from that single point, so their shared view
    * of the sampled range bounds is STRUCTURAL. Round 6 instead
    * planned the range pipeline twice and leaned on runtime
    * ReusedExchange to dedup it — correctness then hinged on reuse,
    * because each exchange re-SAMPLES its bounds. The checkpoint
    * means construction now runs the range/sort stages (under AQE
    * even `eager = false` materializes them); that is the price of
    * the structural guarantee, and it is the same work the first
    * action would have paid.
    *
    * Within-chunk rank comes from `monotonically_increasing_id` over
    * the locally-sorted chunks (pid = id >> 33, ordinal = low 33
    * bits — the documented layout) rather than a `row_number` window:
    * same numbers, but no hash(pid) re-shuffle of the whole corpus —
    * the ONLY corpus-wide exchange in the plan is the range one. */
  def exactBySort(src: DataFrame, valueCol: String, ps: Seq[Double],
                  prefix: String = "p"): DataFrame = {
    def tag(p: Double): String = math.round(p * 100).toString
    val vals = src.select(col(valueCol).cast("double").as("v")).na.drop()
    val ranged = vals.repartitionByRange(col("v")).sortWithinPartitions("v")
      .withColumn("mid", monotonically_increasing_id())
      .select(col("v"), shiftright(col("mid"), 33).as("pid"),
        (col("mid").bitwiseAND(lit((1L << 33) - 1)) + 1L).as("rn"))
      .localCheckpoint(eager = false)

    // per-chunk counts → offset (rows strictly before the chunk) and
    // n (grand total), in ONE P-row window (P = shuffle partitions,
    // not data — the single-partition window here is over chunk
    // COUNTS, never values). The pmod(pid, 1) partition key is 0 by
    // construction but opaque to constant folding (a bare lit(0)
    // gets optimized away, reverting to an empty spec), so the
    // single partition is EXPLICIT in the plan: execution is
    // identical, and the "No Partition Defined" warning stays free
    // to flag windows that are unpartitioned by ACCIDENT (PlanSpec
    // pins the absence).
    val wOff = Window.partitionBy(pmod(col("pid"), lit(1))).orderBy("pid")
    val meta = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .select(col("pid"),
        coalesce(sum("cnt").over(
          wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("offset"),
        sum("cnt").over(
          wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))

    // global rank = within-chunk ordinal + broadcast chunk offset;
    // the target rank r = p·(n−1) is computable on every row because
    // the broadcast meta row carries n
    def r(p: Double): Column = lit(p) * (col("n") - 1L).cast("double")
    val ranked = ranged
      .join(broadcast(meta), "pid")
      .withColumn("rank", col("rn") + col("offset") - 1L)

    val picked = ranked.filter(
      ps.map(p => col("rank") === floor(r(p)).cast("long") ||
                  col("rank") === ceil(r(p)).cast("long")).reduce(_ || _))

    // ≤ 2·|ps| surviving rows → one-row aggregate, interpolate
    // v_lo + (v_hi − v_lo)·(r − ⌊r⌋) (the quantile_cont formula)
    val aggd = picked.agg(
      max(col("n")).as("n"),
      ps.flatMap(p => Seq(
        max(when(col("rank") === floor(r(p)).cast("long"), col("v"))).as(s"lo_${tag(p)}"),
        max(when(col("rank") === ceil(r(p)).cast("long"), col("v"))).as(s"hi_${tag(p)}"))): _*)
    aggd.select(ps.map { p =>
      val rr = r(p)
      (col(s"lo_${tag(p)}") +
        (col(s"hi_${tag(p)}") - col(s"lo_${tag(p)}")) * (rr - floor(rr)))
        .as(s"$prefix${tag(p)}")
    }: _*)
  }

  /** Exact interpolated percentiles for FIXED-PRECISION (≤2-decimal)
    * columns — money-like data — via a two-level cents histogram.
    * Same output contract as [[exactBySort]], but every intermediate
    * is bounded by the VALUE DOMAIN, not the corpus:
    *
    *  1. level 1: counts per coarse bucket `cents >> 8` — deterministic
    *     ordered buckets (no range sampling), map-side combined, at
    *     most domain/256 rows through one tiny cumulative window;
    *  2. the ≤2·|ps| buckets whose rank range brackets a target rank
    *     are broadcast back;
    *  3. level 2: per-value counts INSIDE those buckets only (≤256
    *     distinct cents each), within-bucket cumulative ranks, pick
    *     the bracketing values and interpolate.
    *
    * At 100 TB the windows still see ≤ max(domain/256, 256) rows —
    * no corpus-proportional sort anywhere, which is why this beats
    * [[exactBySort]] (two range-sample+shuffle pipelines over all
    * values) whenever the fixed-precision precondition holds. */
  /** Exact interpolated percentiles for ARBITRARY doubles via a
    * two-level histogram over ORDER-PRESERVING IEEE-754 bits — the
    * third regime, closing the gap between [[exactByCentsHistogram]]
    * (needs fixed precision) and [[exactBySort]] (general but pays a
    * corpus-wide range exchange + sort):
    *
    *  1. level 1: counts per bucket `double_order_bits(v) >> 41`
    *     (sign + exponent + 11 mantissa bits — deterministic,
    *     order-contiguous, no range sampling; bucket count is bounded
    *     by the EXPONENT SPREAD of the data, ~2048 per binade
    *     actually present, not by the corpus);
    *  2. the ≤2·|ps| buckets whose rank range brackets a target are
    *     broadcast back;
    *  3. level 2: per-value counts inside those buckets only, exactly
    *     as the cents path — the rows flowing here are the bracketing
    *     buckets' members (~n / buckets), never the corpus.
    *
    * No sort, no sampled exchange, map-side-combinable aggregates
    * only. Degenerate only when ~all values share one bucket AND are
    * ~all distinct (sub-binade uniform data) — use [[exactBySort]]
    * there; for anything value-spread (prices, lengths, scores) this
    * is the plan you want at 100 TB. Same output contract and
    * interpolation as the other regimes. */
  def exactByBitsHistogram(src: DataFrame, valueCol: String, ps: Seq[Double],
                           prefix: String = "p"): DataFrame = {
    def tag(p: Double): String = math.round(p * 100).toString
    def r(p: Double): Column = lit(p) * (col("n") - 1L).cast("double")
    val vals = src.select(col(valueCol).cast("double").as("v")).na.drop()
    def bucketOf(c: Column): Column =
      shiftright(call_function("double_order_bits", c), 41)

    // single-partition by design, keyed by the fold-proof constant
    // pmod(b, 1) = 0 so it is explicit (no "No Partition Defined"
    // warning): the window sees bucket-count rows, bounded by the
    // data's exponent spread, never values
    val wB = Window.partitionBy(pmod(col("b"), lit(1))).orderBy("b")
    val bmeta = vals.groupBy(bucketOf(col("v")).as("b")).agg(count(lit(1)).as("bcnt"))
      .select(col("b"), col("bcnt"),
        coalesce(sum("bcnt").over(
          wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("boff"),
        sum("bcnt").over(
          wB.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))

    def bucketCovers(k: Column) = k >= col("boff") && k <= col("boff") + col("bcnt") - 1
    val targets = bmeta.filter(
      ps.map(p => bucketCovers(floor(r(p)).cast("long")) ||
                  bucketCovers(ceil(r(p)).cast("long"))).reduce(_ || _))
      .select("b", "boff", "n")

    // within a bucket, value order == bit order (the transform is
    // monotonic), so ordering by v is exact
    val wC = Window.partitionBy("b").orderBy("v")
    val ranked = vals.join(broadcast(targets), bucketOf(col("v")) === col("b"))
      .groupBy("v", "b", "boff", "n").agg(count(lit(1)).as("ccnt"))
      .withColumn("cum", sum("ccnt").over(
        wC.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("loRank", col("boff") + col("cum") - col("ccnt"))
      .withColumn("hiRank", col("boff") + col("cum") - 1)

    def covers(k: Column) = k >= col("loRank") && k <= col("hiRank")
    val picked = ranked.filter(
      ps.map(p => covers(floor(r(p)).cast("long")) ||
                  covers(ceil(r(p)).cast("long"))).reduce(_ || _))
    val aggd = picked.agg(
      max(col("n")).as("n"),
      ps.flatMap(p => Seq(
        max(when(covers(floor(r(p)).cast("long")), col("v"))).as(s"lo_${tag(p)}"),
        max(when(covers(ceil(r(p)).cast("long")), col("v"))).as(s"hi_${tag(p)}"))): _*)
    aggd.select(ps.map { p =>
      val rr = r(p)
      (col(s"lo_${tag(p)}") +
        (col(s"hi_${tag(p)}") - col(s"lo_${tag(p)}")) * (rr - floor(rr)))
        .as(s"$prefix${tag(p)}")
    }: _*)
  }

  /** Exact interpolated percentiles via Spark's `percentile`
    * aggregate (per-partition value→count map) — the right regime for
    * LOW-DISTINCT columns (enums, quantities, ratings): memory is
    * ∝ distinct values, so below ~10⁴ distinct it is one
    * map-side-combinable aggregate with no window, no join, no
    * second pass. Degenerate for ~all-distinct columns (the map IS
    * the column) — that is what the other regimes exist for. Same
    * output contract as [[exactBySort]]. */
  def exactByValueMap(src: DataFrame, valueCol: String, ps: Seq[Double],
                      prefix: String = "p"): DataFrame = {
    def tag(p: Double): String = math.round(p * 100).toString
    val vals = src.select(col(valueCol).cast("double").as("v")).na.drop()
    // toPlainString, not Double.toString: a fraction like 1e-4 would
    // render in scientific notation and break the expr() parse
    val arr = ps.map(p => BigDecimal(p).underlying.toPlainString + "D").mkString(", ")
    vals.agg(expr(s"percentile(v, array($arr))").as("pcts"))
      .select(ps.zipWithIndex.map { case (p, i) =>
        col("pcts").getItem(i).as(s"$prefix${tag(p)}") }: _*)
  }

  /** Regime CHOOSER: profile the column once (one cheap aggregate —
    * approx distinct values + approx distinct order-bits buckets),
    * then hand off to the regime whose boundedness argument holds:
    *
    *  - distinct ≤ `distinctCutoff` → [[exactByValueMap]] (the
    *    value→count map stays tiny at any corpus size);
    *  - order-bits buckets ≥ `minBuckets` → [[exactByBitsHistogram]]
    *    (bracketing buckets hold ~n/buckets rows, so the level-2
    *    scan is corpus-diluted);
    *  - else → [[exactBySort]] (fully general: high-distinct data
    *    crammed into a handful of binades — the one shape where only
    *    a real distributed sort bounds every step).
    *
    * The profile is an EAGER extra job by design — ~a count(distinct)
    * over one column, paid once so the expensive selection plan is
    * the right one. Callers that know their column's shape call a
    * regime directly and skip it; q57/q70 do exactly that. */
  /** The pure decision given the profile: distinct-value estimate
    * `nd`, order-bits-bucket estimate `nb`. Factored out so specs can
    * pin branch selection without instrumenting plans. */
  private[graft] def chooseRegime(nd: Long, nb: Long, distinctCutoff: Long,
                                  minBuckets: Long): String =
    if (nd <= distinctCutoff) "value-map"
    else if (nb >= minBuckets) "bits"
    else "sort"

  /** The profile's aggregate expressions (`__nd_<col>` approx distinct
    * values, `__nb_<col>` approx distinct order-bits buckets).
    * approx_count_distinct ignores nulls, so no per-column dropna
    * pass is needed.
    *
    * Do NOT fuse these into a caller's stats aggregation to "save a
    * scan" — measured out (r9): approx_count_distinct is an
    * ImperativeAggregate, so its presence kicks the ENTIRE fused
    * HashAggregate out of whole-stage codegen, and one interpreted
    * pass over all columns loses to a separate cheap profile job plus
    * a codegen'd stats pass (q32 solo sf1: fused 1.78 s vs split
    * 1.49 s). The profile's own cost is the interpreted HLL update
    * per ROW, which is what [[profileRegimes]]' sampleFraction
    * exists to bound. */
  private[graft] def profileAggCols(valueCols: Seq[String]): Seq[Column] =
    valueCols.flatMap { c =>
      val d = col(c).cast("double")
      Seq(
        approx_count_distinct(d).as(s"__nd_$c"),
        approx_count_distinct(
          shiftright(call_function("double_order_bits", d), 41)).as(s"__nb_$c"))
    }

  /** The decision half of [[profileRegimes]], given a collected row
    * that carries [[profileAggCols]]'s outputs. */
  private[graft] def regimesFromRow(row: org.apache.spark.sql.Row,
                                    valueCols: Seq[String],
                                    distinctCutoff: Long = 10000,
                                    minBuckets: Long = 64): Map[String, String] =
    valueCols.map { c =>
      c -> chooseRegime(row.getAs[Long](s"__nd_$c"), row.getAs[Long](s"__nb_$c"),
                        distinctCutoff, minBuckets)
    }.toMap

  /** Profile N columns in ONE job (a multi-column describe pays one
    * profiling aggregate total, not one per column) and decide each
    * column's regime.
    *
    * `sampleFraction < 1` bounds the profile's dominant cost — the
    * interpreted per-row HLL update — by sketching only a Bernoulli
    * sample (fixed seed: the choice is deterministic for a given
    * file layout). This is SAFE for the decision because every
    * regime returns EXACT percentiles; the profile is a performance
    * taxonomy, and its thresholds carry orders-of-magnitude margin
    * (value-map degrades at ~10^6 distinct, the cutoff is 10^4), so
    * a sample-deflated distinct estimate cannot push a degenerate
    * column across the line. The scan itself still reads every row
    * (the sampler is a codegen'd filter), so the job costs ~a column
    * scan, ∝ corpus like everything else. */
  private[graft] def profileRegimes(src: DataFrame, valueCols: Seq[String],
                                    distinctCutoff: Long = 10000,
                                    minBuckets: Long = 64,
                                    sampleFraction: Double = 1.0): Map[String, String] = {
    // Statistics CACHE: the regime is a property of the source data,
    // not of the query — the same discipline as any engine's
    // persisted table statistics (DuckDB/Postgres never re-ANALYZE
    // per query). Keyed by the source plan's semantic hash (stable
    // across identical reads of the same path) + the decision knobs;
    // a repeated describe over one table profiles once per JVM.
    // The memo lives for the JVM: a table rewritten in place may keep
    // its memoized regime until the JVM restarts.
    val keyBase = (src.semanticHash(), distinctCutoff, minBuckets, sampleFraction)
    val missing = valueCols.filterNot(c => profileMemo.containsKey((keyBase, c)))
    if (missing.nonEmpty) {
      val base = if (sampleFraction < 1.0) src.sample(sampleFraction, seed = 42L) else src
      val aggs = profileAggCols(missing)
      val row = base.agg(aggs.head, aggs.tail: _*).head()
      regimesFromRow(row, missing, distinctCutoff, minBuckets).foreach {
        case (c, r) => profileMemo.put((keyBase, c), r)
      }
    }
    valueCols.map(c => c -> profileMemo.get((keyBase, c))).toMap
  }

  private val profileMemo =
    new java.util.concurrent.ConcurrentHashMap[(Any, String), String]()

  /** [[exactAuto]]'s profile + decision (runs the one profiling job,
    * returns the regime name) — also used directly by tests to pin
    * branch selection. */
  private[graft] def profileRegime(src: DataFrame, valueCol: String,
                                   distinctCutoff: Long = 10000,
                                   minBuckets: Long = 64): String =
    profileRegimes(src, Seq(valueCol), distinctCutoff, minBuckets)(valueCol)

  /** Dispatch to a named regime — for callers that already hold a
    * [[profileRegimes]] result. */
  def exactByRegime(regime: String, src: DataFrame, valueCol: String,
                    ps: Seq[Double], prefix: String = "p"): DataFrame =
    regime match {
      case "value-map" => exactByValueMap(src, valueCol, ps, prefix)
      case "bits"      => exactByBitsHistogram(src, valueCol, ps, prefix)
      case _           => exactBySort(src, valueCol, ps, prefix)
    }

  def exactAuto(src: DataFrame, valueCol: String, ps: Seq[Double],
                prefix: String = "p", distinctCutoff: Long = 10000,
                minBuckets: Long = 64): DataFrame =
    exactByRegime(profileRegime(src, valueCol, distinctCutoff, minBuckets),
                  src, valueCol, ps, prefix)

  /** Exact percentiles of a 2-decimal (money-like) column via the
    * bounded cents histogram — the fixed-precision regime (q57).
    *
    * Two passes, every intermediate bounded by the VALUE DOMAIN:
    *
    *  1. coarse pass: count rows per 256-cent bucket (`c >> 8`) — a
    *     small-key map-side-combined aggregate whose result
    *     (domain/256 rows) is collected as driver metadata, the same
    *     bounded class as codebooks/centroids. Prefix sums over it
    *     locate the ≤ 2·|ps| buckets whose rank ranges bracket a
    *     target.
    *  2. fine pass: scan ONLY the target buckets, by filtering on the
    *     RAW VALUE with bucket-range bounds (±1 cent of slack around
    *     each bucket's cent range, then the exact bucket predicate on
    *     the derived cents). The bounds are plain comparisons on the
    *     source column, so they reach `PushedFilters` and prune row
    *     groups at the scan — at cluster scale the second pass reads
    *     the small fraction of the fact table whose min/max stats
    *     overlap ~3 price ranges, not the table. Its output (≤ 256
    *     distinct cents per target bucket) is driver-sized; the
    *     interpolation happens on those counts.
    *
    * An earlier formulation kept everything in one lazy plan but
    * aggregated the raw cents twice (two FULL corpus scans per call,
    * the second behind an unpushable join); a one-scan variant paid a
    * distinct-cents-wide hash aggregate instead (worse locally,
    * spill-prone at scale). The driver hop costs the plan's laziness —
    * the operator runs its two bounded jobs when called — which is the
    * documented exactBySort trade (its localCheckpoint is eager too).
    */
  def exactByCentsHistogram(src: DataFrame, valueCol: String, ps: Seq[Double],
                            prefix: String = "p"): DataFrame = {
    val spark = src.sparkSession
    def tag(p: Double): String = math.round(p * 100).toString
    val schema = org.apache.spark.sql.types.StructType(ps.map(p =>
      org.apache.spark.sql.types.StructField(s"$prefix${tag(p)}",
        org.apache.spark.sql.types.DoubleType)))
    def oneRow(vals: Seq[Any]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(vals: _*)), schema)

    val centsCol = round(col(valueCol) * 100, 0).cast("long")

    // pass 1: bucket counts -> driver (domain/256 rows, value-ordered)
    val bcounts: Array[(Long, Long)] = src
      .select(centsCol.as("c")).na.drop()
      .groupBy(shiftright(col("c"), 8).as("b")).agg(count(lit(1)).as("bcnt"))
      .orderBy("b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = bcounts.iterator.map(_._2).sum
    if (n == 0L) return oneRow(ps.map(_ => null))

    val ranks: Seq[Double] = ps.map(p => p * (n - 1).toDouble)
    val wanted: Set[Long] =
      ranks.flatMap(r => Seq(math.floor(r).toLong, math.ceil(r).toLong)).toSet
    // buckets whose global-rank range [boff, boff+bcnt-1] covers a target
    val boffs = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    var off = 0L
    for ((b, cnt) <- bcounts) {
      if (wanted.exists(k => k >= off && k < off + cnt)) boffs(b) = off
      off += cnt
    }
    val bs = boffs.keys.toSeq

    // pass 2: target buckets only, behind PUSHED value-range bounds.
    // c = round(v*100) lands in bucket b only if v*100 is within
    // [256b - 0.5, 256b + 255.5]; ±1 cent of slack keeps the bound
    // safe for either rounding direction, and the exact shiftright
    // predicate restores precision above the scan.
    val rangePred = bs.map(b =>
        col(valueCol) >= lit((256.0 * b - 1.0) / 100.0) &&
        col(valueCol) <= lit((256.0 * b + 256.0) / 100.0))
      .reduce(_ || _)
    val fine: Array[(Long, Long)] = src
      .filter(col(valueCol).isNotNull && rangePred)
      .select(centsCol.as("c"))
      .filter(shiftright(col("c"), 8).isInCollection(bs))
      .groupBy("c").agg(count(lit(1)).as("ccnt"))
      .orderBy("c").collect().map(r => (r.getLong(0), r.getLong(1)))

    // global rank range per distinct cents value, from the bucket offsets
    val cum = scala.collection.mutable.HashMap.empty[Long, Long] // b -> consumed
    val spans = fine.map { case (c, cnt) =>
      val b = c >> 8
      val lo = boffs(b) + cum.getOrElse(b, 0L)
      cum(b) = cum.getOrElse(b, 0L) + cnt
      (c, lo, lo + cnt - 1) // (cents, loRank, hiRank)
    }
    def valueAt(k: Long): Double = {
      val hit = spans.find { case (_, lo, hi) => k >= lo && k <= hi }
      require(hit.isDefined, s"rank $k not covered — bucket math broken")
      hit.get._1.toDouble / 100.0
    }
    oneRow(ranks.map { r =>
      val lo = valueAt(math.floor(r).toLong)
      val hi = valueAt(math.ceil(r).toLong)
      lo + (hi - lo) * (r - math.floor(r))
    })
  }
}
