package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed ordered prefix sums — the scale-safe form of
  * `SUM(x) OVER (ORDER BY k)`, which Spark otherwise executes as a
  * GLOBAL single-partition window (every row through one task: the
  * canonical scale-killer for running totals).
  *
  * Same chunk-offset construction as [[Percentiles.exactBySort]]:
  * range-partition by the order key, compute the within-chunk running
  * total in parallel, then add broadcast per-chunk offsets (P tiny
  * rows). The pattern a training pipeline uses to pack documents into
  * token-budget shards (see SparkEntry q51) or assign global positions
  * without a driver bottleneck.
  *
  * r22 (guide §2.4): the within-chunk running total is the native
  * [[graft.functions.RunningSum]] stateful expression over the
  * range-exchanged, locally-sorted rows — NOT a
  * `SUM OVER (PARTITION BY __pid ORDER BY k)` window. The window's
  * ClusteredDistribution(__pid) requirement was opaque to Catalyst
  * (it cannot see that `__pid = spark_partition_id()` already holds
  * per partition), so EnsureRequirements inserted a SECOND full
  * exchange — `hashpartitioning(__pid)` — between the range exchange
  * and the window, re-shuffling every data row for a distribution
  * they already had. The expression form runs in the shuffle-read
  * stage itself: ONE corpus-slim exchange per prefix sum, same
  * numbers (PrefixSumSpec pins equality against the naive global
  * window and the single-exchange shape).
  */
object PrefixSum {

  /** Adds `cumCol` = inclusive running total of `valueCol` in
    * `orderCol` order. `orderCol` must be unique per row (ties would
    * make the within-tie running order nondeterministic). The value
    * column must be integral (sums as long). A NULL value adds 0, so
    * `cumCol` is never NULL: a NULL row carries the total of the rows
    * before it. */
  def runningTotal(df: DataFrame, orderCol: String, valueCol: String,
                   cumCol: String): DataFrame =
    runningTotal(df, Seq(orderCol), valueCol, cumCol)

  /** Composite-key form: the running total follows the lexicographic
    * order of `orderCols` (their COMBINATION must be unique per row —
    * how [[graft.ops.EpochShuffle]] orders by a 60-bit permutation
    * key with the row id as the exactness tiebreak). */
  def runningTotal(df: DataFrame, orderCols: Seq[String], valueCol: String,
                   cumCol: String): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    // the local sort is what makes the stateful running_sum
    // deterministic per task (retries/speculation re-fetch shuffle
    // blocks in arbitrary order; the sort re-establishes one order
    // because the key combination is unique)
    val parts = df.repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
    // Single-partition by design — it orders the P per-chunk totals
    // (P = shuffle partitions), never data rows. The pmod(pid, 1)
    // partition key is 0 by construction but opaque to constant
    // folding (a bare lit(0) gets optimized away, reverting to an
    // empty spec), so the single partition is EXPLICIT: execution is
    // identical, and WindowExec's "No Partition Defined" warning
    // stays free to flag windows unpartitioned by ACCIDENT (PlanSpec
    // pins the absence). (EliminateSorts drops the local sort under
    // this aggregate, so the exchange subtree stays identical to the
    // data branch's and runtime reuse fires — PrefixSumSpec pins it.)
    val wOff = Window.partitionBy(pmod(col("__pid"), lit(1))).orderBy("__pid")
    val meta = parts.groupBy("__pid").agg(sum(col(valueCol)).as("__cnt"))
      .select(col("__pid"),
        coalesce(sum("__cnt").over(
          wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"))
    parts
      .withColumn("__run",
        call_function("running_sum", col(valueCol).cast("long")))
      .join(broadcast(meta), "__pid")
      .withColumn(cumCol, col("__run") + col("__off"))
      .drop("__pid", "__run", "__off")
  }

  /** Per-GROUP running totals in ONE range exchange (r22, guide §2.4):
    * `cumCol` restarts at every `groupCol` value while every group
    * rides a single range partitioning by (groupCol +: orderCols) —
    * the multi-epoch landing's shape, where running [[runningTotal]]
    * once per group would pay one corpus-slim range exchange (with
    * its own sampling pass, chunk totals and offset broadcast) PER
    * GROUP for data that fits one. Each (group, orderCols)
    * combination must be unique per row, exactly as in
    * [[runningTotal]].
    *
    * The task-scope [[graft.functions.RunningSum]] does not restart
    * at group boundaries, so the group structure is restored with
    * arithmetic on the metadata-sized (chunk, group) totals: for a
    * row of group g in chunk P,
    *
    *   cum = run_raw − taskoff(P, g) + off(P, g)
    *
    * where run_raw is the task running total (groups before g in P
    * included), taskoff = Σ totals of groups BEFORE g within P (the
    * rows the task streamed before reaching g — data is sorted by
    * (group, orderCols)), and off = Σ totals of g in chunks BEFORE P
    * (the standard cross-chunk offset). Both windows see ≤ P·|groups|
    * metadata rows, never data. With a single group value taskoff ≡ 0
    * and this degenerates to [[runningTotal]]'s arithmetic, so the
    * per-group totals are identical to running each group alone
    * (PrefixSumSpec pins it). */
  def runningTotalPerGroup(df: DataFrame, groupCol: String, orderCols: Seq[String],
                           valueCol: String, cumCol: String): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    val keys = (groupCol +: orderCols).map(col)
    val parts = df.repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id())
    // rows strictly before this chunk WITHIN the group: chunks are
    // range-ordered by (group, orderCols), so ordering a group's
    // chunk totals by __pid is its range order; rows streamed before
    // the group within this chunk: groups are range-contiguous, so
    // ordering the chunk's group totals by the group key is stream
    // order
    val wOff = Window.partitionBy(col(groupCol)).orderBy("__pid")
    val wTask = Window.partitionBy(col("__pid")).orderBy(groupCol)
    val meta = parts.groupBy(col("__pid"), col(groupCol))
      .agg(sum(col(valueCol)).as("__cnt"))
      .select(col("__pid"), col(groupCol),
        coalesce(sum("__cnt").over(
          wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__off"),
        coalesce(sum("__cnt").over(
          wTask.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__taskoff"))
    parts
      .withColumn("__run",
        call_function("running_sum", col(valueCol).cast("long")))
      .join(broadcast(meta), Seq("__pid", groupCol))
      .withColumn(cumCol, col("__run") - col("__taskoff") + col("__off"))
      .drop("__pid", "__run", "__off", "__taskoff")
  }
}
