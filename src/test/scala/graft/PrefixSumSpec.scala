package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.PrefixSum

/** Distributed running totals vs the naive global-order window. */
class PrefixSumSpec extends AnyFunSuite with SparkTestSession {

  test("matches SUM OVER (ORDER BY) exactly on shuffled input") {
    import spark.implicits._
    val df = (1 to 5000).map(i => ((i * 7919) % 5001, (i % 13).toLong))
      .toDF("k", "v") // unique keys, arbitrary order
    val got = PrefixSum.runningTotal(df, "k", "v", "cum")
      .select("k", "cum").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the ORACLE is deliberately the naive global window (the thing
    // runningTotal exists to avoid) — the "No Partition Defined"
    // warning this line triggers is the oracle's, not the operator's
    // (PlanSpec pins that no production plan carries one)
    val want = df.withColumn("cum",
        sum("v").over(Window.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select("k", "cum").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("runningTotal: a NULL value adds 0 and the cumulative column is never NULL") {
    import spark.implicits._
    val df = Seq((1, Some(2L)), (2, None), (3, Some(5L)), (4, None))
      .toDF("k", "v").repartition(3)
    val got = PrefixSum.runningTotal(df, "k", "v", "cum")
      .select("k", "cum").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(1 -> 2L, 2 -> 2L, 3 -> 7L, 4 -> 7L))
  }

  test("running_sum rejects a wrong argument count with a clear message") {
    for (call <- Seq("running_sum()", "running_sum(id, id)")) {
      val e = intercept[Exception](spark.range(3).selectExpr(call).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("running_sum(value) takes exactly 1 argument")),
        s"$call: ${msgs.mkString(" / ")}")
    }
  }

  test("range exchange is reused across the offsets and ranked consumers") {
    import spark.implicits._
    // same pinning as PercentilesSpec: both consumers of the
    // range-partitioned frame must share one exchange (sampled range
    // bounds could differ between recomputations and corrupt offsets)
    val df = (1 to 5000).map(i => ((i * 7919) % 5001, (i % 13).toLong)).toDF("k", "v")
    val result = PrefixSum.runningTotal(df, "k", "v", "cum")
    result.collect()
    val executed = result.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
           s"range exchange not reused across consumers:\n$executed")
  }

  test("runningTotalPerGroup == runningTotal per group, in ONE range exchange (r22)") {
    import spark.implicits._
    // three groups of different sizes, shuffled input, unique
    // (group, k) combinations — the multi-epoch landing's shape
    val df = (1 to 3000).map { i =>
      val g = i % 3; (g.toLong, (i * 7919) % 3001, (i % 11).toLong)
    }.toDF("g", "k", "v")
    val got = PrefixSum.runningTotalPerGroup(df, "g", Seq("k"), "v", "cum")
      .select("g", "k", "cum").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // oracle: the single-group operator run once per group — the
    // exact pipeline the grouped form replaces
    val want = (0L to 2L).flatMap { g =>
      PrefixSum.runningTotal(df.filter(col("g") === g), "k", "v", "cum")
        .select("k", "cum").collect().map(r => (g, r.getInt(0)) -> r.getLong(1))
    }.toMap
    assert(got == want)
    // structural half of the claim: all groups ride ONE physical
    // range exchange — at plan time the offsets subtree carries its
    // own copy (exactly as in runningTotal), so the pin is runtime
    // reuse, same as the single-group spec above
    val result = PrefixSum.runningTotalPerGroup(df, "g", Seq("k"), "v", "cum")
    result.collect()
    val executed = result.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
           s"range exchange not reused across consumers:\n$executed")
  }

  test("the data-bearing window is chunk-keyed, never a global ordering") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i, 1L)).toDF("k", "v")
    val plan = PrefixSum.runningTotal(df, "k", "v", "cum")
      .queryExecution.explainString(FormattedMode)
    // the only acceptable global-order window is over __pid chunk
    // counts (P rows); the values themselves must be windowed by __pid
    assert(plan.contains("partitionBy") || plan.contains("__pid"), plan)
    assert(!plan.contains("windowspecdefinition(k#"),
           s"found a window globally ordered by the data key:\n$plan")
  }

  test("r22: data rows cross ONE exchange — no hash(__pid) re-shuffle before the running total") {
    import spark.implicits._
    // The r21 shape windowed the data by __pid, whose required
    // clustering Catalyst cannot derive from the range exchange, so
    // EnsureRequirements re-shuffled EVERY data row by
    // hashpartitioning(__pid). With the stateful running_sum the data
    // branch is exchange-free past the range partitioning; the only
    // hash(__pid) exchange left is the offsets aggregate's, which
    // carries per-chunk TOTALS (metadata), not rows.
    // the offsets subtree (behind the BroadcastExchange) may exchange
    // its per-chunk totals as it likes — those are metadata rows; the
    // pin is on the STREAM side of the join, which carries the data
    def streamSideExchanges(plan: String): Int =
      plan.linesIterator.takeWhile(!_.contains("BroadcastExchange"))
        .count(_.contains("Exchange"))
    val df = (1 to 100).map(i => (i, 1L)).toDF("k", "v")
    val plan = PrefixSum.runningTotal(df, "k", "v", "cum")
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("running_sum"), plan)
    assert(streamSideExchanges(plan) == 1,
      s"expected the range exchange alone on the data branch:\n$plan")
    val grouped = PrefixSum.runningTotalPerGroup(df.withColumn("g", col("k") % 2),
        "g", Seq("k"), "v", "cum")
      .queryExecution.explainString(FormattedMode)
    assert(streamSideExchanges(grouped) == 1,
      s"expected the range exchange alone on the grouped data branch:\n$grouped")
  }
}
