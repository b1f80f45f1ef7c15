package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** `running_sum(v)` → the inclusive running total of LONG `v` over the
  * rows of the CURRENT TASK, in the order they flow through the
  * projection (NULL adds 0). A STATEFUL nondeterministic expression
  * (`stateful = true`, so planner copies always get fresh state) —
  * the accumulator resets to 0 at partition start, exactly like
  * `monotonically_increasing_id`'s counter.
  *
  * Why it exists (r22, guide §2.4): [[graft.ops.PrefixSum]] computed
  * its within-chunk running totals with
  * `SUM OVER (PARTITION BY __pid ORDER BY k)`. The window's required
  * ClusteredDistribution(__pid) is opaque to Catalyst — it cannot see
  * that `__pid = spark_partition_id()` already holds per partition —
  * so EnsureRequirements inserted `Exchange hashpartitioning(__pid)`:
  * a FULL re-shuffle of the data between the range exchange and the
  * window (q95's r21 plan, Exchange (5)). This expression IS the
  * within-task running total, so the projection runs directly on the
  * range-exchanged, locally-sorted rows and that second corpus-slim
  * exchange disappears from every PrefixSum consumer (q51, q84, q95,
  * q98).
  *
  * Correctness contract (the caller's obligations, PrefixSum holds
  * both):
  *  - rows must flow in a DETERMINISTIC order per task — PrefixSum
  *    sorts within partitions by its unique order keys, so a retried
  *    or speculative task reproduces the same totals;
  *  - the per-task totals only become GLOBAL prefix sums after adding
  *    per-chunk offsets computed from a metadata-sized aggregate of
  *    the same exchange (rows-before-this-chunk), as PrefixSum does.
  *
  * Works identically under AQE partition coalescing: a coalesced task
  * evaluates `spark_partition_id()` (the `__pid` the offsets join on)
  * per merged task, and this accumulator spans exactly the same merged
  * task.
  */
case class RunningSum(child: Expression)
    extends UnaryExpression with Nondeterministic {

  override def stateful: Boolean = true
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"running_sum needs BIGINT input, got ${other.catalogString}")
  }

  @transient private[this] var acc: Long = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    acc = 0L

  override protected def evalInternal(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v != null) acc += v.asInstanceOf[Long]
    acc
  }

  // Codegen'd, not CodegenFallback: this runs per row over every
  // PrefixSum consumer's full corpus-slim frame, and a fallback would
  // break the post-exchange stage's whole-stage-codegen span.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val accTerm = ctx.addMutableState(CodeGenerator.JAVA_LONG, "runningSumAcc")
    ctx.addPartitionInitializationStatement(s"$accTerm = 0L;")
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      if (!${childGen.isNull}) { $accTerm += ${childGen.value}; }
      final long ${ev.value} = $accTerm;""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): RunningSum =
    copy(child = newChild)
  override def prettyName: String = "running_sum"
}

object RunningSum {
  val description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("running_sum"),
    new ExpressionInfo(classOf[RunningSum].getName, "running_sum"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "running_sum(value) takes exactly 1 argument")
      RunningSum(children.head)
    })
}
