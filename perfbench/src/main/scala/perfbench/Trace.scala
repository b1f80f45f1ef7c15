package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters the Spark listener folds task events into, one set per span. */
final class SpanStats {
  val jobs, stages, tasks, failedTasks, exchanges = new AtomicLong
  val runMs, cpuNs, gcMs, schedDelayMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, input = new AtomicLong

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "failed_tasks" -> failedTasks.get, "executor_run_ms" -> runMs.get,
    "executor_cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "scheduler_delay_ms" -> schedDelayMs.get, "shuffle_write_bytes" -> shuffleWrite.get,
    "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get,
    "input_bytes" -> input.get, "exchanges" -> exchanges.get)
}

/** Spans around calls into the engine's layers, kept in memory and dumped
  * at exit. Each span sets a Spark job group, so the listener attributes
  * the jobs a layer call submits (and their tasks' metrics) to that span.
  * Jobs submitted by a streaming query's own thread carry the query's run
  * id as group and the micro-batch id; [[bindBatch]] maps those to the
  * span driving the batch.
  *
  * Work the trace must not count (the untraced pass that runs beside the
  * traced one, output checks, a traced stream's lead-in batches) runs
  * under [[excluded]], in an [[excludeGroup]] group or in
  * [[excludeBatches]] batches. A disabled tracer runs the wrapped code and
  * records nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val name: String, val req: String,
                   val start: Long) {
    var end: Long = 0L
    val stats = new SpanStats
  }

  private val Excluded = "perfbench-excluded"
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, SpanStats]()
  private val byBatch = new ConcurrentHashMap[String, SpanStats]()
  private val stageStats = new ConcurrentHashMap[Int, SpanStats]()
  private val ignored = new SpanStats
  byGroup.put(Excluded, ignored)
  /** Jobs no span claimed; a traced run with any fails its checks. */
  val orphan = new SpanStats
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def sc = spark.sparkContext

  private def setGroup(group: Option[(String, String)]): Unit = group match {
    case Some((id, name)) => sc.setJobGroup(id, name, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  private def current: Option[(String, String)] =
    stack.headOption.map(p => (s"perfbench-${p.id}", p.name))

  def span[T](name: String, req: String = null)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name,
        Option(req).orElse(parent.map(_.req)).orNull, System.nanoTime())
      spans += s
      byGroup.put(s"perfbench-${s.id}", s.stats)
      stack = s :: stack
      setGroup(current)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        setGroup(current)
      }
    }

  def excluded[T](f: => T): T =
    if (!enabled) f
    else {
      setGroup(Some((Excluded, "untraced")))
      try f finally setGroup(current)
    }

  def excludeGroup(group: String): Unit = if (enabled) byGroup.put(group, ignored)

  /** Count none of the jobs of micro-batches `batchIds` of the streaming
    * run `runId` (a traced stream's untimed lead-in). */
  def excludeBatches(runId: String, batchIds: Range): Unit =
    if (enabled) batchIds.foreach(b => byBatch.put(s"$runId/$b", ignored))

  /** Attribute the jobs of micro-batch `batchId` of the streaming run
    * `runId` to the open span. */
  def bindBatch(runId: String, batchId: Long): Unit =
    if (enabled) stack.headOption.foreach(s => byBatch.put(s"$runId/$batchId", s.stats))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.nanoTime())
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val group = prop("spark.jobGroup.id")
      val stats = group.flatMap(g => Option(byGroup.get(g)))
        .orElse(for (g <- group; b <- prop("streaming.sql.batchId"); s <- Option(byBatch.get(s"$g/$b"))) yield s)
        .getOrElse(orphan)
      stats.jobs.incrementAndGet()
      e.stageIds.foreach(stageStats.putIfAbsent(_, stats))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.nanoTime())
      val stats = Option(stageStats.get(e.stageId)).getOrElse(orphan)
      stats.tasks.incrementAndGet()
      if (e.reason != Success) stats.failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        stats.runMs.addAndGet(m.executorRunTime)
        stats.cpuNs.addAndGet(m.executorCpuTime)
        stats.gcMs.addAndGet(m.jvmGCTime)
        stats.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        stats.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        stats.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        stats.input.addAndGet(m.inputMetrics.bytesRead)
        val info = e.taskInfo
        val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        stats.schedDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting))
      }
    }
    override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      lastEvent.set(System.nanoTime())
      Option(stageStats.get(e.stageInfo.stageId)).getOrElse(orphan).stages.incrementAndGet()
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Count the shuffle exchanges of a physical plan against the open span
    * and return the plan. */
  def countExchanges(plan: SparkPlan): SparkPlan = {
    if (enabled) stack.headOption.foreach(_.stats.exchanges.addAndGet(
      Plans.collect(plan) { case x: ShuffleExchangeLike => x }.size))
    plan
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      lastEvent.set(System.nanoTime())
      val p = e.progress
      if (!(byGroup.get(p.runId.toString) eq ignored)) progress.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def start(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the asynchronous listener buses to go quiet, then detach. */
  def stop(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent.get() < 1000000000L && System.nanoTime() < deadline)
      Thread.sleep(100)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ns" -> s.start, "end_ns" -> s.end) ++ s.stats.toJson
    },
    "orphan" -> orphan.toJson,
    "progress" -> progress.asScala.toSeq)
}

object Tracer {
  /** Records nothing and sets no job groups. */
  val off = new Tracer(null, enabled = false)
}

/** Minimal JSON writer for the run record (Maps, Seqs, strings, numbers). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
