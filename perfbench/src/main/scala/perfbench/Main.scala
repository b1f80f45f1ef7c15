package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One benchmark run inside one JVM: `perfbench.Main <input.json> <output.json>`
  * (several pairs run one after another, which the class-archive training
  * run in `run.py` uses).
  *
  * The input (written by `run.py`) names the workload and carries every
  * generated input. The run sets up the engine `setups` times (the last
  * session is kept), warms it up once, executes the workload untraced
  * with one closed-loop client, and, when tracing, executes it a second
  * time with spans and listeners attached. The output holds raw timings and the facts the
  * output checks need; `run.py` turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length % 2 == 0,
      "usage: perfbench.Main <input.json> <output.json> [<input.json> <output.json> ...]")
    args.grouped(2).foreach { case Array(in, out) => runOne(in, out) }
  }

  private def runOne(inPath: String, outPath: String): Unit = {
    val in = new ObjectMapper().readTree(new java.io.File(inPath))
    val workload: Workload = in.get("workload").asText match {
      case "query_suite" => new QuerySuite(in)
      case "dashboard" => new Dashboard(in)
      case "stream_ingest" => new StreamIngest(in)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cpus = in.get("cpus").asInt
    val trace = in.get("trace").asBoolean

    var spark: SparkSession = null
    val setups = (0 until in.get("setups").asInt).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.build("perfbench", cpus.toString)
      val t1 = System.nanoTime()
      workload.prepare(spark, i)
      val t2 = System.nanoTime()
      Map("session_build_s" -> (t1 - t0) / 1e9, "prepare_s" -> (t2 - t1) / 1e9)
    }
    val t0 = System.nanoTime()
    workload.warmUp(spark)
    val warmUpS = (System.nanoTime() - t0) / 1e9

    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup" -> setups, "warmup_s" -> warmUpS)
    // traced, every request runs twice in a row, untraced and traced in
    // alternating order, so both see the same warm-up state and their
    // difference is the overhead
    val tracer = new Tracer(spark, enabled = trace)
    tracer.start()
    val results = workload.run(spark, tracer, if (trace) Seq(false, true) else Seq(false))
    tracer.stop()
    out ++= results.head
    if (trace) {
      out ++= results(1).map { case (k, v) => s"traced_$k" -> v }
      out += "trace" -> tracer.toJson
    }
    spark.stop()
    out += "live_heap_bytes" -> workload.liveHeapBytes
    Files.write(Paths.get(outPath), Json.write(out.toMap).getBytes(StandardCharsets.UTF_8))
  }
}

/** A workload: `prepare` is the per-session set-up the run times (what a
  * user waits for before the first request); `warmUp` runs once, untimed
  * as set-up, so the measured requests see compiled code paths; `run`
  * executes the timed requests once per pass (untraced, and traced when
  * tracing) and returns per pass and request ("ops") its time and the
  * facts the output checks compare. */
trait Workload {
  def prepare(spark: SparkSession, setupIndex: Int): Unit
  def warmUp(spark: SparkSession): Unit
  def run(spark: SparkSession, tracer: Tracer, passes: Seq[Boolean]): Seq[Map[String, Any]]

  protected def millis(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Heap in use right after a full collection, taken after the last
    * timed request while the workload's engine objects (session, cache,
    * streams) are still open. Unlike heap samples after the collector's
    * own young collections, it holds no garbage, so it repeats from run
    * to run. The least of three collections 100 ms apart, because Spark
    * releases some blocks only once a collection has cleared their
    * references. */
  var liveHeapBytes = 0L
  protected def measureLiveHeap(): Unit = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    liveHeapBytes = (1 to 3).map { _ =>
      Thread.sleep(100)
      System.gc()
      heap.getHeapMemoryUsage.getUsed
    }.min
  }

  /** One request: traced, in a root span and with layer spans from `body`;
    * untraced, outside the trace and with no layer spans. */
  protected def request[T](tr: Tracer, traced: Boolean, root: String, req: String)
                          (body: Tracer => T): T =
    if (traced) tr.span(root, req)(body(tr)) else tr.excluded(body(Tracer.off))

  /** `f` for every pass of request `i`, in an order that alternates from
    * request to request, so that neither the untraced nor the traced pass
    * always runs second (after the other has warmed the same request);
    * results in pass order. */
  protected def inTurn[T](passes: Seq[Boolean], i: Int)(f: Int => T): Seq[T] = {
    val order = if (i % 2 == 0) passes.indices else passes.indices.reverse
    val done = order.map(p => p -> f(p)).toMap
    passes.indices.map(done)
  }

  protected def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("").take(300)
}

object Input {
  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  def nodes(n: JsonNode): Seq[JsonNode] = n.elements.asScala.toSeq

  /** Best-effort recursive delete; files that vanish meanwhile (lock files
    * released by a stopping stream) are fine. */
  def deleteTree(p: java.nio.file.Path): Unit = {
    val f = p.toFile
    Option(f.listFiles()).foreach(_.foreach(c => deleteTree(c.toPath)))
    f.delete()
  }
}
