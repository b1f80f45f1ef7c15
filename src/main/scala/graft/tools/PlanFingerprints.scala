package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.QueryRunner
import graft.core.Json
import graft.queries.Query

/** Plan-shape fingerprints for the bench gate (r19 verdict item 7), the
  * shape reporter over [[graft.QueryRunner]]:
  * PlanSpec pins plan properties in ScalaTest, but the bench had no
  * such guard — a Catalyst upgrade or refactor that reintroduces an
  * exchange would surface only as a slow cell. This tool executes
  * every SparkEntry query (AQE-final plans — `.explain` at plan time
  * hides runtime join choices) and emits ONE JSON line of per-query
  * shape counts:
  *
  *   {"sf":"…","plans":{"q01_…":{"exchanges":1,"reused":0,
  *     "joins":"BroadcastHashJoin:1","aggregates":2,"scans":1},…}}
  *
  * `tools/ledger.py merge-plans <sf> <file>` stores them in the
  * ledger; `tools/bench_check.py --plans=<file>` diffs a fresh run
  * against the stored shapes and flags drift (more exchanges, a
  * broadcast join degraded to sort-merge) BEFORE it costs a round of
  * bench forensics. Shapes are per scale factor — AQE legitimately
  * picks different strategies at different input sizes.
  *
  *   SPARK_GRAFT_SF_DIR=... graft.tools.PlanFingerprints [out.json [explainDir]]
  *   (SPARK_GRAFT_BENCH_ONLY=q32,q35 filters, as in graft.Bench)
  *
  * With `explainDir`, each query's formatted plan also lands there as
  * `<name>.txt`: the plan of the frame `shape` executed, whose shape
  * the line counts.
  */
object PlanFingerprints {

  /** One query's executed-plan shape counts — the unit the ledger
    * stores and `bench_check --plans` diffs. */
  final case class Shape(exchanges: Int, reused: Int, joins: String,
                         aggregates: Int, scans: Int) {
    override def toString: String =
      s"exchanges=$exchanges reused=$reused joins=[$joins] " +
      s"aggregates=$aggregates scans=$scans"
  }

  private val joinRe = """\b([A-Za-z]+Join|CartesianProduct)\b""".r

  /** EXECUTES the frame (its own QueryExecution, so the adaptive plan
    * finalizes) and counts the shape. Shared by the bench-gate dump
    * below and the in-suite golden pins (PlanGoldenSpec, r22). */
  def shape(df: org.apache.spark.sql.DataFrame): Shape = {
    df.foreach(_ => ())
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
    Shape(
      exchanges = lines.count(l => l.contains("Exchange") && !l.contains("ReusedExchange")),
      reused = lines.count(_.contains("ReusedExchange")),
      joins = lines.flatMap(l => joinRe.findFirstMatchIn(l).map(_.group(1)))
        .groupBy(identity).toSeq.sortBy(_._1)
        .map { case (j, xs) => s"$j:${xs.size}" }.mkString(","),
      aggregates = lines.count(_.contains("Aggregate")),
      scans = lines.count(l =>
        """\b(FileScan|BatchScan|Scan)\b""".r.findFirstIn(l).isDefined))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = args.headOption.getOrElse(
      s"/tmp/plan_fingerprints_${new java.io.File(sfDir).getName}.json")
    val explainDir = args.lift(1).map(Paths.get(_))
    val shapes = QueryRunner.run("plans", sfDir, sys.env.get("SPARK_GRAFT_BENCH_ONLY"),
        "graft-plan-fingerprints") { case (spark, Query(name, fn, _)) =>
      // shape() executes df's OWN QueryExecution so the adaptive
      // plan finalizes (a noop write would spawn a separate QE)
      val df = fn(spark, sfDir)
      val s = shape(df)
      explainDir.foreach(d => Files.writeString(Files.createDirectories(d).resolve(s"$name.txt"),
        df.queryExecution.explainString(FormattedMode)))
      s"""{"exchanges":${s.exchanges},"reused":${s.reused},""" +
        s""""joins":${Json.str(s.joins)},"aggregates":${s.aggregates},"scans":${s.scans}}"""
    }
    val plans = Json.obj(shapes.map { case (name, r) =>
      name -> r.fold(e => Json.obj(Seq("error" -> Json.str(e))), identity) })
    QueryRunner.emit("plans", s"""{"sf":${Json.str(sfDir)},"plans":$plans}""", outPath)
  }
}
