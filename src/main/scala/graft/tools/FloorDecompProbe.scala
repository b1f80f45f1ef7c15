package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.QueryRunner
import graft.queries.Query

/** Decompose the per-query floor constant into its phases, the phases
  * reporter over [[graft.QueryRunner]].
  *
  * BASELINE.md's round-12 section measures a ~220–320 ms/query floor on
  * the 64 sf0.1 cells where DuckDB finishes under 150 ms — 72 % of the
  * Spark suite total is this constant, not work. The standing account is
  * "Catalyst + AQE + job orchestration"; this probe makes that number
  * concrete per phase so the account is measured, not asserted:
  *
  *   build  — SparkEntry closure → unresolved LogicalPlan (Column DSL)
  *   plan   — analysis + optimization + physical planning
  *            (`queryExecution.executedPlan` forced)
  *   exec   — the noop write minus the above (job scheduling, AQE stage
  *            re-planning, task launch, the actual scan/shuffle work)
  *
  * Steady-state protocol: after Bench's warm-up, each query runs REPS
  * times (default 5) and the per-phase MIN is reported — same
  * discipline as Bench (first run pays codegen/JIT that no steady-state
  * workload re-pays). Phases are timed within the same run, so
  * build+plan+exec ≈ the Bench cell for that query.
  *
  *   SPARK_GRAFT_SF_DIR=... graft.tools.FloorDecompProbe [--exec] [query...]
  *   (names or prefixes, as in SPARK_GRAFT_BENCH_ONLY; no names → a
  *   representative floor-cell set)
  *
  * `--exec` adds, under each row, the anatomy of the exec phase: the
  * best rep's Spark JOB timeline (start offset and duration per job,
  * and the un-jobbed remainder: driver work between jobs + noop
  * commit). AQE materializes one job per exchange stage, so a
  * two-exchange agg shows 3 jobs; the remainder is what neither
  * planning nor tasks account for.
  */
object FloorDecompProbe {
  private val DefaultSet = Seq(
    "q01_pricing_summary", // scan + hash agg
    "q03_join_segment",    // broadcast join
    "q10_distinct_agg",    // distinct + agg
    "q20_grid_cells",      // scalar projection
    "q23_text_quality",    // native text expression
    "q34_simhash",         // native expression + small agg
    "q53_top_per_lang",    // bounded heap agg
    "q62_grouped_describe") // grouped describe

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val given = args.filterNot(_.startsWith("--")).toSeq
    val names = if (given.nonEmpty) given else DefaultSet
    println(f"${"query"}%-24s ${"build"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s")
    val rows = QueryRunner.run("floor", sfDir, Some(names.mkString(",")), "graft-floor-decomp",
      warmUp = true)(phases(sfDir, reps, args.contains("--exec"))).flatMap(_._2.toOption)
    val (sb, sp, se) = (rows.map(_._1).sum, rows.map(_._2).sum, rows.map(_._3).sum)
    println(f"${"TOTAL"}%-24s $sb%8.3f $sp%8.3f $se%8.3f ${sb + sp + se}%8.3f")
  }

  /** One query's build/plan/exec row, each phase the min over `reps`;
    * with `exec`, the best rep's job timeline under it. */
  private def phases(sfDir: String, reps: Int, exec: Boolean)
                    (spark: SparkSession, q: Query): (Double, Double, Double) = {
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, System.nanoTime())
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.get(e.jobId)).foreach(s => jobs.add((s, System.nanoTime())))
    }
    if (exec) spark.sparkContext.addSparkListener(l)
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val df = q.build(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis→physical plan
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      if (exec) Thread.sleep(50) // let the async listener bus drain this rep's job events
      Seq(t0, t1, t2, t3, System.nanoTime())
    }
    spark.sparkContext.removeSparkListener(l)
    val Seq(b, p, e) = (0 to 2).map(i => runs.map(r => r(i + 1) - r(i)).min / 1e9)
    println(f"${q.name}%-24s $b%8.3f $p%8.3f $e%8.3f ${b + p + e}%8.3f")
    if (exec) {
      val best = runs.minBy(r => r(3) - r(0))
      val inRun = jobs.asScala.toSeq.filter { case (s, _) => s >= best(0) && s < best(4) }.sortBy(_._1)
      val jobTime = inRun.map { case (s, e) => e - s }.sum / 1e9
      println(f"    jobs ${inRun.size}  in-job $jobTime%6.3f  outside ${(best(3) - best(0)) / 1e9 - jobTime}%6.3f")
      inRun.zipWithIndex.foreach { case ((s, e), i) =>
        println(f"    job$i starts +${(s - best(0)) / 1e9}%6.3f runs ${(e - s) / 1e9}%6.3f")
      }
    }
    (b, p, e)
  }
}
