package graft.tools

import graft.core.GraftSession

/** Dev-loop profiler: time named SparkEntry queries (min of N runs,
  * after warm-up) and optionally dump their formatted plans.
  *
  *   graft.tools.Probe q01_pricing_summary q03_join_segment
  *   graft.tools.Probe --explain q32_describe
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-probe")
    val explain = args.contains("--explain")
    val names = args.filterNot(_.startsWith("--"))

    if (args.contains("--entry")) {
      val n = graft.SparkEntry.entry(spark).count()
      println(s"[probe] entry() rows = $n")
    }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      if (explain) {
        println(s"==== $name ====")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-24s min ${times.min}%6.3f  runs ${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
