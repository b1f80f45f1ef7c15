package graft
import java.nio.file.{Files, Paths}
import graft.core.Json
import graft.queries.Query
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The dump
  * reporter over [[QueryRunner]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional subset run (names or prefixes) for scale spot-
    // verification: at sf10 a full 98-query dump is hours, but the
    // landed-artifact family's value checks are cheap in isolation.
    // The driver never sets this. A subset run also writes a SUBSET
    // oracle_sql.json: compare.py iterates the oracle keys, so dump
    // dirs a previous fuller run left in a reused outDir are never
    // consulted — otherwise stale old-code parquet would be compared
    // against fresh oracles and read green.
    val outcomes = QueryRunner.run("verify", sfDir, sys.env.get("SPARK_GRAFT_VERIFY_ONLY"),
        "graft-verify", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")) {
      case (spark, Query(name, fn, _)) =>
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // the q78/q81 oracle dirs are derived from THIS run's data dir
    // (not JVM-global last-write-wins vars) so concurrent runs can't
    // cross
    val names = outcomes.map(_._1).toSet
    val oracles = SparkEntry.oracleSqlFor(
      graft.sources.CorpusJsonl.dirFor(sfDir),
      graft.ops.IvfPqIndex.dirFor(sfDir),
      graft.ops.Decontaminate.dirFor(sfDir)).filter { case (n, _) => names(n) }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(oracles))
  }

  /** The oracle map as a JSON object, its strings quoted by
    * [[graft.core.Json]]. VerifySpec parses the result with a real JSON
    * parser and checks value fidelity. */
  def oracleJson(oracles: Map[String, String]): String =
    oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
}
