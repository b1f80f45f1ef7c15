package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.queries.Query
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
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
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val spark = graft.core.GraftSession.build(
      "graft-verify", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    selected.foreach { case Query(name, fn, _) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // the q78/q81 oracle dirs are derived from THIS run's data dir
    // (not JVM-global last-write-wins vars) so concurrent runs can't
    // cross
    val names = selected.map(_.name).toSet
    val oracles = SparkEntry.oracleSqlFor(
      graft.sources.CorpusJsonl.dirFor(sfDir),
      graft.ops.IvfPqIndex.dirFor(sfDir),
      graft.ops.Decontaminate.dirFor(sfDir)).filter { case (n, _) => names(n) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(oracles))
    spark.stop()
  }

  /** The oracle map as a JSON object. String escape covers backslash,
    * quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness. VerifySpec parses
    * the result with a real JSON parser and checks value fidelity. */
  def oracleJson(oracles: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
