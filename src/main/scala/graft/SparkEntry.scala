package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The query registry: 100 oracle-checked queries, each one [[Query]]
  * record (name, Spark build, DuckDB oracle) declared in its family file
  * under `graft/queries/`. The cross-engine parity rules both sides
  * follow are documented on [[graft.queries.Parity]]. */
object SparkEntry {

  /** Every query, in name order; assembled once per JVM. */
  val records: Seq[Query] = assemble(
    RelationalQueries.all ++ OceanQueries.all ++ CorpusTextQueries.all ++
    CurationQueries.all ++ SimilarityQueries.all ++ SketchQueries.all ++
    IngestQueries.all)

  /** The records in name order; a name declared twice is an error. */
  private[graft] def assemble(all: Seq[Query]): Seq[Query] = {
    val repeated = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty,
      s"query name declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    all.sortBy(_.name)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    records.map(q => q.name -> q.build).toMap

  /** The queries a runner's filter names (comma-separated; each entry
    * selects the names starting with it, so an exact name selects one
    * query). No filter selects all. A set filter that names nothing,
    * or an entry matching no query, fails naming it: a broken filter
    * must never read as an empty, green run. */
  def select(filter: Option[String]): Seq[Query] = filter.fold(records) { f =>
    val wanted = f.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(wanted.nonEmpty, s"query filter '$f' names no queries")
    val unmatched = wanted.filterNot(w => records.exists(_.name.startsWith(w)))
    require(unmatched.isEmpty,
      s"query filter entries match no query: ${unmatched.mkString(", ")}")
    records.filter(q => wanted.exists(q.name.startsWith))
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows > 0):
    * the 5-table star join q04 at the smallest scale factor. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_star_join")(spark, "/root/testdata/sf0.001")

  /** Driver contract (no-arg): the q78/q81/q97 landed dirs come from
    * the last roundTrip/land in this JVM. `Verify` instead calls
    * [[oracleSqlFor]] with dirs DERIVED from its own data dir, so a
    * concurrent run against a different dataset in the same JVM
    * cannot repoint the dumped oracle. */
  def oracleSql: Map[String, String] =
    oracleSqlFor(sources.CorpusJsonl.lastDir, ops.IvfPqIndex.lastDir,
      ops.Decontaminate.lastDir)

  def oracleSqlFor(q78Dir: String, q81Dir: String,
                   q97Dir: String): Map[String, String] = {
    val landed = LandedDirs(q78Dir, q81Dir, q97Dir)
    records.map(q => q.name -> q.oracle(landed)).toMap
  }
}
