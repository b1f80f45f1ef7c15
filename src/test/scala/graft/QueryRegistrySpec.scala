package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** The query registry's own rules: one record per name, and one
  * selector for every runner's filter variable. No Spark session:
  * assembling and selecting records builds no DataFrame. */
class QueryRegistrySpec extends AnyFunSuite {

  private def names(filter: String): Seq[String] =
    SparkEntry.select(Some(filter)).map(_.name)

  test("select: an exact name selects that query alone, for every query") {
    SparkEntry.records.foreach(q => assert(names(q.name) == Seq(q.name)))
  }

  test("select: an entry selects every name it prefixes; no filter selects all") {
    assert(names("q8") == SparkEntry.records.map(_.name).filter(_.startsWith("q8")))
    assert(names("q8").size == 10) // q80..q89
    assert(names(" q02_filter_project , q03") == Seq("q02_filter_project", "q03_join_segment"))
    assert(SparkEntry.select(None) == SparkEntry.records)
    assert(SparkEntry.records.size == 100)
  }

  test("select: a set filter naming nothing fails instead of selecting zero queries") {
    Seq("", " ", ",", " , ").foreach { f =>
      val e = intercept[IllegalArgumentException](SparkEntry.select(Some(f)))
      assert(e.getMessage.contains("names no queries"), e.getMessage)
    }
  }

  test("select: an entry matching no query fails naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_pricing_summary,q999")))
    assert(e.getMessage.contains("q999"), e.getMessage)
    assert(!e.getMessage.contains("q01"), e.getMessage)
  }

  test("assembling refuses a query name declared twice, naming it") {
    def record(name: String, sql: String) =
      Query(name, (s, _) => s.emptyDataFrame, _ => sql)
    val e = intercept[IllegalArgumentException](SparkEntry.assemble(
      Seq(record("q_twice", "SELECT 1"), record("q_once", "SELECT 2"),
          record("q_twice", "SELECT 3"))))
    assert(e.getMessage.contains("q_twice"), e.getMessage)
    assert(!e.getMessage.contains("q_once"), e.getMessage)
  }
}
