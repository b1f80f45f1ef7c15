package graft

import org.scalatest.funsuite.AnyFunSuite

/** The oracle_sql.json artifact IS the correctness gate's input: if it
  * fails to parse, the round's correctness silently zeroes. Parse the
  * REAL oracle map (every entry) with a real JSON parser and check
  * every value survives byte-for-byte. */
class VerifySpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("the full oracle map round-trips through a real JSON parser") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.size == SparkEntry.queries.size,
           "every query needs an oracle (or a deliberate omission)")
    assert(oracles.keySet == SparkEntry.queries.keySet,
           s"oracle/query key drift: ${oracles.keySet.diff(SparkEntry.queries.keySet) ++ SparkEntry.queries.keySet.diff(oracles.keySet)}")
    val node = mapper.readTree(Verify.oracleJson(oracles))
    assert(node.size() == oracles.size)
    oracles.foreach { case (k, v) =>
      assert(node.has(k), s"key $k missing after serialization")
      assert(node.get(k).asText() == v, s"value for $k corrupted by escaping")
    }
  }

  test("escaping survives adversarial SQL text") {
    // graft.core.Json is main's one string escaper: all 32 control
    // characters, the quote and the backslash must round-trip
    val nasty = (0 until 32).map(_.toChar).mkString + "\"\\ SELECT '\\' || \"x\" WHERE c < '"
    assert(mapper.readTree(graft.core.Json.str(nasty)).asText() == nasty)
    val keyed = Map("k\"1\t" -> nasty)
    assert(mapper.readTree(Verify.oracleJson(keyed)).get("k\"1\t").asText() == nasty)
  }
}
