package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Json
import graft.queries.Query

/** The runner's loop over fake query records on `spark.range`, so no
  * data dir is needed: a query that throws becomes its own error,
  * recorded and logged once, and the queries after it still run; the
  * line the runner writes parses as JSON. */
class QueryRunnerSpec extends AnyFunSuite with SparkTestSession {

  private def fake(name: String)(build: => org.apache.spark.sql.DataFrame) =
    Query(name, (_, _) => build, _ => "SELECT 1")

  test("a throwing query is recorded once as its error and the loop goes on") {
    val queries = Seq(
      fake("a_throws")(throw new IllegalStateException("first line\nsecond line")),
      fake("b_null_message")(throw new RuntimeException(null: String)),
      fake("c_runs")(spark.range(5).toDF()))
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val outcomes =
      try QueryRunner.each("spec", spark, "unused", queries) { (s, q) => q.build(s, "unused").count() }
      finally System.setErr(saved)
    assert(outcomes.map(_._1) == Seq("a_throws", "b_null_message", "c_runs"))
    assert(outcomes(0)._2 == Left("first line"))
    assert(outcomes(1)._2 == Left("java.lang.RuntimeException"))
    assert(outcomes(2)._2 == Right(5L))
    val log = err.toString("UTF-8")
    for (name <- Seq("a_throws", "b_null_message"))
      assert(log.linesIterator.count(_.startsWith(s"[spec] $name failed")) == 1, log)
    assert(!log.contains("c_runs"), log)

    val out = Files.createTempFile("runner-line", ".json")
    val line = s"""{"counts":${Json.obj(outcomes.collect { case (n, Right(v)) => n -> v.toString })},""" +
      s""""errors":${Json.obj(outcomes.collect { case (n, Left(e)) => n -> Json.str(e) })}}"""
    Console.withOut(new java.io.ByteArrayOutputStream())(QueryRunner.emit("spec", line, out.toString))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(out))
    assert(node.get("counts").get("c_runs").asLong() == 5L)
    assert(node.get("errors").size() == 2)
    assert(node.get("errors").get("a_throws").asText() == "first line")
    // a failed write is logged, never thrown
    Console.withOut(new java.io.ByteArrayOutputStream())(
      QueryRunner.emit("spec", line, out.resolve("not-a-dir/line.json").toString))
  }
}
