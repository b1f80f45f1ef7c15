package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Gates, PipelineOrchestrator}
import graft.sources.{ErddapSource, ErddapUrl, FixtureBackend}

/** End-to-end pipeline integration: fixture-replayed fetch → clean →
  * CSV artifacts → table, with every stage gate observed
  * (`run_pipeline.py:160-305`). Zero egress: the "ERDDAP response" is
  * the reference's own double-header sample, committed as a repo
  * fixture. */
class PipelineSpec extends AnyFunSuite with SparkTestSession {

  private def fixtureBody: String = TestFixtures.text(TestFixtures.SeaSurfaceSample)

  private def makeOrchestrator(): PipelineOrchestrator = {
    // The reference's fixed extract point (extract.py:344-347)
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-02-01")
    val source = new ErddapSource(
      new FixtureBackend(Map(url -> fixtureBody)),
      minIntervalMs = 0, sleeper = _ => ())
    val dir = Files.createTempDirectory("graft-pipeline").toString
    new PipelineOrchestrator(spark, source, dir)
  }

  test("full pipeline: fixture fetch -> clean -> load -> queryable table") {
    spark.sql("DROP TABLE IF EXISTS sea_surface")
    val p = makeOrchestrator()
    val result = p.runAll()

    // quality: 1 row, full completeness, no issues
    assert(result("quality_score") == 1.0)
    val raw = result("raw").asInstanceOf[Map[String, Any]]
    assert(raw("row_count") == 1L)
    val clean = result("clean").asInstanceOf[Map[String, Any]]
    assert(clean("columns") ==
      Seq("time", "depth", "latitude", "longitude", "temperature", "salinity"))
    val db = result("db").asInstanceOf[Map[String, Any]]
    assert(db("row_count") == 1L)

    // S7 ordered scan returns the loaded row
    val row = p.orderedScan().collect().head
    assert(row.getAs[Double]("temperature") == 21.36956)
    assert(row.getAs[Double]("salinity") == 36.396088)
  }

  test("S6: load has IGNORE-if-exists semantics (load.py:21)") {
    spark.sql("DROP TABLE IF EXISTS sea_surface")
    val p = makeOrchestrator()
    p.runAll()
    val before = spark.table("sea_surface").count()
    p.load() // second load must be a no-op, not an append or replace
    assert(spark.table("sea_surface").count() == before)
  }

  test("gates fail loudly on missing artifacts") {
    val e1 = intercept[Gates.GateFailure] {
      Gates.validateRaw(spark, "/tmp/does-not-exist-graft.csv")
    }
    assert(e1.getMessage.contains("not found"))
    intercept[Gates.GateFailure] {
      Gates.validateClean(spark, "/tmp/does-not-exist-graft.csv")
    }
    intercept[Gates.GateFailure] {
      Gates.validateTable(spark, "no_such_table_graft")
    }
  }

  test("clean gate rejects a CSV missing required columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-gate").toString
    val path = s"$dir/bad.csv"
    graft.pipeline.CsvIo.writeSingle(
      Seq(("a", 1.0)).toDF("name", "value"), path)
    val e = intercept[Gates.GateFailure] { Gates.validateClean(spark, path) }
    assert(e.getMessage.contains("Missing required columns"))
    assert(e.getMessage.contains("time"))
  }

  test("extract serves from cache on the second call (S8/S9 integration)") {
    spark.sql("DROP TABLE IF EXISTS sea_surface")
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-02-01")
    val backend = new FixtureBackend(Map(url -> fixtureBody))
    val source = new ErddapSource(backend, minIntervalMs = 0, sleeper = _ => ())
    val dir = Files.createTempDirectory("graft-pipeline").toString
    val cache = new graft.cache.ResultCache(spark, s"$dir/cache")
    val p = new PipelineOrchestrator(spark, source, dir, Some(cache))
    p.extract()
    assert(backend.attempts == 1)
    p.extract()                      // cache hit: no second fetch
    assert(backend.attempts == 1)
  }

  test("extract goes through the engine's fetch path: a repo fixture, the second call served from the cache") {
    // the in-repo raw fixture (units row, bad dates, partial nulls) as
    // the ERDDAP body, so this case needs no reference sample
    val body = TestFixtures.text(TestFixtures.SeaSurfaceRaw)
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-02-01")
    val backend = new FixtureBackend(Map(url -> body))
    val source = new ErddapSource(backend, minIntervalMs = 0, sleeper = _ => ())
    val dir = Files.createTempDirectory("graft-pipeline-fx").toString
    val cache = new graft.cache.ResultCache(spark, s"$dir/cache")
    val p = new PipelineOrchestrator(spark, source, dir, Some(cache))
    def rawRows(): Seq[String] =
      spark.read.option("header", "true").csv(p.rawPath)
        .collect().map(_.mkString("|")).sorted.toSeq
    val first = p.extract()
    val rows1 = rawRows()
    assert(rows1.nonEmpty && first.qualityScore > 0.0)
    val second = p.extract()
    assert(backend.attempts == 1, "the second extract must be a cache hit")
    assert(rawRows() == rows1, "the cached frame must land the same raw rows")
    assert(second.qualityScore == first.qualityScore)
  }
}
