package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cache.ResultCache
import graft.sources.{ErddapSource, ErddapUrl, FixtureBackend}

/** The facade contract the reference's dashboard relies on
  * (SURVEY §3.2): fetch → clean+score, summary shape, cache behavior. */
class OceanEngineSpec extends AnyFunSuite with SparkTestSession {

  private val body = TestFixtures.text(TestFixtures.SeaSurfaceSample)

  private def engine(withCache: Boolean = false): (OceanEngine, FixtureBackend) = {
    val urls = Map(
      ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-02-01") -> body)
    val backend = new FixtureBackend(urls)
    val cache =
      if (withCache) Some(new ResultCache(spark, Files.createTempDirectory("graft-eng").toString))
      else None
    (new OceanEngine(spark, new ErddapSource(backend, minIntervalMs = 0, sleeper = _ => ()), cache),
     backend)
  }

  test("fetchObservations: validate -> fetch -> clean -> score") {
    val (e, _) = engine()
    val r = e.fetchObservations(32.5, -70.0, "1960-01-01", "1960-02-01")
    assert(!r.fromCache)
    assert(r.snappedLat == 32.5 && r.snappedLon == -70.0)
    assert(r.data.count() == 1)
    assert(r.quality.qualityScore == 1.0)
    val row = r.data.collect().head
    assert(row.getAs[Double]("temperature") == 21.36956)
  }

  test("fetchObservations rejects invalid input before any fetch") {
    val (e, backend) = engine()
    intercept[IllegalArgumentException] {
      e.fetchObservations(40.0, -100.0, "1960-01-01", "1960-02-01")
    }
    intercept[IllegalArgumentException] {
      e.fetchObservations(32.5, -70.0, "1960-02-01", "1960-01-01")
    }
    assert(backend.attempts == 0)
  }

  test("cache: second fetch is served without touching the source") {
    val (e, backend) = engine(withCache = true)
    val r1 = e.fetchObservations(32.5, -70.0, "1960-01-01", "1960-02-01")
    assert(!r1.fromCache && backend.attempts == 1)
    val r2 = e.fetchObservations(32.5, -70.0, "1960-01-01", "1960-02-01")
    assert(r2.fromCache && backend.attempts == 1)
    assert(r2.data.collect().head.getAs[Double]("salinity") == 36.396088)
    // nearby sees the cached entry at the snapped coords
    val near = e.nearbyCached(32.4, -70.1).get.collect()
    assert(near.length == 1 && near.head.getAs[Double]("latitude") == 32.5)
  }

  test("summary: pandas-describe shape, stats as rows, rounded to 3") {
    val (e, _) = engine()
    val df = e.fetchObservations(32.5, -70.0, "1960-01-01", "1960-02-01").data
    val s = e.summary(df)
    assert(s.columns.toSeq ==
      Seq("summary", "depth", "latitude", "longitude", "temperature", "salinity"))
    val byStat = s.collect().map(r => r.getString(0) -> r).toMap
    assert(byStat.keySet == graft.ops.Describe.Stats.toSet)
    assert(byStat("count").getAs[Double]("temperature") == 1.0)
    assert(byStat("mean").getAs[Double]("temperature") == 21.370) // round3
    assert(byStat("50%").getAs[Double]("salinity") == 36.396)
  }

  test("click job budget: a miss click runs at most 6 Spark jobs, a hit click at most 5") {
    val (e, _) = engine(withCache = true)
    val sc = spark.sparkContext
    // one dashboard click through the facade, its jobs counted by group
    def clickJobs(group: String): (Boolean, Int) = {
      sc.setJobGroup(group, group)
      try {
        val r = e.fetchObservations(32.5, -70.0, "1960-01-01", "1960-02-01")
        e.summary(r.data).collect()
        e.nearbyCached(r.snappedLat, r.snappedLon).get.collect()
        (r.fromCache, sc.statusTracker.getJobIdsForGroup(group).length)
      } finally sc.clearJobGroup()
    }
    val (missHit, missJobs) = clickJobs("click-budget-miss")
    val (hitHit, hitJobs) = clickJobs("click-budget-hit")
    assert(!missHit && hitHit)
    // one job per layer call: on a miss quality, put (size, data,
    // meta), describe and nearby; on a hit get's freshness probe, then
    // quality, describe and nearby (the cached data is read with the
    // schema put stored, so no job infers it)
    assert(missJobs <= 6, s"a miss click ran $missJobs jobs")
    assert(hitJobs <= 4, s"a hit click ran $hitJobs jobs")
  }

  test("queryMetadata: snapping, validity, expected points, URL") {
    val (e, _) = engine()
    val m = e.queryMetadata(32.4, -70.1, "1960-01-01", "1960-03-01")
    assert(m("snapped") == ((32.5, -70.0)))
    assert(m("coordinates_valid") == true)
    assert(m("expected_points") == 3)
    assert(m("url").toString.contains("[60:62][106][90][60]"))
  }
}
