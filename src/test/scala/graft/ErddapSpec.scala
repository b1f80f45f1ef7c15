package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ErddapSource, ErddapUrl, FixtureBackend}

/** URL-shape and fetch-discipline tests (reference known-good URLs from
  * `tests/test_fix.py:9-96` and `tests/test_exact_params.py`; retry/
  * rate-limit per `extract.py:48-89`). No network is touched. */
class ErddapSpec extends AnyFunSuite {

  private val base =
    "https://erddap.ifremer.fr/erddap/griddap/SDC_NAT_CLIM_TS_V1_025_m.csv"

  test("S2: range query URL — the reference's canonical point") {
    // (32.5, -70.0) -> grid[90, 60]; 1960-01..1960-02 -> time 60:61
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-02-01")
    assert(url ==
      s"$base?Temperature[60:61][106][90][60],Salinity[60:61][106][90][60]")
  }

  test("S2: single-point form when the range collapses to one month") {
    val url = ErddapUrl.build(32.5, -70.0, "1958-06-01", "1958-06-30")
    // 1958-06 -> index 41; same month on both ends -> [41], not [41:41]
    assert(url == s"$base?Temperature[41][106][90][60],Salinity[41][106][90][60]")
  }

  test("S2: the formerly-failing coordinates clamp into range (test_fix.py:12-14)") {
    // (40.0, -30.0) dates 1980+: lat clamps into the grid, lon clamps to
    // -70 (idx 60), dates clamp to the last index 71 -> single-point form.
    val url = ErddapUrl.build(40.0, -30.0, "1980-01-01", "1985-12-01")
    assert(url == s"$base?Temperature[71][106][60][60],Salinity[71][106][60][60]")
  }

  test("S2: custom variable list preserves caller order") {
    val url = ErddapUrl.build(32.5, -70.0, "1955-01-01", "1955-02-01", Seq("Salinity"))
    assert(url == s"$base?Salinity[0:1][106][90][60]")
  }

  test("S1: retry succeeds after transient failures with exponential backoff") {
    val body = "time,depth\nUTC,m\n1960-01-16T00:00:00Z,0.0\n"
    val url = ErddapUrl.build(32.0, -70.0, "1960-01-01", "1960-01-01")
    val backend = new FixtureBackend(Map(url -> body), failFirst = 2)
    // rate limit off so sleptMs records ONLY the backoff waits
    val src = new ErddapSource(backend, minIntervalMs = 0, sleeper = _ => ())
    val (got, (snapLat, snapLon)) = src.fetchRaw(32.0, -70.0, "1960-01-01", "1960-01-01")
    assert(got == body)
    assert(backend.attempts == 3)
    // backoff waits are 1.0s then 2.0s (factor 2.0, base 1.0s)
    assert(src.sleptMs.toSeq == Seq(1000L, 2000L))
    // lat 32.0 sits below the grid floor (idx 92 -> clamp 90) so it
    // snaps UP to 32.5 — the reference's asymmetric geometry.
    assert(snapLat == 32.5 && snapLon == -70.0)
  }

  test("S1: failure on every attempt propagates after maxRetries") {
    val backend = new FixtureBackend(Map.empty, failFirst = 99)
    val src = new ErddapSource(backend, minIntervalMs = 0, sleeper = _ => ())
    val e = intercept[java.io.IOException] {
      src.fetchRaw(32.0, -70.0, "1960-01-01", "1960-01-01")
    }
    assert(backend.attempts == 3)
    assert(e.getMessage.contains("injected failure"))
  }

  test("S1: P8 validation rejects before any request is made") {
    val backend = new FixtureBackend(Map.empty)
    val src = new ErddapSource(backend, sleeper = _ => ())
    intercept[IllegalArgumentException] {
      src.fetchRaw(40.0, -100.0, "1960-01-01", "1960-02-01")
    }
    intercept[IllegalArgumentException] {
      src.fetchRaw(32.0, -70.0, "1960-02-01", "1960-01-01")
    }
    assert(backend.attempts == 0)
  }

  test("S1: rate limit enforces the 2 s inter-request gap") {
    val body = "x\n1\n"
    val url = ErddapUrl.build(32.0, -70.0, "1960-01-01", "1960-01-01")
    val backend = new FixtureBackend(Map(url -> body))
    val src = new ErddapSource(backend, sleeper = _ => ())
    src.fetchRaw(32.0, -70.0, "1960-01-01", "1960-01-01")
    src.fetchRaw(32.0, -70.0, "1960-01-01", "1960-01-01") // immediate second call
    assert(src.sleptMs.exists(w => w > 0 && w <= 2000L),
           s"expected a rate-limit sleep, got ${src.sleptMs}")
  }
}

/** S3: raw CSV body → all-string DataFrame (double header intact). */
class ErddapParseSpec extends AnyFunSuite with SparkTestSession {
  test("toRawDataFrame preserves the units row for the clean stage") {
    val body = "time,depth,latitude,longitude,Temperature,Salinity\n" +
      "UTC,m,degrees_north,degrees_east,degree_C,PSU\n" +
      "1960-01-16T00:00:00Z,0.0,32.5,-70.0,21.36956,36.396088\n"
    val src = new ErddapSource(new FixtureBackend(Map.empty), sleeper = _ => ())
    val df = src.toRawDataFrame(spark, body)
    assert(df.columns.toSeq ==
      Seq("time", "depth", "latitude", "longitude", "Temperature", "Salinity"))
    assert(df.count() == 2)
    assert(df.head().getString(0) == "UTC")
  }
}
