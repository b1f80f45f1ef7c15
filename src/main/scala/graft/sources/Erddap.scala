package graft.sources

import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Grid

/** ERDDAP griddap source facade (SURVEY.md §2.1 S1/S2).
  *
  * The reference's only "pushdown" mechanism: the (lat, lon, dates,
  * variables) predicate is compiled into a bracket-sliced griddap URL so
  * the server returns only the needed cells (reference
  * `config.py:203-241`). This module reproduces that query compilation
  * plus the retry/rate-limit fetch discipline (`extract.py:48-89`),
  * behind a [[SourceBackend]] so tests replay recorded fixtures with
  * zero egress.
  *
  * Scale note: each query yields ≤72 rows (one per month), so the fetch
  * is driver-side by design. Fan-out over many grid points is achieved
  * by distributing the *point list* (the `format("erddap")` scan,
  * [[ErddapScan]]), not by parallelizing a single fetch.
  */
object ErddapUrl {
  /** Public dataset constants, from the reference's ERDDAP_CONFIG
    * (`config.py:13-20`). */
  val BaseUrl = "https://erddap.ifremer.fr/erddap/griddap"
  val DatasetId = "SDC_NAT_CLIM_TS_V1_025_m"
  val DefaultVariables: Seq[String] = Seq("Temperature", "Salinity")

  /** S2: compile a point/date-range query into the griddap CSV URL.
    * Single-point form `var[t][d][lat][lon]` when the range collapses
    * to one month, range form `var[t0:t1][d][lat][lon]` otherwise;
    * brackets deliberately NOT url-encoded (`config.py:226-239`). */
  def build(lat: Double, lon: Double, startDate: String, endDate: String,
            variables: Seq[String] = DefaultVariables): String = {
    val latIdx = Grid.latToIndex(lat)
    val lonIdx = Grid.lonToIndex(lon)
    val t0 = Grid.dateToIndex(startDate)
    val t1 = Grid.dateToIndex(endDate)
    val d = Grid.SurfaceDepthIndex
    val qs = variables.map { v =>
      val time = if (t0 == t1) s"[$t0]" else s"[$t0:$t1]"
      s"$v$time[$d][$latIdx][$lonIdx]"
    }
    s"$BaseUrl/$DatasetId.csv?${qs.mkString(",")}"
  }
}

/** Where the bytes come from: live HTTP or a recorded fixture. */
trait SourceBackend {
  /** Return the CSV body for a URL, or throw on failure. */
  def get(url: String): String
}

/** Replays recorded responses keyed by URL; unknown URLs throw like a
  * 404 would. Optionally fails the first `failFirst` calls to exercise
  * the retry path without a network. */
final class FixtureBackend(fixtures: Map[String, String], failFirst: Int = 0)
    extends SourceBackend {
  private var calls = 0
  var attempts = 0
  def get(url: String): String = synchronized {
    attempts += 1
    if (calls < failFirst) { calls += 1; throw new java.io.IOException(s"injected failure $calls") }
    fixtures.getOrElse(url, throw new java.io.IOException(s"404: $url"))
  }
}

/** Live HTTP via java.net.http with the reference's 30 s timeout
  * (`config.py:17`). Kept thin: retry/rate-limit live in
  * [[ErddapSource]] so fixtures exercise the same discipline. */
final class HttpBackend extends SourceBackend {
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(30)).build()
  def get(url: String): String = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(Duration.ofSeconds(30))
      .header("User-Agent", "Ocean-Data-Pipeline/1.0 (Research Tool)")
      .GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() >= 400)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
    resp.body()
  }
}

/** S1: validated, cached-coordinate, retrying, rate-limited fetch of one
  * grid point's time series (reference `extract.py:91-190`).
  *
  * @param backend     byte source (fixture in tests, HTTP live)
  * @param minIntervalMs rate limit: 60/30 req-per-min = 2 s between
  *                     requests (`extract.py:53-55`)
  * @param sleeper     injectable clock-sleep for tests
  */
final class ErddapSource(
    backend: SourceBackend,
    minIntervalMs: Long = 2000L,
    sleeper: Long => Unit = Thread.sleep) {

  /** 3 attempts, base backoff 1.0 s doubled per attempt (`config.py:18-19,53`). */
  private val MaxRetries = 3
  private val RetryDelayMs = 1000L
  private var lastRequestAt = 0L
  /** Wait times actually slept, exposed for tests. */
  val sleptMs = scala.collection.mutable.ArrayBuffer.empty[Long]

  private def enforceRateLimit(): Unit = {
    val now = System.currentTimeMillis()
    val since = now - lastRequestAt
    if (since < minIntervalMs) { val w = minIntervalMs - since; sleptMs += w; sleeper(w) }
    lastRequestAt = System.currentTimeMillis()
  }

  /** Retry with exponential backoff: waits 1 s, 2 s between the three
    * attempts; the final failure propagates (`extract.py:63-89`). */
  private def getWithRetry(url: String): String = {
    var attempt = 0
    while (true) {
      try { enforceRateLimit(); return backend.get(url) }
      catch {
        case e: Exception =>
          if (attempt == MaxRetries - 1) throw e
          val wait = (RetryDelayMs * math.pow(2.0, attempt)).toLong
          sleptMs += wait
          sleeper(wait)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fetch one point's raw CSV text after P8 validation; the caller
    * parses + cleans (see [[graft.ops.Clean]]). Returns the snapped
    * grid coordinates alongside the body. */
  def fetchRaw(lat: Double, lon: Double, startDate: String, endDate: String,
               variables: Seq[String] = ErddapUrl.DefaultVariables): (String, (Double, Double)) = {
    Grid.validateCoords(lat, lon).left.foreach(m => throw new IllegalArgumentException(m))
    Grid.validateDates(startDate, endDate).left.foreach(m => throw new IllegalArgumentException(m))
    val body = getWithRetry(ErddapUrl.build(lat, lon, startDate, endDate, variables))
    (body, Grid.snap(lat, lon))
  }

  /** Parse a fetched CSV body into a raw all-string DataFrame (S3:
    * `pd.read_csv(StringIO(text))`, `extract.py:160-162`). The units
    * row survives into the frame exactly as in pandas; cleaning is a
    * separate stage. Driver-side by design: bodies are ≤72 rows. The
    * frame is one partition, so the clean's sort and every aggregate
    * downstream of it plan no exchange. */
  def toRawDataFrame(spark: SparkSession, csvBody: String): DataFrame = {
    import spark.implicits._
    val ds = csvBody.linesIterator.toSeq.toDS()
    spark.read.option("header", "true").option("ignoreLeadingWhiteSpace", "true").csv(ds)
      .coalesce(1) // bound: one griddap point, a body the driver already holds
  }
}
