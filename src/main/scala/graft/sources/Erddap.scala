package graft.sources

import java.time.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.util.CollectionAccumulator

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
  * by distributing the *point list* (see [[ErddapSource.fetchMany]]),
  * not by parallelizing a single fetch.
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
  * @param maxRetries  3 attempts (`config.py:18`)
  * @param retryDelayMs base backoff 1.0 s, doubled per attempt
  *                     (`config.py:19,53`: factor 2.0)
  * @param minIntervalMs rate limit: 60/30 req-per-min = 2 s between
  *                     requests (`extract.py:53-55`)
  * @param sleeper     injectable clock-sleep for tests
  */
final class ErddapSource(
    backend: SourceBackend,
    maxRetries: Int = 3,
    retryDelayMs: Long = 1000L,
    minIntervalMs: Long = 2000L,
    sleeper: Long => Unit = Thread.sleep) {

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
          if (attempt == maxRetries - 1) throw e
          val wait = (retryDelayMs * math.pow(2.0, attempt)).toLong
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

object ErddapSource {

  /** Result of [[fetchMany]]: the unioned raw rows plus an accumulator
    * of per-point failure messages ("lat,lon: message"). Accumulators
    * fill as actions run — read `failures.value` only after consuming
    * `rows`. */
  final case class MultiFetch(rows: DataFrame, failures: CollectionAccumulator[String])

  /** Distributed multi-point ingestion — the reference's real usage
    * pattern (batch fetch `pipeline/extract.py:340-364`, one fetch per
    * dashboard click `dashboard/app.py:520-554`) and the actual 100 TB
    * ingest story: the POINT LIST is what parallelizes, never a single
    * ≤72-row fetch.
    *
    * Each partition builds its OWN [[ErddapSource]] from
    * `backendFactory`, so the retry/backoff/rate-limit discipline is
    * enforced per executor slot (K slots ⇒ aggregate rate K × 30
    * req/min — size `partitions` to the server's tolerance, exactly
    * like the reference sizes its single client). A failing point
    * contributes zero rows and one `failures` entry; the other points'
    * data still lands (the reference logs-and-skips the same way,
    * `extract.py:355-360`).
    *
    * Output schema is fixed at plan time: requested (req_lat, req_lon)
    * plus the griddap CSV columns as raw strings — the units row
    * included, exactly as [[ErddapSource.toRawDataFrame]] keeps it, so
    * the [[graft.ops.Clean]] stage applies unchanged downstream.
    *
    * @param backendFactory serializable constructor invoked once per
    *   partition (a fixture map in tests, `() => new HttpBackend` live)
    * @param partitions fan-out width; 0 ⇒ min(points, default parallelism)
    */
  def fetchMany(spark: SparkSession,
                points: Seq[(Double, Double)],
                startDate: String, endDate: String,
                variables: Seq[String] = ErddapUrl.DefaultVariables,
                backendFactory: () => SourceBackend,
                maxRetries: Int = 3,
                retryDelayMs: Long = 1000L,
                minIntervalMs: Long = 2000L,
                sleeper: Long => Unit = Thread.sleep,
                partitions: Int = 0): MultiFetch = {
    val cols = Seq("time", "depth", "latitude", "longitude") ++ variables
    val schema = StructType(
      StructField("req_lat", DoubleType, nullable = false) ::
      StructField("req_lon", DoubleType, nullable = false) ::
      cols.toList.map(StructField(_, StringType, nullable = true)))
    val failures = spark.sparkContext.collectionAccumulator[String]("erddap_failed_points")
    val width =
      if (partitions > 0) partitions
      else math.max(1, math.min(points.size, spark.sparkContext.defaultParallelism))
    val rdd = spark.sparkContext.parallelize(points, math.max(1, width))
      .mapPartitions { it =>
        val src = new ErddapSource(
          backendFactory(), maxRetries, retryDelayMs, minIntervalMs, sleeper)
        it.flatMap { case (lat, lon) =>
          try {
            val (body, _) = src.fetchRaw(lat, lon, startDate, endDate, variables)
            val lines = body.linesIterator.filter(_.nonEmpty).toVector
            if (lines.isEmpty) Iterator.empty
            else {
              // map each body through ITS OWN header so a column-order
              // drift on the server side can't silently shift values
              val header = lines.head.split(",", -1).map(_.trim)
              val idx = cols.map(c => header.indexOf(c))
              lines.iterator.drop(1).map { line =>
                val f = line.split(",", -1)
                Row.fromSeq(lat +: lon +: idx.map(i =>
                  if (i >= 0 && i < f.length) f(i) else null))
              }
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              failures.add(s"$lat,$lon: ${e.getMessage}")
              Iterator.empty
          }
        }
      }
    MultiFetch(spark.createDataFrame(rdd, schema), failures)
  }
}
