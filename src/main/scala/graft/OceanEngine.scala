package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cache.ResultCache
import graft.core.Grid
import graft.ops.{Clean, Describe, Quality}
import graft.sources.{ErddapSource, ErddapUrl}

/** The engine facade — exactly the three calls the reference's serving
  * layer makes (SURVEY §3.2): fetch a point's observations, summarize
  * a frame, quality-score a frame. A user of the reference switches by
  * constructing this with a backend (live HTTP or fixture replay) and
  * an optional cache directory.
  *
  * Flow of [[fetchObservations]] (mirrors `extract.py:91-190`):
  * validate (P8) → snap to grid → cache probe (S9) → fetch (S1/S2) →
  * parse (S3) → clean (P1/F1–F3/P2/O1) → quality report (A8) → cache
  * store (S8).
  */
final class OceanEngine(
    spark: SparkSession,
    source: ErddapSource,
    cache: Option[ResultCache] = None) {

  final case class FetchResult(
      data: DataFrame,
      quality: Quality.QualityReport,
      snappedLat: Double,
      snappedLon: Double,
      fromCache: Boolean)

  /** Fetch one grid point's time series, cleaned and quality-scored.
    * Throws IllegalArgumentException on out-of-bounds coords/dates
    * (the reference's fail-fast contract). */
  def fetchObservations(lat: Double, lon: Double,
                        startDate: String, endDate: String,
                        variables: Seq[String] = ErddapUrl.DefaultVariables,
                        useCache: Boolean = true): FetchResult = {
    Grid.validateCoords(lat, lon).left.foreach(m => throw new IllegalArgumentException(m))
    Grid.validateDates(startDate, endDate).left.foreach(m => throw new IllegalArgumentException(m))
    val (sLat, sLon) = Grid.snap(lat, lon)

    val cached =
      if (useCache) cache.flatMap(_.get(sLat, sLon, startDate, endDate, variables))
      else None
    cached match {
      case Some(df) =>
        FetchResult(df, Quality.report(df), sLat, sLon, fromCache = true)
      case None =>
        val (body, _) = source.fetchRaw(lat, lon, startDate, endDate, variables)
        val cleaned = Clean.cleanApiResponse(source.toRawDataFrame(spark, body))
        val report = Quality.report(cleaned)
        if (useCache && report.qualityScore > 0.0)
          cache.foreach(_.put(sLat, sLon, startDate, endDate, variables, cleaned))
        FetchResult(cleaned, report, sLat, sLon, fromCache = false)
    }
  }

  /** Summary statistics in the reference's display shape
    * (`describe().round(3)`, `app.py:660-663`). */
  def summary(df: DataFrame): DataFrame = Describe.describe(df, round3 = true)

  /** A8 quality report for any observation frame. */
  def qualityReport(df: DataFrame): Quality.QualityReport = Quality.report(df)

  /** Nearby previously-fetched queries (`cache_manager.py:295-337`),
    * empty frame when no cache is configured. */
  def nearbyCached(lat: Double, lon: Double, radiusDegrees: Double = 0.5): Option[DataFrame] =
    cache.map(_.nearby(lat, lon, radiusDegrees))

  /** Pre-flight metadata for a prospective query (validation verdicts,
    * snapped coords, expected row count — `config.py:287-341`). */
  def queryMetadata(lat: Double, lon: Double,
                    startDate: String, endDate: String): Map[String, Any] = {
    val (sLat, sLon) = Grid.snap(lat, lon)
    Map(
      "requested" -> (lat, lon, startDate, endDate),
      "snapped" -> (sLat, sLon),
      "coordinates_valid" -> Grid.validateCoords(lat, lon).isRight,
      "dates_valid" -> Grid.validateDates(startDate, endDate).isRight,
      "expected_points" -> Grid.expectedPoints(startDate, endDate),
      "url" -> ErddapUrl.build(lat, lon, startDate, endDate))
  }
}
