package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Clean

/** Clean-stage tests: golden against the reference's own committed
  * raw/clean CSVs (the raw sample is committed here as
  * `data/fixtures/sea_surface_sample.csv`), plus the dropna-semantics
  * difference (P2 `how=all` at `extract.py:216-221` vs P3 `how=any` at
  * `transform.py:26`) over the dirty fixture. */
class CleanSpec extends AnyFunSuite with SparkTestSession {

  private val refRaw = TestFixtures.SeaSurfaceSample
  private val fixture = TestFixtures.SeaSurfaceRaw

  private def readCsv(path: String) =
    spark.read.option("header", "true").csv(path)

  test("golden: cleanTransform on the reference raw sample equals its committed clean CSV") {
    val got = Clean.cleanTransform(readCsv(refRaw)).collect()
    // data/clean/sea_surface_clean.csv: exactly one row
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Timestamp]("time") == Timestamp.valueOf("1960-01-16 00:00:00"))
    assert(r.getAs[Double]("depth") == 0.0)
    assert(r.getAs[Double]("latitude") == 32.5)
    assert(r.getAs[Double]("longitude") == -70.0)
    assert(r.getAs[Double]("temperature") == 21.36956)
    assert(r.getAs[Double]("salinity") == 36.396088)
  }

  test("golden: cleanApiResponse on the reference raw sample gives the same single row") {
    val got = Clean.cleanApiResponse(readCsv(refRaw)).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Double]("temperature") == 21.36956)
  }

  test("provenance: the committed raw sample has the reference checkout's rows") {
    val source = Paths.get("/root/reference/data/sea_surface_sample.csv")
    assume(Files.exists(source), s"$source is not present")
    assert(Files.readAllLines(Paths.get(refRaw)) == Files.readAllLines(source))
  }

  test("units row dies in BOTH variants, by different mechanisms") {
    // extract: explicit strip before casts; transform: coerce+dropna.
    val raw = readCsv(fixture)
    val api = Clean.cleanApiResponse(raw)
    val tr = Clean.cleanTransform(raw)
    assert(!api.select("salinity").collect().map(_.get(0)).contains("PSU"))
    assert(api.schema("time").dataType.typeName == "timestamp")
    assert(tr.schema("time").dataType.typeName == "timestamp")
  }

  test("P2 vs P3: how=all keeps partial rows, how=any drops them") {
    val raw = readCsv(fixture)
    val api = Clean.cleanApiResponse(raw)   // drops only the both-null row
    val tr = Clean.cleanTransform(raw)      // drops any-null rows too
    assert(api.count() == 11)
    assert(tr.count() == 9)
    // the partial rows (exactly one of temp/sal null) survive only in api form
    assert(api.filter(col("temperature").isNull && col("salinity").isNotNull).count() == 1)
    assert(api.filter(col("temperature").isNotNull && col("salinity").isNull).count() == 1)
    assert(tr.filter(col("temperature").isNull || col("salinity").isNull).count() == 0)
  }

  test("F1: header normalization trims, lowercases, underscores") {
    assert(Clean.normalizeName(" Latitude ") == "latitude")
    assert(Clean.normalizeName("Sea Surface Temp") == "sea_surface_temp")
    val cleaned = Clean.cleanApiResponse(readCsv(fixture))
    assert(cleaned.columns.toSeq ==
      Seq("time", "depth", "latitude", "longitude", "temperature", "salinity"))
  }

  test("F2/F3: coerce failures become nulls, not errors (ANSI-safe)") {
    val api = Clean.cleanApiResponse(readCsv(fixture))
    assert(api.filter(col("time").isNull).count() == 1)      // 'not-a-date'
    assert(api.filter(col("depth").isNull).count() == 1)     // 'bad'
    assert(api.filter(col("latitude").isNull).count() == 1)
    assert(api.filter(col("longitude").isNull).count() == 1)
  }

  test("F2: an ERDDAP NaN cell coerces to null, so a both-NaN row is dropped") {
    import spark.implicits._
    val raw = Seq(
      ("1960-01-16T00:00:00Z", "0.0", "32.5", "-70.0", "NaN", "NaN"),
      ("1960-02-16T00:00:00Z", "0.0", "32.5", "-70.0", "NaN", "36.4"))
      .toDF("time", "depth", "latitude", "longitude", "Temperature", "Salinity")
    val api = Clean.cleanApiResponse(raw).collect()
    assert(api.length == 1, api.mkString("; "))
    assert(api.head.isNullAt(4) && api.head.getDouble(5) == 36.4)
    assert(Clean.cleanTransform(raw).count() == 0)
  }

  test("O1: api clean output is time-sorted with nulls last (pandas parity)") {
    val times = Clean.cleanApiResponse(readCsv(fixture))
      .select("time").collect().map(r => Option(r.getAs[Timestamp](0)))
    assert(times.last.isEmpty)                     // NaT last
    val nonNull = times.flatten
    assert(nonNull.sameElements(nonNull.sortBy(_.getTime)))
  }

  test("defensive column handling: frames without the expected columns pass through") {
    import spark.implicits._
    val odd = Seq(("a", "1"), ("b", "2")).toDF("name", "value")
    assert(Clean.cleanTransform(odd).count() == 2)
    assert(Clean.cleanApiResponse(odd).columns.toSeq == Seq("name", "value"))
  }

  test("P5: numeric projection selects only numeric columns") {
    val api = Clean.cleanApiResponse(readCsv(fixture))
    assert(Clean.numericProjection(api).columns.toSeq ==
      Seq("depth", "latitude", "longitude", "temperature", "salinity"))
  }
}
