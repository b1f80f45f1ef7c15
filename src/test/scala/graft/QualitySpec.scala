package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Clean, Quality}

/** A8/P9 quality report against hand-computed expectations on the
  * dirty fixture (formula `extract.py:287-288`, thresholds
  * `config.py:66-71`). */
class QualitySpec extends AnyFunSuite with SparkTestSession {

  private lazy val cleaned = Clean.cleanApiResponse(
    spark.read.option("header", "true").csv(TestFixtures.SeaSurfaceRaw))

  test("report over the cleaned fixture: hand-computed score") {
    val r = Quality.report(cleaned)
    // 11 rows x 6 cols = 66 cells, 6 nulls -> completeness 60/66
    assert(math.abs(r.completeness - 60.0 / 66.0) < 1e-12)
    // two issues: temp max 40 > 35, sal max 50 > 45
    assert(r.qualityIssues == Seq(
      "Temperature values outside expected range [-5.0, 35.0]",
      "Salinity values outside expected range [0.0, 45.0]"))
    // score = min(1, (60/66) * (1 - 2*0.1))
    assert(math.abs(r.qualityScore - (60.0 / 66.0) * 0.8) < 1e-12)
  }

  test("value ranges: min/max/mean/count per variable") {
    val r = Quality.report(cleaned)
    val t = r.valueRanges("temperature")
    assert(t.count == 10 && t.min == -3.5 && t.max == 40.0)
    val s = r.valueRanges("salinity")
    assert(s.count == 10 && s.min == 2.0 && s.max == 50.0)
    assert(math.abs(t.mean - (21.5 + 21.36956 + 15.5 + 18.0 + 40.0 +
      10.0 + 11.0 + 12.0 + -3.5 + 25.25) / 10.0) < 1e-9)
  }

  test("empty input yields the reference's empty report (extract.py:233-239)") {
    val empty = cleaned.filter("1 = 0")
    val r = Quality.report(empty)
    assert(r == Quality.Empty)
    assert(r.qualityScore == 0.0)
    assert(r.qualityIssues == Seq("No data available"))
  }

  test("in-range data produces zero issues and score = completeness") {
    import spark.implicits._
    val good = Seq((20.0, 35.0), (21.0, 36.0)).toDF("temperature", "salinity")
    val r = Quality.report(good)
    assert(r.qualityIssues.isEmpty)
    assert(r.completeness == 1.0)
    assert(r.qualityScore == 1.0)
  }

  test("high-missing data trips the completeness issue") {
    import spark.implicits._
    val sparse = Seq(
      (Some(20.0), None: Option[Double]),
      (None: Option[Double], None: Option[Double]),
      (None: Option[Double], None: Option[Double]),
      (None: Option[Double], None: Option[Double])).toDF("temperature", "salinity")
    val r = Quality.report(sparse)
    // completeness = 1/8 < 0.5
    assert(r.qualityIssues.exists(_.startsWith("High missing data ratio")))
  }
}
