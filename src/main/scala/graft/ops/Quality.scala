package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A8/P9: the reference's data-quality report (`extract.py:229-295`,
  * thresholds `config.py:66-71`) as ONE aggregation pass.
  *
  * Everything the report needs — cardinality, per-column non-null
  * counts, per-variable min/max/mean — is computed in a single
  * `agg(...)` over the frame (partial aggregation map-side, one tiny
  * final reduce), then the issue flags and score are folded driver-side
  * from that one row. At 100 TB this is a single scan with a
  * one-row result; there is no second pass and no collect of data rows.
  */
object Quality {
  /** `QUALITY_CONFIG` (`config.py:66-71`). */
  val MinDataPoints = 1
  val MaxMissingRatio = 0.5
  val TempBounds: (Double, Double) = (-5.0, 35.0)
  val SalBounds: (Double, Double) = (0.0, 45.0)

  final case class VarRange(min: Double, max: Double, mean: Double, count: Long)
  final case class QualityReport(
      qualityScore: Double,
      qualityIssues: Seq[String],
      completeness: Double,
      valueRanges: Map[String, VarRange])

  /** The empty-input report (`extract.py:233-239`). */
  val Empty: QualityReport =
    QualityReport(0.0, Seq("No data available"), 0.0, Map.empty)

  /** Build the single-pass aggregate plan; exposed so a SQL-comparable
    * carrier query (SparkEntry q29) can run the same plan. Emits one row:
    * n, nn_<col> per column, and min/max/sum/count per bounded var. */
  def aggPlan(df: DataFrame): DataFrame = {
    val perCol = df.columns.toSeq.map(c => count(col(c)).as(s"nn_$c"))
    val boundedVars = Seq("temperature", "salinity").filter(df.columns.contains)
    val perVar = boundedVars.flatMap { v =>
      // DECIMAL(18,6) sum: order-independent exact accumulation so the
      // mean is bit-identical across engines (see graft.queries.Parity).
      Seq(min(col(v)).as(s"min_$v"), max(col(v)).as(s"max_$v"),
          sum(col(v).cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double").as(s"sum_$v"),
          count(col(v)).as(s"cnt_$v"))
    }
    df.agg(count(lit(1)).as("n"), (perCol ++ perVar): _*)
  }

  /** Run the report. Exactly one Spark job; all flag/score logic is
    * scalar math over the aggregate row (`extract.py:240-295`). */
  def report(df: DataFrame): QualityReport = {
    val cols = df.columns.toSeq
    val row: Row = aggPlan(df).collect().head
    val n = row.getAs[Long]("n")
    if (n == 0L) return Empty

    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    if (n < MinDataPoints)
      issues += s"Insufficient data points: $n < $MinDataPoints"

    val totalCells = n * cols.length
    val nonNull = cols.map(c => row.getAs[Long](s"nn_$c")).sum
    val completeness = if (totalCells > 0) nonNull.toDouble / totalCells else 0.0
    if (completeness < (1 - MaxMissingRatio)) {
      val pct = (1 - completeness) * 100
      issues += f"High missing data ratio: $pct%.1f%%"
    }

    def varRange(v: String, bounds: (Double, Double), label: String): Option[(String, VarRange)] =
      if (!cols.contains(v)) None
      else {
        val cnt = row.getAs[Long](s"cnt_$v")
        if (cnt == 0L) None
        else {
          val mn = row.getAs[Double](s"min_$v")
          val mx = row.getAs[Double](s"max_$v")
          val mean = row.getAs[Double](s"sum_$v") / cnt
          if (mn < bounds._1 || mx > bounds._2)
            issues += s"$label values outside expected range [${bounds._1}, ${bounds._2}]"
          Some(v -> VarRange(mn, mx, mean, cnt))
        }
      }

    // Order matters: temperature's flag is appended before salinity's,
    // as in the reference (`extract.py:255-285`).
    val ranges = Seq(
      varRange("temperature", TempBounds, "Temperature"),
      varRange("salinity", SalBounds, "Salinity")).flatten.toMap

    val score = math.min(1.0, completeness * (1 - issues.length * 0.1))
    QualityReport(score, issues.toSeq, completeness, ranges)
  }
}
