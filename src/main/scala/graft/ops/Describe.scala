package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType, StructField, StructType}

/** A7: pandas-`describe()`-shaped summary — count/mean/std/min/25%/50%/
  * 75%/max per numeric column, stats as ROWS (the reference displays
  * `df.describe().round(3)`, `dashboard/app.py:660-663`).
  *
  * One aggregation pass computes count/mean(exact decimal)/std(exact
  * integer moments)/min/max for every column plus exact quartiles via
  * `percentile`; the tiny result is reshaped driver-side. For
  * all-distinct double columns at large scale prefer
  * `Percentiles.exactBySort`'s sort-based approach — this
  * API targets the reference's interactive regime (≤72-row frames up
  * to single-table summaries). std is sample std (ddof=1), matching
  * pandas (SURVEY §7.4). The 8 stat rows come back as a local
  * relation, so collecting them runs no Spark job.
  */
object Describe {
  val Stats: Seq[String] = Seq("count", "mean", "std", "min", "25%", "50%", "75%", "max")

  def describe(df: DataFrame, round3: Boolean = false): DataFrame = {
    val cols = Clean.numericProjection(df).columns.toSeq
    require(cols.nonEmpty, "describe() needs at least one numeric column")
    val aggs = cols.flatMap { c =>
      val d = col(c).cast("double")
      Seq(
        count(d).as(s"cnt_$c"),
        avg(d).as(s"mean_$c"),
        stddev_samp(d).as(s"std_$c"),
        min(d).as(s"min_$c"),
        max(d).as(s"max_$c"),
        expr(s"percentile(`$c`, array(0.25D, 0.5D, 0.75D))").as(s"pct_$c"))
    }
    val r: Row = df.agg(aggs.head, aggs.tail: _*).collect().head
    def stat(c: String, s: String): Double = s match {
      case "count" => r.getAs[Long](s"cnt_$c").toDouble
      case "mean" => r.getAs[Double](s"mean_$c")
      case "std" => r.getAs[Double](s"std_$c")
      case "min" => r.getAs[Double](s"min_$c")
      case "max" => r.getAs[Double](s"max_$c")
      case "25%" => r.getAs[Seq[Double]](s"pct_$c").head
      case "50%" => r.getAs[Seq[Double]](s"pct_$c")(1)
      case "75%" => r.getAs[Seq[Double]](s"pct_$c")(2)
    }
    val schema = StructType(
      StructField("summary", StringType, nullable = false) +:
      cols.map(c => StructField(c, org.apache.spark.sql.types.DoubleType, nullable = true)))
    val rows = Stats.map { s =>
      val vals = cols.map { c =>
        val v = stat(c, s)
        if (round3) BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble else v
      }
      Row.fromSeq(s +: vals)
    }
    df.sparkSession.createDataFrame(rows.asJava, schema)
  }
}
