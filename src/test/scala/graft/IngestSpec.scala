package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.LandedIngest

/** End-to-end ingest carrier (q59): fetch → clean → month-partitioned
  * landing → pruned point query, with the pruning asserted physically. */
class IngestSpec extends AnyFunSuite with SparkTestSession {

  private val landing = java.nio.file.Files.createTempDirectory("graft-ingest").toString

  test("full pipeline lands 12 months x 4 points, cleaned and typed") {
    val landed = LandedIngest.ingest(spark, landing)
    assert(landed.count() == 48)
    // units row died in the clean; time typed; measures doubles
    assert(landed.schema("time").dataType.typeName == "timestamp")
    assert(landed.schema("temperature").dataType.typeName == "double")
    assert(landed.select("month").distinct().count() == 12)
    // every fixture point landed (fetch fan-out lost nothing)
    assert(landed.select("latitude", "longitude").distinct().count() == 4)
  }

  test("point query prunes to one month partition") {
    LandedIngest.ingest(spark, landing)
    val q = LandedIngest.pointQuery(spark, landing, "1960-07", 32.5, -70.0)
    val plan = q.queryExecution.explainString(FormattedMode)
    assert(plan.contains("PartitionFilters: [isnotnull(month"),
           s"month predicate is not a partition filter:\n$plan")
    // the zland layout underneath the month: the point's Morton
    // bucket prunes too (one landing serving both access patterns)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("z_bucket"), s"z_bucket not a partition filter: $pf")
    // physically: only the July files are opened (input_file_name must
    // be read off the scan-side frame — after the ORDER BY exchange it
    // evaluates to empty)
    val files = spark.read.parquet(landing)
      .filter(col("month") === "1960-07" && col("latitude") === 32.5)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("month=1960-07")),
           files.mkString("; "))
    val rows = q.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("latitude") == 32.5)
    assert(rows(0).getTimestamp(0).toInstant.toString.startsWith("1960-07-16"))
  }

  test("land fails naming a point that did not fetch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-bad").toString
    val e = intercept[IllegalStateException] {
      LandedIngest.land(spark, dir, LandedIngest.Points :+ (40.0, -70.0)) // outside the grid
    }
    assert(e.getMessage.contains("1 of 5 points failed"), e.getMessage)
    assert(e.getMessage.contains("40.0,-70.0:"), e.getMessage)
  }
}
