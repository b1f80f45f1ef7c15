package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Grid
import graft.sources.{ErddapTableProvider, ErddapUrl}

/** DSv2 ERDDAP source: predicates and required columns must reach the
  * griddap URL. The proof strategy: fixtures exist ONLY for the
  * narrowed URL — if the scan requested the wide slice (no pushdown)
  * or extra variables (no pruning), the fetch would 404 and the read
  * would fail. */
class ErddapDsv2Spec extends AnyFunSuite with SparkTestSession {

  private def record(dir: String, url: String, body: String): Unit =
    Files.write(Paths.get(dir, ErddapTableProvider.fixtureKey(url)),
                body.getBytes("UTF-8"))

  private def body(months: Seq[String], lat: Double, lon: Double,
                   vars: Seq[String] = Seq("Temperature", "Salinity")): String = {
    val header = (Seq("time", "depth", "latitude", "longitude") ++ vars).mkString(",")
    val units = (Seq("UTC", "m", "degrees_north", "degrees_east") ++
      vars.map(_ => "unit")).mkString(",")
    val rows = months.zipWithIndex.map { case (m, i) =>
      (Seq(s"${m}-16T00:00:00Z", "0.0", lat.toString, lon.toString) ++
        vars.map(v => if (v == "Temperature") s"2${i}.5" else "36.4")).mkString(",")
    }
    (Seq(header, units) ++ rows).mkString("\n") + "\n"
  }

  private def read(dir: String) = spark.read.format("erddap")
    .option("fixture_dir", dir)

  test("reads a point slice into the cleaned typed schema") {
    val dir = Files.createTempDirectory("dsv2").toString
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-02-01")
    record(dir, url, body(Seq("1960-01", "1960-02"), 32.5, -70.0))
    val df = read(dir)
      .option("points", "32.5,-70.0")
      .option("start_date", "1960-01-01").option("end_date", "1960-02-01")
      .load()
    assert(df.columns.toSeq == Seq(
      "time", "depth", "latitude", "longitude", "temperature", "salinity"))
    val rows = df.orderBy("time").collect()
    assert(rows.length == 2)
    assert(rows(0).getTimestamp(0).toInstant.toString.startsWith("1960-01-16"))
    assert(rows(0).getDouble(4) == 20.5 && rows(1).getDouble(4) == 21.5)

    // every time spelling Clean's try_to_timestamp types, the scan types
    // the same: zone-less, date-only, `T` without a zone, and `Z`
    val spellings = Seq("1960-03-16 00:00:00", "1960-04-16", "1960-05-16T00:00:00",
      "1960-06-16T00:00:00Z")
    val times = "time,depth,latitude,longitude,Temperature,Salinity\n" +
      "UTC,m,degrees_north,degrees_east,degree_C,PSU\n" +
      spellings.map(t => s"$t,0.0,32.5,-70.0,20.5,36.4\n").mkString
    record(dir, ErddapUrl.build(32.5, -70.0, "1960-03-01", "1960-06-01"), times)
    val scanned = read(dir)
      .option("points", "32.5,-70.0")
      .option("start_date", "1960-03-01").option("end_date", "1960-06-01")
      .load()
    val cleaned = graft.ops.Clean.cleanApiResponse(
      new graft.sources.ErddapSource(new graft.sources.FixtureBackend(Map.empty), 0L)
        .toRawDataFrame(spark, times))
    assert(scanned.columns.toSeq == cleaned.columns.toSeq)
    val got = scanned.collect().toSeq.sortBy(_.getTimestamp(0).getTime)
    assert(got.length == 4 && got.forall(!_.isNullAt(0)), got.mkString("; "))
    assert(got == cleaned.collect().toSeq)
  }

  test("time predicates narrow the URL slice (and stay exact post-scan)") {
    val dir = Files.createTempDirectory("dsv2").toString
    // ONLY the narrowed slice is recorded: a wide request would 404.
    // (The projection below keeps just `time`, so column pruning also
    // drops Salinity from the URL — the fixture proves both.)
    val narrowed = ErddapUrl.build(32.5, -70.0, "1960-03-01", "1960-05-01",
                                   Seq("Temperature"))
    record(dir, narrowed,
      body(Seq("1960-03", "1960-04", "1960-05"), 32.5, -70.0, Seq("Temperature")))
    val df = read(dir)
      .option("points", "32.5,-70.0")
      .option("start_date", "1960-01-01").option("end_date", "1960-12-01")
      .load()
      .filter(col("time") >= "1960-03-01" && col("time") < "1960-05-01")
    // the re-applied filter trims the May row the month slice includes
    val months = df.select(month(col("time"))).collect().map(_.getInt(0)).sorted
    assert(months.toSeq == Seq(3, 4))
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("slice=[1960-03-01..1960-05-01]"), scanDesc)
    assert(scanDesc.contains("PushedFilters=["), scanDesc)
  }

  test("column pruning requests only the needed variable from the server") {
    val dir = Files.createTempDirectory("dsv2").toString
    // only the Temperature-only URL exists — requesting Salinity would 404
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-01-01",
                              Seq("Temperature"))
    record(dir, url, body(Seq("1960-01"), 32.5, -70.0, Seq("Temperature")))
    val df = read(dir)
      .option("points", "32.5,-70.0")
      .option("start_date", "1960-01-01").option("end_date", "1960-01-01")
      .load()
      .select("time", "temperature")
    assert(df.collect().map(_.getDouble(1)).toSeq == Seq(20.5))
    assert(df.queryExecution.executedPlan.toString.contains("vars=Temperature,"))
  }

  test("coordinate equality prunes the point list to the snapped match") {
    val dir = Files.createTempDirectory("dsv2").toString
    // two configured points; only the matching point's slice recorded —
    // if the other partition still fetched, its 404 would fail the read.
    // (Longitude distinguishes them: the reference's asymmetric grid
    // snaps BOTH 32.5 and 31.0 latitudes to the 32.5 row.)
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-01-01")
    record(dir, url, body(Seq("1960-01"), 32.5, -70.0))
    val df = read(dir)
      .option("points", "32.5,-70.0;32.5,-72.0")
      .option("start_date", "1960-01-01").option("end_date", "1960-01-01")
      .load()
      .filter(col("longitude") === -70.0)
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("longitude") == -70.0)
    // partition pruning is physical: the one surviving point plans
    // exactly 1 input partition
    assert(df.rdd.getNumPartitions == 1)
  }

  test("malformed numeric cells coerce to null instead of failing the scan") {
    val dir = Files.createTempDirectory("dsv2").toString
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-01-01")
    record(dir, url,
      "time,depth,latitude,longitude,Temperature,Salinity\n" +
      "UTC,m,degrees_north,degrees_east,degree_C,PSU\n" +
      "1960-01-16T00:00:00Z,0.0,32.5,-70.0,--,36.4\n" +
      "1960-01-17T00:00:00Z,0.0,32.5,-70.0,1.2.3,35.0\n")
    val rows = read(dir)
      .option("points", "32.5,-70.0")
      .option("start_date", "1960-01-01").option("end_date", "1960-01-01")
      .load().orderBy("time").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(4) && rows(0).getDouble(5) == 36.4)
    assert(rows(1).isNullAt(4) && rows(1).getDouble(5) == 35.0)
  }

  test("intraday upper time bound widens to the full day (truncation never drops rows)") {
    val dir = Files.createTempDirectory("dsv2").toString
    // bound 1960-02-16T12:00 has an intraday part → slice end must round
    // UP to 02-17; only that widened URL is recorded, so a truncating
    // pushdown (end=02-16 at month granularity would be fine here, but
    // end computed as take(10)=02-16 then a DAY-granular dataset) is
    // caught by the re-filter check: the 02-16T00:00 row must survive.
    val widened = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-02-17")
    record(dir, widened, body(Seq("1960-01", "1960-02"), 32.5, -70.0))
    val df = read(dir)
      .option("points", "32.5,-70.0")
      .option("start_date", "1960-01-01").option("end_date", "1960-12-01")
      .load()
      .filter(col("time") <= "1960-02-16T12:00:00")
    val rows = df.orderBy("time").collect()
    assert(rows.length == 2, rows.mkString("; "))
    assert(df.queryExecution.executedPlan.toString
      .contains("slice=[1960-01-01..1960-02-17]"))
  }

  test("a body without a units row loses no data row") {
    val dir = Files.createTempDirectory("dsv2").toString
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-01-01")
    record(dir, url,
      "time,depth,latitude,longitude,Temperature,Salinity\n" +
      "1960-01-16T00:00:00Z,0.0,32.5,-70.0,20.5,36.4\n" +
      "1960-01-17T00:00:00Z,0.0,32.5,-70.0,21.5,35.0\n")
    val rows = read(dir)
      .option("points", "32.5,-70.0")
      .option("start_date", "1960-01-01").option("end_date", "1960-01-01")
      .load().orderBy("time").collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(4) == 20.5)
  }

  test("NaN measures surface as nulls (cleaned semantics)") {
    val dir = Files.createTempDirectory("dsv2").toString
    val url = ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-01-01")
    record(dir, url,
      "time,depth,latitude,longitude,Temperature,Salinity\n" +
      "UTC,m,degrees_north,degrees_east,degree_C,PSU\n" +
      "1960-01-16T00:00:00Z,0.0,32.5,-70.0,NaN,36.4\n")
    val rows = read(dir)
      .option("points", "32.5,-70.0")
      .option("start_date", "1960-01-01").option("end_date", "1960-01-01")
      .load().collect()
    assert(rows.length == 1)
    assert(rows(0).isNullAt(4) && rows(0).getDouble(5) == 36.4)
  }

  test("malformed points entries fail naming the entry") {
    val dir = Files.createTempDirectory("dsv2").toString
    for (bad <- Seq("32.5", "a,b", "")) {
      val e = intercept[IllegalArgumentException] {
        read(dir)
          .option("points", s"32.5,-70.0;$bad")
          .option("start_date", "1960-01-01").option("end_date", "1960-01-01")
          .load().collect()
      }
      assert(e.getMessage.contains(s"malformed entry '$bad'"), e.getMessage)
    }
  }

  test("two points read into one frame, each row carrying its own snapped coordinates") {
    val dir = Files.createTempDirectory("dsv2").toString
    val points = Seq((32.5, -70.0), (30.1, -75.1))
    for (((lat, lon), sal) <- points.zip(Seq("36.4", "35.1"))) {
      val (sla, slo) = Grid.snap(lat, lon)
      record(dir, ErddapUrl.build(lat, lon, "1960-01-01", "1960-02-01"),
        body(Seq("1960-01", "1960-02"), sla, slo).replace("36.4", sal))
    }
    val rows = read(dir)
      .option("points", points.map { case (la, lo) => s"$la,$lo" }.mkString(";"))
      .option("start_date", "1960-01-01").option("end_date", "1960-02-01")
      .load().collect()
    val byPoint = rows.groupBy(r => (r.getAs[Double]("latitude"), r.getAs[Double]("longitude")))
    assert(byPoint.keySet == points.map { case (la, lo) => Grid.snap(la, lo) }.toSet)
    assert(byPoint.values.forall(_.length == 2))
    assert(byPoint(Grid.snap(30.1, -75.1)).map(_.getAs[Double]("salinity")).toSet == Set(35.1))
    assert(byPoint((32.5, -70.0)).map(_.getAs[Double]("salinity")).toSet == Set(36.4))
  }

  test("more points than slots: min(points, parallelism) partitions, every point read once") {
    val dir = Files.createTempDirectory("dsv2").toString
    val parallelism = spark.sparkContext.defaultParallelism
    val points = (0 until parallelism + 2).map(i => (30.0, -70.0 - 0.25 * i))
    points.foreach { case (lat, lon) =>
      val (sla, slo) = Grid.snap(lat, lon)
      record(dir, ErddapUrl.build(lat, lon, "1960-01-01", "1960-01-01"),
        body(Seq("1960-01"), sla, slo))
    }
    val df = read(dir)
      .option("points", points.map { case (la, lo) => s"$la,$lo" }.mkString(";"))
      .option("start_date", "1960-01-01").option("end_date", "1960-01-01")
      .load()
    assert(df.rdd.getNumPartitions == math.min(points.size, parallelism))
    val lons = df.collect().map(_.getAs[Double]("longitude")).sorted.toSeq
    assert(lons == points.map { case (la, lo) => Grid.snap(la, lo)._2 }.sorted)
  }

  test("a point whose body is missing fails the read naming the point, once per read") {
    val dir = Files.createTempDirectory("dsv2").toString
    record(dir, ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-01-01"),
      body(Seq("1960-01"), 32.5, -70.0))
    val df = read(dir)
      .option("points", "32.5,-70.0;30.0,-75.0") // no body for the second point
      .option("start_date", "1960-01-01").option("end_date", "1960-01-01")
      .load()
    for (_ <- 1 to 2) {
      val msg = intercept[org.apache.spark.SparkException](df.collect()).getMessage
      assert("erddap point 30.0,-75.0 failed".r.findAllIn(msg).size == 1, msg)
    }
  }
}
