package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Grid, Tables}
import graft.ops.{Clean, Quality}
import graft.queries.Parity.dsum

/** The reference pipeline's surface: the clean stage and quality report
  * over the committed raw fixture, describe-style moments, quartiles and
  * null counts, JSON extraction, grid and Z-order cells, nearby-cache
  * lookup and per-group trends. */
object OceanQueries {

  val all: Seq[Query] = Seq(

    // ---- describe-style moments (A7): mean/std via exact sums ----
    // std uses the all-integer form D = n·Σx₁₀₀² − (Σx₁₀₀)² accumulated
    // exactly (DECIMAL(38,0) here, HUGEINT in DuckDB), so the only
    // float step is the final correctly-rounded cast of D — no
    // catastrophic cancellation in doubles (round-1 ADVICE item).
    Query("q14_stats_moments", (s, dir) => {
      val q100 = round(col("l_quantity") * 100, 0).cast("long")
      val p100 = round(col("l_extendedprice") * 100, 0).cast("long")
      val D38 = DecimalType(38, 0)
      val agg = Tables.lineitem(s, dir).agg(
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("s_q"),
        sum(q100.cast(D38)).as("s_q100"),
        sum((q100 * q100).cast(D38)).as("ss_q100"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        dsum(col("l_extendedprice")).as("s_p"),
        sum(p100.cast(D38)).as("s_p100"),
        sum((p100 * p100).cast(D38)).as("ss_p100"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      val nd = col("n").cast("double")
      val dQ = (col("n").cast(D38) * col("ss_q100") - col("s_q100") * col("s_q100")).cast("double")
      val dP = (col("n").cast(D38) * col("ss_p100") - col("s_p100") * col("s_p100")).cast("double")
      agg.select(
        col("n"),
        round(col("s_q") / nd, 6).as("mean_qty"),
        round(sqrt(dQ / (nd * (nd - 1.0))) / 100.0, 6).as("std_qty"),
        col("min_qty"), col("max_qty"),
        round(col("s_p") / nd, 6).as("mean_price"),
        round(sqrt(dP / (nd * (nd - 1.0))) / 100.0, 6).as("std_price"),
        col("min_price"), col("max_price"))
    }, _ =>
      """SELECT n,
        |  round(s_q / CAST(n AS DOUBLE), 6) AS mean_qty,
        |  round(sqrt(d_q / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0, 6) AS std_qty,
        |  min_qty, max_qty,
        |  round(s_p / CAST(n AS DOUBLE), 6) AS mean_price,
        |  round(sqrt(d_p / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0, 6) AS std_price,
        |  min_price, max_price
        |FROM (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_q,
        |    CAST(COUNT(*) * SUM(q100 * q100) - SUM(q100) * SUM(q100) AS DOUBLE) AS d_q,
        |    MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_p,
        |    CAST(COUNT(*) * SUM(p100 * p100) - SUM(p100) * SUM(p100) AS DOUBLE) AS d_p,
        |    MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
        |  FROM (SELECT l_quantity, l_extendedprice,
        |          CAST(round(l_quantity * 100, 0) AS BIGINT) AS q100,
        |          CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p100
        |        FROM lineitem) raw) t""".stripMargin),

    // ---- per-column null counting (A5/A6) ----
    Query("q15_null_counts", (s, dir) => {
      Tables.events(s, dir).agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col("value"))).as("null_value"),
        (count(lit(1)) - count(col("props"))).as("null_props"),
        (count(lit(1)) - count(col("user_id"))).as("null_user"))
    }, _ =>
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(*) - COUNT(value) AS BIGINT) AS null_value,
        |  CAST(COUNT(*) - COUNT(props) AS BIGINT) AS null_props,
        |  CAST(COUNT(*) - COUNT(user_id) AS BIGINT) AS null_user
        |FROM events""".stripMargin),

    // ---- JSON extraction (F11 analog) ----
    // from_json with a declared schema parses each value once inside
    // codegen; get_json_object re-ran a JsonPath interpreter per row
    // (459× the oracle in round 1).
    Query("q19_json_extract", (s, dir) => {
      // Native single-path extractor (functions/JsonField): one
      // string/escape-aware byte scan per row. get_json_object's full
      // Jackson tokenization measured 2.1 s steady-state at sf1 vs
      // 0.25 s for the bare scan; this closes most of that gap.
      Tables.events(s, dir)
        .select(col("event_type"),
                call_function("json_field", col("props"), lit("k"))
                  .cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
             min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    }, _ =>
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events) t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ---- grid-cell mapping (reference F4-F9, via Grid's Column API) ----
    Query("q20_grid_cells", (s, dir) => {
      val lat = lit(10.0) + (col("value") % lit(45.0))
      val lon = lit(-85.0) + (col("value") % lit(15.0))
      val latIdx = Grid.latIdxCol(lat)
      val lonIdx = Grid.lonIdxCol(lon)
      Tables.events(s, dir).select(
        col("event_id"),
        latIdx.as("lat_idx"), lonIdx.as("lon_idx"),
        Grid.idxToLatCol(latIdx).as("snap_lat"),
        Grid.idxToLonCol(lonIdx).as("snap_lon"),
        Grid.timeIdxCol(col("ts")).as("t_idx"),
        Grid.monthIdxCol(col("ts")).as("m_idx"))
        .orderBy("event_id")
    }, _ =>
      """WITH g AS (
        |  SELECT event_id, ts,
        |    least(greatest(10.0 + fmod(value, 45.0), 10.0), 55.0) AS clat,
        |    least(greatest(-85.0 + fmod(value, 15.0), -85.0), -70.0) AS clon
        |  FROM events),
        |i AS (
        |  SELECT event_id, ts,
        |    CAST(least(greatest(floor((55.0 - clat) / 0.25 + 0.5), 0.0), 90.0) AS BIGINT) AS lat_idx,
        |    CAST(least(greatest(floor((clon - (-85.0)) / 0.25 + 0.5), 0.0), 60.0) AS BIGINT) AS lon_idx
        |  FROM g)
        |SELECT event_id, lat_idx, lon_idx,
        |  55.0 - CAST(lat_idx AS DOUBLE) * 0.25 AS snap_lat,
        |  -85.0 + CAST(lon_idx AS DOUBLE) * 0.25 AS snap_lon,
        |  CAST(least(greatest((year(ts) - 1955) * 12 + month(ts) - 1, 0), 71) AS BIGINT) AS t_idx,
        |  CAST(((year(ts) - 1955) * 12 + month(ts) - 1) % 72 AS BIGINT) AS m_idx
        |FROM i
        |ORDER BY event_id""".stripMargin),

    // ---- reference clean stage end-to-end (S3/S4, P1, F1-F3, P2, O1) ----
    // Reads the committed dirty fixture (double header, unsorted,
    // coerce-failing cells, partial nulls) through the real Clean ops.
    Query("q28_clean_pipeline", (s, _) => {
      Clean.cleanApiResponse(readRawFixture(s))
    },
    // The clean-stage SQL mirrors Clean.cleanApiResponse step for step:
    // units-row strip BEFORE casts, normalize names (DuckDB trims the
    // ' Latitude ' header itself), TRY_CAST coercions, how='all' dropna
    // on the key vars, nulls-last time sort.
    _ =>
      s"""WITH typed AS (
        |  SELECT TRY_CAST(time AS TIMESTAMP) AS time,
        |    TRY_CAST(depth AS DOUBLE) AS depth,
        |    TRY_CAST("Latitude" AS DOUBLE) AS latitude,
        |    TRY_CAST(longitude AS DOUBLE) AS longitude,
        |    TRY_CAST("Temperature" AS DOUBLE) AS temperature,
        |    TRY_CAST("Salinity" AS DOUBLE) AS salinity
        |  FROM read_csv('$rawFixtureCsv', header=true, all_varchar=true)
        |  WHERE time IS NULL OR time NOT IN ('UTC', 'units'))
        |SELECT * FROM typed
        |WHERE temperature IS NOT NULL OR salinity IS NOT NULL
        |ORDER BY time NULLS LAST""".stripMargin),

    // ---- quality report A8/P9 over the cleaned fixture ----
    // Same single-pass aggregate Quality.report runs, with the issue
    // flags and score expressed as Columns so the whole report is one
    // SQL-comparable row (formula: extract.py:287-288).
    Query("q29_quality_report", (s, _) => {
      val cleaned = Clean.cleanApiResponse(readRawFixture(s))
      val a = Quality.aggPlan(cleaned)
      val n = col("n")
      val nn = Seq("time", "depth", "latitude", "longitude", "temperature", "salinity")
        .map(c => col(s"nn_$c")).reduce(_ + _)
      val completeness = nn.cast("double") / (n * lit(6)).cast("double")
      val issues =
        (n < Quality.MinDataPoints).cast("int") +
        (completeness < lit(1.0) - Quality.MaxMissingRatio).cast("int") +
        (col("min_temperature") < Quality.TempBounds._1 ||
         col("max_temperature") > Quality.TempBounds._2).cast("int") +
        (col("min_salinity") < Quality.SalBounds._1 ||
         col("max_salinity") > Quality.SalBounds._2).cast("int")
      a.select(
        n,
        round(completeness, 6).as("completeness"),
        issues.as("n_issues"),
        round(least(lit(1.0), completeness * (lit(1.0) - issues * lit(0.1))), 6)
          .as("quality_score"),
        col("min_temperature").as("temp_min"), col("max_temperature").as("temp_max"),
        round(col("sum_temperature") / col("cnt_temperature"), 6).as("temp_mean"),
        col("cnt_temperature").as("temp_count"),
        col("min_salinity").as("sal_min"), col("max_salinity").as("sal_max"),
        round(col("sum_salinity") / col("cnt_salinity"), 6).as("sal_mean"),
        col("cnt_salinity").as("sal_count"))
    }, _ =>
      s"""WITH typed AS (
        |  SELECT TRY_CAST(time AS TIMESTAMP) AS time,
        |    TRY_CAST(depth AS DOUBLE) AS depth,
        |    TRY_CAST("Latitude" AS DOUBLE) AS latitude,
        |    TRY_CAST(longitude AS DOUBLE) AS longitude,
        |    TRY_CAST("Temperature" AS DOUBLE) AS temperature,
        |    TRY_CAST("Salinity" AS DOUBLE) AS salinity
        |  FROM read_csv('$rawFixtureCsv', header=true, all_varchar=true)
        |  WHERE time IS NULL OR time NOT IN ('UTC', 'units')),
        |cleaned AS (
        |  SELECT * FROM typed
        |  WHERE temperature IS NOT NULL OR salinity IS NOT NULL),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    COUNT(time) + COUNT(depth) + COUNT(latitude) + COUNT(longitude)
        |      + COUNT(temperature) + COUNT(salinity) AS nn,
        |    MIN(temperature) AS min_t, MAX(temperature) AS max_t,
        |    CAST(SUM(CAST(temperature AS DECIMAL(18,6))) AS DOUBLE) AS sum_t,
        |    CAST(COUNT(temperature) AS BIGINT) AS cnt_t,
        |    MIN(salinity) AS min_s, MAX(salinity) AS max_s,
        |    CAST(SUM(CAST(salinity AS DECIMAL(18,6))) AS DOUBLE) AS sum_s,
        |    CAST(COUNT(salinity) AS BIGINT) AS cnt_s
        |  FROM cleaned),
        |f AS (
        |  SELECT *,
        |    CAST(nn AS DOUBLE) / CAST(n * 6 AS DOUBLE) AS completeness,
        |    CAST(n < 1 AS INT) +
        |    CAST(CAST(nn AS DOUBLE) / CAST(n * 6 AS DOUBLE) < 0.5 AS INT) +
        |    CAST(min_t < -5.0 OR max_t > 35.0 AS INT) +
        |    CAST(min_s < 0.0 OR max_s > 45.0 AS INT) AS n_issues
        |  FROM a)
        |SELECT n,
        |  round(completeness, 6) AS completeness,
        |  n_issues,
        |  round(LEAST(1.0, completeness * (1.0 - n_issues * 0.1)), 6) AS quality_score,
        |  min_t AS temp_min, max_t AS temp_max,
        |  round(sum_t / cnt_t, 6) AS temp_mean, cnt_t AS temp_count,
        |  min_s AS sal_min, max_s AS sal_max,
        |  round(sum_s / cnt_s, 6) AS sal_mean, cnt_s AS sal_count
        |FROM f""".stripMargin),

    // ---- nearby-cache lookup semantics (P6 analog, P7, O4, F12) ----
    // Cache-metadata coordinates synthesized from events (same lat/lon
    // derivation q20 established); box predicate + Manhattan ranking +
    // per-row Euclidean distance per cache_manager.py:302-318.
    Query("q30_cache_nearby", (s, dir) => {
      val qLat = 32.0; val qLon = -77.5; val r = 2.0
      val meta = Tables.events(s, dir)
        .filter(col("event_id") % 37 === 0)
        .select(
          col("event_id"),
          (lit(10.0) + col("value") % lit(45.0)).as("latitude"),
          (lit(-85.0) + col("value") % lit(15.0)).as("longitude"))
      meta
        .filter(abs(col("latitude") - qLat) < r && abs(col("longitude") - qLon) < r)
        .select(
          col("event_id"), col("latitude"), col("longitude"),
          round(abs(col("latitude") - qLat) + abs(col("longitude") - qLon), 6)
            .as("manhattan"),
          round(sqrt(pow(col("latitude") - qLat, 2) + pow(col("longitude") - qLon, 2)), 6)
            .as("distance_degrees"))
        .orderBy(asc("manhattan"), asc("event_id"))
    }, _ =>
      """WITH meta AS (
        |  SELECT event_id,
        |    10.0 + value % 45.0 AS latitude,
        |    -85.0 + value % 15.0 AS longitude
        |  FROM events
        |  WHERE event_id % 37 = 0)
        |SELECT event_id, latitude, longitude,
        |  round(ABS(latitude - 32.0) + ABS(longitude - (-77.5)), 6) AS manhattan,
        |  round(sqrt(power(latitude - 32.0, 2) + power(longitude - (-77.5), 2)), 6)
        |    AS distance_degrees
        |FROM meta
        |WHERE ABS(latitude - 32.0) < 2.0 AND ABS(longitude - (-77.5)) < 2.0
        |ORDER BY manhattan, event_id""".stripMargin),

    // ---- describe() with exact quartiles (A7, P5; pandas parity) ----
    // Exact `percentile` (not approx) per SURVEY §7.4; std via the
    // all-integer D = n*Σx² − (Σx)² trick shared with q14.
    Query("q32_describe", (s, dir) => {
      val D38 = DecimalType(38, 0)
      val li = Tables.lineitem(s, dir)
      def stats(c: String, suffix: String): Seq[Column] = {
        val x100 = round(col(c) * 100, 0).cast("long")
        Seq(
          dsum(col(c)).as(s"s_$suffix"),
          sum(x100.cast(D38)).as(s"s100_$suffix"),
          sum((x100 * x100).cast(D38)).as(s"ss100_$suffix"),
          min(col(c)).as(s"min_$suffix"), max(col(c)).as(s"max_$suffix"))
      }
      // Exact quartiles through the REGIME CHOOSER: the profile pass
      // routes l_quantity (~50 distinct) to the value-map regime and
      // l_extendedprice (~all-distinct, wide binade spread) to a
      // histogram regime — the plan a regime-aware caller would have
      // picked, now chosen from the data. The profile SKETCHES A 5%
      // SAMPLE: its dominant cost is the interpreted per-row HLL
      // update (approx_count_distinct is an ImperativeAggregate), and
      // the regime decision tolerates sample-deflated estimates
      // because every regime is exact (see profileRegimes). Fusing
      // the profile into the stats agg below was measured OUT in r9 —
      // the ImperativeAggregate de-codegens the whole fused pass
      // (solo sf1 1.78 s fused vs 1.49 s split, pre-sampling).
      val regimes = ops.Percentiles.profileRegimes(
        li, Seq("l_quantity", "l_extendedprice"), sampleFraction = 0.05)
      // r22 (guide §2.4): when the chooser picks the VALUE-MAP regime,
      // its `percentile` aggregate fuses into the stats aggregation —
      // one scan and one aggregate subtree fewer. This is NOT the r9
      // rejected fusion (the profile's approx_count_distinct over
      // every column, which de-codegened a heavy pass): a value-map
      // column is by definition low-distinct, so the imperative
      // percentile map stays tiny and the fused pass measured FASTER
      // (3/3 paired sessions, 0.65–0.82 vs 0.69–0.84 solo min-of-7).
      // Values identical: l_quantity is already DOUBLE, the exact
      // input exactByValueMap's cast fed it (oracle gate green).
      // The other regimes keep their own subtree — their boundedness
      // machinery (histograms, range sort) cannot ride a global agg.
      val qtyFused = regimes("l_quantity") == "value-map"
      val qtyPcts =
        if (qtyFused) None
        else Some(ops.Percentiles.exactByRegime(regimes("l_quantity"),
          li.select(col("l_quantity")), "l_quantity",
          Seq(0.25, 0.5, 0.75), prefix = "qq"))
      val pricePcts = ops.Percentiles.exactByRegime(regimes("l_extendedprice"),
        li.select(col("l_extendedprice")), "l_extendedprice",
        Seq(0.25, 0.5, 0.75), prefix = "pp")
      val fusedPct =
        if (qtyFused)
          Seq(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("qpcts"))
        else Nil
      val agg = li.agg(
        count(lit(1)).as("n"),
        (stats("l_quantity", "q") ++ stats("l_extendedprice", "p") ++ fusedPct): _*)
      val nd = col("n").cast("double")
      def out(suffix: String, label: String, pct: Int => Column): Seq[Column] = {
        val d = (col("n").cast(D38) * col(s"ss100_$suffix") -
                 col(s"s100_$suffix") * col(s"s100_$suffix")).cast("double")
        Seq(
          round(col(s"s_$suffix") / nd, 6).as(s"mean_$label"),
          round(sqrt(d / (nd * (nd - 1.0))) / 100.0, 6).as(s"std_$label"),
          col(s"min_$suffix").as(s"min_$label"),
          round(pct(0), 6).as(s"q25_$label"),
          round(pct(1), 6).as(s"q50_$label"),
          round(pct(2), 6).as(s"q75_$label"),
          col(s"max_$suffix").as(s"max_$label"))
      }
      val joined = qtyPcts.foldLeft(agg.crossJoin(pricePcts))(_ crossJoin _)
      val qtyPick = qtyPcts.fold[Int => Column](
        i => col("qpcts").getItem(i))(_ => i => col(s"qq${25 * (i + 1)}"))
      joined.select((col("n") +:
        (out("q", "qty", qtyPick) ++
         out("p", "price", i => col(s"pp${25 * (i + 1)}")))): _*)
    }, _ =>
      """WITH raw AS (
        |  SELECT l_quantity, l_extendedprice,
        |    CAST(round(l_quantity * 100, 0) AS BIGINT) AS q100,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p100
        |  FROM lineitem),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_q,
        |    CAST(COUNT(*) * SUM(q100 * q100) - SUM(q100) * SUM(q100) AS DOUBLE) AS d_q,
        |    MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q,
        |    quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS pct_q,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_p,
        |    CAST(COUNT(*) * SUM(p100 * p100) - SUM(p100) * SUM(p100) AS DOUBLE) AS d_p,
        |    MIN(l_extendedprice) AS min_p, MAX(l_extendedprice) AS max_p,
        |    quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS pct_p
        |  FROM raw)
        |SELECT n,
        |  round(s_q / CAST(n AS DOUBLE), 6) AS mean_qty,
        |  round(sqrt(d_q / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0, 6) AS std_qty,
        |  min_q AS min_qty,
        |  round(pct_q[1], 6) AS q25_qty, round(pct_q[2], 6) AS q50_qty,
        |  round(pct_q[3], 6) AS q75_qty, max_q AS max_qty,
        |  round(s_p / CAST(n AS DOUBLE), 6) AS mean_price,
        |  round(sqrt(d_p / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0, 6) AS std_price,
        |  min_p AS min_price,
        |  round(pct_p[1], 6) AS q25_price, round(pct_p[2], 6) AS q50_price,
        |  round(pct_p[3], 6) AS q75_price, max_p AS max_price
        |FROM a""".stripMargin),

    // ---- per-group OLS trend (closed-form linear regression) ----
    // slope/intercept of value over day index per event_type, from
    // the five classic sums — one aggregation pass, map-side
    // combinable, no window/sort. Cross-engine parity by the repo's
    // integer discipline: x (day) and y (cents) are exact integers,
    // the sums accumulate in DECIMAL(38,0) (DuckDB: HUGEINT), and
    // both engines evaluate the same closed forms
    // slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²),
    // intercept = (Σy·Σx² − Σx·Σxy)/(n·Σx² − (Σx)²)
    // as double-division of identical exact integers.
    Query("q69_grouped_trend", (s, dir) => {
      val D38 = DecimalType(38, 0)
      val x = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long")
      val y = round(col("value") * 100, 0).cast("long")
      val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      Tables.events(s, dir)
        .select(col("event_type"), x.as("x"), y.as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast(D38).as("n"),
             sum(col("x").cast(D38)).as("sx"),
             sum(col("y").cast(D38)).as("sy"),
             sum((col("x") * col("y")).cast(D38)).as("sxy"),
             sum((col("x") * col("x")).cast(D38)).as("sxx"))
        .select(col("event_type"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
                  / den / 100.0, 6).as("slope"),
          round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
                  / den / 100.0, 6).as("intercept"))
        .orderBy("event_type")
    }, _ =>
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    CAST(round(value * 100, 0) AS BIGINT) AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx,
        |    CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(x * x) AS HUGEINT) AS sxx
        |  FROM t GROUP BY event_type)
        |SELECT event_type,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE)
        |          / CAST(n*sxx - sx*sx AS DOUBLE) / 100.0, 6) AS slope,
        |  round(CAST(sy*sxx - sx*sxy AS DOUBLE)
        |          / CAST(n*sxx - sx*sx AS DOUBLE) / 100.0, 6) AS intercept
        |FROM a ORDER BY event_type""".stripMargin),

    // ---- Z-order (Morton) spatial clustering key ----
    // The layout trick behind spatial pruning at 100 TB: interleave
    // the lat/lon grid indices (native `interleave_bits`) so sorting/
    // bucketing by the z-value makes 2-D-close cells file-contiguous
    // — a lat/lon box then prunes most z-ranges (the scale path for
    // the reference's nearby-cache lookup, P7/O4). The carrier
    // computes z per event cell, its coarse bucket (z >> 6), and
    // per-bucket extents — the stats a writer would use to lay files
    // out; the z math itself is the oracle-checked part.
    Query("q71_zorder_cells", (s, dir) => {
      val lat = lit(10.0) + (col("value") % lit(45.0))
      val lon = lit(-85.0) + (col("value") % lit(15.0))
      Tables.events(s, dir)
        .select(col("event_id"),
          call_function("interleave_bits",
            Grid.latIdxCol(lat), Grid.lonIdxCol(lon)).as("z"))
        .groupBy(shiftright(col("z"), 6).as("z_bucket"))
        .agg(count(lit(1)).as("n_cells"),
             min("z").as("z_min"), max("z").as("z_max"),
             min("event_id").as("first_event"))
        .orderBy("z_bucket")
    }, _ =>
      """WITH g AS (
        |  SELECT event_id,
        |    least(greatest(10.0 + fmod(value, 45.0), 10.0), 55.0) AS clat,
        |    least(greatest(-85.0 + fmod(value, 15.0), -85.0), -70.0) AS clon
        |  FROM events),
        |i AS (
        |  SELECT event_id,
        |    CAST(least(greatest(floor((55.0 - clat) / 0.25 + 0.5), 0.0), 90.0) AS BIGINT) AS lat_idx,
        |    CAST(least(greatest(floor((clon - (-85.0)) / 0.25 + 0.5), 0.0), 60.0) AS BIGINT) AS lon_idx
        |  FROM g),
        |z AS (
        |  SELECT event_id,
        |    CAST(list_sum(list_transform(range(0, 8),
        |      b -> (((lat_idx >> b) & 1) << (2*b))
        |         + (((lon_idx >> b) & 1) << (2*b + 1)))) AS BIGINT) AS z
        |  FROM i)
        |SELECT CAST(z >> 6 AS BIGINT) AS z_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  MIN(z) AS z_min, MAX(z) AS z_max,
        |  MIN(event_id) AS first_event
        |FROM z GROUP BY z_bucket
        |ORDER BY z_bucket""".stripMargin)
  )

  /** Committed dirty sea_surface fixture exercising every clean-stage
    * edge: double header, mixed ISO offsets, coerce failures, partial
    * and total key-var nulls, out-of-range measures, unsorted rows.
    * Resolved against the working directory — the project root for
    * `sbt run`/`Test` and `tools/verify.sh` — so the queries and their
    * DuckDB oracles read the fixture of the checkout they run from. */
  private def rawFixtureCsv: String =
    java.nio.file.Paths.get("data/fixtures/sea_surface_raw.csv").toAbsolutePath.toString

  /** q28/q29's input; a missing fixture fails the query naming the path. */
  private def readRawFixture(s: SparkSession): DataFrame = {
    val path = rawFixtureCsv
    require(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(path)),
      s"raw sea_surface fixture not found at $path; run from the project root")
    s.read.option("header", "true").csv(path)
  }
}
