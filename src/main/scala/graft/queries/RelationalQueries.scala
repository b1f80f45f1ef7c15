package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables
import graft.ops.{AsOf, RangeJoin}
import graft.queries.Parity.{cents, dsum, davg, S_DSUM, S_DAVG}

/** Relational core over the TPC-style and events tables: scans, filters,
  * aggregation, semi/anti/star joins, as-of/range/interval joins, the
  * salted and aggregate-through-join plans, grouping sets, set
  * operations, and ranking/running/time windows. */
object RelationalQueries {

  val all: Seq[Query] = Seq(

    // ---- relational core: scans, filters, aggregation (A1-A4) ----
    Query("q01_pricing_summary", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p100 = round(col("l_extendedprice") * 100, 0).cast("long")
      val d100 = round(col("l_discount") * 100, 0).cast("long")
      val t100 = round(col("l_tax") * 100, 0).cast("long")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          (sum(p100 * (lit(100L) - d100)).cast("double") / 10000.0).as("sum_disc_price"),
          (sum(p100 * (lit(100L) - d100) * (lit(100L) + t100)).cast("double") / 1000000.0).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, _ =>
      s"""SELECT l_returnflag, l_linestatus,
         |  ${S_DSUM("l_quantity")} AS sum_qty,
         |  ${S_DSUM("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT) * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
         |  CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT) * (100 - CAST(round(l_discount*100,0) AS BIGINT)) * (100 + CAST(round(l_tax*100,0) AS BIGINT))) AS DOUBLE) / 1000000.0 AS sum_charge,
         |  ${S_DAVG("l_quantity")} AS avg_qty,
         |  ${S_DAVG("l_extendedprice")} AS avg_price,
         |  ${S_DAVG("l_discount")} AS avg_disc,
         |  CAST(COUNT(*) AS BIGINT) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- P2/P4-style predicate + projection (parquet pushdown) ----
    Query("q02_filter_project", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
                col("l_quantity") < 10.0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }, _ =>
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_quantity < 10.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- broadcast dimension join ----
    Query("q03_join_segment", (s, dir) => {
      Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
              col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
             dsum(col("o_totalprice")).as("revenue"),
             davg(col("o_totalprice")).as("avg_order"))
        .orderBy("c_mktsegment")
    }, _ =>
      s"""SELECT c_mktsegment,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  ${S_DSUM("o_totalprice")} AS revenue,
         |  ${S_DAVG("o_totalprice")} AS avg_order
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin),

    // ---- 5-table star join, broadcast dims, shuffled fact joins ----
    Query("q04_star_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o  = Tables.orders(s, dir)
      val c  = Tables.customer(s, dir)
      val n  = Tables.nation(s, dir)
      val r  = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg((sum(round(col("l_extendedprice") * 100, 0).cast("long") *
                  (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
                .cast("double") / 10000.0).as("revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy("r_name", "n_name")
    }, _ =>
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT) * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    // ---- semi join (EXISTS) ----
    Query("q05_semi_join", (s, dir) => {
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir).filter(col("l_discount") > 0.05),
              col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }, _ =>
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // ---- anti join (NOT EXISTS) ----
    Query("q06_anti_join", (s, dir) => {
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"),
              "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }, _ =>
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    // ---- top-k (TakeOrderedAndProject) ----
    Query("q07_topk_orders", (s, dir) => {
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
    }, _ =>
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin),

    // ---- window: ranking ----
    // Same single-exchange shape as q09: RangePartitioning(o_custkey)
    // serves the window's clustering AND prefix-satisfies the output's
    // ORDER BY (o_custkey, rn), so only a cheap post-filter local sort
    // remains — the naive plan re-shuffles the whole table for the
    // final ordering.
    Query("q08_window_rank", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .repartitionByRange(col("o_custkey"))
        .sortWithinPartitions(col("o_custkey"), desc("o_totalprice"), asc("o_orderkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }, _ =>
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin),

    // ---- window: running aggregate (exact decimal accumulation) ----
    // The output contract is ORDER BY (l_orderkey, l_linenumber) over
    // ALL rows, and the window partitions by l_orderkey — so ONE range
    // exchange serves both: RangePartitioning(l_orderkey) satisfies the
    // window's ClusteredDistribution, and its ordered partitions make
    // the final global sort a no-exchange no-op (the within-partition
    // sort below is exactly the window's required sort order). The
    // naive form pays hash-exchange + sort for the window PLUS a
    // range-exchange + sort for the output — two full-data shuffles of
    // the fact table instead of one, at any scale.
    Query("q09_window_running", (s, dir) => {
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), cents(col("l_quantity")).as("qc"))
        .repartitionByRange(col("l_orderkey"))
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .select(col("l_orderkey"), col("l_linenumber"),
                (sum(col("qc")).over(w).cast("double") / 100.0).as("running_qty"))
        .orderBy("l_orderkey", "l_linenumber")
    }, _ =>
      """SELECT l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) OVER (
        |    PARTITION BY l_orderkey ORDER BY l_linenumber
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
        |    AS running_qty
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- exact distinct aggregation ----
    Query("q10_distinct_agg", (s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
             count(lit(1)).as("n_orders"),
             dsum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderstatus")
    }, _ =>
      s"""SELECT o_orderstatus,
         |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  ${S_DSUM("o_totalprice")} AS revenue
         |FROM orders
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin),

    // ---- grouping sets (ROLLUP) ----
    Query("q11_rollup", (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
                col("sum_qty"), col("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }, _ =>
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
         |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
         |  ${S_DSUM("l_quantity")} AS sum_qty,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY 1, 2""".stripMargin),

    // ---- set operations ----
    Query("q12_intersect", (s, dir) => {
      val o = Tables.orders(s, dir)
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      val y97 = o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
      y96.intersect(y97).orderBy("o_custkey")
    }, _ =>
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY o_custkey""".stripMargin),

    Query("q13_except", (s, dir) => {
      val o = Tables.orders(s, dir)
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      val y97 = o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
      y96.except(y97).orderBy("o_custkey")
    }, _ =>
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY o_custkey""".stripMargin),

    // ---- tumbling time window (batch analog of streaming agg) ----
    Query("q16_tumbling_window", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("hour").cast("timestamp_ntz").as("hour"),
                col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour", "event_type")
    }, _ =>
      s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
         |  event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${S_DSUM("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin),

    // ---- sliding window (1h window, 30m slide) ----
    Query("q17_sliding_window", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").cast("timestamp_ntz").as("ws"),
                col("n"), col("sum_value"))
        .orderBy("ws")
    }, _ =>
      s"""WITH e AS (
         |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS b, value
         |  FROM events),
         |w AS (
         |  SELECT b AS ws, value FROM e
         |  UNION ALL
         |  SELECT b - INTERVAL '30 minutes' AS ws, value FROM e)
         |SELECT ws, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${S_DSUM("value")} AS sum_value
         |FROM w
         |GROUP BY ws
         |ORDER BY ws""".stripMargin),

    // ---- session windows (30m gap) per user ----
    // Batch-native lag→cumsum sessionize (see sessionizeLag): round-15
    // A/B vs the `session_window` form (BASELINE.md, Round 15, "q18
    // sessionize A/B") — parity at sf0.1 (sw 0.69 vs lag 0.76 min, floor
    // noise both ways), lag ahead at sf1 (1.53 vs 1.64), and
    // DECISIVE at sf10: lag 5.7/6.8 s stable vs sw 8.2/8.4 s mins
    // with 16–36 s spill-prone reps — `session_window`'s
    // Updating/MergingSessions execs degrade under memory pressure
    // exactly where the 100 TB grade is decided. The STREAMING
    // sessionize is EventStreams.sessionizeStateful (explicit state).
    Query("q18_sessionize", (s, dir) => sessionizeLag(s, dir), _ =>
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |y AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS brk
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM y)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM z
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // ---- as-of join: each click matched to the user's latest prior purchase ----
    // Spark has no built-in; ops/AsOf implements the one-shuffle
    // union+window formulation. Oracle: DuckDB's native ASOF JOIN.
    Query("q40_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsOf.asofJoin(clicks, purchases,
                    keyCol = "user_id", tsCol = "ts", tieBreakCol = "event_id")
        .select(
          col("event_id"), col("user_id"), col("ts"),
          col("r_event_id").as("purchase_id"),
          col("r_ts").as("purchase_ts"),
          round(col("r_value"), 6).as("purchase_value"),
          expr("(unix_micros(ts) - unix_micros(r_ts)) div 1000000").as("gap_s"))
        .orderBy("event_id")
    }, _ =>
      """WITH c AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts,
        |  p.event_id AS purchase_id, p.ts AS purchase_ts,
        |  round(p.value, 6) AS purchase_value,
        |  CAST((epoch_us(c.ts) - epoch_us(p.ts)) // 1000000 AS BIGINT) AS gap_s
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin),

    // ---- range join: clicks within ±30 min of each error event ----
    // Bucketized to an equi-join (ops/RangeJoin) — the naive
    // inequality join planes to a nested-loop product. Aggregated per
    // error event so the output stays stable as density grows.
    Query("q41_range_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"))
      RangeJoin.byTime(errors, clicks, "ts", radiusSec = 1800)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_nearby"),
             min(col("r_event_id")).as("first_click"),
             max(col("r_event_id")).as("last_click"))
        .orderBy("event_id")
    }, _ =>
      """WITH e AS (
        |  SELECT event_id, ts FROM events WHERE event_type = 'error'),
        |c AS (
        |  SELECT event_id, ts FROM events WHERE event_type = 'click')
        |SELECT e.event_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_nearby,
        |  MIN(c.event_id) AS first_click,
        |  MAX(c.event_id) AS last_click
        |FROM e JOIN c
        |  ON abs(epoch_us(e.ts) - epoch_us(c.ts)) <= 1800 * 1000000
        |GROUP BY e.event_id
        |ORDER BY e.event_id""".stripMargin),

    // ---- CUBE grouping sets ----
    Query("q43_cube", (s, dir) => {
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_last("l_returnflag"), asc_nulls_last("l_linestatus"))
    }, _ =>
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ${S_DSUM("l_quantity")} AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin),

    // ---- pivot (conditional-aggregation family) ----
    Query("q44_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("day")
    }, _ =>
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events
        |GROUP BY 1
        |ORDER BY day""".stripMargin),

    // ---- event-transition counts (lead/lag window family) ----
    // The session-flow matrix: each user's consecutive event pairs,
    // counted per (from, to). lead() over the per-user time order —
    // the remaining window surface (rank q08, running q09, lead here);
    // shuffle is keyed by user, the transition matrix is tiny.
    Query("q54_transitions", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }, _ =>
      """WITH t AS (
        |  SELECT event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type AS from_type, next_type AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM t WHERE next_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY from_type, to_type""".stripMargin),

    // ---- salted skew join ≡ plain join (the equivalence IS the test) ----
    // The salted plan spreads each key over 8 sub-keys
    // (deterministic hash salt on the big side, explode-replication on
    // the small side); the oracle runs the PLAIN join — identical
    // results prove salting changes the distribution, not the answer.
    Query("q56_salted_join", (s, dir) => {
      val large = Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
      val small = Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      ops.Skew.saltedJoin(large, small, "custkey",
          saltSource = "o_orderkey", saltBuckets = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
    },
    // the PLAIN join: identical output proves the salted plan is a
    // pure distribution change
    _ =>
      s"""SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  ${S_DSUM("o_totalprice")} AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    // ---- interval join (batch twin of the stream-stream join) ----
    // EventStreams.clickPurchaseJoin run on the bounded frame: each
    // click matched to the same user's purchases within the following
    // hour. The SAME transform drives readStream (StreamingSpec); this
    // carrier pins its join semantics against the SQL interval join.
    Query("q58_interval_join", (s, dir) => {
      streaming.EventStreams.clickPurchaseJoin(Tables.events(s, dir))
        .withColumn("purchase_value", round(col("purchase_value"), 6))
        .orderBy("user_id", "click_id", "purchase_id")
    }, _ =>
      """WITH c AS (
        |  SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, c.click_ts,
        |  p.purchase_id, p.purchase_ts, round(p.value, 6) AS purchase_value
        |FROM c JOIN p
        |  ON c.user_id = p.user_id
        | AND p.purchase_ts >= c.click_ts
        | AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin),

    // ---- time-range window frame: 7-day moving average ----
    // The RANGE-frame window surface (q09 is ROWS-framed): per-type
    // daily event counts smoothed over the trailing 7 days. The order
    // key is integer days-since-epoch so the frame arithmetic is
    // identical on both engines; avg is spelled sum/count (exact
    // integer sums, one double division).
    Query("q63_moving_avg", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
      val w = Window.partitionBy("event_type").orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
      daily
        .select(col("event_type"), col("day"), col("n"),
          (sum("n").over(w).cast("double") / count(lit(1)).over(w)).as("avg_7d"))
        .orderBy("event_type", "day")
    }, _ =>
      """WITH d AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
        |  FROM events
        |  GROUP BY event_type, date_trunc('day', ts),
        |           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |SELECT event_type, day, n,
        |  CAST(SUM(n) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_7d
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin),

    // ---- aggregate-through-join: q56's PRODUCTION plan, oracled ----
    // The same answer as q56 over the same tables, computed the way a
    // 100 TB job should (Skew.aggThroughJoin): orders pre-aggregated
    // by custkey BEFORE the join — 6M facts collapse to one partial
    // (count, cents-sum) per customer, the join moves one row per key
    // instead of one per order (~13× less), and key skew never forms
    // because a hot customer's orders combine in the map-side partial
    // aggregate. q56 stays the salting≡plain equivalence carrier; this
    // carrier oracles the plan production code should actually run.
    // Plan pin (partial Aggregate BELOW the join) in ScaleOpsSpec;
    // salted/plain/pre-agg A/B in BASELINE.md, Round 20, "q56
    // production plan A/B".
    Query("q100_agg_through_join", (s, dir) => {
      val large = Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val small = Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      ops.Skew.aggThroughJoin(large, small, "custkey",
          partialAggs = Seq(count(lit(1)).as("pn"),
                            sum(cents(col("o_totalprice"))).as("ps")),
          groupCols = Seq("c_mktsegment"),
          finalAggs = Seq(sum(col("pn")).as("n_orders"),
                          (sum(col("ps")).cast("double") / 100.0).as("revenue")))
        .orderBy("c_mktsegment")
    },
    // q100: the same plain join the q56 oracle runs — identical output
    // proves the aggregate-through-join decomposition exact
    _ =>
      s"""SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  ${S_DSUM("o_totalprice")} AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  )

  /** The q18 batch sessionize (accepted over `session_window` on the
    * round-15 A/B — BASELINE.md, Round 15, "q18 sessionize A/B"):
    * break when the gap to the previous event is >= 30 min (lag),
    * session id = running break count (cumsum), then one aggregation.
    * Plan shape: ONE user_id exchange serves both window passes AND
    * the (user_id, sid)
    * aggregation (hash-partitioning on a PREFIX of the grouping keys
    * satisfies ClusteredDistribution, so no re-shuffle), where
    * `session_window` plans UpdatingSessions/MergingSessions execs —
    * parity at sf0.1/sf1, but at sf10 those execs spill (8.2 s mins,
    * 16–36 s reps) while this stays flat at ~6 s. Tie rows (equal ts)
    * are gap-0 — session assignment is order-independent, so the
    * result is deterministic. */
  private def sessionizeLag(s: SparkSession, dir: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val prev = lag(col("ts"), 1).over(byUser)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"))
      .withColumn("brk",
        when(prev.isNull ||
             unix_micros(col("ts")) - unix_micros(prev) >= lit(1800L * 1000000L),
             1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"))
      .select(col("user_id"),
              col("session_start").cast("timestamp_ntz").as("session_start"),
              col("session_end").cast("timestamp_ntz").as("session_end"),
              col("n_events"))
      .orderBy("user_id", "session_start")
  }
}
