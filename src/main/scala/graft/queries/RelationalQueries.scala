package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._

/** The reference's relational operator surface (SURVEY.md §2) re-expressed
  * over the driver testdata tables.
  *
  * Each query mirrors the shape of one of the reference's analytical
  * queries Qa–Qh (/root/reference/sql/analysis_queries.sql:5-91) or one of
  * its ETL dataflow operators, built Spark-first: declarative DataFrame
  * plans that Catalyst optimizes (filter pushdown into the parquet scan,
  * column pruning, broadcast joins for dimension tables, partial/final
  * hash aggregation, whole-stage codegen).
  *
  * Determinism contract with the DuckDB oracle (driver gate):
  *  - double SUMs go through decimal(18,2) and back to double, so the
  *    result is independent of partitioning/accumulation order;
  *  - AVGs are only over exact integer counts (sum/count both exact);
  *  - integer sums are cast to bigint on the oracle side (DuckDB widens
  *    to HUGEINT, which pandas would lossily coerce);
  *  - queries are ANSI-mode safe (Spark 4 runs with ansi=true).
  */
object RelationalQueries {

  private val weekdays = Seq(
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")

  /** Order-insensitive exact sum of a double column: decimal in, double out. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  // --- Qa analog: COUNT(*) grouped by (month, category), ordered (A1, O1, C5) ---
  // ref: sql/analysis_queries.sql:6-12 (tickets per month x agency)
  def qaCountByMonthPriority(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupBy(
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("orders_count"))
      .orderBy(col("order_month"), col("o_orderpriority"))

  val qaOracle: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_orderpriority,
      |       count(*) AS orders_count
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- Qb analog: global COUNT after a date filter (F2, A2) ---
  // ref: sql/analysis_queries.sql:15-18
  def qbFilterCount(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .agg(count(lit(1)).as("cnt"))

  val qbOracle: String =
    "SELECT count(*) AS cnt FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'"

  // --- Qc analog: two-level aggregation + custom weekday order (A3, C2, C3, C15/O3) ---
  // ref: sql/analysis_queries.sql:21-35 (avg daily tickets per weekday,
  // FIELD order). Uses the native FieldExpr (graft.functions) — the
  // codegen'd MySQL FIELD(); with every weekday present it agrees with
  // DuckDB's list_position.
  def qcWeekdayAvg(spark: SparkSession, dir: String): DataFrame = {
    val daily = orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("order_day"))
      .agg(count(lit(1)).as("daily_orders"))
    daily
      .groupBy(date_format(col("order_day"), "EEEE").as("weekday"))
      .agg(avg(col("daily_orders")).as("avg_daily_orders"))
      .withColumn("weekday_num",
        graft.functions.FieldExpr.field(col("weekday"), weekdays: _*))
      .orderBy(col("weekday_num"))
  }

  val qcOracle: String =
    """SELECT dayname(order_day) AS weekday,
      |       avg(daily_orders) AS avg_daily_orders,
      |       CAST(list_position(['Monday','Tuesday','Wednesday','Thursday','Friday','Saturday','Sunday'],
      |                          dayname(order_day)) AS BIGINT) AS weekday_num
      |FROM (SELECT CAST(o_orderdate AS DATE) AS order_day, count(*) AS daily_orders
      |      FROM orders GROUP BY 1)
      |GROUP BY dayname(order_day) ORDER BY weekday_num""".stripMargin

  // --- Qd analog: inner equi-join to a small dimension + filter + count (J1, F4, A2) ---
  // ref: sql/analysis_queries.sql:38-43 (violations on rainy days). customer is the
  // dimension side -> explicitly broadcast, like weather_daily in the reference.
  def qdJoinFilterCount(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    orders(spark, dir)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "inner")
      .agg(count(lit(1)).as("building_orders"))
  }

  val qdOracle: String =
    """SELECT count(*) AS building_orders
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin

  // --- Qe analog: SUM per derived month, rounded (A5, C5, C8) ---
  // ref: sql/analysis_queries.sql:46-51 (monthly precip totals)
  def qeSumByMonth(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(round(dsum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("order_month"))

  val qeOracle: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Qf analog: LIKE / NOT LIKE filter + SUM per month (F3, C16, A6) ---
  // ref: sql/analysis_queries.sql:55-63 (fines for >10mph-over violations)
  def qfLikeSum(spark: SparkSession, dir: String): DataFrame = {
    val parts = part(spark, dir)
      .filter(col("p_name").like("%o%")
        && !col("p_name").like("%bolt%")
        && !col("p_name").like("%hot%"))
    lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"), "inner")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(round(dsum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("ship_month"))
  }

  val qfOracle: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_name LIKE '%o%' AND p.p_name NOT LIKE '%bolt%' AND p.p_name NOT LIKE '%hot%'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Qg analog: two-level aggregation on hour-of-day (A4, C2, C4) ---
  // ref: sql/analysis_queries.sql:68-80 (avg tickets per hour)
  def qgHourlyAvg(spark: SparkSession, dir: String): DataFrame = {
    val perDayHour = events(spark, dir)
      .groupBy(to_date(col("ts")).as("event_day"), hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("hourly_events"))
    perDayHour
      .groupBy(col("hour_of_day"))
      .agg(avg(col("hourly_events")).as("avg_hourly_events"))
      .orderBy(col("hour_of_day"))
  }

  val qgOracle: String =
    """SELECT hour_of_day, avg(hourly_events) AS avg_hourly_events
      |FROM (SELECT CAST(ts AS DATE) AS event_day, CAST(hour(ts) AS INT) AS hour_of_day,
      |             count(*) AS hourly_events
      |      FROM events GROUP BY 1, 2)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Qh analog: join + conditional aggregation with NULL-aware complement (J2, A7, C14, F5) ---
  // ref: sql/analysis_queries.sql:83-91 (accidents vs non-accidents by rain flag)
  def qhConditionalAgg(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("finished_orders"),
        sum(when(col("o_orderstatus").isNull || col("o_orderstatus") =!= "F", 1).otherwise(0))
          .as("other_orders"))
      .orderBy(col("c_mktsegment"))

  val qhOracle: String =
    """SELECT c_mktsegment,
      |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished_orders,
      |       CAST(sum(CASE WHEN o_orderstatus IS NULL OR o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS other_orders
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- P1/P2/C11/C17: projection + rename + null-only coalesce + cast ---
  // ref: etl/daily_load/violation_etl_daily.py:227-278 (transform_row),
  //      etl/full_load/violation_etl_history.py:108-119 (field coalesce)
  def qProjCoalesce(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir)
      .select(
        col("p_partkey").cast(StringType).as("part_id"),
        col("p_name").as("part_name"),
        coalesce(nullif(col("p_brand"), lit("Brand#2")), lit("other")).as("brand_or_other"),
        col("p_retailprice").as("retail_price"))
      .orderBy(col("part_id"))

  val qProjCoalesceOracle: String =
    """SELECT CAST(p_partkey AS VARCHAR) AS part_id, p_name AS part_name,
      |       coalesce(nullif(p_brand, 'Brand#2'), 'other') AS brand_or_other,
      |       p_retailprice AS retail_price
      |FROM part ORDER BY 1""".stripMargin

  // --- P3: non-empty-key filter ---
  // ref: etl/full_load/violation_etl_history.py:124
  def qFilterNonempty(spark: SparkSession, dir: String): DataFrame =
    supplier(spark, dir)
      .filter(length(trim(col("s_name"))) > 0)
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))

  val qFilterNonemptyOracle: String =
    "SELECT s_suppkey, s_name FROM supplier WHERE length(trim(s_name)) > 0 ORDER BY 1"

  // --- O1/O2: multi-column sort over a join ---
  // ref: sql/analysis_queries.sql:12 (ORDER BY month, agency)
  def qSortMulti(spark: SparkSession, dir: String): DataFrame =
    nation(spark, dir)
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .orderBy(col("region_name"), col("nation_name"))

  val qSortMultiOracle: String =
    """SELECT r_name AS region_name, n_name AS nation_name
      |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      |ORDER BY 1, 2""".stripMargin

  // --- A8/S6: MAX watermark probe + row count ---
  // ref: etl/daily_load/violation_etl_daily.py:120-146; DEPLOYMENT.md:231-241
  def qMaxWatermark(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir).agg(
      max(col("o_orderdate")).as("max_order_date"),
      count(lit(1)).as("total_orders"))

  val qMaxWatermarkOracle: String =
    "SELECT max(o_orderdate) AS max_order_date, count(*) AS total_orders FROM orders"

  // --- §2.7: union of month slices (the full load's month-loop as one plan) ---
  // ref: etl/full_load/violation_etl_history.py:160-167
  def qUnionMonths(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).withColumn("order_month",
      date_format(col("o_orderdate"), "yyyy-MM"))
    val jan = o.filter(col("order_month") === "1995-01")
    val feb = o.filter(col("order_month") === "1995-02")
    jan.unionByName(feb)
      .groupBy(col("order_month"))
      .agg(count(lit(1)).as("orders_count"))
      .orderBy(col("order_month"))
  }

  val qUnionMonthsOracle: String =
    """SELECT order_month, count(*) AS orders_count FROM (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS order_month FROM orders
      |  WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'
      |  UNION ALL
      |  SELECT strftime(o_orderdate, '%Y-%m') AS order_month FROM orders
      |  WHERE strftime(o_orderdate, '%Y-%m') = '1995-02'
      |) GROUP BY 1 ORDER BY 1""".stripMargin

  // --- S7: upsert (ON DUPLICATE KEY UPDATE) as dedup-keep-last merge ---
  // ref: etl/full_load/violation_etl_history.py:127-154 (last-writer-wins upsert).
  // base and updates overlap on keys 3..4 (mod 10); the update wins.
  def qUpsertMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val base = o.filter(col("o_orderkey") % 10 < 5).withColumn("version", lit(0))
    val updates = o.filter(col("o_orderkey") % 10 >= 3 && col("o_orderkey") % 10 < 8)
      .withColumn("o_totalprice", round(col("o_totalprice") + 1000.0, 2))
      .withColumn("version", lit(1))
    val merged = base.unionByName(updates)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderkey")).orderBy(col("version").desc)))
      .filter(col("rn") === 1)
      .drop("rn")
    merged.agg(
      count(lit(1)).as("merged_rows"),
      sum(col("version")).cast(LongType).as("updated_rows"),
      round(dsum(col("o_totalprice")), 2).as("total_price"))
  }

  val qUpsertMergeOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_totalprice, 0 AS version FROM orders WHERE o_orderkey % 10 < 5
      |), updates AS (
      |  SELECT o_orderkey, round(o_totalprice + 1000.0, 2) AS o_totalprice, 1 AS version
      |  FROM orders WHERE o_orderkey % 10 >= 3 AND o_orderkey % 10 < 8
      |), merged AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
      |    FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
      |  ) WHERE rn = 1
      |)
      |SELECT count(*) AS merged_rows, CAST(sum(version) AS BIGINT) AS updated_rows,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
      |FROM merged""".stripMargin

  // --- S8: insert-ignore (first-writer-wins) as left-anti join + append ---
  // ref: etl/daily_load/violation_etl_daily.py:281-311
  def qInsertIgnore(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val existing = o.filter(col("o_orderkey") % 10 < 5)
    val incoming = o.filter(col("o_orderkey") % 10 >= 3)
      .withColumn("o_totalprice", round(col("o_totalprice") + 5000.0, 2))
    val appended = incoming.join(existing.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
    existing.unionByName(appended)
      .agg(
        count(lit(1)).as("final_rows"),
        round(dsum(col("o_totalprice")), 2).as("total_price"))
  }

  val qInsertIgnoreOracle: String =
    """WITH existing AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 < 5
      |), incoming AS (
      |  SELECT o_orderkey, round(o_totalprice + 5000.0, 2) AS o_totalprice
      |  FROM orders WHERE o_orderkey % 10 >= 3
      |), final_t AS (
      |  SELECT * FROM existing
      |  UNION ALL
      |  SELECT * FROM incoming i WHERE NOT EXISTS (
      |    SELECT 1 FROM existing e WHERE e.o_orderkey = i.o_orderkey)
      |)
      |SELECT count(*) AS final_rows,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
      |FROM final_t""".stripMargin

  // --- ST1-ST3/C7: watermark incremental date range [max+1d, today-1d] ---
  // ref: etl/daily_load/violation_etl_daily.py:120-146 ("today" pinned for determinism)
  def qIncrementalRange(spark: SparkSession, dir: String): DataFrame = {
    val wm = orders(spark, dir)
      .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")))
      .agg(max(to_date(col("o_orderdate"))).as("wm"))
    wm.select(explode(sequence(
        date_add(col("wm"), 1),
        lit(java.sql.Date.valueOf("1999-01-14")),
        expr("interval 1 day"))).as("d"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("load_date"))
      .orderBy(col("load_date"))
  }

  val qIncrementalRangeOracle: String =
    """SELECT strftime(CAST(unnest(generate_series(wm + INTERVAL 1 DAY,
      |                                            TIMESTAMP '1999-01-14 00:00:00',
      |                                            INTERVAL 1 DAY)) AS DATE), '%Y-%m-%d') AS load_date
      |FROM (SELECT CAST(max(o_orderdate) AS DATE) AS wm FROM orders
      |      WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
      |ORDER BY 1""".stripMargin

  // --- §2.5: window functions as first-class operators ---
  // The reference's closest analogs are the two-level aggregations and the
  // sink-side keep-last dedup; these expose the window machinery directly:
  // running aggregates and ranked rows per partition key.
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(spark, dir)
      .filter(col("o_custkey") % 100 === 0)
      .select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("order_seq"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("running_total"))
      .orderBy(col("o_custkey"), col("order_seq"))
  }

  val qWindowRunningOracle: String =
    """SELECT o_custkey, o_orderkey,
      |       CAST(row_number() OVER w AS INT) AS order_seq,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         AS running_total
      |FROM orders WHERE o_custkey % 100 = 0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin

  /** Gap-based sessionization over the events stream via lag + running
    * sum — the batch-window formulation of session assignment (30-minute
    * inactivity gap), the exact semantics a stateful streaming session
    * operator maintains incrementally.
    */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull
          || unix_millis(col("ts")) - col("prev_ms") > 1800000L, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val qSessionizeOracle: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, ts,
      |         CAST(sum(new_session) OVER
      |              (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS session_id
      |  FROM marked
      |)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
      |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-group top-k via the typed Aggregator (graft.ops.TopK): the
    * buffer carries only k elements per key through the shuffle, unlike
    * the window-function formulation which sorts whole groups. The oracle
    * is that window formulation — both must agree exactly (values pass
    * through unchanged; ties broken by id).
    */
  def qTopkPerGroup(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TopK.topKPerGroup(
      orders(spark, dir), "o_orderpriority", "o_totalprice", "o_orderkey", k = 3)
      .orderBy(col("o_orderpriority"), col("rank"))

  val qTopkPerGroupOracle: String =
    """SELECT o_orderpriority,
      |       CAST(row_number() OVER w AS INT) AS rank,
      |       o_orderkey, o_totalprice
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
      |QUALIFY rank <= 3
      |ORDER BY o_orderpriority, rank""".stripMargin

  // --- distinct aggregation (beyond the reference's surface: SURVEY §2.4
  // notes no DISTINCT anywhere; pipelines need it constantly) ---
  def qDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("distinct_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  val qDistinctUsersOracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS distinct_users,
      |       count(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --- exact percentiles per group (the latency/size-distribution op) ---
  // Spark's `percentile` and DuckDB's `quantile_cont` share the same
  // definition (sort, index = p*(n-1), linear interpolation), so EXACT
  // percentiles hash-match across engines — unlike the t-digest/HLL
  // family, which is engine-specific by construction. At 100 TB exact
  // percentiles are a real single-shuffle op: one hash partial per group
  // collects values, and group count here is tiny (event types). For
  // billion-row groups you'd swap in approx_percentile and drop the
  // cross-engine hash gate — that tradeoff is the documented line.
  def qQuantiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        round(min(col("value")), 4).as("vmin"),
        round(max(col("value")), 4).as("vmax"))
      .orderBy(col("event_type"))

  val qQuantilesOracle: String =
    """SELECT event_type,
      |       round(quantile_cont(value, 0.5), 4) AS p50,
      |       round(quantile_cont(value, 0.9), 4) AS p90,
      |       round(quantile_cont(value, 0.99), 4) AS p99,
      |       round(min(value), 4) AS vmin,
      |       round(max(value), 4) AS vmax
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --- ROLLUP: multi-level totals in one pass (month, priority hierarchy) ---
  def qRollupCounts(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .rollup(col("order_month"), col("o_orderpriority"))
      .agg(count(lit(1)).as("orders_count"))
      .orderBy(col("order_month").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val qRollupCountsOracle: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_orderpriority,
      |       count(*) AS orders_count
      |FROM orders
      |GROUP BY ROLLUP (strftime(o_orderdate, '%Y-%m'), o_orderpriority)
      |ORDER BY 1 ASC NULLS FIRST, 2 ASC NULLS FIRST""".stripMargin

  // --- GROUPING SETS: the general form completing ROLLUP/CUBE ---
  // Independent (lang), (source), and grand-total aggregates in ONE
  // pass over documents — at 100 TB that's one scan + one expanded
  // aggregation instead of three scans union-ed. Explicit per-column
  // grouping flags (not grouping_id) keep the row-identity encoding
  // engine-portable.
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")), Seq.empty),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_sum"),
        grouping(col("lang")).cast("long").as("g_lang"),
        grouping(col("source")).cast("long").as("g_source"))
      .orderBy(col("g_lang"), col("g_source"),
        col("lang").asc_nulls_first, col("source").asc_nulls_first)

  val qGroupingSetsOracle: String =
    """SELECT lang, source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |       CAST(GROUPING(lang) AS BIGINT) AS g_lang,
      |       CAST(GROUPING(source) AS BIGINT) AS g_source
      |FROM documents
      |GROUP BY GROUPING SETS ((lang), (source), ())
      |ORDER BY g_lang, g_source, lang NULLS FIRST, source NULLS FIRST""".stripMargin

  // --- INTERSECT / EXCEPT: the set-operation surface beyond UNION ---
  // Which (lang, source) combinations appear in both corpus slices, and
  // which only in the first. Both are distinct-set semantics (one
  // shuffle on the full grouping key each); slices are deterministic
  // doc_id residue classes.
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    val a = d.filter(col("doc_id") % 3 === 0).select(col("lang"), col("source"))
    val b = d.filter(col("doc_id") % 5 === 0).select(col("lang"), col("source"))
    a.intersect(b).select(lit("intersect").as("op"), col("lang"), col("source"))
      .unionAll(
        a.except(b).select(lit("except").as("op"), col("lang"), col("source")))
      .orderBy(col("op"), col("lang"), col("source"))
  }

  val qSetOpsOracle: String =
    """WITH a AS (SELECT lang, source FROM documents WHERE doc_id % 3 = 0),
      |b AS (SELECT lang, source FROM documents WHERE doc_id % 5 = 0),
      |i AS (SELECT lang, source FROM a INTERSECT SELECT lang, source FROM b),
      |e AS (SELECT lang, source FROM a EXCEPT SELECT lang, source FROM b)
      |SELECT 'intersect' AS op, lang, source FROM i
      |UNION ALL
      |SELECT 'except', lang, source FROM e
      |ORDER BY op, lang, source""".stripMargin

  // --- UNPIVOT (melt): wide-to-long reshaping ---
  // The inverse of q_pivot_lang: a wide per-source language-count matrix
  // melted back to (source, lang, n) rows with the Spark 4 unpivot API.
  // The wide frame is an aggregate (|sources| rows), so the reshape is
  // plan-side trivial — the point is API surface parity with SQL UNPIVOT.
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val agged = documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        sum(when(col("lang") === "de", 1L).otherwise(0L)).as("de"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("en"),
        sum(when(col("lang") === "es", 1L).otherwise(0L)).as("es"),
        sum(when(col("lang") === "fr", 1L).otherwise(0L)).as("fr"),
        sum(when(col("lang") === "zh", 1L).otherwise(0L)).as("zh"))
    agged.unpivot(
        Array(col("source")),
        langs.map(col).toArray,
        "lang", "n")
      .orderBy(col("source"), col("lang"))
  }

  val qUnpivotOracle: String =
    """WITH wide AS (
      |  SELECT source,
      |         CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
      |         CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
      |         CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
      |         CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
      |  FROM documents GROUP BY source)
      |SELECT source, lang, n
      |FROM wide UNPIVOT (n FOR lang IN (de, en, es, fr, zh))
      |ORDER BY source, lang""".stripMargin

  // --- bucketized range join: interval containment without a BNLJ ---
  // Each purchase joins the same-user daily activity window (min..max ts
  // of that user's click/view events) containing it. The naive
  // `BETWEEN` formulation leans on the equi-key to avoid a nested loop;
  // [[graft.ops.RangeJoin]] instead buckets time (1 h bins) so the join
  // is a pure (user, bucket) hash equi-join with the exact containment
  // predicate applied after — the plan shape that survives low-
  // selectivity keys and 100 TB fact sides. The oracle states the plain
  // inequality join; equality proves the binning loses nothing.
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val intervals = ev
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("w_date"))
      .agg(min(col("ts")).as("w_start"), max(col("ts")).as("w_end"))
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.ops.RangeJoin.containmentJoin(
        intervals, probes, key = "user_id",
        startCol = "w_start", endCol = "w_end", tsCol = "ts",
        bucketWidthSec = 3600L)
      .select(col("event_id"), col("user_id"), col("w_date"),
        date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        date_format(col("w_end"), "yyyy-MM-dd HH:mm:ss").as("w_end"))
      .orderBy(col("event_id"))
  }

  val qRangeJoinOracle: String =
    """WITH w AS (
      |  SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS w_date,
      |         min(ts) AS w_start, max(ts) AS w_end
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY 1, 2
      |)
      |SELECT p.event_id, p.user_id, w.w_date,
      |       strftime(w.w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
      |       strftime(w.w_end, '%Y-%m-%d %H:%M:%S') AS w_end
      |FROM events p
      |JOIN w ON p.user_id = w.user_id
      |      AND p.ts >= w.w_start AND p.ts <= w.w_end
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin

  // --- outer-join distribution (TPC-H Q13 shape) ---
  // Orders-per-customer histogram INCLUDING zero-order customers — the
  // canonical left-outer-join + double aggregation: the outer join is
  // what a semi/inner join can't express (rows with no match must
  // survive with count 0). Shape at scale: one shuffle on o_custkey with
  // map-side partial counts, an outer join against the (smaller)
  // customer side, and a second agg over at most max(c_count) rows.
  def qOuterJoinDist(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(
        orders(spark, dir).filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val qOuterJoinDistOracle: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |  FROM customer c
      |  LEFT JOIN orders o
      |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY 1)
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  // --- analytic window-function coverage ---
  // lag/lead/ntile/percent_rank/moving-average in one pass over a single
  // (user, time) window ordering — one shuffle on user_id serves all
  // five functions (Spark folds same-spec window functions into one
  // Window exec). The (ts, event_id) ordering is total, so ntile and
  // percent_rank are deterministic; the 3-row moving average sums in
  // frame order in both engines and rounds to 6 decimals.
  def qWindowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .filter(col("user_id") % 20 === 0)
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(avg(col("value")).over(w.rowsBetween(-2, 0)), 6).as("mov_avg3"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val qWindowFuncsOracle: String =
    """SELECT user_id, event_id, value,
      |       lag(value, 1) OVER w AS prev_value,
      |       lead(value, 1) OVER w AS next_value,
      |       CAST(ntile(4) OVER w AS INT) AS quartile,
      |       round(percent_rank() OVER w, 6) AS pct_rank,
      |       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg3
      |FROM events
      |WHERE user_id % 20 = 0
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  // --- co-located bucketed join (sort-merge-bucket layout) ---
  // Orders and customers are written bucketed+sorted on the customer key
  // (8 buckets, external tables under a temp path), then joined WITHOUT
  // any exchange: bucket i joins bucket i in one task. The ingest-time
  // shuffle is paid once; every subsequent join on the key is
  // shuffle-free — the standard repeated-join fact-table layout at
  // 100 TB. Result is layout-independent (the oracle joins the raw
  // parquet), and PlanSpec pins the exchange-free join subtree.
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    graft.ops.BucketedLake.writeBucketed(spark,
      orders(spark, dir).select(col("o_custkey"), col("o_totalprice")),
      "graft_bkt_orders", "o_custkey", 8, s"$tmp/orders")
    graft.ops.BucketedLake.writeBucketed(spark,
      customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
      "graft_bkt_customer", "c_custkey", 8, s"$tmp/customer")
    graft.ops.BucketedLake.colocatedJoin(spark,
        "graft_bkt_orders", "graft_bkt_customer", "o_custkey", "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(dsum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val qBucketedJoinOracle: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- built-in session-window aggregation ---
  // The declarative form of sessionization: Spark's session_window
  // generator merges events whose [ts, ts+gap) windows overlap — no
  // lag/running-sum scaffolding, and the SAME aggregation runs unchanged
  // under Structured Streaming with a watermark (the custom
  // flatMapGroupsWithState sessionizer stays for semantics the generator
  // can't express, e.g. dynamic gaps). Boundary semantics: session_window
  // merges strictly-closer-than-gap events, so the oracle's new-session
  // condition is diff >= gap (the lag-based q_sessionize uses > gap; the
  // two differ only on exact-boundary ties, impossible at nanosecond
  // fixtures but stated here for the record).
  def qSessionWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  val qSessionWindowOracle: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, ts,
      |         CAST(sum(new_session) OVER
      |              (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS session_id
      |  FROM marked
      |)
      |SELECT user_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |       count(*) AS n_events
      |FROM sessions GROUP BY user_id, session_id ORDER BY 1, 2""".stripMargin

  // --- approximate distinct count, gated on its accuracy CONTRACT ---
  // At 100 TB exact COUNT(DISTINCT) over a high-cardinality key is a
  // full shuffle of the key set; HyperLogLog++ answers from a bounded
  // sketch that merges map-side. Sketch estimates are engine-specific,
  // so the gate checks the CONTRACT instead of the value: the estimate
  // must land within 10% of exact (2x the configured 5% rsd — the
  // fixture is fixed, Spark's HLL hash is deterministic, so this is a
  // stable regression gate, not a flaky statistical one). The oracle
  // states the contract as a constant-true column next to the exact
  // counts it CAN verify.
  def qDistinctApprox(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), rsd = 0.05).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double")
          <= col("n_exact").cast("double") * 0.10).as("within_10pct"))
      .orderBy(col("event_type"))

  val qDistinctApproxOracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact,
      |       TRUE AS within_10pct
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --- incremental materialized-rollup maintenance ---
  // The reference's daily loop feeding a LIVE aggregate: instead of
  // re-aggregating the whole fact table per load, each increment
  // aggregates ONLY its batch and upserts the partial keyed by
  // (group keys, batch_id). Reads sum partials across batch ids.
  // Keying partials by batch makes every load REPLAY-IDEMPOTENT — a
  // re-run overwrites its own partial instead of double-counting (the
  // read-modify-write alternative adds on every replay; the reference's
  // idempotency checklist is exactly this property, DEPLOYMENT.md's
  // double-run test). Per-load cost is O(batch), never O(history). The
  // oracle is the full-history GROUP BY: incremental maintenance must
  // be indistinguishable from recomputation.
  private[queries] def rollupMergeIn(
      spark: SparkSession, lake: String, batch: DataFrame, batchId: String): Unit =
    graft.etl.Sinks.upsert(spark,
      batch
        .groupBy(col("order_month"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("batch_id", lit(batchId)),
      lake, keys = Seq("order_month", "o_orderpriority", "batch_id"))

  private[queries] def rollupRead(spark: SparkSession, lake: String): DataFrame =
    graft.ParquetFooters.read(spark, lake)
      .groupBy(col("order_month"), col("o_orderpriority"))
      .agg(sum(col("n_orders")).cast("long").as("n_orders"))
      .orderBy(col("order_month"), col("o_orderpriority"))

  def qIncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val lake = java.nio.file.Files.createTempDirectory("graft_rollup")
      .resolve("rollup").toString
    val o = orders(spark, dir).withColumn(
      "order_month", date_format(col("o_orderdate"), "yyyy-MM"))
    // overlapping halves: every (month, priority) key receives rows from
    // BOTH increments, so the read-side sum must combine partials
    rollupMergeIn(spark, lake, o.filter(col("o_orderkey") % 2 === 0), "b0")
    rollupMergeIn(spark, lake, o.filter(col("o_orderkey") % 2 === 1), "b1")
    val out = rollupRead(spark, lake).localCheckpoint(true)
    graft.etl.LakeFs.deleteRecursively(spark,
      new org.apache.hadoop.fs.Path(lake).getParent)
    out
  }

  val qIncrementalRollupOracle: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_orderpriority,
      |       count(*) AS n_orders
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** name -> query builder, for SparkEntry. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qa_count_by_month_priority" -> (qaCountByMonthPriority _),
    "qb_filter_count" -> (qbFilterCount _),
    "qc_weekday_avg" -> (qcWeekdayAvg _),
    "qd_join_filter_count" -> (qdJoinFilterCount _),
    "qe_sum_by_month" -> (qeSumByMonth _),
    "qf_like_sum" -> (qfLikeSum _),
    "qg_hourly_avg" -> (qgHourlyAvg _),
    "qh_conditional_agg" -> (qhConditionalAgg _),
    "q_proj_coalesce" -> (qProjCoalesce _),
    "q_filter_nonempty" -> (qFilterNonempty _),
    "q_sort_multi" -> (qSortMulti _),
    "q_max_watermark" -> (qMaxWatermark _),
    "q_union_months" -> (qUnionMonths _),
    "q_upsert_merge" -> (qUpsertMerge _),
    "q_insert_ignore" -> (qInsertIgnore _),
    "q_incremental_range" -> (qIncrementalRange _),
    "q_window_running" -> (qWindowRunning _),
    "q_sessionize" -> (qSessionize _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_distinct_users" -> (qDistinctUsers _),
    "q_quantiles" -> (qQuantiles _),
    "q_rollup_counts" -> (qRollupCounts _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_set_ops" -> (qSetOps _),
    "q_unpivot" -> (qUnpivot _),
    "q_range_join" -> (qRangeJoin _),
    "q_outer_join_dist" -> (qOuterJoinDist _),
    "q_window_funcs" -> (qWindowFuncs _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_session_window" -> (qSessionWindow _),
    "q_distinct_approx" -> (qDistinctApprox _),
    "q_incremental_rollup" -> (qIncrementalRollup _))

  /** name -> DuckDB oracle SQL. */
  def oracles: Map[String, String] = Map(
    "qa_count_by_month_priority" -> qaOracle,
    "qb_filter_count" -> qbOracle,
    "qc_weekday_avg" -> qcOracle,
    "qd_join_filter_count" -> qdOracle,
    "qe_sum_by_month" -> qeOracle,
    "qf_like_sum" -> qfOracle,
    "qg_hourly_avg" -> qgOracle,
    "qh_conditional_agg" -> qhOracle,
    "q_proj_coalesce" -> qProjCoalesceOracle,
    "q_filter_nonempty" -> qFilterNonemptyOracle,
    "q_sort_multi" -> qSortMultiOracle,
    "q_max_watermark" -> qMaxWatermarkOracle,
    "q_union_months" -> qUnionMonthsOracle,
    "q_upsert_merge" -> qUpsertMergeOracle,
    "q_insert_ignore" -> qInsertIgnoreOracle,
    "q_incremental_range" -> qIncrementalRangeOracle,
    "q_window_running" -> qWindowRunningOracle,
    "q_sessionize" -> qSessionizeOracle,
    "q_topk_per_group" -> qTopkPerGroupOracle,
    "q_distinct_users" -> qDistinctUsersOracle,
    "q_quantiles" -> qQuantilesOracle,
    "q_rollup_counts" -> qRollupCountsOracle,
    "q_grouping_sets" -> qGroupingSetsOracle,
    "q_set_ops" -> qSetOpsOracle,
    "q_unpivot" -> qUnpivotOracle,
    "q_range_join" -> qRangeJoinOracle,
    "q_outer_join_dist" -> qOuterJoinDistOracle,
    "q_window_funcs" -> qWindowFuncsOracle,
    "q_bucketed_join" -> qBucketedJoinOracle,
    "q_session_window" -> qSessionWindowOracle,
    "q_distinct_approx" -> qDistinctApproxOracle,
    "q_incremental_rollup" -> qIncrementalRollupOracle)
}
