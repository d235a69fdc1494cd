package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Event-analytics operators: ordered funnels, retention cohorts, SCD2
  * (slowly-changing-dimension) interval construction, and exact
  * largest-remainder budget allocation.
  *
  * All four are window/aggregation plans over the events or documents
  * tables with integer-exact or timestamp-exact arithmetic — no doubles
  * cross an ordering or a group boundary, so both engines agree
  * bit-for-bit.
  */
object AnalyticsQueries {

  // --- ordered funnel: view -> click -> purchase ---
  // The sequencing matters: a user counts for stage 2 only if a click
  // STRICTLY FOLLOWS their first view, and for stage 3 only if a
  // purchase strictly follows that click. Each stage is one conditional
  // aggregation joined back on user_id — at scale three hash
  // aggregations on the same key (co-partitioned after the first
  // shuffle; AQE reuses the exchange), never a per-user sort of the
  // whole event log. Timestamps are micros-exact in both engines.
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val counts = s1.agg(count(lit(1)).as("n")).select(lit(1).as("stage"),
        lit("view").as("stage_name"), col("n"))
      .unionAll(s2.agg(count(lit(1)).as("n")).select(lit(2).as("stage"),
        lit("click_after_view").as("stage_name"), col("n")))
      .unionAll(s3.agg(count(lit(1)).as("n")).select(lit(3).as("stage"),
        lit("purchase_after_click").as("stage_name"), col("n")))
    counts.orderBy(col("stage"))
  }

  val qFunnelOracle: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
      |SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n FROM s1
      |UNION ALL
      |SELECT 2, 'click_after_view', count(*) FROM s2
      |UNION ALL
      |SELECT 3, 'purchase_after_click', count(*) FROM s3
      |ORDER BY stage""".stripMargin

  // --- retention cohorts ---
  // Users grouped by first-activity week; for each later week, how many
  // of the cohort came back. One distinct user-week frame carries both:
  // the cohort week is min(week) over the user's rows (date_trunc is
  // monotone, so it commutes with min), so no first-activity aggregate
  // is joined back to the scan. Week arithmetic is date_trunc('week')
  // (ISO Monday start in BOTH engines) and the offset is an exact
  // integer day-diff div 7. A user has one cohort week and (user, week)
  // is distinct, so a row count per (cohort, offset) counts distinct
  // users; null users drop out, as the oracle's join drops them.
  def qRetentionCohorts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
      .withColumn("cohort_week", min(col("week")).over(Window.partitionBy(col("user_id"))))
      .withColumn("week_offset", expr("datediff(week, cohort_week) div 7"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))

  val qRetentionCohortsOracle: String =
    """WITH cohort AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY 1),
      |active AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events)
      |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
      |       date_diff('day', cohort_week, week) // 7 AS week_offset,
      |       count(DISTINCT user_id) AS n_users
      |FROM active JOIN cohort USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- SCD2 interval construction from a change stream ---
  // Collapse each user's event stream into type-2 dimension rows: one
  // (user, state, valid_from, valid_to) interval per RUN of equal
  // states, closed by the next run's start, open (null valid_to) for
  // the current state. Run detection is the standard gaps-and-islands
  // double window: lag() marks run starts under the total order
  // (ts, event_id), a running sum numbers the runs, and one group-by
  // collapses them. Two window passes over the SAME (user_id ordered)
  // partitioning — one exchange, one sort, both reused.
  def qScd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = events(spark, dir)
      .select(col("user_id"), col("event_type").as("state"), col("ts"), col("event_id"))
      .withColumn("is_start",
        when(lag(col("state"), 1).over(ord).isNull ||
          lag(col("state"), 1).over(ord) =!= col("state"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("is_start")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val intervals = runs
      .groupBy(col("user_id"), col("run_id"), col("state"))
      .agg(min(col("ts")).as("valid_from"))
    intervals
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("run_id"))))
      .select(col("user_id"), col("state"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  val qScd2IntervalsOracle: String =
    """WITH ordered AS (
      |  SELECT user_id, event_type AS state, ts, event_id,
      |         CASE WHEN lag(event_type) OVER w IS NULL
      |                OR lag(event_type) OVER w != event_type
      |              THEN 1 ELSE 0 END AS is_start
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT *, sum(is_start) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM ordered),
      |intervals AS (
      |  SELECT user_id, run_id, state, min(ts) AS valid_from
      |  FROM runs GROUP BY 1, 2, 3),
      |closed AS (
      |  SELECT user_id, state, valid_from,
      |         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to
      |  FROM intervals)
      |SELECT user_id, state,
      |       strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
      |       strftime(valid_to, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
      |       valid_to IS NULL AS is_current
      |FROM closed ORDER BY user_id, valid_from""".stripMargin

  // --- exact largest-remainder budget allocation ---
  // Allocate a fixed sample budget (K docs) across sources proportional
  // to their token mass so the allocations SUM TO K EXACTLY — the
  // training-mix counterpart of q_mix_weights, done with pure integer
  // arithmetic: base share = (K * tokens) div total, and the K - Σbase
  // leftover units go to the largest remainders ((K * tokens) mod
  // total), tiebroken by source. No floating point anywhere, so both
  // engines produce the identical allocation; a spec asserts Σ = K.
  private val AllocBudget = 300L

  /** Shared allocation core: (source, tokens, n_alloc) with Σ n_alloc =
    * AllocBudget exactly. Post-aggregation table is |sources| rows, so
    * the single-partition windows are driver-scale, not data-scale.
    */
  private def allocation(spark: SparkSession, dir: String): DataFrame = {
    val k = AllocBudget
    val toks = documents(spark, dir)
      .groupBy(col("source")).agg(sum(col("n_chars")).as("tokens"))
    val tot = toks.agg(sum(col("tokens")).as("total"),
      count(lit(1)).as("n_sources"))
    val based = toks.join(broadcast(tot), lit(true))
      .withColumn("base", expr(s"($k * tokens) div total"))
      .withColumn("rem", expr(s"($k * tokens) % total"))
    val leftover = based
      .withColumn("assigned", sum(col("base")).over(
        Window.partitionBy(lit(1))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("source"))))
    leftover
      .select(col("source"), col("tokens"),
        (col("base") + when(col("rk") <= lit(k) - col("assigned"), 1L).otherwise(0L))
          .as("n_alloc"))
  }

  def qAllocLargestRemainder(spark: SparkSession, dir: String): DataFrame =
    allocation(spark, dir).orderBy(col("source"))

  // --- execute the allocation: deterministic per-source sample ---
  // The materialization half: rank each source's docs by a salted
  // portable hash (the same md5 recipe as q_sample_stratified — both
  // engines compute the identical 60-bit integer) and keep the first
  // n_alloc. A source with fewer docs than its allocation contributes
  // everything it has — the cap is explicit, not an error. One window
  // per source plus a broadcast join of the |sources|-row allocation.
  def qAllocApply(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(concat('alloc7:', cast(doc_id as string))), 1, 15), 16, 10) as bigint)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
      .join(broadcast(allocation(spark, dir).select(col("source"), col("n_alloc"))),
        Seq("source"))
      .filter(col("rk") <= col("n_alloc"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  val qAllocLargestRemainderOracle: String =
    s"""WITH toks AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM toks),
       |based AS (
       |  SELECT source, tokens,
       |         ($AllocBudget * tokens) // total AS base,
       |         ($AllocBudget * tokens) % total AS rem
       |  FROM toks, tot),
       |ranked AS (
       |  SELECT *, CAST(sum(base) OVER () AS BIGINT) AS assigned,
       |         row_number() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM based)
       |SELECT source, tokens,
       |       CAST(base + CASE WHEN rk <= $AllocBudget - assigned THEN 1 ELSE 0 END
       |         AS BIGINT) AS n_alloc
       |FROM ranked ORDER BY source""".stripMargin

  val qAllocApplyOracle: String =
    s"""WITH toks AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM toks),
       |based AS (
       |  SELECT source, tokens,
       |         ($AllocBudget * tokens) // total AS base,
       |         ($AllocBudget * tokens) % total AS rem
       |  FROM toks, tot),
       |alloc AS (
       |  SELECT source,
       |         CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
       |                  <= $AllocBudget - CAST(sum(base) OVER () AS BIGINT)
       |              THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
       |  FROM based),
       |ranked AS (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source ORDER BY
       |           CAST('0x' || substr(md5('alloc7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
       |           doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, source
       |FROM ranked JOIN alloc USING (source)
       |WHERE rk <= n_alloc ORDER BY doc_id""".stripMargin

  // --- hierarchy ancestor closure (recursive-CTE workload) ---
  // Spark has no WITH RECURSIVE; the Spark-first answer for hierarchy
  // traversal is pointer doubling (ops/TransitiveClosure): log2(depth)
  // self-join rounds instead of one join per level. The fixture forest
  // is parent(u) = u div 3 over the distinct event users — arbitrary
  // but deterministic, with chains deep enough to force multiple
  // doubling rounds. The oracle is DuckDB's NATIVE recursive CTE, so
  // the gate proves the iterative plan reproduces true recursion
  // exactly (node, ancestor, depth — all of them).
  def qTreeClosure(spark: SparkSession, dir: String): DataFrame = {
    val edges = events(spark, dir)
      .select(col("user_id").as("child")).distinct()
      .filter(col("child") > 0)
      .withColumn("parent", expr("child div 3"))
    graft.ops.TransitiveClosure.ancestors(edges)
      .orderBy(col("node"), col("depth"))
  }

  val qTreeClosureOracle: String =
    """WITH RECURSIVE anc AS (
      |  SELECT child AS node, parent AS ancestor, CAST(1 AS BIGINT) AS depth
      |  FROM (SELECT DISTINCT user_id AS child, user_id // 3 AS parent
      |        FROM events WHERE user_id > 0)
      |  UNION ALL
      |  SELECT a.node, e.parent, a.depth + 1
      |  FROM anc a
      |  JOIN (SELECT DISTINCT user_id AS child, user_id // 3 AS parent
      |        FROM events WHERE user_id > 0) e
      |    ON a.ancestor = e.child)
      |SELECT node, ancestor, depth FROM anc ORDER BY node, depth""".stripMargin

  // --- MAD outlier detection ---
  // Robust per-group anomaly flagging: median absolute deviation is the
  // standard outlier scale when the data itself contains the outliers
  // (stddev is polluted by what it's trying to find). Both medians use
  // the same exact linear-interpolation percentile as q_quantiles
  // (cross-engine identical); the 2×MAD threshold (n_chars is tight-tailed; 3×MAD flags nothing at any SF) compares doubles
  // produced by identical arithmetic, strictly (boundary docs are
  // inliers in both engines). Two grouped aggregations + one broadcast
  // join back to rows — no per-group sort of the full table at the
  // row level.
  def qMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val med = d.groupBy(col("lang"))
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val mad = d.join(broadcast(med), "lang")
      .groupBy(col("lang"))
      .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"),
        // med is constant within the lang group: min == the value, and
        // min is DETERMINISTIC where first() is not (nondeterministic
        // aggregates block downstream exchange/cache reuse — the round-11
        // composed-chain lesson)
        min(col("med")).as("med"))
    d.join(broadcast(mad), "lang")
      .filter(abs(col("n_chars") - col("med")) > col("mad") * 2.0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"))
      .orderBy(col("doc_id"))
  }

  val qMadOutliersOracle: String =
    """WITH med AS (
      |  SELECT lang, quantile_cont(n_chars, 0.5) AS med
      |  FROM documents GROUP BY 1),
      |mad AS (
      |  SELECT d.lang, quantile_cont(abs(d.n_chars - med.med), 0.5) AS mad,
      |         any_value(med.med) AS med
      |  FROM documents d JOIN med ON d.lang = med.lang GROUP BY 1)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |       round(mad.med, 4) AS med, round(mad.mad, 4) AS mad
      |FROM documents d JOIN mad ON d.lang = mad.lang
      |WHERE abs(d.n_chars - mad.med) > mad.mad * 2.0
      |ORDER BY d.doc_id""".stripMargin

  // --- Markov transition matrix over event types ---
  // Per-user ordered (current -> next) event-type transitions with
  // Laplace-free empirical probabilities in integer basis points. One
  // window shuffle on user_id builds the pairs; the transition matrix
  // itself is bounded by |types|² so both follow-up aggregations are
  // tiny. `(10000 * n) div total` keeps the probability integer-exact
  // (both operands non-negative, so Spark's truncating div and DuckDB's
  // flooring // agree).
  def qMarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val t = pairs.groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = t.groupBy(col("prev_type")).agg(sum(col("n")).as("total"))
    t.join(tot, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("(10000 * n) div total").as("p_bp"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val qMarkovTransitionsOracle: String =
    """WITH pairs AS (
      |  SELECT event_type AS prev_type,
      |         lead(event_type, 1) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |t AS (
      |  SELECT prev_type, next_type, count(*) AS n FROM pairs
      |  WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS total FROM t GROUP BY 1)
      |SELECT t.prev_type, t.next_type, t.n, (10000 * t.n) // tot.total AS p_bp
      |FROM t JOIN tot USING (prev_type)
      |ORDER BY 1, 2""".stripMargin

  // --- peak concurrency (sweep line) ---
  // Max simultaneous open "sessions" per day, each event held open for
  // 10 minutes, interval end exclusive. The sweep is the classic
  // +1/-1 delta running sum; partitioning it by DAY keeps the window
  // shuffle-parallel at scale, with midnight-crossing intervals split
  // into per-day segments first (a 10-minute interval touches at most
  // two days, so the explode is bounded at 2×). Within a timestamp tie
  // the -1s apply first (delta ASC) — end-exclusive semantics; the
  // running sum's intra-tie order is arbitrary but the MAX is
  // tie-order-invariant, so both engines agree on the peak.
  def qPeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val iv = events(spark, dir)
      .select(col("ts"), (col("ts") + expr("INTERVAL 10 MINUTES")).as("te"))
    val seg1 = iv.select(date_trunc("day", col("ts")).as("day"), col("ts").as("s"),
      least(col("te"),
        date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY")).as("e"))
    val seg2 = iv
      .filter(date_trunc("day", col("te")) > date_trunc("day", col("ts")) &&
        col("te") > date_trunc("day", col("te")))
      .select(date_trunc("day", col("te")).as("day"),
        date_trunc("day", col("te")).as("s"), col("te").as("e"))
    val seg = seg1.unionAll(seg2).filter(col("e") > col("s"))
    val d = seg.select(col("day"), col("s").as("t"), lit(1).as("delta"))
      .unionAll(seg.select(col("day"), col("e").as("t"), lit(-1).as("delta")))
    val w = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("c", sum(col("delta")).over(w))
      .groupBy(col("day")).agg(max(col("c")).as("peak"))
      .orderBy(col("day"))
  }

  val qPeakConcurrencyOracle: String =
    """WITH iv AS (SELECT ts, ts + INTERVAL 10 MINUTE AS te FROM events),
      |seg AS (
      |  SELECT date_trunc('day', ts) AS day, ts AS s,
      |         least(te, date_trunc('day', ts) + INTERVAL 1 DAY) AS e
      |  FROM iv
      |  UNION ALL
      |  SELECT date_trunc('day', te) AS day, date_trunc('day', te) AS s, te
      |  FROM iv
      |  WHERE date_trunc('day', te) > date_trunc('day', ts)
      |    AND te > date_trunc('day', te)),
      |d AS (
      |  SELECT day, s AS t, 1 AS delta FROM seg WHERE e > s
      |  UNION ALL
      |  SELECT day, e AS t, -1 AS delta FROM seg WHERE e > s),
      |r AS (
      |  SELECT day, sum(delta) OVER (
      |    PARTITION BY day ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS c
      |  FROM d)
      |SELECT day, CAST(max(c) AS BIGINT) AS peak
      |FROM r GROUP BY day ORDER BY day""".stripMargin

  // --- top session paths ---
  // The first five event types of each (user, day) session joined into a
  // path string, ranked by frequency. The per-session truncation (rn <= 5)
  // happens BEFORE the path aggregation, so no session contributes more
  // than 5 rows to the shuffle however long it really is; the path
  // frequency table is bounded by |types|^5, so the final top-20
  // sort+limit runs over a tiny aggregate, not the event log. Ordered by
  // (n DESC, path) — a total order, so LIMIT is deterministic in both
  // engines.
  def qSessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"), col("day"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(rn, event_type))), s -> s.event_type)"),
        ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  val qSessionPathsOracle: String =
    """WITH r AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |         row_number() OVER (
      |           PARTITION BY user_id, CAST(ts AS DATE)
      |           ORDER BY ts, event_id) AS rn
      |  FROM events),
      |paths AS (
      |  SELECT user_id, day, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM r WHERE rn <= 5 GROUP BY 1, 2)
      |SELECT path, count(*) AS n FROM paths GROUP BY 1
      |ORDER BY n DESC, path LIMIT 20""".stripMargin

  // --- conversion-time quantiles (view -> first subsequent click) ---
  // Time-to-convert distribution for the funnel's first transition, in
  // integer seconds (micros-exact diff, truncating div — identical in
  // both engines) with the exact interpolated percentiles both engines
  // share. Two narrow per-user aggregations; the quantile runs over one
  // row per converting user.
  def qConversionTime(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      // t1 is constant within the user group: min == the value (and is
      // deterministic, unlike first — see qMadOutliers)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    s2.select(expr("(unix_micros(t2) - unix_micros(t1)) div 1000000").as("secs"))
      .agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(secs, 0.5)"), 4).as("p50_secs"),
        round(expr("percentile(secs, 0.9)"), 4).as("p90_secs"))
  }

  val qConversionTimeOracle: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2, any_value(s1.t1) AS t1
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |d AS (SELECT (epoch_us(t2) - epoch_us(t1)) // 1000000 AS secs FROM s2)
      |SELECT count(*) AS n_converted,
      |       round(quantile_cont(secs, 0.5), 4) AS p50_secs,
      |       round(quantile_cont(secs, 0.9), 4) AS p90_secs
      |FROM d""".stripMargin

  // --- market-basket affinity (parts bought together) ---
  // Pairwise co-occurrence within an order with parts-per-million lift.
  // The pair explode is bounded by the basket size (a handful of line
  // items per order), NEVER all-pairs over the catalog — the classic
  // trick that keeps affinity mining linear in order count at any scale.
  // Lift is computed entirely in integer ppm: (1e6 * n_ab * N) div
  // (n_a * n_b), exact in both engines.
  def qItemAffinity(spark: SparkSession, dir: String): DataFrame = {
    // NEGATIVE RESULT (round 9): rewriting the basket self-join as
    // groupBy(o).collect_set + in-row ordered-pair fan-out (the shape
    // that won for q_source_similarity) measured 2.25 s vs this form's
    // 2.12 s anchor at sf0.1 — the self-join REUSES the distinct's
    // exchange (both sides are the same frame), so the only saving was
    // the join build, and the interpreted pair-expansion lambda cost
    // more than that. Every basket emits pairs here (pair rows ~3x the
    // stream), unlike the shingle case where multi-source shingles are
    // rare.
    val li = lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val np = li.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val tot = li.select(col("o")).distinct().agg(count(lit(1)).as("n_orders"))
    pairs
      .join(np.select(col("p").as("pa"), col("n_p").as("n_a")), "pa")
      .join(np.select(col("p").as("pb"), col("n_p").as("n_b")), "pb")
      .crossJoin(broadcast(tot))
      .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
        expr("(1000000 * n_ab * n_orders) div (n_a * n_b)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("pa"), col("pb"))
      .limit(50)
  }

  val qItemAffinityOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
      |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |np AS (SELECT p, count(*) AS n_p FROM li GROUP BY 1),
      |tot AS (SELECT count(DISTINCT o) AS n_orders FROM li)
      |SELECT pairs.pa, pairs.pb, pairs.n_ab, na.n_p AS n_a, nb.n_p AS n_b,
      |       (1000000 * pairs.n_ab * tot.n_orders) // (na.n_p * nb.n_p) AS lift_ppm
      |FROM pairs
      |JOIN np na ON pairs.pa = na.p
      |JOIN np nb ON pairs.pb = nb.p
      |CROSS JOIN tot
      |ORDER BY lift_ppm DESC, pa, pb LIMIT 50""".stripMargin

  // --- A/B lift report with z-score ---
  // Users are hashed into two arms with the portable md5 recipe (the
  // engine's standard cross-engine split), conversion is ">= 14 purchase
  // events" (a high-value-customer cut that stays non-degenerate at any
  // SF — per-user event counts are scale-invariant in the testdata,
  // whereas "any purchase" converts EVERYONE and zeroes the z
  // denominator), and the report carries integer basis-point conversion rates
  // plus the two-proportion z-score. The z is the one double in the
  // engine's analytics surface computed from a closed-form expression —
  // identical operand order in both engines, rounded to 4 decimals.
  def qAbLift(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1).otherwise(0)) >= 14, 1)
        .otherwise(0).as("conv"))
      .withColumn("arm", expr(
        "CASE WHEN cast(conv(substring(md5(concat('ab7:', cast(user_id as string))), 1, 15), 16, 10) as bigint) % 2 = 0 THEN 'A' ELSE 'B' END"))
      .agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "A", col("conv").cast("long")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === "B", col("conv").cast("long")).otherwise(0L)).as("conv_b"))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        expr("(10000 * conv_a) div n_a").as("cr_a_bp"),
        expr("(10000 * conv_b) div n_b").as("cr_b_bp"),
        round(expr(
          """(conv_a / n_a - conv_b / n_b) /
            | sqrt(nullif(((conv_a + conv_b) / (n_a + n_b)) *
            |       (1.0 - (conv_a + conv_b) / (n_a + n_b)) *
            |       (1.0 / n_a + 1.0 / n_b), 0.0))""".stripMargin), 4).as("z_score"))

  val qAbLiftOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
      |              THEN 1 ELSE 0 END AS conv,
      |         CASE WHEN CAST('0x' || substr(md5('ab7:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
      |              THEN 'A' ELSE 'B' END AS arm
      |  FROM events GROUP BY user_id),
      |s AS (
      |  SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |         CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |         CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |         CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM u)
      |SELECT n_a, conv_a, n_b, conv_b,
      |       (10000 * conv_a) // n_a AS cr_a_bp,
      |       (10000 * conv_b) // n_b AS cr_b_bp,
      |       round((conv_a / n_a - conv_b / n_b) /
      |             sqrt(nullif(((conv_a + conv_b) / (n_a + n_b)) *
      |                  (1.0 - (conv_a + conv_b) / (n_a + n_b)) *
      |                  (1.0 / n_a + 1.0 / n_b), 0.0)), 4) AS z_score
      |FROM s""".stripMargin

  // --- interval-overlap join: user activity windows × incident windows ---
  // Two interval sets with NO shared equi-key: per-(user, day) activity
  // spans [first event, last event] vs global incident windows (error
  // events with value >= 150, ±30 min). The naive formulation is a cross
  // join with two inequalities — a BroadcastNestedLoopJoin that dies at
  // scale. graft.ops.RangeJoin.overlapJoin turns it into ONE hash
  // equi-join on a time bucket, emitting each qualifying pair exactly
  // once (in the bucket of greatest(start_a, start_b) — see the op's
  // scaladoc), so no post-distinct. Bucket width 1 h ≈ the incident
  // window length, so incident fan-out is ≤ 2 buckets. Timestamp
  // comparisons are micros-exact in both engines; the oracle is the
  // naive overlap join — bucketing must be invisible in the result.
  def qIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val activity = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("a_start"), max(col("ts")).as("a_end"))
    val incidents = e.filter(col("event_type") === "error" && col("value") >= 150)
      .select(col("event_id").as("incident_id"),
        (col("ts") - expr("INTERVAL 30 MINUTES")).as("i_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("i_end"))
    graft.ops.RangeJoin.overlapJoin(
        activity, incidents, "a_start", "a_end", "i_start", "i_end", 3600L)
      .groupBy(col("user_id"), col("day"))
      .agg(countDistinct(col("incident_id")).as("n_incidents"))
      .orderBy(col("user_id"), col("day"))
  }

  val qIntervalJoinOracle: String =
    """WITH a AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         min(ts) AS a_start, max(ts) AS a_end
      |  FROM events GROUP BY 1, 2),
      |i AS (
      |  SELECT event_id AS incident_id,
      |         ts - INTERVAL 30 MINUTE AS i_start,
      |         ts + INTERVAL 30 MINUTE AS i_end
      |  FROM events WHERE event_type = 'error' AND value >= 150)
      |SELECT a.user_id, a.day, count(DISTINCT i.incident_id) AS n_incidents
      |FROM a JOIN i ON a.a_start <= i.i_end AND i.i_start <= a.a_end
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // --- lag-k autocorrelation of the daily event-count series ---
  // The Pearson r at lags 1..3 over (count(day), count(day+k)) pairs.
  // The distributed shape is one tiny daily aggregate (365 rows however
  // big the event log — the heavy shuffle happens ONCE) followed by
  // metadata-scale self-joins on date arithmetic. Cross-engine
  // determinism: every sufficient statistic (n, Σx, Σy, Σxy, Σx², Σy²)
  // is an exact BIGINT; the double arithmetic happens once, in the same
  // closed-form expression over identical integers, so the rounded r is
  // bit-identical — never an engine-internal `corr()` whose accumulation
  // order differs.
  def qAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.CacheScope.persist)
    val lags = spark.range(1, 4).select(col("id").cast("int").as("lag"))
    val pairs = daily.as("x")
      .crossJoin(broadcast(lags))
      .join(daily.as("y"), expr("date_add(x.day, lag) = y.day"))
      .select(col("lag"), col("x.cnt").as("xc"), col("y.cnt").as("yc"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("xc")).as("sx"), sum(col("yc")).as("sy"),
        sum(col("xc") * col("yc")).as("sxy"),
        sum(col("xc") * col("xc")).as("sxx"),
        sum(col("yc") * col("yc")).as("syy"))
      .select(col("lag"), col("n"),
        round(expr(
          """(n * sxy - sx * sy) /
            | sqrt(nullif((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy), 0.0))"""
            .stripMargin), 5).as("r"))
      .orderBy(col("lag"))
  }

  val qAutocorrOracle: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT l.lag, x.cnt AS xc, y.cnt AS yc
      |  FROM (SELECT unnest([1, 2, 3]) AS lag) l, d x
      |  JOIN d y ON x.day + l.lag = y.day),
      |s AS (
      |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
      |         CAST(sum(xc * yc) AS BIGINT) AS sxy,
      |         CAST(sum(xc * xc) AS BIGINT) AS sxx,
      |         CAST(sum(yc * yc) AS BIGINT) AS syy
      |  FROM p GROUP BY 1)
      |SELECT CAST(lag AS INTEGER) AS lag, n,
      |       round((n * sxy - sx * sy) /
      |             sqrt(nullif((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy), 0.0)), 5) AS r
      |FROM s ORDER BY lag""".stripMargin

  // --- seasonality-adjusted outlier days ---
  // Raw daily-count thresholds flag every weekend on a weekday-seasonal
  // series; the standard fix is to score each day against ITS OWN
  // weekday's baseline. baseline = interpolated median of that
  // weekday's counts; residual = cnt - baseline; a day is anomalous
  // when |residual| > 2 × MAD(all residuals) — the same robust recipe
  // as q_mad_outliers, composed with seasonal grouping. Scale shape:
  // one shuffle builds the daily aggregate (365 rows/year regardless of
  // event volume); everything after is metadata-scale over days.
  // percentile() on exact integer/decimal inputs is interpolation over
  // sorted values — deterministic in both engines; results are rounded
  // once for output, comparisons use the unrounded values in BOTH
  // engines identically.
  def qSeasonalOutliers(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dow", dayofweek(col("day")))
      .transform(graft.CacheScope.persist)
    val base = daily.groupBy(col("dow"))
      .agg(expr("percentile(cnt, 0.5)").as("baseline"))
    val resid = daily.join(broadcast(base), "dow")
      .withColumn("residual", col("cnt") - col("baseline"))
    val madDf = resid.agg(expr("percentile(abs(residual), 0.5)").as("mad"))
    resid.crossJoin(broadcast(madDf))
      .filter(abs(col("residual")) > col("mad") * 2.0)
      .select(col("day"), col("cnt"),
        round(col("baseline"), 4).as("baseline"),
        round(col("residual"), 4).as("residual"))
      .orderBy(col("day"))
  }

  val qSeasonalOutliersOracle: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt,
      |         dayofweek(CAST(ts AS DATE)) + 1 AS dow
      |  FROM events GROUP BY 1),
      |base AS (
      |  SELECT dow, quantile_cont(cnt, 0.5) AS baseline
      |  FROM daily GROUP BY 1),
      |resid AS (
      |  SELECT d.day, d.cnt, b.baseline, d.cnt - b.baseline AS residual
      |  FROM daily d JOIN base b ON d.dow = b.dow),
      |m AS (SELECT quantile_cont(abs(residual), 0.5) AS mad FROM resid)
      |SELECT r.day, r.cnt,
      |       round(r.baseline, 4) AS baseline,
      |       round(r.residual, 4) AS residual
      |FROM resid r CROSS JOIN m
      |WHERE abs(r.residual) > m.mad * 2.0
      |ORDER BY r.day""".stripMargin

  // --- CUSUM drift detection over the daily event-count series ---
  // The sequential change detector next to the pointwise outlier ops
  // (MAD, seasonal): CUSUM accumulates small sustained shifts that no
  // single-day threshold sees. The textbook recursion
  // s_t = max(0, s_{t-1} + x_t - (target + slack)) is not directly
  // window-expressible, but it has the exact closed form
  // s_t = P_t - min(0, min_{j<=t} P_j) over prefix sums P of the
  // drift-adjusted deltas — two cumulative windows (sum, then running
  // min), both over the 30-row daily aggregate, everything BIGINT.
  // target = integer mean, slack = 5% of target, alarm at
  // s_t > target/4. Alarm days are corpus-dependent; the full series
  // with the statistic is the output so the gate pins every value.
  def qCusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val target = daily.agg(expr("sum(cnt) div count(*)").as("target"))
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    daily.crossJoin(broadcast(target))
      .withColumn("psum",
        sum(col("cnt") - col("target") - expr("target div 20")).over(w))
      .withColumn("cusum", col("psum") - least(lit(0L), min(col("psum")).over(w)))
      .select(col("day"), col("cnt"), col("cusum"),
        (col("cusum") > expr("target div 4")).as("alarm"))
      .orderBy(col("day"))
  }

  val qCusumDriftOracle: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) // count(*) AS target FROM d),
      |p AS (
      |  SELECT day, cnt, target,
      |         CAST(sum(cnt - target - (target // 20))
      |              OVER (ORDER BY day) AS BIGINT) AS psum
      |  FROM d CROSS JOIN t),
      |s AS (
      |  SELECT day, cnt, target,
      |         CAST(psum - least(0, min(psum) OVER (ORDER BY day)) AS BIGINT) AS cusum
      |  FROM p)
      |SELECT day, cnt, cusum, cusum > target // 4 AS alarm
      |FROM s ORDER BY day""".stripMargin

  // --- multi-touch attribution (first / last / linear) ---
  // Each purchase is credited to the view/click touches that precede it
  // in the user's (ts, event_id)-ordered stream, up to the PREVIOUS
  // purchase — the "since last conversion" attribution window every
  // marketing warehouse computes. The conversion key needs no pair
  // join: purchases_after = count of purchases at-or-after the row in
  // the per-user order (one window, frame CURRENT..FOLLOWING), so a
  // touch and its converting purchase share (user_id, purchases_after)
  // and everything downstream is equi-keyed aggregation on that pair.
  // At scale: ONE shuffle on user_id for the windows (the later
  // group-bys reuse the hash-partitioning), map-side-combinable aggs,
  // and the linear credit is integer ppm (1e6 * n_ch div n_t per
  // channel per conversion — operands non-negative, so truncating and
  // flooring division agree).
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val wAfter = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tagged = e.withColumn("k",
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(wAfter))
    val touches = tagged
      .filter(col("event_type") =!= "purchase" && col("k") >= 1)
    val wAsc = Window.partitionBy(col("user_id"), col("k"))
      .orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy(col("user_id"), col("k"))
      .orderBy(col("ts").desc, col("event_id").desc)
    // convTouch and convs are each referenced FOUR times downstream —
    // persist those two (per-(user, k) rows, metadata-scale). tagged and
    // ranked are deliberately NOT persisted (optimization r15, recorded
    // negative): with all four persisted the cache builds serialized the
    // DAG and the query read 1.09x WORSE than letting the two window
    // recomputes overlap; the big win is collapsing the 4x fan-outs.
    val ranked = touches
      .withColumn("rn_first", row_number().over(wAsc))
      .withColumn("rn_last", row_number().over(wDesc))
    val convTouch = ranked.groupBy(col("user_id"), col("k"))
      .agg(count(lit(1)).as("n_t"),
        max(when(col("rn_first") === 1, col("event_type"))).as("first_ch"),
        max(when(col("rn_last") === 1, col("event_type"))).as("last_ch"))
      .transform(graft.CacheScope.persist)
    val chanCounts = ranked.groupBy(col("user_id"), col("k"), col("event_type"))
      .agg(count(lit(1)).as("n_ch"))
    val convs = tagged.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("k"))
      .transform(graft.CacheScope.persist)
    val firstC = convs.join(convTouch, Seq("user_id", "k"))
      .groupBy(col("first_ch").as("channel"))
      .agg(count(lit(1)).as("first_touch"))
    val lastC = convs.join(convTouch, Seq("user_id", "k"))
      .groupBy(col("last_ch").as("channel"))
      .agg(count(lit(1)).as("last_touch"))
    val linC = convs
      .join(chanCounts, Seq("user_id", "k"))
      .join(convTouch.select(col("user_id"), col("k"), col("n_t")),
        Seq("user_id", "k"))
      .groupBy(col("event_type").as("channel"))
      .agg(sum(expr("1000000 * n_ch div n_t")).as("linear_ppm"))
    val direct = convs.join(convTouch, Seq("user_id", "k"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("(direct)").as("channel"), col("n").as("first_touch"),
        col("n").as("last_touch"), (col("n") * 1000000L).as("linear_ppm"))
    firstC.join(lastC, Seq("channel"), "full_outer")
      .join(linC, Seq("channel"), "full_outer")
      .unionByName(direct)
      .select(col("channel"),
        coalesce(col("first_touch"), lit(0L)).as("first_touch"),
        coalesce(col("last_touch"), lit(0L)).as("last_touch"),
        coalesce(col("linear_ppm"), lit(0L)).as("linear_ppm"))
      .orderBy(col("channel"))
  }

  val qAttributionOracle: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |tagged AS (
      |  SELECT *, CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS k
      |  FROM e),
      |touches AS (
      |  SELECT user_id, k, event_type,
      |         row_number() OVER (PARTITION BY user_id, k ORDER BY ts, event_id) AS rn_first,
      |         row_number() OVER (PARTITION BY user_id, k ORDER BY ts DESC, event_id DESC) AS rn_last
      |  FROM tagged WHERE event_type <> 'purchase' AND k >= 1),
      |conv_touch AS (
      |  SELECT user_id, k, CAST(count(*) AS BIGINT) AS n_t,
      |         max(CASE WHEN rn_first = 1 THEN event_type END) AS first_ch,
      |         max(CASE WHEN rn_last = 1 THEN event_type END) AS last_ch
      |  FROM touches GROUP BY 1, 2),
      |chan AS (
      |  SELECT user_id, k, event_type, CAST(count(*) AS BIGINT) AS n_ch
      |  FROM touches GROUP BY 1, 2, 3),
      |convs AS (SELECT user_id, k FROM tagged WHERE event_type = 'purchase'),
      |firstc AS (
      |  SELECT ct.first_ch AS channel, CAST(count(*) AS BIGINT) AS first_touch
      |  FROM convs c JOIN conv_touch ct USING (user_id, k) GROUP BY 1),
      |lastc AS (
      |  SELECT ct.last_ch AS channel, CAST(count(*) AS BIGINT) AS last_touch
      |  FROM convs c JOIN conv_touch ct USING (user_id, k) GROUP BY 1),
      |linc AS (
      |  SELECT ch.event_type AS channel,
      |         CAST(sum(1000000 * ch.n_ch // ct.n_t) AS BIGINT) AS linear_ppm
      |  FROM convs c JOIN chan ch USING (user_id, k)
      |  JOIN conv_touch ct USING (user_id, k) GROUP BY 1),
      |direct AS (
      |  SELECT '(direct)' AS channel, CAST(count(*) AS BIGINT) AS n
      |  FROM convs c LEFT JOIN conv_touch ct USING (user_id, k)
      |  WHERE ct.n_t IS NULL)
      |SELECT channel,
      |       coalesce(first_touch, 0) AS first_touch,
      |       coalesce(last_touch, 0) AS last_touch,
      |       coalesce(linear_ppm, 0) AS linear_ppm
      |FROM firstc FULL JOIN lastc USING (channel) FULL JOIN linc USING (channel)
      |UNION ALL
      |SELECT channel, n, n, n * 1000000 FROM direct
      |ORDER BY channel""".stripMargin

  // --- bounded-contribution aggregation (DP-prep clipping) ---
  // The differential-privacy preprocessing primitive: before any
  // noised release, each user's contribution to a day's count must be
  // CAPPED so one user's sensitivity is bounded (here 3 events/day).
  // Because only the per-(user, day) count matters, no window or
  // per-event rank is needed: capped = sum(least(n_ud, 3)) — two
  // map-side-combinable aggregations, no sort anywhere. clipped_ppm
  // reports how much signal the cap destroyed (the quantity used to
  // tune the cap against the privacy budget).
  def qContribCap(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n_ud"))
      .groupBy(col("day"))
      .agg(sum(col("n_ud")).as("raw_events"),
        sum(least(col("n_ud"), lit(3L))).as("capped_events"),
        count(lit(1)).as("users"))
      .withColumn("clipped_ppm",
        expr("1000000 * (raw_events - capped_events) div raw_events"))
      .orderBy(col("day"))

  val qContribCapOracle: String =
    """WITH ud AS (
      |  SELECT CAST(ts AS DATE) AS day, user_id, CAST(count(*) AS BIGINT) AS n_ud
      |  FROM events GROUP BY 1, 2)
      |SELECT day, CAST(sum(n_ud) AS BIGINT) AS raw_events,
      |       CAST(sum(least(n_ud, 3)) AS BIGINT) AS capped_events,
      |       CAST(count(*) AS BIGINT) AS users,
      |       CAST(1000000 * (sum(n_ud) - sum(least(n_ud, 3))) // sum(n_ud) AS BIGINT) AS clipped_ppm
      |FROM ud GROUP BY 1 ORDER BY day""".stripMargin

  // --- seasonal-naive forecast evaluation (MASE) ---
  // The forecasting BASELINE every monitoring pipeline needs before it
  // trusts a model: predict each day by the same weekday last week
  // (seasonal naive, lag 7) and score it against the one-step naive
  // (lag 1) via MASE — the scale-free error ratio from Hyndman &
  // Koehler (2006). Evaluation runs over the last 14 days that have
  // both lags. Everything is BIGINT (daily counts, absolute errors,
  // ppm ratio with truncating div over non-negative sums); the plan is
  // one map-side-combinable daily aggregate (365 rows at any corpus
  // scale) and then metadata-scale windows.
  def qForecastEval(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("day"))
    val lagged = daily
      .withColumn("f_snaive", lag(col("cnt"), 7).over(w))
      .withColumn("f_naive", lag(col("cnt"), 1).over(w))
      .withColumn("rn_desc", row_number().over(Window.orderBy(col("day").desc)))
    lagged.filter(col("rn_desc") <= 14 &&
        col("f_snaive").isNotNull && col("f_naive").isNotNull)
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("cnt") - col("f_snaive"))).as("sum_abs_err_snaive"),
        sum(abs(col("cnt") - col("f_naive"))).as("sum_abs_err_naive"))
      .withColumn("mase_ppm",
        expr("1000000 * sum_abs_err_snaive div greatest(sum_abs_err_naive, 1)"))
  }

  val qForecastEvalOracle: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |l AS (
      |  SELECT day, cnt,
      |         lag(cnt, 7) OVER (ORDER BY day) AS f_snaive,
      |         lag(cnt, 1) OVER (ORDER BY day) AS f_naive,
      |         row_number() OVER (ORDER BY day DESC) AS rn_desc
      |  FROM d)
      |SELECT CAST(count(*) AS BIGINT) AS n_eval,
      |       CAST(sum(abs(cnt - f_snaive)) AS BIGINT) AS sum_abs_err_snaive,
      |       CAST(sum(abs(cnt - f_naive)) AS BIGINT) AS sum_abs_err_naive,
      |       CAST(1000000 * sum(abs(cnt - f_snaive))
      |            // greatest(sum(abs(cnt - f_naive)), 1) AS BIGINT) AS mase_ppm
      |FROM l WHERE rn_desc <= 14 AND f_snaive IS NOT NULL AND f_naive IS NOT NULL""".stripMargin

  // --- time-weighted average (IoT / finance TWA) ---
  // A plain mean over irregular samples over-weights bursts; the
  // time-weighted average holds each observation until the next one and
  // weights it by that duration — the standard for sensor values,
  // account balances, and position marks. Per user: value in integer
  // cents (rounded per row), hold time from lead() in integer seconds,
  // TWA = Σ cents·secs div Σ secs (truncating, non-negative). The last
  // observation has no successor and drops (no hold duration) — users
  // need >= 2 events. One shuffle on user_id; everything else map-side.
  def qTimeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 1000000").as("tsec"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("next_tsec", lead(col("tsec"), 1).over(w))
      .filter(col("next_tsec").isNotNull)
      .withColumn("hold_s", col("next_tsec") - col("tsec"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_holds"),
        sum(col("hold_s")).as("span_s"),
        sum(col("cents") * col("hold_s")).as("weighted"))
      .filter(col("span_s") > 0)
      .withColumn("twa_cents", expr("weighted div span_s"))
      .select(col("user_id"), col("n_holds"), col("span_s"), col("twa_cents"))
      .orderBy(col("user_id"))
  }

  val qTimeWeightedAvgOracle: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |l AS (
      |  SELECT user_id, cents,
      |         lead(tsec, 1) OVER (PARTITION BY user_id ORDER BY tsec, event_id) - tsec AS hold_s
      |  FROM t),
      |g AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_holds,
      |         CAST(sum(hold_s) AS BIGINT) AS span_s,
      |         CAST(sum(cents * hold_s) AS BIGINT) AS weighted
      |  FROM l WHERE hold_s IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_holds, span_s,
      |       CAST(weighted // span_s AS BIGINT) AS twa_cents
      |FROM g WHERE span_s > 0 ORDER BY user_id""".stripMargin

  // --- Markov stationary distribution ---
  // Where does the behavior chain settle? Three unrolled power-iteration
  // rounds of v <- v·P over the event-type transition matrix, entirely
  // in integers: v starts uniform in ppm, each round computes
  // v'_j = sum_i v_i * c_ij div rowsum_i (counts and row sums straight
  // from the lead()-pair aggregation, truncating div over non-negative
  // operands). The q_pca_power discipline applied to the |types|x|types|
  // chain — the corpus is touched once for the pair counts; iterations
  // are metadata-scale.
  def qMarkovStationary(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("i"), col("next_type").as("j"))
      .agg(count(lit(1)).as("c"))
    val rows = pairs.groupBy(col("i")).agg(sum(col("c")).as("rs"))
    val p = pairs.join(rows, "i").localCheckpoint(true)
    var v = p.select(col("i").as("t")).distinct()
      .withColumn("v", lit(200000L))
    for (_ <- 1 to 3) {
      v = p.join(v, col("i") === col("t"))
        .groupBy(col("j"))
        .agg(sum(expr("v * c div rs")).as("v"))
        .select(col("j").as("t"), col("v"))
        .localCheckpoint(true)
    }
    v.select(col("t").as("event_type"), col("v").as("stationary_ppm"))
      .orderBy(col("event_type"))
  }

  val qMarkovStationaryOracle: String = {
    def round(t: Int, prev: String): String =
      s"""v$t AS (
         |  SELECT p.j AS t, CAST(sum(v.v * p.c // p.rs) AS BIGINT) AS v
         |  FROM p JOIN $prev v ON p.i = v.t GROUP BY 1)""".stripMargin
    s"""WITH pr AS (
       |  SELECT user_id, event_type,
       |         lead(event_type, 1) OVER (
       |           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
       |  FROM events),
       |c AS (
       |  SELECT event_type AS i, next_type AS j, CAST(count(*) AS BIGINT) AS c
       |  FROM pr WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |rs AS (SELECT i, CAST(sum(c) AS BIGINT) AS rs FROM c GROUP BY 1),
       |p AS (SELECT c.i, c.j, c.c, rs.rs FROM c JOIN rs USING (i)),
       |v0 AS (SELECT DISTINCT i AS t, CAST(200000 AS BIGINT) AS v FROM p),
       |${round(1, "v0")},
       |${round(2, "v1")},
       |${round(3, "v2")}
       |SELECT t AS event_type, v AS stationary_ppm FROM v3 ORDER BY 1""".stripMargin
  }

  // --- Poisson-bootstrap confidence interval ---
  // Uncertainty for a corpus-scale statistic without resampling passes:
  // the Poisson bootstrap (Chamandy et al. 2012 — the standard at
  // map-reduce scale) gives each row an independent pseudo-Poisson(1)
  // multiplicity per replica. Multiplicities here are DETERMINISTIC:
  // a salted md5 per (row, replica) lands in fixed per-mille bands of
  // the Poisson(1) pmf (368/368/184/61/15/4 for m = 0..5), so the
  // whole interval is reproducible bit-for-bit in both engines. 32
  // replica means of the event value (integer cents, ppm-exact means),
  // then the exact interpolated 2.5/50/97.5 percentiles over the 32
  // replica statistics. The explode is a bounded x32 fan-out — the
  // declarative form of the one-pass update a streaming implementation
  // would fuse.
  def qBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    // spread (optimization r15): the 32-replica fan-out and its per-
    // (row, replica) md5 ran inside the single-split scan stage — one
    // core for ~3.2M hashes (probe: 4 tasks, wall ≈ exec). Scale-
    // conditional no-op on multi-split sources.
    val reps = spread(events(spark, dir)
      .select(col("event_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents")))
      .select(col("event_id"), col("cents"),
        explode(expr("sequence(0, 31)")).as("b"))
      .withColumn("u", graft.functions.Md5Hash60Expr.of(concat(
        lit("boot9:"), col("event_id").cast("string"), lit(":"),
        col("b").cast("string"))) % 1000L)
      .withColumn("m", expr(
        """CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1 WHEN u < 920 THEN 2
          |     WHEN u < 981 THEN 3 WHEN u < 996 THEN 4 ELSE 5 END""".stripMargin))
      .groupBy(col("b"))
      .agg(sum(col("m") * col("cents")).as("s"), sum(col("m")).as("n"))
      .select(expr("1000000 * s div n").as("mean_micro_cents"))
    reps.agg(
      count(lit(1)).as("n_replicas"),
      round(expr("percentile(mean_micro_cents, 0.025)"), 4).as("ci_lo"),
      round(expr("percentile(mean_micro_cents, 0.5)"), 4).as("ci_mid"),
      round(expr("percentile(mean_micro_cents, 0.975)"), 4).as("ci_hi"))
  }

  val qBootstrapCiOracle: String =
    """WITH r AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |         unnest(generate_series(0, 31)) AS b
      |  FROM events),
      |u AS (
      |  SELECT b, cents,
      |         CAST('0x' || substr(md5('boot9:' || CAST(event_id AS VARCHAR) || ':'
      |           || CAST(b AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS u
      |  FROM r),
      |m AS (
      |  SELECT b, cents,
      |         CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1 WHEN u < 920 THEN 2
      |              WHEN u < 981 THEN 3 WHEN u < 996 THEN 4 ELSE 5 END AS m
      |  FROM u),
      |reps AS (
      |  SELECT CAST(1000000 * sum(m * cents) // sum(m) AS BIGINT) AS mean_micro_cents
      |  FROM m GROUP BY b)
      |SELECT CAST(count(*) AS BIGINT) AS n_replicas,
      |       round(quantile_cont(mean_micro_cents, 0.025), 4) AS ci_lo,
      |       round(quantile_cont(mean_micro_cents, 0.5), 4) AS ci_mid,
      |       round(quantile_cont(mean_micro_cents, 0.975), 4) AS ci_hi
      |FROM reps""".stripMargin

  // --- cohort LTV curves ---
  // Retention tells you who comes back; LTV tells you what that's
  // worth: cumulative purchase revenue per signup cohort divided by
  // cohort size at each week offset. Revenue is integer cents (rounded
  // per row), cohort arithmetic is the q_retention_cohorts recipe, and
  // the cumulative sum runs over offsets within a cohort — a window
  // over the tiny post-aggregation (cohort x offset) table, never the
  // event log. Offsets with no revenue don't emit rows (q_gap_fill is
  // the densifier when a chart needs the full spine).
  def qCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(col("user_id"), col("ts"),
      col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val cohort = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    val rev = e.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .select(col("cohort_week"),
        expr("datediff(CAST(date_trunc('week', ts) AS DATE), cohort_week) div 7")
          .as("week_offset"),
        col("cents"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(sum(col("cents")).as("rev_cents"))
    rev
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(
        Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(sizes), "cohort_week")
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"), col("cum_rev_cents"),
        expr("cum_rev_cents div n_users").as("ltv_cents_per_user"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val qCohortLtvOracle: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |cohort AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |  FROM e GROUP BY 1),
      |sz AS (
      |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
      |  FROM cohort GROUP BY 1),
      |rev AS (
      |  SELECT c.cohort_week,
      |         date_diff('day', c.cohort_week, CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_offset,
      |         CAST(sum(e.cents) AS BIGINT) AS rev_cents
      |  FROM e JOIN cohort c USING (user_id)
      |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort_week, week_offset,
      |         CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
      |           ORDER BY week_offset
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_cents
      |  FROM rev)
      |SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
      |       c.week_offset, s.n_users, c.cum_rev_cents,
      |       CAST(c.cum_rev_cents // s.n_users AS BIGINT) AS ltv_cents_per_user
      |FROM cum c JOIN sz s USING (cohort_week)
      |ORDER BY 1, 2""".stripMargin

  // --- churn label construction ---
  // Label engineering for a churn model: a user is churned iff their
  // last activity is more than 30 days before the corpus horizon (the
  // global max event time — the "as of" the label is valid for).
  // Labels must be reproducible, so the cutoff is exact integer
  // seconds off the horizon. Reported per signup cohort week with the
  // base rate in ppm — the first sanity table a modeler reads (rates
  // near 0 or 1e6 mean the horizon or window is wrong). Two
  // aggregations on user_id (co-partitioned) + a broadcast scalar.
  def qChurnLabel(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), col("ts"),
        expr("unix_micros(ts) div 1000000").as("tsec"))
    val horizon = e.agg(max(col("tsec")).as("h"))
    val users = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"),
        max(col("tsec")).as("last_tsec"))
    users.crossJoin(broadcast(horizon))
      .withColumn("churned", col("last_tsec") < col("h") - lit(30L * 86400L))
      .groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("n_churned"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("n_users"), col("n_churned"),
        expr("1000000 * n_churned div n_users").as("churn_ppm"))
      .orderBy(col("cohort_week"))
  }

  val qChurnLabelOracle: String =
    """WITH e AS (
      |  SELECT user_id, ts, epoch_us(ts) // 1000000 AS tsec FROM events),
      |h AS (SELECT CAST(max(tsec) AS BIGINT) AS h FROM e),
      |u AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week,
      |         CAST(max(tsec) AS BIGINT) AS last_tsec
      |  FROM e GROUP BY 1),
      |lab AS (
      |  SELECT cohort_week, last_tsec < h.h - 2592000 AS churned
      |  FROM u CROSS JOIN h)
      |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
      |       CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
      |       CAST(1000000 * sum(CASE WHEN churned THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS churn_ppm
      |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin

  // --- semi-structured JSON property extraction ---
  // Event payloads ship as JSON strings; the engine must lift typed
  // values out of them relationally. get_json_object (Spark's codegen'd
  // JSON path evaluator) extracts `$.k`, try-cast makes malformed rows
  // NULL instead of poisoning the job (ANSI discipline), and the
  // extracted value flows into ordinary integer-exact aggregation —
  // per event type: coverage, distinct values, sum, and the exact
  // interpolated median. DuckDB's independent JSON implementation is
  // the oracle.
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        countDistinct(col("k")).as("n_distinct_k"),
        sum(col("k")).as("sum_k"),
        round(expr("percentile(k, 0.5)"), 4).as("median_k"))
      .orderBy(col("event_type"))

  val qJsonExtractOracle: String =
    """WITH e AS (
      |  SELECT event_type,
      |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(k) AS BIGINT) AS n_with_k,
      |       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
      |       CAST(sum(k) AS BIGINT) AS sum_k,
      |       round(quantile_cont(k, 0.5), 4) AS median_k
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** name -> query builder, for SparkEntry. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_json_props_stats" -> (qJsonExtract _),
    "q_churn_label" -> (qChurnLabel _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_markov_stationary" -> (qMarkovStationary _),
    "q_bootstrap_ci" -> (qBootstrapCi _),
    "q_twa" -> (qTimeWeightedAvg _),
    "q_attribution" -> (qAttribution _),
    "q_forecast_eval" -> (qForecastEval _),
    "q_contrib_cap" -> (qContribCap _),
    "q_funnel" -> (qFunnel _),
    "q_retention_cohorts" -> (qRetentionCohorts _),
    "q_scd2_intervals" -> (qScd2Intervals _),
    "q_alloc_largest_remainder" -> (qAllocLargestRemainder _),
    "q_alloc_apply" -> (qAllocApply _),
    "q_tree_closure" -> (qTreeClosure _),
    "q_mad_outliers" -> (qMadOutliers _),
    "q_markov_transitions" -> (qMarkovTransitions _),
    "q_peak_concurrency" -> (qPeakConcurrency _),
    "q_session_paths" -> (qSessionPaths _),
    "q_conversion_time" -> (qConversionTime _),
    "q_item_affinity" -> (qItemAffinity _),
    "q_ab_lift" -> (qAbLift _),
    "q_interval_join" -> (qIntervalJoin _),
    "q_autocorr" -> (qAutocorr _),
    "q_seasonal_outliers" -> (qSeasonalOutliers _),
    "q_cusum_drift" -> (qCusumDrift _))

  /** name -> DuckDB oracle SQL, for the driver gate. */
  def oracles: Map[String, String] = Map(
    "q_twa" -> qTimeWeightedAvgOracle,
    "q_markov_stationary" -> qMarkovStationaryOracle,
    "q_cohort_ltv" -> qCohortLtvOracle,
    "q_churn_label" -> qChurnLabelOracle,
    "q_json_props_stats" -> qJsonExtractOracle,
    "q_bootstrap_ci" -> qBootstrapCiOracle,
    "q_attribution" -> qAttributionOracle,
    "q_contrib_cap" -> qContribCapOracle,
    "q_forecast_eval" -> qForecastEvalOracle,
    "q_funnel" -> qFunnelOracle,
    "q_retention_cohorts" -> qRetentionCohortsOracle,
    "q_scd2_intervals" -> qScd2IntervalsOracle,
    "q_alloc_largest_remainder" -> qAllocLargestRemainderOracle,
    "q_alloc_apply" -> qAllocApplyOracle,
    "q_tree_closure" -> qTreeClosureOracle,
    "q_mad_outliers" -> qMadOutliersOracle,
    "q_markov_transitions" -> qMarkovTransitionsOracle,
    "q_peak_concurrency" -> qPeakConcurrencyOracle,
    "q_session_paths" -> qSessionPathsOracle,
    "q_conversion_time" -> qConversionTimeOracle,
    "q_item_affinity" -> qItemAffinityOracle,
    "q_ab_lift" -> qAbLiftOracle,
    "q_interval_join" -> qIntervalJoinOracle,
    "q_autocorr" -> qAutocorrOracle,
    "q_seasonal_outliers" -> qSeasonalOutliersOracle,
    "q_cusum_drift" -> qCusumDriftOracle)
}
