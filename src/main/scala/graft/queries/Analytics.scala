package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Events.ev

/** Beyond-reference analytics over the `events` table (SURVEY.md §2.8,
  * §2.10 — the reference has no window machinery at all): ranking /
  * lag-lead windows, running aggregates, tumbling time windows,
  * gap-based sessionization, conditional pivots, rollup, semi/anti and
  * outer joins, and JSON extraction.
  *
  * Scale notes: every window partitions by `user_id` — at 100 TB that
  * is one shuffle on a high-cardinality key with no skew (user
  * activity is bounded); time-window aggregation is a single hash
  * aggregate on (hour, type). Running sums use the same exact-DECIMAL
  * convention as [[Relational]].
  */
object Analytics {
  private val DV = DecimalType(20, 6) // events.value is ≤6-decimal clean

  /** Deterministic per-user event order: ts then unique event_id. */
  private val wUser = Window.partitionBy(col("user_id"))
    .orderBy(asc("ts"), asc("event_id"))

  // -------------------------------------------------------------------
  // q16: ranking + lag/lead navigation windows
  // -------------------------------------------------------------------
  def q16WindowRank(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir).select(
      col("event_id"), col("user_id"), col("ts"), col("event_type"),
      row_number().over(wUser).as("rn"),
      lag(col("event_id"), 1).over(wUser).as("prev_event_id"),
      lead(col("event_id"), 1).over(wUser).as("next_event_id"))
      .orderBy(asc("event_id"))
  val q16Sql: String =
    """SELECT event_id, user_id, ts, event_type,
      |  ROW_NUMBER() OVER w AS rn,
      |  LAG(event_id, 1) OVER w AS prev_event_id,
      |  LEAD(event_id, 1) OVER w AS next_event_id
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // q17: running (cumulative) aggregates — frame-bounded window
  // -------------------------------------------------------------------
  def q17RunningAgg(spark: SparkSession, dir: String): DataFrame = {
    val wRun = wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(spark, dir).select(
      col("event_id"), col("user_id"), col("ts"),
      sum(col("value").cast(DV)).over(wRun).cast("double").as("running_value"),
      count(lit(1)).over(wRun).as("running_n"),
      max(col("value")).over(wRun).as("running_max"))
      .orderBy(asc("event_id"))
  }
  val q17Sql: String =
    """SELECT event_id, user_id, ts,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) OVER w AS VARCHAR) AS DOUBLE) AS running_value,
      |  COUNT(*) OVER w AS running_n,
      |  MAX(value) OVER w AS running_max
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // q18: tumbling time-window aggregation (batch form of the streaming
  // hourly rollup; see graft.streaming for the readStream twin)
  // -------------------------------------------------------------------
  def q18TimeWindow(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DV)).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(asc("hour"), asc("event_type"))
  val q18Sql: String =
    """SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q19: gap-based sessionization — 30-min inactivity closes a session.
  // Exact integer epoch-microsecond arithmetic on both engines.
  // -------------------------------------------------------------------
  def q19Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 1800L * 1000000L
    val prevTs = lag(col("ts"), 1).over(wUser)
    val newSession = when(prevTs.isNull, lit(0))
      .when(unix_micros(col("ts")) - unix_micros(prevTs) > gapUs, lit(1))
      .otherwise(lit(0))
    val wRun = wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(spark, dir)
      .withColumn("new_sess", newSession)
      .withColumn("session_idx", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(col("value").cast(DV)).cast("double").as("session_value"))
      .orderBy(asc("user_id"), asc("session_idx"))
  }
  val q19Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN LAG(ts) OVER w IS NULL THEN 0
      |         WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000 THEN 1
      |         ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessed AS (
      |  SELECT user_id, ts, value,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged
      |)
      |SELECT user_id, session_idx, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS session_value
      |FROM sessed GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  // -------------------------------------------------------------------
  // q20: conditional pivot — per-user event-type counts as columns
  // (portable manual pivot: identical in Spark and ANSI SQL)
  // -------------------------------------------------------------------
  def q20Pivot(spark: SparkSession, dir: String): DataFrame = {
    def cnt(t: String) = sum(when(col("event_type") === lit(t), 1).otherwise(0)).as(s"n_$t")
    ev(spark, dir)
      .groupBy(col("user_id"))
      .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"))
      .orderBy(asc("user_id"))
  }
  val q20Sql: String =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q21: rollup (hierarchical grouping sets) over lineitem
  // -------------------------------------------------------------------
  def q21Rollup(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(20, 2))).cast("double").as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  val q21Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q22: semi/anti joins — customers with ≥1 order above a threshold
  // (semi) and customers with no orders at all (anti), tagged + unioned
  // -------------------------------------------------------------------
  def q22SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val big = o.filter(col("o_totalprice") > lit(300000.0))
    val semi = c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_big_order").as("tag"))
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("tag"))
    semi.union(anti).orderBy(asc("c_custkey"), asc("tag"))
  }
  val q22Sql: String =
    """SELECT * FROM (
      |  SELECT c_custkey, 'has_big_order' AS tag FROM customer
      |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |  UNION ALL
      |  SELECT c_custkey, 'no_orders' AS tag FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |) ORDER BY c_custkey, tag""".stripMargin

  // -------------------------------------------------------------------
  // q23: left outer join with null-aware aggregation — order counts per
  // customer including order-less customers
  // -------------------------------------------------------------------
  def q23OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_orders"), // counts non-null only
        sum(col("o_totalprice").cast(DecimalType(20, 2))).cast("double").as("sum_total"))
      .orderBy(asc("c_custkey"))
  }
  val q23Sql: String =
    """SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_total
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q24: JSON extraction from the props column (semi-structured data —
  // absent in the reference, table-stakes for a 100 TB pipeline)
  // -------------------------------------------------------------------
  def q24Json(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("prop_k"))
      .orderBy(asc("event_id"))
  val q24Sql: String =
    """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS prop_k
      |FROM events ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // q72: distribution / navigation window functions — ntile quartiles,
  // percent_rank, cume_dist and nth_value per customer over orders.
  // Unique (o_totalprice desc, o_orderkey) order makes every one
  // deterministic; percent_rank/cume_dist are exact integer-ratio
  // doubles, identical IEEE on both engines.
  // -------------------------------------------------------------------
  def q72WindowNav(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    spark.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
      .orderBy(asc("o_orderkey"))
  }
  val q72Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume,
      |  NTH_VALUE(o_orderkey, 2) OVER w AS second_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // q73: CUBE grouping sets — all four (flag, status) grouping
  // combinations in one pass (Expand + single hash aggregate, the
  // same partial-agg shape as rollup q21).
  // -------------------------------------------------------------------
  def q73Cube(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(20, 2))).cast("double").as("sum_price"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  val q73Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q84: Z-order (Morton) curve key — the data-layout clustering key
  // (operators.Layout / functions.InterleaveBits), gated exactly: the
  // oracle rebuilds the bit interleave as a sum of 32 shift terms.
  // The layout machinery itself (stats pass → binning → range-
  // partitioned sorted write → file-skipping win) is spec-tested in
  // LayoutSpec; this query pins the curve math both engines agree on.
  // -------------------------------------------------------------------
  def q84ZorderCurve(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .select(col("event_id"), col("user_id"),
        graft.functions.LayoutFunctions.interleave_bits(
          (col("user_id") % 65536).cast("int"),
          (col("event_id") % 65536).cast("int")).as("zval"))
      .orderBy(asc("zval"), asc("event_id"), asc("user_id"))
      .limit(200)
  val q84Sql: String = {
    val terms = (0 until 16).flatMap { j =>
      Seq(s"((((user_id % 65536) >> $j) & 1) << ${2 * j})",
        s"((((event_id % 65536) >> $j) & 1) << ${2 * j + 1})")
    }.mkString(" + ")
    s"""SELECT event_id, user_id, CAST($terms AS BIGINT) AS zval
       |FROM events ORDER BY zval, event_id, user_id LIMIT 200""".stripMargin
  }

  // -------------------------------------------------------------------
  // q89: sequential event funnel — per user, the furthest stage of
  // view → click-after-view → purchase-after-click reached (min-after
  // chaining, NOT mere presence: each stage's event must follow the
  // previous stage's earliest completion). Three aggregates + joins,
  // all keyed on user_id — co-partitioned, no window over the full
  // event stream.
  // -------------------------------------------------------------------
  def q89EventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = e.filter(col("event_type") === "click").join(t1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = e.filter(col("event_type") === "purchase").join(t2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    t1.join(t2.select(col("user_id"), col("t2")), Seq("user_id"), "left_outer")
      .join(t3.select(col("user_id"), col("t3")), Seq("user_id"), "left_outer")
      .select(col("user_id"),
        (lit(1) + col("t2").isNotNull.cast("int")
          + col("t3").isNotNull.cast("int")).cast("int").as("funnel_stage"))
      .orderBy(asc("user_id"))
  }
  val q89Sql: String =
    """WITH t1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), t2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |  JOIN t1 ON e.user_id = t1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id
      |), t3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |  JOIN t2 ON e.user_id = t2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id
      |)
      |SELECT t1.user_id,
      |  CAST(1 + CASE WHEN t2.user_id IS NOT NULL THEN 1 ELSE 0 END
      |         + CASE WHEN t3.user_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS funnel_stage
      |FROM t1
      |LEFT JOIN t2 ON t1.user_id = t2.user_id
      |LEFT JOIN t3 ON t1.user_id = t3.user_id
      |ORDER BY t1.user_id""".stripMargin

  // -------------------------------------------------------------------
  // q91: full outer join — per-user click and purchase counts with
  // neither side required (both null directions exercised + coalesced).
  // -------------------------------------------------------------------
  def q91FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_purchases"))
    clicks.join(purchases, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy(asc("user_id"))
  }
  val q91Sql: String =
    """WITH c AS (
      |  SELECT user_id, COUNT(*) AS n_clicks FROM events
      |  WHERE event_type = 'click' GROUP BY user_id
      |), p AS (
      |  SELECT user_id, COUNT(*) AS n_purchases FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id
      |)
      |SELECT COALESCE(c.user_id, p.user_id) AS user_id,
      |  COALESCE(n_clicks, 0) AS n_clicks,
      |  COALESCE(n_purchases, 0) AS n_purchases
      |FROM c FULL JOIN p ON c.user_id = p.user_id
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q92: time-series resample / gap filling — a dense hourly grid
  // (sequence over the observed range × the type dimension) left-joined
  // to the sparse hourly counts, absent slots filled with 0. The grid
  // is generated, never scanned; the event table is aggregated before
  // the join, so the fill is a join of two SMALL frames at any scale.
  // -------------------------------------------------------------------
  def q92Resample(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("ts"), col("event_type"))
    val hourly = e.groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = e.agg(date_trunc("hour", min(col("ts"))).as("mn"),
        date_trunc("hour", max(col("ts"))).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"),
        expr("INTERVAL 1 HOUR"))).as("hour"))
    // the event-type DOMAIN as a LocalRelation (r13): structurally
    // bounded for PlanLint — retires this query's allowlist entry —
    // with a loud cap guard on domain drift; also removes the third
    // events scan from the executed plan (the build side was collected
    // to the driver by the broadcast anyway)
    val types = graft.operators.DomainFrame.materialize(
      e.select(col("event_type")).distinct(), cap = 1000,
      "q92 distinct event_type domain")
    grid.crossJoin(broadcast(types))
      .join(hourly, Seq("hour", "event_type"), "left_outer")
      .select(col("hour"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(asc("hour"), asc("event_type"))
  }
  val q92Sql: String =
    """WITH b AS (
      |  SELECT DATE_TRUNC('hour', MIN(ts)) AS mn,
      |         DATE_TRUNC('hour', MAX(ts)) AS mx FROM events
      |), grid AS (
      |  SELECT UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour FROM b
      |), types AS (
      |  SELECT DISTINCT event_type FROM events
      |), h AS (
      |  SELECT DATE_TRUNC('hour', ts) AS hour, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT CAST(g.hour AS TIMESTAMP) AS hour, t.event_type,
      |  COALESCE(h.n, 0) AS n
      |FROM grid g CROSS JOIN types t
      |LEFT JOIN h ON h.hour = g.hour AND h.event_type = t.event_type
      |ORDER BY hour, t.event_type""".stripMargin

  // -------------------------------------------------------------------
  // q93: cohort retention — users grouped by first-seen week, counted
  // per whole-week offset they return in. All joins/aggregates keyed by
  // user_id or the tiny (cohort, week) pair; integer day arithmetic so
  // both engines bucket identically.
  // -------------------------------------------------------------------
  def q93CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("user_id"), col("ts"))
    val firsts = e.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    e.join(firsts, "user_id")
      .select(
        to_date(date_trunc("week", col("t0"))).as("cohort_week"),
        floor(datediff(to_date(col("ts")), to_date(col("t0"))) / lit(7.0))
          .cast("int").as("week_n"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_n"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(asc("cohort_week"), asc("week_n"))
  }
  val q93Sql: String =
    """WITH f AS (
      |  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
      |), a AS (
      |  SELECT DISTINCT
      |    CAST(DATE_TRUNC('week', f.t0) AS DATE) AS cohort_week,
      |    CAST(FLOOR(date_diff('day', CAST(f.t0 AS DATE), CAST(e.ts AS DATE)) / 7.0) AS INT) AS week_n,
      |    e.user_id
      |  FROM events e JOIN f ON e.user_id = f.user_id
      |)
      |SELECT cohort_week, week_n, COUNT(*) AS n_users
      |FROM a GROUP BY cohort_week, week_n
      |ORDER BY cohort_week, week_n""".stripMargin

  // -------------------------------------------------------------------
  // q98: per-group top-k via the PLAIN window-rank formulation — the
  // plan Spark ≥ 3.5 skew-bounds itself with a Partial
  // WindowGroupLimit below the exchange (verified; PERF.md lesson 11).
  // Complements q70, which proves the salted two-phase variant returns
  // the identical answer.
  // -------------------------------------------------------------------
  def q98WindowTopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = Window.partitionBy(col("source"))
      .orderBy(desc("n_chars"), asc("doc_id"))
    docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("n_chars"))
      .orderBy(asc("source"), asc("rk"))
  }
  val q98Sql: String =
    """SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
      |FROM (SELECT source, doc_id, n_chars,
      |        ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY n_chars DESC, doc_id) AS rk
      |      FROM documents)
      |WHERE rk <= 3 ORDER BY source, rk""".stripMargin

  // -------------------------------------------------------------------
  // q99: null-safe equality join (`<=>` / IS NOT DISTINCT FROM) —
  // NULL keys match each other instead of vanishing, the semantics
  // CDC/merge pipelines need for nullable business keys.
  // -------------------------------------------------------------------
  def q99NullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // manufacture a nullable key: linenumber 3 → NULL
    def keyed(alias: String) = li.select(
      nullif(col("l_linenumber"), lit(3)).as(s"k_$alias"),
      col("l_orderkey").as(s"o_$alias"))
    val a = keyed("a").groupBy(col("k_a"))
      .agg(count(lit(1)).as("n_a"))
    val b = keyed("b").groupBy(col("k_b"))
      .agg(count(lit(1)).as("n_b"))
    a.join(b, col("k_a") <=> col("k_b"))
      .select(col("k_a").as("k"), col("n_a"), col("n_b"))
      .orderBy(asc_nulls_first("k"))
  }
  val q99Sql: String =
    """WITH a AS (
      |  SELECT NULLIF(l_linenumber, 3) AS k_a, COUNT(*) AS n_a
      |  FROM lineitem GROUP BY 1
      |), b AS (
      |  SELECT NULLIF(l_linenumber, 3) AS k_b, COUNT(*) AS n_b
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT k_a AS k, n_a, n_b
      |FROM a JOIN b ON k_a IS NOT DISTINCT FROM k_b
      |ORDER BY k NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q100: time-RANGE rolling window — per user, events and value-sum
  // inside the trailing 1 hour of EVENT TIME (range frame, not row
  // frame: simultaneous/burst events all count, gaps shrink the
  // window). Spark ranges over unix micros; DuckDB over INTERVAL —
  // identical inclusive [t-1h, t] semantics. Value sums through
  // DECIMAL (events.value is ≤6-decimal clean).
  // -------------------------------------------------------------------
  def q100RollingWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    ev(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast(DecimalType(20, 6))).over(w)
          .cast("double").as("sum_1h"))
      .orderBy(asc("user_id"), asc("event_id"))
  }
  val q100Sql: String =
    """SELECT user_id, event_id,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) OVER w AS VARCHAR) AS DOUBLE) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------------------
  // q101: explicit GROUPING SETS (arbitrary combos — completes the
  // rollup (q21) / cube (q73) family) with a portable grouping id
  // built from GROUPING() bits on both engines.
  // -------------------------------------------------------------------
  def q101GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty[Column]),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("int").as("gid"))
      .orderBy(asc("gid"), asc_nulls_first("l_returnflag"),
        asc_nulls_first("l_linestatus"))
  }
  val q101Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // q147: Markov transition matrix over the per-user event sequence —
  // the behavioral-model / next-event-prediction staple. One lead()
  // window pass per user (the only data-sized shuffle, keyed by
  // user_id) produces (from, to) bigram counts; the transition
  // probability normalizes by the from-row total via a second window
  // over the TINY (types²)-row aggregate, so no second data shuffle.
  // Counts are exact int64 and the single division is the same IEEE op
  // on both engines — no float-order risk anywhere.
  // -------------------------------------------------------------------
  def q147MarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("us"), asc("event_id"))
    val counts = ev(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy(col("from_type"))
    counts
      .withColumn("prob",
        col("n").cast("double") / sum(col("n")).over(wFrom).cast("double"))
      .orderBy(asc("from_type"), asc("to_type"))
  }
  val q147Sql: String =
    """WITH b AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events
      |), c AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM b WHERE to_type IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) /
      |    CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
      |FROM c ORDER BY from_type, to_type""".stripMargin

  // -------------------------------------------------------------------
  // q148: events timeline canary — pins the REAL date range against the
  // oracle's independent read of the file. The round-4 ts-encoding
  // regression silently collapsed all timestamps into 1970-01-20; this
  // query makes any such collapse (or a unit slip: ms/us/ns confusion
  // shifts min/max by 1000×) a loud hash FAIL instead of 15 scattered
  // downstream breakages. Scale: one partial-agged min/max/count scan.
  // -------------------------------------------------------------------
  def q148EventsSpan(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir).agg(
      min(col("ts")).as("ts_min"),
      max(col("ts")).as("ts_max"),
      count(lit(1)).as("n_events"),
      sum(when(year(col("ts")) === 2024, 1L).otherwise(0L)).as("n_2024"))
  val q148Sql: String =
    """SELECT CAST(MIN(ts) AS TIMESTAMP) AS ts_min,
      |  CAST(MAX(ts) AS TIMESTAMP) AS ts_max,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN EXTRACT(year FROM ts) = 2024
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_2024
      |FROM events""".stripMargin

  // -------------------------------------------------------------------
  // q161: event-type co-occurrence PMI — pointwise mutual information
  // between event types over the per-user incidence sets, the
  // feature-engineering staple behind co-click / co-purchase affinity.
  // All counts are exact integers (distinct (user,type) → bounded
  // per-user pair fan-out ≤ C(|types|,2) → pair/marginal aggregates);
  // the single ln lands in q65's floor(ln·1e6) fixed-point convention,
  // so the emitted score is an integer both engines agree on. Scale:
  // one distinct shuffle, one bounded self-join per user, marginals
  // broadcast — never an all-users pair join.
  // -------------------------------------------------------------------
  def q161CooccurrencePmi(spark: SparkSession, dir: String): DataFrame = {
    val ut = ev(spark, dir).select(col("user_id"), col("event_type")).distinct()
    val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_ab"))
    val marg = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val total = ut.select(col("user_id")).distinct().agg(count(lit(1)).as("n_users"))
    pairs
      .join(broadcast(marg.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
      .join(broadcast(marg.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        floor(log((col("n_ab") * col("n_users")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")) * lit(1000000.0))
          .cast("long").as("pmi_fx"))
      .orderBy(asc("type_a"), asc("type_b"))
  }
  val q161Sql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |), pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_ab
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |), marg AS (
      |  SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1
      |), tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut)
      |SELECT type_a, type_b, n_ab,
      |  CAST(FLOOR(LN(CAST(n_ab * n_users AS DOUBLE)
      |    / CAST(ma.n * mb.n AS DOUBLE)) * 1000000) AS BIGINT) AS pmi_fx
      |FROM pairs
      |JOIN marg ma ON ma.event_type = type_a
      |JOIN marg mb ON mb.event_type = type_b
      |CROSS JOIN tot
      |ORDER BY type_a, type_b""".stripMargin

  // -------------------------------------------------------------------
  // q162: time-series cross-correlation — Pearson r between the hourly
  // volumes of two event types (the do-clicks-drive-purchases
  // diagnostic). Hourly counts align in ONE conditional aggregate
  // (an hour with only clicks carries an honest purchase-count 0;
  // hours with neither type are absent from both engines); all moment
  // sums (n, Σx, Σy, Σxx, Σyy, Σxy) are exact int64 over counts, and
  // only the final r division/sqrt runs in doubles — the same IEEE
  // expression both engines evaluate on identical integers (q142/q43
  // convention). One events scan, two tiny aggregates, a ~720-row
  // join: nothing data-sized after the first groupBy.
  // -------------------------------------------------------------------
  def q162VolumeCorr(spark: SparkSession, dir: String): DataFrame = {
    val hourly = ev(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(when(col("event_type") === "click", 1)).as("x"),
        count(when(col("event_type") === "purchase", 1)).as("y"))
    val m = hourly.agg(
      count(lit(1)).as("n_hours"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    m.select(col("n_hours"), col("sx"), col("sy"), col("sxy"),
      ((col("n_hours") * col("sxy") - col("sx") * col("sy")).cast("double") /
        sqrt((col("n_hours") * col("sxx") - col("sx") * col("sx")).cast("double") *
          (col("n_hours") * col("syy") - col("sy") * col("sy")).cast("double")))
        .as("corr"))
  }
  val q162Sql: String =
    """WITH hourly AS (
      |  SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
      |    COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS x,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM hourly
      |)
      |SELECT n_hours, sx, sy, sxy,
      |  CAST(n_hours * sxy - sx * sy AS DOUBLE) /
      |    SQRT(CAST(n_hours * sxx - sx * sx AS DOUBLE) *
      |      CAST(n_hours * syy - sy * sy AS DOUBLE)) AS corr
      |FROM m""".stripMargin

  // -------------------------------------------------------------------
  // q178: CUSUM change-point detection on each event type's hourly
  // volume — the regime-shift monitor next to q116's distribution
  // drift and q162's cross-correlation. The centered cumulative
  // deviation D_t = Σ_{i≤t}(x_i − x̄) is cleared of its rational mean
  // by multiplying through by n: D'_t = n·cum_t − t·total, an EXACT
  // int64 quantity (n ≤ 9e3 hours, cum ≤ 6e5 ⇒ |D'| ≤ 5.4e9); the
  // change point is argmax |D'_t| with an earliest-hour tie-break, so
  // the result replays bit-for-bit. Scale shape: the only data-sized
  // work is the (type, hour) count aggregate; every window runs over
  // the metadata-sized hourly frame, partitioned by type (bounded
  // cardinality, no global sort of events).
  // -------------------------------------------------------------------
  def q178CusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val hourly = ev(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(asc("hour"))
    val wAll = Window.partitionBy(col("event_type"))
    hourly
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("cum", sum(col("x")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("x")).over(wAll))
      .withColumn("dabs",
        abs(col("n") * col("cum") - col("t") * col("total")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(desc("dabs"), asc("hour"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_hours"),
        col("hour").as("cp_hour"), col("dabs").as("d_max"))
      .orderBy(asc("event_type"))
  }
  val q178Sql: String =
    """WITH hourly AS (
      |  SELECT event_type, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
      |    COUNT(*) AS x
      |  FROM events GROUP BY 1, 2
      |), d AS (
      |  SELECT event_type, hour,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
      |    CAST(SUM(x) OVER w AS BIGINT) AS cum,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY hour)
      |), r AS (
      |  SELECT event_type, hour, n, ABS(n * cum - t * total) AS dabs,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ABS(n * cum - t * total) DESC, hour) AS rk
      |  FROM d
      |)
      |SELECT event_type, n AS n_hours, hour AS cp_hour, dabs AS d_max
      |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q188: SEASONAL-baseline anomaly detection — hour-of-week profiling
  // (the monitor q178's CUSUM can't express: a Friday-evening spike is
  // only anomalous vs OTHER Friday evenings, not vs 3 a.m.). Per
  // (type, hour-of-week): the seasonal mean over all weeks; an hour is
  // HIGH if x > 2× its seasonal mean, LOW if x < half — both cleared
  // of division by cross-multiplication (x·n_how vs 2·s_how), so every
  // comparison and the peak ratio (x·n_how·1e6 div s_how) is exact
  // int64. Shape: hourly counts (the only data-sized aggregate), a
  // 168×types seasonal frame broadcast back, map-only flags, one
  // final aggregate + bounded-fan-in argmax window.
  // -------------------------------------------------------------------
  def q188SeasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = ev(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("x"))
      .withColumn("how", expr("(unix_micros(hour) div 3600000000L) % 168"))
    val season = hourly.groupBy(col("event_type"), col("how"))
      .agg(count(lit(1)).as("n_how"), sum(col("x")).as("s_how"))
    val flagged = hourly.join(broadcast(season), Seq("event_type", "how"))
      .withColumn("ratio_fx", expr("(x * n_how * 1000000L) div s_how"))
    flagged
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(desc("ratio_fx"), asc("hour"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("x") * col("n_how") > lit(2) * col("s_how"), 1L)
          .otherwise(0L)).as("n_high"),
        sum(when(lit(2) * col("x") * col("n_how") < col("s_how"), 1L)
          .otherwise(0L)).as("n_low"),
        max(when(col("rk") === 1, col("hour"))).as("peak_hour"),
        max(when(col("rk") === 1, col("ratio_fx"))).as("peak_ratio_fx"))
      .orderBy(asc("event_type"))
  }
  val q188Sql: String =
    """WITH hourly AS (
      |  SELECT event_type, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
      |    COUNT(*) AS x
      |  FROM events GROUP BY 1, 2
      |), h2 AS (
      |  SELECT event_type, hour, CAST(x AS BIGINT) AS x,
      |    (EPOCH_US(hour) // 3600000000) % 168 AS how
      |  FROM hourly
      |), season AS (
      |  SELECT event_type, how, CAST(COUNT(*) AS BIGINT) AS n_how,
      |    CAST(SUM(x) AS BIGINT) AS s_how
      |  FROM h2 GROUP BY 1, 2
      |), f AS (
      |  SELECT h2.event_type, h2.hour, h2.x, s.n_how, s.s_how,
      |    (h2.x * s.n_how * 1000000) // s.s_how AS ratio_fx,
      |    ROW_NUMBER() OVER (PARTITION BY h2.event_type
      |      ORDER BY (h2.x * s.n_how * 1000000) // s.s_how DESC, h2.hour) AS rk
      |  FROM h2 JOIN season s ON s.event_type = h2.event_type AND s.how = h2.how
      |)
      |SELECT event_type, COUNT(*) AS n_hours,
      |  CAST(SUM(CASE WHEN x * n_how > 2 * s_how THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_high,
      |  CAST(SUM(CASE WHEN 2 * x * n_how < s_how THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low,
      |  MAX(CASE WHEN rk = 1 THEN hour END) AS peak_hour,
      |  MAX(CASE WHEN rk = 1 THEN ratio_fx END) AS peak_ratio_fx
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q300: BINARY-SEGMENTATION CHANGEPOINTS (depth 2) — the multi-
  // changepoint extension of q178's single CUSUM argmax (Scott &
  // Knott's recursion): split the daily-volume series at the max
  // |m·cum − t·total| point, then split each half again — three
  // segments' worth of structure instead of one breakpoint. Every
  // quantity is exact int64 (the q178 deviation algebra, segment-
  // relative); argmax tie-breaks on day asc via the rank window.
  // Scale shape: ONE data-sized (day) count aggregate; all windows
  // partition by segment over the date-domain-bounded daily frame.
  // The recursion depth is a literal (2), so the oracle unrolls it.
  // -------------------------------------------------------------------
  def q300BinarySeg(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.sources.Events.ev(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
      .localCheckpoint(true) // tiny; two levels re-read it
    def splits(df: DataFrame): DataFrame = {
      val wOrd = Window.partitionBy(col("seg")).orderBy(asc("day"))
      val wAll = Window.partitionBy(col("seg"))
      df.withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("cum", sum(col("x")).over(wOrd))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("total", sum(col("x")).over(wAll))
        .withColumn("lo", min(col("day")).over(wAll))
        .withColumn("hi", max(col("day")).over(wAll))
        .filter(col("t") < col("m")) // a split is strictly interior
        .withColumn("dabs", abs(col("m") * col("cum") - col("t") * col("total")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("seg")).orderBy(desc("dabs"), asc("day"))))
        .filter(col("rk") === 1)
        .select(col("seg"), col("lo").as("lo_day"), col("hi").as("hi_day"),
          col("m").as("n_days"), col("day").as("split_day"),
          col("dabs").as("d_max"))
    }
    val s0 = splits(daily.withColumn("seg", lit(0L)))
    val l1 = daily.crossJoin(broadcast(s0.select(col("split_day").as("s0"))))
      .withColumn("seg", when(col("day") <= col("s0"), lit(1L)).otherwise(lit(2L)))
      .select(col("day"), col("x"), col("seg"))
    s0.withColumn("level", lit(0L))
      .union(splits(l1).withColumn("level", lit(1L)))
      .select(col("level"), col("seg"), col("lo_day"), col("hi_day"),
        col("n_days"), col("split_day"), col("d_max"))
      .orderBy(asc("level"), asc("seg"))
  }
  val q300Sql: String = {
    def segSql(src: String, out: String): String =
      s"""$out AS (
        |  SELECT seg, lo_day, hi_day, n_days, day AS split_day, dabs AS d_max
        |  FROM (
        |    SELECT seg, day, m AS n_days, lo AS lo_day, hi AS hi_day,
        |      ABS(m * cum - t * total) AS dabs,
        |      ROW_NUMBER() OVER (PARTITION BY seg
        |        ORDER BY ABS(m * cum - t * total) DESC, day) AS rk
        |    FROM (
        |      SELECT seg, day, x,
        |        ROW_NUMBER() OVER (PARTITION BY seg ORDER BY day) AS t,
        |        SUM(x) OVER (PARTITION BY seg ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        COUNT(*) OVER (PARTITION BY seg) AS m,
        |        SUM(x) OVER (PARTITION BY seg) AS total,
        |        MIN(day) OVER (PARTITION BY seg) AS lo,
        |        MAX(day) OVER (PARTITION BY seg) AS hi
        |      FROM $src)
        |    WHERE t < m)
        |  WHERE rk = 1)""".stripMargin
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1
      |), l0 AS (SELECT day, x, 0 AS seg FROM daily),
      |""".stripMargin +
      segSql("l0", "s0") + ",\n" +
      """l1 AS (
      |  SELECT day, x,
      |    CASE WHEN day <= (SELECT split_day FROM s0) THEN 1 ELSE 2 END AS seg
      |  FROM daily
      |),
      |""".stripMargin +
      segSql("l1", "s1") + "\n" +
      """SELECT CAST(0 AS BIGINT) AS level, CAST(seg AS BIGINT) AS seg,
      |  lo_day, hi_day, CAST(n_days AS BIGINT) AS n_days, split_day,
      |  CAST(d_max AS BIGINT) AS d_max
      |FROM s0
      |UNION ALL
      |SELECT 1, CAST(seg AS BIGINT), lo_day, hi_day, CAST(n_days AS BIGINT),
      |  split_day, CAST(d_max AS BIGINT)
      |FROM s1
      |ORDER BY level, seg""".stripMargin
  }

  // -------------------------------------------------------------------
  // q312: MARKOV HELD-OUT LOG-LIKELIHOOD — the LM-eval workflow (train
  // on one split, score the other under the FROZEN model) applied to
  // q147's behavioral transition chain: add-one-smoothed P(next|prev)
  // trained on user_id % 97 ≠ 0, eval transitions scored per prev
  // type. A behavior drift between splits (or a broken sessionizer)
  // reads as a log-likelihood drop. Replay convention: per DISTINCT
  // transition pair, term_fx = floor(ln(P)·1e6) (the q274 libm-ln
  // precedent), multiplied by the eval count and summed as exact
  // int64 — never a float sum. V = distinct next-types in train.
  // -------------------------------------------------------------------
  def q312MarkovHeldout(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("us"), asc("event_id"))
    val tr = ev(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("user_id"), col("event_type").as("a"), col("to_type").as("b"))
    val train = tr.filter(col("user_id") % 97 =!= 0)
    val cab = train.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ca = train.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    val v = train.select(col("b")).distinct()
      .groupBy().agg(count(lit(1)).as("v"))
    val evalT = tr.filter(col("user_id") % 97 === 0)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
    evalT
      .join(cab, Seq("a", "b"), "left_outer")
      .join(ca, Seq("a"), "left_outer")
      .crossJoin(broadcast(v))
      .withColumn("term_fx", floor(log(
        (coalesce(col("c_ab"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c_a"), lit(0L)) + col("v")).cast("double")) * 1e6)
        .cast("long"))
      .groupBy(col("a").as("prev_type"))
      .agg(sum(col("n")).as("n_trans"),
        sum(col("n") * col("term_fx")).as("ll_fx"))
      .orderBy(asc("prev_type"))
  }
  val q312Sql: String =
    """WITH tr AS (
      |  SELECT user_id, event_type AS a,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS b
      |  FROM events
      |), tt AS (SELECT user_id, a, b FROM tr WHERE b IS NOT NULL),
      |cab AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
      |  FROM tt WHERE user_id % 97 <> 0 GROUP BY 1, 2
      |), ca AS (
      |  SELECT a, CAST(COUNT(*) AS BIGINT) AS c_a
      |  FROM tt WHERE user_id % 97 <> 0 GROUP BY 1
      |), v AS (
      |  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS v
      |  FROM tt WHERE user_id % 97 <> 0
      |), ev AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM tt WHERE user_id % 97 = 0 GROUP BY 1, 2
      |)
      |SELECT ev.a AS prev_type, CAST(SUM(ev.n) AS BIGINT) AS n_trans,
      |  CAST(SUM(ev.n * CAST(FLOOR(LN(
      |    CAST(COALESCE(cab.c_ab, 0) + 1 AS DOUBLE)
      |      / CAST(COALESCE(ca.c_a, 0) + (SELECT v FROM v) AS DOUBLE))
      |    * 1000000) AS BIGINT)) AS BIGINT) AS ll_fx
      |FROM ev
      |LEFT JOIN cab ON cab.a = ev.a AND cab.b = ev.b
      |LEFT JOIN ca ON ca.a = ev.a
      |GROUP BY 1 ORDER BY prev_type""".stripMargin

  // -------------------------------------------------------------------
  // q313: ASSOCIATION RULES (market-basket support / confidence /
  // lift) over order baskets — the mining family's classic, absent
  // until now: per order the distinct part set (basket ≤ 7 items, so
  // the within-basket pair join is bounded by construction — the q127
  // discipline), pair support counts, and for the top-30 pairs both
  // rule directions' confidence plus the symmetric lift, all exact
  // int64 fixed point.
  // -------------------------------------------------------------------
  def q313AssocRules(spark: SparkSession, dir: String): DataFrame = {
    val op = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val sa = op.groupBy(col("p")).agg(count(lit(1)).as("s"))
    val n = op.select(col("o")).distinct()
      .groupBy().agg(count(lit(1)).as("n_orders"))
    val pairs = op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("pa"), col("y.p").as("pb"))
      .agg(count(lit(1)).as("s_ab"))
      .orderBy(desc("s_ab"), asc("pa"), asc("pb")).limit(30)
    pairs
      .join(sa.select(col("p").as("pa"), col("s").as("s_a")), "pa")
      .join(sa.select(col("p").as("pb"), col("s").as("s_b")), "pb")
      .crossJoin(broadcast(n))
      .select(col("pa"), col("pb"), col("s_ab"), col("s_a"), col("s_b"),
        expr("s_ab * 1000000L div s_a").as("conf_ab_fx"),
        expr("s_ab * 1000000L div s_b").as("conf_ba_fx"),
        expr("s_ab * n_orders * 1000000L div (s_a * s_b)").as("lift_fx"))
      .orderBy(desc("s_ab"), asc("pa"), asc("pb"))
  }
  val q313Sql: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      |), sa AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS s FROM op GROUP BY 1),
      |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
      |pairs AS (
      |  SELECT x.p AS pa, y.p AS pb, CAST(COUNT(*) AS BIGINT) AS s_ab
      |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
      |  GROUP BY 1, 2
      |  ORDER BY s_ab DESC, pa, pb LIMIT 30
      |)
      |SELECT pa, pb, s_ab, a.s AS s_a, b.s AS s_b,
      |  s_ab * 1000000 // a.s AS conf_ab_fx,
      |  s_ab * 1000000 // b.s AS conf_ba_fx,
      |  s_ab * (SELECT n_orders FROM n) * 1000000 // (a.s * b.s) AS lift_fx
      |FROM pairs
      |JOIN sa a ON a.p = pa
      |JOIN sa b ON b.p = pb
      |ORDER BY s_ab DESC, pa, pb""".stripMargin

  // -------------------------------------------------------------------
  // q318: USER-ACTIVITY GINI per event type — q246's concentration
  // algebra on the BEHAVIORAL axis ("is this event type organic or a
  // few power users / bots?"): discrete Gini over per-user event
  // counts, ranked (count asc, user asc — a total order), the same
  // (2·Σ i·c_i − (n+1)·Σc)·1e6 div (n·Σc) int64 fixed point with the
  // 4.6e12 envelope (users×events here sits ~10^10, far inside).
  // Scale shape: one (type, user) partial-agged count; the rank
  // window runs per type over the USER-domain frame (q173's bounded-
  // window discipline), the fold is one row per type.
  // -------------------------------------------------------------------
  def q318UserGini(spark: SparkSession, dir: String): DataFrame = {
    val counts = ev(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(asc("c"), asc("user_id"))
    counts.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"),
        sum(col("i") * col("c")).as("t"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        expr("(2L * t - (n_users + 1L) * n_events) * 1000000L div (n_users * n_events)")
          .as("gini_fx"))
      .orderBy(asc("event_type"))
  }
  val q318Sql: String =
    """WITH counts AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2
      |), ranked AS (
      |  SELECT event_type, c,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY c, user_id) AS BIGINT) AS i
      |  FROM counts
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(c) AS BIGINT) AS n_events,
      |  (2 * CAST(SUM(i * c) AS BIGINT)
      |    - (CAST(COUNT(*) AS BIGINT) + 1) * CAST(SUM(c) AS BIGINT))
      |    * 1000000 // (CAST(COUNT(*) AS BIGINT) * CAST(SUM(c) AS BIGINT))
      |    AS gini_fx
      |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Every query of this module: name → (build function, oracle SQL). */
  val registry: Map[String, Query] = Query.registry(
    "q318_user_gini" -> Query(q318UserGini, q318Sql),
    "q312_markov_heldout" -> Query(q312MarkovHeldout, q312Sql),
    "q313_assoc_rules" -> Query(q313AssocRules, q313Sql),
    "q300_binary_seg" -> Query(q300BinarySeg, q300Sql),
    "q188_seasonal_anomaly" -> Query(q188SeasonalAnomaly, q188Sql),
    "q178_cusum_changepoint" -> Query(q178CusumChangepoint, q178Sql),
    "q162_volume_corr" -> Query(q162VolumeCorr, q162Sql),
    "q161_cooccurrence_pmi" -> Query(q161CooccurrencePmi, q161Sql),
    "q148_events_span" -> Query(q148EventsSpan, q148Sql),
    "q147_markov_transitions" -> Query(q147MarkovTransitions, q147Sql),
    "q101_grouping_sets" -> Query(q101GroupingSets, q101Sql),
    "q100_rolling_window" -> Query(q100RollingWindow, q100Sql),
    "q98_window_topk" -> Query(q98WindowTopK, q98Sql),
    "q99_null_safe_join" -> Query(q99NullSafeJoin, q99Sql),
    "q91_full_outer" -> Query(q91FullOuter, q91Sql),
    "q92_resample" -> Query(q92Resample, q92Sql),
    "q93_cohort_retention" -> Query(q93CohortRetention, q93Sql),
    "q89_event_funnel" -> Query(q89EventFunnel, q89Sql),
    "q84_zorder_curve" -> Query(q84ZorderCurve, q84Sql),
    "q72_window_nav" -> Query(q72WindowNav, q72Sql),
    "q73_cube" -> Query(q73Cube, q73Sql),
    "q16_window_rank" -> Query(q16WindowRank, q16Sql),
    "q17_running_agg" -> Query(q17RunningAgg, q17Sql),
    "q18_time_window" -> Query(q18TimeWindow, q18Sql),
    "q19_sessionize" -> Query(q19Sessionize, q19Sql),
    "q20_pivot" -> Query(q20Pivot, q20Sql),
    "q21_rollup" -> Query(q21Rollup, q21Sql),
    "q22_semi_anti_join" -> Query(q22SemiAnti, q22Sql),
    "q23_outer_join_agg" -> Query(q23OuterJoin, q23Sql),
    "q24_json_extract" -> Query(q24Json, q24Sql))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.builds(registry)
}
