package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.operators.TemporalJoins
import graft.sources.Events.ev

/** Temporal join queries — operators Spark lacks as built-ins, built
  * by composition (graft.operators.TemporalJoins) and oracled against
  * DuckDB's native ASOF / inequality joins.
  */
object Temporal {

  // -------------------------------------------------------------------
  // q40: as-of join — for each purchase, the latest prior (or
  // simultaneous) click of the same user. Single shuffle + window scan
  // vs DuckDB's native ASOF JOIN.
  // -------------------------------------------------------------------
  def q40AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    TemporalJoins.asofJoinBackward(purchases, clicks, "user_id", "ts", "ts",
        rightPayload = Seq("event_id", "ts"), rightTieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("click_id"), col("asof_ts").as("click_ts"))
      .orderBy(asc("event_id"))
  }
  val q40Sql: String =
    """SELECT p.event_id, p.user_id, p.ts,
      |  c.event_id AS click_id, c.ts AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  // -------------------------------------------------------------------
  // q206: as-of join with a TOLERANCE bound — q40's backward as-of
  // under pandas merge_asof(tolerance=1h) semantics: the nearest click
  // at-or-before each purchase matches only if ≤1 h stale, else the
  // purchase keeps NULL click columns (staleness bound, not a filter —
  // the row survives). Because nearest-within-tolerance ≡ overall
  // nearest when one exists, the plan is q40's single-shuffle union +
  // one window carry plus ONE predicate — no second scan. Oracle is
  // the explicit argmax left join with both bounds (DuckDB's ASOF has
  // no tolerance clause).
  // -------------------------------------------------------------------
  def q206AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    TemporalJoins.asofJoinBackwardTolerance(purchases, clicks, "user_id",
        "ts", "ts", rightPayload = Seq("event_id", "ts"),
        toleranceMicros = 3600L * 1000000L, rightTieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("click_id"), col("asof_ts").as("click_ts"))
      .orderBy(asc("event_id"))
  }
  val q206Sql: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'click'),
      |j AS (
      |  SELECT p.event_id, p.user_id, p.ts,
      |    c.event_id AS click_id, c.ts AS click_ts,
      |    ROW_NUMBER() OVER (PARTITION BY p.event_id
      |      ORDER BY c.ts DESC, c.event_id DESC) AS rk
      |  FROM p LEFT JOIN c ON c.user_id = p.user_id
      |    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      |)
      |SELECT event_id, user_id, ts, click_id, click_ts
      |FROM j WHERE rk = 1 ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // q41: banded range join — (click, purchase) pairs of the same user
  // within 5 minutes. Bucketed equi-join + exact filter vs DuckDB's
  // inequality join.
  // -------------------------------------------------------------------
  def q41RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("ts_a"), col("event_id").as("id_a"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("ts_b"), col("event_id").as("id_b"))
    TemporalJoins.bandedRangeJoin(clicks, purchases, "user_id",
        "ts_a", "ts_b", bandMicros = 300L * 1000000L)
      .select(col("id_a"), col("id_b"))
      .orderBy(asc("id_a"), asc("id_b"))
  }
  val q41Sql: String =
    """SELECT a.event_id AS id_a, b.event_id AS id_b
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'click' AND b.event_type = 'purchase'
      | AND ABS(EPOCH_US(a.ts) - EPOCH_US(b.ts)) <= 300000000
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q135: FORWARD as-of join — for each click, the next (or
  // simultaneous) purchase of the same user, plus the time-to-convert.
  // Same single-shuffle union + one-window-scan shape as q40, carry
  // direction mirrored; oracled against DuckDB's native forward ASOF
  // (p.ts <= c.ts inequality).
  // -------------------------------------------------------------------
  def q135AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    TemporalJoins.asofJoinForward(clicks, purchases, "user_id", "ts", "ts",
        rightPayload = Seq("event_id", "ts"), rightTieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("purchase_id"),
        (unix_micros(col("asof_ts")) - unix_micros(col("ts"))).as("wait_us"))
      .orderBy(asc("event_id"))
  }
  val q135Sql: String =
    """SELECT c.event_id, c.user_id, c.ts,
      |  p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS wait_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts <= p.ts
      |ORDER BY c.event_id""".stripMargin

  // -------------------------------------------------------------------
  // q144: time-weighted average per user — the irregular-time-series
  // mean (each reading weighted by how long it was current: a sensor /
  // metrics staple that plain AVG gets wrong). One window pass per
  // user for lead(ts) over the unique total order (ts, event_id); the
  // hold duration Δ is exact integer micros; Σ(value·Δ) runs in
  // DECIMAL(38,0) (v6·Δ ≤ 5.6e8·2.6e12 ≈ 1.5e21 overflows int64) and
  // only the final TWA division is double. The last reading per user
  // has no successor and drops out — open-interval convention, same
  // on both engines. One user_id shuffle; everything else map-side.
  // -------------------------------------------------------------------
  def q144TimeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = ev(spark, dir).select(
      col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"),
      (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)) *
        1000000).cast("long").as("v6"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("us"), asc("event_id"))
    e.withColumn("nxt", lead(col("us"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("d", col("nxt") - col("us"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("d")).as("span_us"),
        sum(col("v6").cast(d38) * col("d").cast(d38)).as("wsum"))
      .select(col("user_id"), col("n_intervals"), col("span_us"),
        (col("wsum").cast("double") / col("span_us").cast("double") /
          lit(1e6)).as("twa"))
      .orderBy(asc("user_id"))
  }
  val q144Sql: String =
    """WITH b AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v6,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM events
      |), s AS (
      |  SELECT user_id, COUNT(*) AS n_intervals,
      |    CAST(SUM(nxt - us) AS BIGINT) AS span_us,
      |    SUM(CAST(v6 AS HUGEINT) * (nxt - us)) AS wsum
      |  FROM b WHERE nxt IS NOT NULL GROUP BY 1
      |)
      |SELECT user_id, n_intervals, span_us,
      |  CAST(CAST(wsum AS VARCHAR) AS DOUBLE) / CAST(span_us AS DOUBLE) / 1e6 AS twa
      |FROM s ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q146: interval-overlap join — co-activity: pairs of users whose
  // daily activity intervals [first event, last event] overlap, with
  // the total overlapping time. The interval-interval join Spark
  // lacks, done the scale-safe way: intervals are constructed INSIDE
  // day buckets (pure integer day = us div 86400e6 — no timezone
  // semantics anywhere), so the pair join is an EQUI-join on day with
  // the overlap predicate as a post-filter — never an inequality-only
  // nested loop (CLAUDE.md rule 6). Per-day pair fan-out is
  // users²/2 per bucket, the blocking knob a 100 TB run tunes by
  // narrowing the bucket. Exact integer micros throughout.
  // -------------------------------------------------------------------
  def q146IntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("user_id"),
      unix_micros(col("ts")).as("us"))
      .withColumn("day", expr("us div 86400000000L"))
    // tiny (|users|·days rows, 4 longs) — persist so the pair join's
    // two sides don't each rescan and re-aggregate the raw events
    val iv = e.groupBy(col("user_id"), col("day"))
      .agg(min(col("us")).as("s"), max(col("us")).as("e"))
      .persist()
    // Repartition the probe side by u1 BEFORE the day join (45k-row
    // shuffle): the broadcast join preserves that partitioning, so
    // every (u1,·) pair row lands where its group lives and the
    // pair aggregation runs as ONE exchange-free hash agg with small
    // per-partition maps. Without this, the (user,day)-partitioned
    // probe side made the partial agg see ~rows≈groups (2M-entry maps,
    // sort fallback) and shuffled all ~34M pair rows. The partition
    // count MUST be explicit: the probe side is tiny (~1.4 MB) and an
    // AQE-coalescible repartition(col) collapses it to ONE partition —
    // which serializes the 30M-row pair stage it feeds (measured 5.9 s
    // single-threaded vs 1.8 s at 32). Small input, huge flatMap-out:
    // size-based coalescing sees only the input bytes.
    val a = iv.select(col("day"), col("user_id").as("u1"),
      col("s").as("s1"), col("e").as("e1"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("u1"))
    val b = iv.select(col("day"), col("user_id").as("u2"),
      col("s").as("s2"), col("e").as("e2"))
    a.join(broadcast(b), Seq("day"))
      .filter(col("u1") < col("u2"))
      .withColumn("ov",
        least(col("e1"), col("e2")) - greatest(col("s1"), col("s2")))
      .filter(col("ov") > lit(0L))
      .groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("days_overlapped"),
        sum(col("ov")).as("overlap_us"))
      .orderBy(desc("overlap_us"), asc("u1"), asc("u2"))
      .limit(100)
  }
  val q146Sql: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
      |  FROM events GROUP BY 1, 2
      |), p AS (
      |  SELECT a.user_id AS u1, b.user_id AS u2,
      |    LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS ov
      |  FROM iv a JOIN iv b ON a.day = b.day AND a.user_id < b.user_id
      |)
      |SELECT u1, u2, COUNT(*) AS days_overlapped,
      |  CAST(SUM(ov) AS BIGINT) AS overlap_us
      |FROM p WHERE ov > 0
      |GROUP BY u1, u2
      |ORDER BY overlap_us DESC, u1, u2 LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // q242: SCD TYPE-2 dimension history — the warehouse op q79's
  // last-writer-wins upsert deliberately discards: the FULL
  // effective-interval history of each user's event_type, one row per
  // version with [eff_from, eff_to) micros, a 1-based version number
  // and an is_current flag (open interval → null end). Consecutive
  // equal values compress (null-safe lag compare); same-timestamp
  // changes order by event_id, so the whole history is a total order
  // and bit-replayable. All windows partition by user — per-key
  // sorted, no global sort, the per-user history is the only state.
  // -------------------------------------------------------------------
  def q242Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), col("event_type"))
    graft.operators.Scale.scd2History(e, "user_id", "event_type",
        "us", "event_id")
      .select(col("user_id"), col("attr"),
        col("eff_from").as("eff_from_us"), col("eff_to").as("eff_to_us"),
        col("version"), col("is_current"))
      .orderBy(asc("user_id"), asc("version"))
  }
  val q242Sql: String =
    """WITH b AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events
      |), ch AS (
      |  SELECT user_id, event_type AS attr, us AS eff_from_us, event_id
      |  FROM b WHERE event_type IS DISTINCT FROM prev
      |), v AS (
      |  SELECT user_id, attr, eff_from_us,
      |    lead(eff_from_us) OVER (PARTITION BY user_id
      |      ORDER BY eff_from_us, event_id) AS eff_to_us,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY eff_from_us, event_id) AS BIGINT) AS version
      |  FROM ch
      |)
      |SELECT user_id, attr, eff_from_us, eff_to_us, version,
      |  CASE WHEN eff_to_us IS NULL THEN CAST(1 AS BIGINT)
      |       ELSE CAST(0 AS BIGINT) END AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin

  // -------------------------------------------------------------------
  // q168: the NATIVE as-of join (graft.plans.AsOfJoin — custom
  // LogicalPlan + SparkStrategy + streaming sort-merge SparkPlan, the
  // preference-(c) rung) on the exact q40 workload, gated by the SAME
  // DuckDB ASOF oracle. q40 stays registered on the composed
  // union+window operator, so the two formulations are permanently
  // cross-checked against each other AND against DuckDB.
  // -------------------------------------------------------------------
  def q168AsofNative(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.plans.AsOfJoin(purchases, clicks, "user_id", "ts", "ts",
        payloadCols = Seq("event_id", "ts"), tieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("click_id"), col("asof_ts").as("click_ts"))
      .orderBy(asc("event_id"))
  }

  // -------------------------------------------------------------------
  // q169: native as-of FORWARD (time-to-next-event) — the q135
  // workload through graft.plans.AsOfJoin(forward = true): earliest
  // purchase at-or-after each click, ties to least event_id. Same
  // DuckDB forward-ASOF oracle as q135; held state in the exec is
  // ZERO (the match is always the current lookahead row).
  // -------------------------------------------------------------------
  def q169AsofNativeForward(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.plans.AsOfJoin(clicks, purchases, "user_id", "ts", "ts",
        payloadCols = Seq("event_id", "ts"), tieBreak = Some("event_id"),
        forward = true)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("purchase_id"),
        (unix_micros(col("asof_ts")) - unix_micros(col("ts"))).as("wait_us"))
      .orderBy(asc("event_id"))
  }

  // -------------------------------------------------------------------
  // q182: exponential time-decay weighted aggregates — the
  // recency-weighting primitive (decayed popularity for data mixing,
  // freshness-weighted stats) in EXACT fixed-point: per-week halving,
  // weight = 1e6 div 2^age_weeks (ppm resolution; age ≥ 20 weeks →
  // weight 0 by integer underflow, the documented horizon). Anchor =
  // the global max event time, broadcast as a 1-row frame; the weight
  // is one codegen'd shift+div per row, the decayed value product is
  // cleared back to int64 per row ((v6·w) div 1e6 ≤ 5.6e8), and both
  // sums are plain partial-agged long adds — bit-replayable, no
  // float exp() anywhere. Scale: one scan, map-only weights, one
  // aggregate.
  // -------------------------------------------------------------------
  def q182DecayedAgg(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.Events.ev(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
          .cast("long").as("v6"))
    val anchor = base.agg(max(col("us")).as("max_us"))
    base.crossJoin(broadcast(anchor))
      .withColumn("age", expr("(max_us - us) div 604800000000L"))
      .withColumn("w_ppm", expr("1000000L div shiftleft(1L, cast(least(age, 62L) as int))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("w_ppm")).as("decayed_n_ppm"),
        sum(expr("(v6 * w_ppm) div 1000000L")).as("decayed_v6"))
      .orderBy(asc("event_type"))
  }
  val q182Sql: String =
    """WITH b AS (
      |  SELECT event_type, EPOCH_US(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v6
      |  FROM events
      |), a AS (SELECT MAX(us) AS max_us FROM b),
      |w AS (
      |  SELECT event_type, v6,
      |    CAST(1000000 AS BIGINT)
      |      // (CAST(1 AS BIGINT) << CAST(LEAST((max_us - us) // 604800000000, 62) AS INT))
      |      AS w_ppm
      |  FROM b CROSS JOIN a
      |)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(w_ppm) AS BIGINT) AS decayed_n_ppm,
      |  CAST(SUM((v6 * w_ppm) // 1000000) AS BIGINT) AS decayed_v6
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Every query of this module: name → (build function, oracle SQL). */
  val registry: Map[String, Query] = Query.registry(
    "q206_asof_tolerance" -> Query(q206AsofTolerance, q206Sql),
    "q182_decayed_agg" -> Query(q182DecayedAgg, q182Sql),
    "q168_asof_native" -> Query(q168AsofNative, q40Sql), // identical output contract by design
    "q169_asof_native_forward" -> Query(q169AsofNativeForward, q135Sql), // ditto, forward direction
    "q40_asof_join" -> Query(q40AsofJoin, q40Sql),
    "q41_range_join" -> Query(q41RangeJoin, q41Sql),
    "q135_asof_forward" -> Query(q135AsofForward, q135Sql),
    "q144_time_weighted_avg" -> Query(q144TimeWeightedAvg, q144Sql),
    "q146_interval_overlap" -> Query(q146IntervalOverlap, q146Sql),
    "q242_scd2_history" -> Query(q242Scd2History, q242Sql))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.builds(registry)
}
