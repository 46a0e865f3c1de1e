package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.sources.Events.ev

/** Scalar-function and set-operation coverage: the reference has NO
  * scalar function library (SURVEY §2.9 — 4 arithmetic ops only) and
  * no set operations (§2.7); Spark supplies them natively. Each query
  * pins the exact cross-engine semantics with a DuckDB oracle.
  */
object Scalars {

  // -------------------------------------------------------------------
  // q44: sliding time windows (1h window, 15m slide → each event in 4
  // windows). Oracle reproduces Spark's window assignment with exact
  // epoch arithmetic.
  // -------------------------------------------------------------------
  def q44SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(20, 6))).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(asc("w_start"), asc("event_type"))
  val q44Sql: String =
    """SELECT CAST(TO_TIMESTAMP((EPOCH_US(ts) // 900000000 - k) * 900000000 / 1000000.0) AS TIMESTAMP) AS w_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k)
      |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q45: set operations — INTERSECT and EXCEPT (reference §2.7 absent).
  // Written as one distinct per side + a single left-outer join rather
  // than intersect + except, which would each shuffle the full lineitem
  // key set independently (2× the dominant shuffle for identical
  // output: every distinct big-order key, tagged by membership).
  // -------------------------------------------------------------------
  def q45SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val big = o.filter(col("o_totalprice") > lit(300000.0))
      .select(col("o_orderkey").as("k")).distinct()
    val shipped = li.select(col("l_orderkey").as("k")).distinct()
      .withColumn("hit", lit(1))
    big.join(shipped, Seq("k"), "left_outer")
      .select(col("k"),
        when(col("hit").isNotNull, lit("big_and_shipped"))
          .otherwise(lit("big_no_items")).as("tag"))
      .orderBy(asc("k"), asc("tag"))
  }
  val q45Sql: String =
    """SELECT * FROM (
      |  SELECT k, 'big_and_shipped' AS tag FROM (
      |    SELECT o_orderkey AS k FROM orders WHERE o_totalprice > 300000.0
      |    INTERSECT SELECT l_orderkey AS k FROM lineitem)
      |  UNION ALL
      |  SELECT k, 'big_no_items' AS tag FROM (
      |    SELECT o_orderkey AS k FROM orders WHERE o_totalprice > 300000.0
      |    EXCEPT SELECT l_orderkey AS k FROM lineitem)
      |) ORDER BY k, tag""".stripMargin

  // -------------------------------------------------------------------
  // q46: string scalar functions — case, substring, concat, LIKE,
  // trim/pad, replace
  // -------------------------------------------------------------------
  def q46StringFuncs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_name").like("%1%"))
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat_ws("/", col("c_mktsegment"), col("c_name")).as("seg_name"),
        length(col("c_name")).as("name_len"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("name_masked"))
      .orderBy(asc("c_custkey"))
  val q46Sql: String =
    """SELECT c_custkey,
      |  UPPER(c_name) AS name_upper,
      |  SUBSTRING(c_name, 1, 8) AS name_prefix,
      |  CONCAT_WS('/', c_mktsegment, c_name) AS seg_name,
      |  LENGTH(c_name) AS name_len,
      |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked
      |FROM customer WHERE c_name LIKE '%1%'
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q47: date/time scalar functions — extraction, truncation, diff,
  // arithmetic (reference typed dates as strings; ours are honest
  // timestamps)
  // -------------------------------------------------------------------
  def q47DateFuncs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("1996-01-01").cast("date"), col("o_orderdate").cast("date"))
          .as("days_to_96"))
      .orderBy(asc("o_orderkey"))
  val q47Sql: String =
    """SELECT o_orderkey,
      |  YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m,
      |  DAY(o_orderdate) AS d, QUARTER(o_orderdate) AS q,
      |  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1996-01-01') AS days_to_96
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // q48: built-in session_window (30-min gap) — must agree with the
  // manual lag/cumsum sessionization (q19); the oracle is that CTE.
  // (Checked: no user has an exactly-30-min gap, so the >= / >
  // boundary difference between the two formulations cannot bite.)
  // -------------------------------------------------------------------
  def q48SessionWindow(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(20, 6))).cast("double").as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))
      .orderBy(asc("user_id"), asc("session_start"))
  val q48Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN LAG(ts) OVER w IS NULL THEN 0
      |         WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000 THEN 1
      |         ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessed AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged
      |)
      |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS session_value
      |FROM sessed GROUP BY user_id, session_idx
      |ORDER BY user_id, session_start""".stripMargin

  // -------------------------------------------------------------------
  // q79: upsert / MERGE (last-writer-wins CDC): every 10th order gets
  // an updated status ('U') with doubled price, every 97th key inserts
  // as a new order (key + 1,000,000, status 'N'); unmatched base rows
  // survive. One keys-only anti join + union — the base streams once.
  // Summarized per status so the updated/inserted/surviving partitions
  // are each separately visible to the gate.
  // -------------------------------------------------------------------
  def q79UpsertMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"))
      .unionByName(o.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 1000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice")))
    graft.operators.Scale.upsert(o, updates, Seq("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(20, 2))).cast("double").as("sum_price"))
      .orderBy(asc("o_orderstatus"))
  }
  val q79Sql: String =
    """WITH updates AS (
      |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000, 'N', o_totalprice
      |  FROM orders WHERE o_orderkey % 97 = 0
      |), merged AS (
      |  SELECT * FROM updates
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      |)
      |SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q80: incremental aggregate maintenance — the delta's PARTIAL
  // aggregate merges into the materialized base aggregate; the oracle
  // recomputes over all rows. Proves the mergeability contract the
  // engine's backfill path relies on (merge cost ∝ |groups|, not
  // |rows|).
  // -------------------------------------------------------------------
  def q80IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val qty = col("l_quantity").cast(DecimalType(20, 2))
    val base = graft.operators.Scale.partialAgg(
      li.filter(col("l_orderkey") % 5 =!= 0), "l_returnflag", qty)
    val delta = graft.operators.Scale.partialAgg(
      li.filter(col("l_orderkey") % 5 === 0), "l_returnflag", qty)
    graft.operators.Scale.mergePartials(base, delta, "l_returnflag")
      .select(col("l_returnflag"), col("n"),
        col("s").cast("double").as("sum_qty"))
      .orderBy(asc("l_returnflag"))
  }
  val q80Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q105: salted skew join under the oracle gate — the salt spreads a
  // hot key across saltFactor sub-partitions (left rows get one salt,
  // the dimension replicates across all); physical-only, so the plain
  // join SQL is an exact oracle. Value sums through DECIMAL.
  // -------------------------------------------------------------------
  def q105SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("user_id"), col("value"))
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.operators.Scale.saltedJoin(e, c, "user_id", saltFactor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 6))).cast("double").as("sum_value"))
      .orderBy(asc("c_mktsegment"))
  }
  val q105Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // q279: JOIN-KEY SKEW AUDIT — the advisor that sizes q105's
  // saltFactor before the 100 TB shuffle runs: per candidate join key,
  // key cardinality, hottest-key row count + ppm share, exact
  // p50/p99 of the per-key distribution, and the recommended salt
  // factor at 200 target partitions (1 = don't salt). Percentiles
  // come from the count-of-counts HISTOGRAM (one row per distinct
  // per-key count — bounded by the count domain, never a global sort
  // of per-key counts); all algebra exact int64. Audits the three
  // shuffles this suite actually pays: lineitem⋈supplier,
  // lineitem⋈orders, orders⋈customer.
  // -------------------------------------------------------------------
  def q279SkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    graft.operators.Scale.keySkewAudit(l, "l_suppkey", "lineitem.l_suppkey")
      .union(graft.operators.Scale.keySkewAudit(l, "l_orderkey", "lineitem.l_orderkey"))
      .union(graft.operators.Scale.keySkewAudit(o, "o_custkey", "orders.o_custkey"))
      .orderBy(asc("key_label"))
  }
  val q279Sql: String = {
    def one(table: String, key: String): String =
      raw"""SELECT ':$table.$key:' AS key_label, n_keys, n_rows, max_rows, p50, p99,
        |  (max_rows * 1000000) // n_rows AS top1_ppm,
        |  (max_rows * 200 + n_rows - 1) // n_rows AS salt_factor
        |FROM (
        |  SELECT CAST(SUM(n_keys) AS BIGINT) AS n_keys,
        |    CAST(SUM(cnt * n_keys) AS BIGINT) AS n_rows,
        |    CAST(MAX(cnt) AS BIGINT) AS max_rows,
        |    CAST(MIN(CASE WHEN cum_keys * 2 >= tot_keys THEN cnt END) AS BIGINT) AS p50,
        |    CAST(MIN(CASE WHEN cum_keys * 100 >= tot_keys * 99 THEN cnt END) AS BIGINT) AS p99
        |  FROM (
        |    SELECT cnt, n_keys,
        |      SUM(n_keys) OVER (ORDER BY cnt) AS cum_keys,
        |      SUM(n_keys) OVER () AS tot_keys
        |    FROM (
        |      SELECT cnt, COUNT(*) AS n_keys FROM (
        |        SELECT $key, COUNT(*) AS cnt FROM $table GROUP BY 1
        |      ) GROUP BY 1
        |    )
        |  )
        |)""".stripMargin.replace(s"':$table.$key:'", s"'$table.$key'")
    one("lineitem", "l_suppkey") + "\nUNION ALL\n" +
      one("lineitem", "l_orderkey") + "\nUNION ALL\n" +
      one("orders", "o_custkey") + "\nORDER BY key_label"
  }

  // -------------------------------------------------------------------
  // q107: partitioned-layout round trip — write events partitioned by
  // event_type (the 100 TB curation-key layout), read back through the
  // partition-pruned scan (only the click/purchase directories are
  // touched — PartitionFilters, spec-asserted in SourcesSpec), and
  // aggregate. The oracle reads the ORIGINAL table: the gate proves
  // layout fidelity — partitioning must not change any answer.
  // -------------------------------------------------------------------
  def q107PartitionedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.TempDirs.scratch("graft_part_rt")
    ev(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    spark.read.parquet(out)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 6))).cast("double").as("sum_value"))
      .orderBy(asc("event_type"))
  }
  val q107Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type IN ('click', 'purchase')
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q109: bucketed co-located join — both sides written bucketed+sorted
  // on the join key (16 buckets, external scratch location), then
  // joined and aggregated ON THE BUCKET KEY: the join runs with NO
  // Exchange and NO Sort on either side, and the aggregate reuses the
  // same clustering (the only shuffle in the plan is the final
  // deterministic ORDER BY). This is the repeated fact-fact join
  // pattern at 100 TB: pay the layout once, join shuffle-free forever.
  // Oracle: the identical plain join in DuckDB — bucketing must not
  // change any answer.
  // -------------------------------------------------------------------
  def q109BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scale
    val base = graft.util.TempDirs.scratch("graft_bucketed")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val items = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
    Scale.writeBucketed(orders, "graft_b_orders", "o_orderkey", 16,
      Some(s"$base/orders"))
    Scale.writeBucketed(items, "graft_b_lineitem", "o_orderkey", 16,
      Some(s"$base/lineitem"))
    Scale.bucketedJoin(spark, "graft_b_orders", "graft_b_lineitem", "o_orderkey")
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(DecimalType(20, 2))).cast("double")
          .as("revenue"))
      .orderBy(asc("o_orderkey"))
  }
  val q109Sql: String =
    """SELECT o_orderkey, o_orderpriority, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY o_orderkey, o_orderpriority
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // q112: CSV round trip — the REFERENCE'S primary format (headerless,
  // `|`-separated, schema declared never inferred) gated at driver
  // level: write customers as pipe-CSV, read back through the
  // reference-parity Sources.csv path, aggregate with the decimal
  // convention. The oracle reads the ORIGINAL parquet — format
  // fidelity means the answer must not change. Doubles survive the
  // text round trip exactly (shortest-repr print, exact parse).
  // -------------------------------------------------------------------
  def q112CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = graft.util.TempDirs.scratch("graft_csv_rt")
    spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .write.mode("overwrite").option("header", "false").option("sep", "|")
      .csv(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_mktsegment", StringType),
      StructField("c_acctbal", DoubleType)))
    graft.sources.Sources.csv(spark, out, schema).df
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast(DecimalType(20, 2))).cast("double").as("sum_bal"))
      .orderBy(asc("c_mktsegment"))
  }
  val q112Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // q113: ORC round trip — the second columnar format, written
  // PARTITIONED by event_type and read back through the pruned scan
  // (the ORC twin of q107's parquet layout gate; same oracle shape:
  // the layout must not change any answer).
  // -------------------------------------------------------------------
  def q113OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.TempDirs.scratch("graft_orc_rt")
    graft.sources.Sources.writeOrc(
      ev(spark, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("value")),
      out, partitionBy = Seq("event_type"))
    graft.sources.Sources.orc(spark, out).df
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 6))).cast("double").as("sum_value"))
      .orderBy(asc("event_type"))
  }

  // -------------------------------------------------------------------
  // q115: JSONL round trip — the line-splittable semi-structured
  // format, schema declared never inferred (inference would scan the
  // data twice; at 100 TB schema-on-read is declared). Documents
  // metadata (incl. free text with whatever characters the corpus
  // holds — JSON escaping must round-trip them) written as JSONL,
  // read back through Sources.jsonl, aggregated per (lang, source).
  // Oracle reads the ORIGINAL parquet: format fidelity means the
  // answer must not change.
  // -------------------------------------------------------------------
  def q115JsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = graft.util.TempDirs.scratch("graft_jsonl_rt")
    graft.sources.Sources.writeJsonl(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"), col("text")),
      out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("text", StringType)))
    graft.sources.Sources.jsonl(spark, out, schema).df
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        min(col("doc_id")).as("min_id"))
      .orderBy(asc("lang"), asc("source"))
  }
  val q115Sql: String =
    """SELECT lang, source, COUNT(*) AS n,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_id
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // -------------------------------------------------------------------
  // q149: DYNAMIC partition pruning — the 100 TB star-join staple,
  // fact-partitioned-by-date ⋈ date-dim. The fact table is laid out
  // partitioned by day; the dim is a runtime-built day dimension
  // filtered to Mondays — a LITERAL filter (Catalyst's
  // isLikelySelective requires one; an attr-vs-attr comparison
  // disqualifies the join from DPP) whose qualifying day set is still
  // unknowable at plan time. Catalyst injects a dynamicpruning#N
  // subquery into the fact scan's PartitionFilters (ScaleSpec asserts
  // it, plus some-but-not-all pruning) and only ~1/7 of the
  // directories are read — at 100 TB, the difference between scanning
  // the lake and scanning the qualifying partitions. Oracle: the same
  // join on the RAW table — pruning must not change any answer.
  // -------------------------------------------------------------------
  def q149DynamicPruning(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.TempDirs.scratch("graft_dpp")
    ev(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        to_date(col("ts")).as("day"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val fact = spark.read.parquet(out) // partition col read back as DATE
    val dim = ev(spark, dir)
      .select(to_date(col("ts")).as("day")).distinct()
      .filter(dayofweek(col("day")) === 2) // Monday
    fact.join(broadcast(dim), Seq("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 6))).cast("double").as("sum_value"))
      .orderBy(asc("day"))
  }
  val q149Sql: String =
    """WITH d AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day
      |  FROM events WHERE EXTRACT(dow FROM ts) = 1
      |)
      |SELECT CAST(e.ts AS DATE) AS day, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events e JOIN d ON CAST(e.ts AS DATE) = d.day
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q150: runtime BLOOM-FILTER join (semi-join reduction) — Catalyst's
  // InjectRuntimeFilter builds a bloom filter over the selective build
  // side (URGENT orders) and pushes a BloomFilterMightContain probe
  // into the lineitem scan, so ~80% of fact rows drop BEFORE the join
  // shuffle. At 100 TB this is THE lever for selective fact-fact
  // joins: shuffle bytes shrink by the filter's selectivity, not by
  // luck. Local thresholds (10 GB scan floor) are lowered on a cloned
  // session scoped to this query (the result is computed to scratch
  // before the clone goes out of scope — conf must be live at
  // optimization time, and must not leak into other queries' plans);
  // broadcast is disabled in the clone so the join actually shuffles
  // (a broadcast join needs no runtime filter). ScaleSpec asserts
  // bloom_filter_agg / BloomFilterMightContain in the executed plan.
  // Oracle: the identical plain join — a bloom filter has no false
  // negatives, so the answer must not change.
  // -------------------------------------------------------------------
  def q150BloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.util.TempDirs.scratch("graft_bloomjoin")
    // conf must be live at optimization time but must not leak into
    // other queries' plans: a CLONED session (shared SparkContext,
    // isolated SQLConf) scopes the thresholds to this query with no
    // save/restore window to race against concurrent session users
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val urgent = s.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    li.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(DecimalType(20, 2))).cast("double")
          .as("revenue"))
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).orderBy(asc("o_custkey"))
  }
  val q150Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q155: incremental JOIN-view maintenance — the delta algebra for a
  // materialized join: with insert-only deltas ΔO (new orders) and ΔC
  // (new customers), the new join state is exactly
  //   (O∪ΔO)⋈(C∪ΔC) = O⋈C  ∪  ΔO⋈(C∪ΔC)  ∪  O⋈ΔC
  // so the refresh touches only DELTA-sized joins plus a keyed merge
  // of two aggregates — never a rescan of the standing fact table. At
  // 100 TB this is the difference between a nightly full join and a
  // minutes-long delta apply; ΔO/ΔC are synthesized deterministically
  // (orderkey%97, custkey%50) so the ORACLE is the naive full
  // recompute — incremental must equal full, bit-for-bit through the
  // decimal convention.
  // -------------------------------------------------------------------
  def q155IncrementalJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(DecimalType(20, 2)).as("price"))
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val oOld = o.filter(col("o_orderkey") % 97 =!= 0)
    val oDelta = o.filter(col("o_orderkey") % 97 === 0)
    val cOld = c.filter(col("c_custkey") % 50 =!= 0)
    val cDelta = c.filter(col("c_custkey") % 50 === 0)
    def agg(j: DataFrame): DataFrame = j.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("price")).as("rev"))
    // standing state: the already-materialized base join aggregate
    val base = agg(oOld.join(cOld, col("o_custkey") === col("c_custkey")))
    // delta apply: ΔO against the FULL dim, old fact against ΔC only
    val d1 = agg(oDelta.join(c, col("o_custkey") === col("c_custkey")))
    val d2 = agg(oOld.join(cDelta, col("o_custkey") === col("c_custkey")))
    base.unionByName(d1).unionByName(d2)
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("n")).as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
      .orderBy(asc("c_mktsegment"))
  }
  val q155Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // q156: small-file COMPACTION — the lakehouse maintenance op:
  // streaming/CDC sinks leave thousands of KB-sized files whose
  // per-file open/footer cost dominates scans (at 100 TB, a million
  // 1 MB files is a metadata catastrophe — target ~128 MB-1 GB files,
  // |files| ≈ bytes/target). Simulated here: a 64-way fragmented
  // write, then bin-packed to ceil(total/target) files by measuring
  // the ACTUAL on-disk bytes (not row counts — compression skew makes
  // row-based packing wrong). Round-robin repartition(n) gives
  // near-equal file sizes. The oracle reads the ORIGINAL table —
  // compaction must not change any answer; SourcesSpec asserts the
  // file-count arithmetic.
  // -------------------------------------------------------------------
  def q156Compaction(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.TempDirs.scratch("graft_compact")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_returnflag"))
      .repartition(64) // simulate a fragmented sink
      .write.mode("overwrite").parquet(s"$base/small")
    val small = new java.io.File(s"$base/small").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val targetBytes = 4L * 1024 * 1024
    val n = math.max(1,
      math.ceil(small.map(_.length).sum.toDouble / targetBytes).toInt)
    spark.read.parquet(s"$base/small")
      .repartition(n)
      .write.mode("overwrite").parquet(s"$base/compact")
    spark.read.parquet(s"$base/compact")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(20, 2))).cast("double")
          .as("sum_price"))
      .orderBy(asc("l_returnflag"))
  }
  val q156Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q157: UNPIVOT (melt) — the inverse of q20's pivot, completing the
  // reshape pair: a wide per-flag aggregate melts into (flag, metric,
  // val) long form via Dataset.unpivot (Spark's native Expand — one
  // pass, no join, row count = rows × metrics). Long form is the
  // metrics-table shape every monitoring sink wants. The aggregate
  // runs BEFORE the melt, so the expand multiplies a 3-row frame, not
  // the fact table. Oracle: three-way UNION ALL of the same sums.
  // -------------------------------------------------------------------
  def q157Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(20, 2))).cast("double").as("qty"),
        sum(col("l_extendedprice").cast(DecimalType(20, 2))).cast("double").as("price"),
        sum(col("l_discount").cast(DecimalType(20, 2))).cast("double").as("disc"))
    wide.unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")), "metric", "val")
      .orderBy(asc("l_returnflag"), asc("metric"))
  }
  val q157Sql: String =
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS qty,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS price,
      |    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS disc
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, metric, val FROM (
      |  SELECT l_returnflag, 'qty' AS metric, qty AS val FROM w
      |  UNION ALL SELECT l_returnflag, 'price', price FROM w
      |  UNION ALL SELECT l_returnflag, 'disc', disc FROM w
      |) ORDER BY l_returnflag, metric""".stripMargin

  // -------------------------------------------------------------------
  // q288: ZONE-MAP PRUNING AUDIT — quantifies what a clustering key is
  // WORTH before paying for the rewrite (the planning twin of q84's
  // z-order and LayoutSpec's candidateFiles file-stat assertion, as an
  // oracle-gated table): simulate per-block [min, max] custkey zone
  // maps under two layouts — natural ingest order (blocks keyed by
  // o_orderkey div 4096) and custkey-range clustering (blocks keyed by
  // o_custkey div 64) — and for 16 equal-width custkey range
  // predicates that tile the domain, count the blocks a footer-stats
  // reader must scan in each. Scale shape: predicate assignment is
  // map-side integer arithmetic against the broadcast 1-row domain
  // frame (each row belongs to exactly ONE tile — no 16× fan-out);
  // block stats are two partial-aggregated groupBys; the
  // overlap joins run on the METADATA-sized block-stat frames against
  // the bounded predicate frame. All-int64, exact oracle.
  // -------------------------------------------------------------------
  def q288ZoneMap(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val dom = o.groupBy().agg(min(col("o_custkey")).as("lo0"),
      max(col("o_custkey")).as("hi0"))
    val preds = dom
      .select(explode(sequence(lit(0L), lit(15L))).as("p"), col("lo0"), col("hi0"))
      .select(col("p"),
        expr("lo0 + ((hi0 - lo0 + 1) * p) div 16").as("lo"),
        expr("lo0 + ((hi0 - lo0 + 1) * (p + 1)) div 16 - 1").as("hi"))
    val rowsM = o.crossJoin(broadcast(dom))
      .select(expr("((o_custkey - lo0) * 16) div (hi0 - lo0 + 1)").as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("rows_match"))
    def blockStats(blkExpr: String) = o
      .groupBy(expr(blkExpr).as("blk"))
      .agg(min(col("o_custkey")).as("mn"), max(col("o_custkey")).as("mx"))
    def scanned(stats: DataFrame, outCol: String) = stats
      .crossJoin(broadcast(preds))
      .filter(col("mx") >= col("lo") && col("mn") <= col("hi"))
      .groupBy(col("p")).agg(count(lit(1)).as(outCol))
    val nat = blockStats("o_orderkey div 4096")
    val clu = blockStats("o_custkey div 64")
    val tots = nat.groupBy().agg(count(lit(1)).as("tot_nat"))
      .crossJoin(clu.groupBy().agg(count(lit(1)).as("tot_clu")))
    preds
      .join(rowsM, Seq("p"), "left_outer")
      .join(scanned(nat, "blk_nat"), Seq("p"), "left_outer")
      .join(scanned(clu, "blk_clu"), Seq("p"), "left_outer")
      .crossJoin(broadcast(tots))
      .select(col("p"), col("lo"), col("hi"),
        coalesce(col("rows_match"), lit(0L)).as("rows_match"),
        coalesce(col("blk_nat"), lit(0L)).as("blk_nat"), col("tot_nat"),
        coalesce(col("blk_clu"), lit(0L)).as("blk_clu"), col("tot_clu"))
      .orderBy(asc("p"))
  }
  val q288Sql: String =
    """WITH dom AS (
      |  SELECT MIN(o_custkey) AS lo0, MAX(o_custkey) AS hi0 FROM orders
      |), preds AS (
      |  SELECT CAST(p AS BIGINT) AS p,
      |    lo0 + ((hi0 - lo0 + 1) * p) // 16 AS lo,
      |    lo0 + ((hi0 - lo0 + 1) * (p + 1)) // 16 - 1 AS hi
      |  FROM dom, (SELECT UNNEST(range(0, 16)) AS p)
      |), rm AS (
      |  SELECT ((o_custkey - (SELECT lo0 FROM dom)) * 16)
      |      // ((SELECT hi0 FROM dom) - (SELECT lo0 FROM dom) + 1) AS p,
      |    CAST(COUNT(*) AS BIGINT) AS rows_match
      |  FROM orders GROUP BY 1
      |), nat AS (
      |  SELECT o_orderkey // 4096 AS blk,
      |    MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
      |  FROM orders GROUP BY 1
      |), clu AS (
      |  SELECT o_custkey // 64 AS blk,
      |    MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
      |  FROM orders GROUP BY 1
      |), sn AS (
      |  SELECT p, CAST(COUNT(*) AS BIGINT) AS blk_nat
      |  FROM nat JOIN preds ON mx >= lo AND mn <= hi GROUP BY 1
      |), sc AS (
      |  SELECT p, CAST(COUNT(*) AS BIGINT) AS blk_clu
      |  FROM clu JOIN preds ON mx >= lo AND mn <= hi GROUP BY 1
      |)
      |SELECT preds.p, preds.lo, preds.hi,
      |  COALESCE(rm.rows_match, 0) AS rows_match,
      |  COALESCE(sn.blk_nat, 0) AS blk_nat,
      |  (SELECT COUNT(*) FROM nat) AS tot_nat,
      |  COALESCE(sc.blk_clu, 0) AS blk_clu,
      |  (SELECT COUNT(*) FROM clu) AS tot_clu
      |FROM preds
      |LEFT JOIN rm USING (p)
      |LEFT JOIN sn USING (p)
      |LEFT JOIN sc USING (p)
      |ORDER BY p""".stripMargin

  /** Every query of this module: name → (build function, oracle SQL). */
  val registry: Map[String, Query] = Query.registry(
    "q288_zone_map" -> Query(q288ZoneMap, q288Sql),
    "q279_skew_audit" -> Query(q279SkewAudit, q279Sql),
    "q157_unpivot" -> Query(q157Unpivot, q157Sql),
    "q156_compaction" -> Query(q156Compaction, q156Sql),
    "q155_incremental_join" -> Query(q155IncrementalJoin, q155Sql),
    "q149_dynamic_pruning" -> Query(q149DynamicPruning, q149Sql),
    "q150_bloom_join" -> Query(q150BloomJoin, q150Sql),
    "q107_partitioned_roundtrip" -> Query(q107PartitionedRoundtrip, q107Sql),
    "q109_bucketed_join" -> Query(q109BucketedJoin, q109Sql),
    "q112_csv_roundtrip" -> Query(q112CsvRoundtrip, q112Sql),
    // identical output to the parquet layout gate
    "q113_orc_roundtrip" -> Query(q113OrcRoundtrip, q107Sql),
    "q115_jsonl_roundtrip" -> Query(q115JsonlRoundtrip, q115Sql),
    "q105_salted_join" -> Query(q105SaltedJoin, q105Sql),
    "q79_upsert_merge" -> Query(q79UpsertMerge, q79Sql),
    "q80_incremental_agg" -> Query(q80IncrementalAgg, q80Sql),
    "q44_sliding_window" -> Query(q44SlidingWindow, q44Sql),
    "q45_set_ops" -> Query(q45SetOps, q45Sql),
    "q46_string_funcs" -> Query(q46StringFuncs, q46Sql),
    "q47_date_funcs" -> Query(q47DateFuncs, q47Sql),
    "q48_session_window" -> Query(q48SessionWindow, q48Sql))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.builds(registry)
}
