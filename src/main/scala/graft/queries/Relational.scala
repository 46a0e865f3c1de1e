package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity relational queries (SURVEY.md §2.1-2.7), one per
  * operator, each paired with a DuckDB oracle in [[Relational.oracle]].
  *
  * Float-determinism convention: any aggregate whose result depends on
  * summation ORDER (sum/avg of doubles) is computed through
  * DECIMAL(38,10) — exact and associative, so Spark's parallel partial
  * aggregation and DuckDB's sequential scan produce bit-identical
  * values — then cast back to double the same way on both sides.
  * Row-level double arithmetic (a*b, 1-x) is identical IEEE on both
  * engines and needs no such treatment. min/max/count are order-free.
  *
  * Every query ends in a deterministic ORDER BY over a unique key so
  * row order matches the oracle exactly.
  */
object Relational {
  private val D = DecimalType(38, 10)
  /** Exact associative sum of a double expression, returned as double. */
  private def dsum(c: Column): Column = sum(c.cast(D)).cast("double")
  /** Exact average: decimal sum / count, divided in double space. */
  private def davg(c: Column): Column = sum(c.cast(D)).cast("double") / count(lit(1))

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // -------------------------------------------------------------------
  // q01: the reference's flagship — TPC-H Q1 adaptation
  // (reference: client.py:259-331). Exercises scan, filter, projection
  // with arithmetic+literals+aliases, groupBy, sum/avg/count, orderBy:
  // 6 of the 7 reference operators in one pipeline.
  // -------------------------------------------------------------------
  def q01TpchQ1(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    // money columns are exact 2-decimal values: cast them to DECIMAL
    // FIRST, then multiply in decimal space — fully exact, so Spark's
    // partial aggregation order and DuckDB's scan order can't diverge.
    // (Casting a *computed* double to decimal instead would double-round
    // differently across engines.)
    val price = col("l_extendedprice").cast(DecimalType(12, 2))
    val disc = col("l_discount").cast(DecimalType(3, 2))
    val tax = col("l_tax").cast(DecimalType(3, 2))
    val one = lit(1).cast(DecimalType(3, 2))
    li.filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(price * (one - disc)).cast("double").as("sum_disc_price"),
        sum(price * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(asc("l_returnflag"), asc("l_linestatus"))
  }
  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -------------------------------------------------------------------
  // q02: projection + expression language — source/constant/alias and
  // all four arithmetic ops incl. int/int divide → double
  // (reference: src/dataframe.rs:105-111, src/block.rs:81-107,496-501).
  // -------------------------------------------------------------------
  def q02SelectArith(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_quantity") + col("l_tax")).as("qty_plus_tax"),
      (col("l_extendedprice") - col("l_discount")).as("price_minus_disc"),
      (col("l_extendedprice") * col("l_discount")).as("disc_amt"),
      (col("l_orderkey") / lit(7L)).as("key_div"),
      lit(42L).as("const_col"))
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
    // sort by every output column so tied rows are interchangeable
    .orderBy(asc("l_orderkey"), asc("l_linenumber"), asc("qty_plus_tax"),
      asc("price_minus_disc"), asc("disc_amt"))
  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_quantity + l_tax AS qty_plus_tax,
      |  l_extendedprice - l_discount AS price_minus_disc,
      |  l_extendedprice * l_discount AS disc_amt,
      |  l_orderkey / 7 AS key_div,
      |  CAST(42 AS BIGINT) AS const_col
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_plus_tax,
      |  price_minus_disc, disc_amt""".stripMargin

  // -------------------------------------------------------------------
  // q03: chained single-column filters covering all 5 comparators
  // (reference: src/value.rs:214-233; chaining per src/dataframe.rs:339).
  // Catalyst collapses the chain into one scan predicate (CombineFilters
  // + parquet pushdown).
  // -------------------------------------------------------------------
  def q03FilterChain(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_quantity") > lit(10.0))
      .filter(col("l_discount") <= lit(0.05))
      .filter(col("l_returnflag") === lit("R"))
      .filter(col("l_linenumber") < lit(5))
      .filter(col("l_tax") >= lit(0.02))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_returnflag"), col("l_tax"))
      .orderBy(asc("l_orderkey"), asc("l_linenumber"), asc("l_quantity"),
        asc("l_discount"), asc("l_tax"))
  val q03Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_tax
      |FROM lineitem
      |WHERE l_quantity > 10.0 AND l_discount <= 0.05 AND l_returnflag = 'R'
      |  AND l_linenumber < 5 AND l_tax >= 0.02
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_tax""".stripMargin

  // -------------------------------------------------------------------
  // q04: multi-column ascending sort, nulls-first — the reference's
  // only sort (src/dataframe.rs:351-371, NaN-first src/block.rs:218-230)
  // -------------------------------------------------------------------
  def q04OrderBy(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_shipdate"),
        asc("l_orderkey"), asc("l_linenumber"))
      // all four output columns participate in the sort: full rows that
      // still tie are identical and interchangeable
  val q04Sql: String =
    """SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber
      |FROM lineitem
      |ORDER BY l_returnflag ASC NULLS FIRST, l_shipdate ASC NULLS FIRST,
      |  l_orderkey, l_linenumber""".stripMargin

  // -------------------------------------------------------------------
  // q05: ungrouped (global) aggregation — whole column → 1 row
  // (reference: src/dataframe.rs:407-446 non-grouped path;
  // aggregators src/aggregate.rs:27-35)
  // -------------------------------------------------------------------
  def q05GlobalAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      dsum(col("l_quantity")).as("sum_qty"),
      davg(col("l_extendedprice")).as("avg_price"),
      min(col("l_shipdate")).as("min_ship"),
      max(col("l_shipdate")).as("max_ship"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"))
  val q05Sql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
      |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
      |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
      |FROM lineitem""".stripMargin

  // -------------------------------------------------------------------
  // q06: grouped aggregation over a second table (orders) — hash
  // aggregate with map-side partial aggregation; at 100 TB this is a
  // single shuffle on the group keys.
  // -------------------------------------------------------------------
  def q06GroupAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_total"),
        min(col("o_totalprice")).as("min_total"),
        max(col("o_totalprice")).as("max_total"),
        min(col("o_orderdate")).as("first_date"))
      .orderBy(asc("o_orderstatus"), asc("o_orderpriority"))
  val q06Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_total,
      |  MIN(o_totalprice) AS min_total, MAX(o_totalprice) AS max_total,
      |  MIN(o_orderdate) AS first_date
      |FROM orders GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // q07: single-key equi inner join, BOTH key columns kept, ordered by
  // the left key (reference: src/dataframe.rs:448-476). Spark picks
  // the physical join; at this shape (orders ⋈ customer) AQE
  // broadcast-joins the smaller side automatically.
  // -------------------------------------------------------------------
  def q07JoinInner(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(col("o_orderkey"), col("o_custkey"), col("c_custkey"),
        col("c_name"), col("c_mktsegment"), col("o_totalprice"))
      .orderBy(asc("o_orderkey"))
  }
  val q07Sql: String =
    """SELECT o_orderkey, o_custkey, c_custkey, c_name, c_mktsegment, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // q08: fact ⋈ dimension with explicit broadcast — the 100 TB-scale
  // pattern: never shuffle the fact table for a small dimension.
  // -------------------------------------------------------------------
  def q08JoinBroadcastAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val p = t(spark, dir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "inner")
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2))))
          .cast("double").as("revenue"))
      .orderBy(asc("p_brand"))
  }
  val q08Sql: String =
    """SELECT p_brand, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // -------------------------------------------------------------------
  // q09: take/limit (reference wire action Take, src/api.rs:43 —
  // unimplemented there, implemented here as limit over a sort)
  // -------------------------------------------------------------------
  def q09Take(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(asc("l_orderkey"), asc("l_linenumber"), asc("l_quantity"))
      .limit(100)
  val q09Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // q10: count action (reference wire action Count, src/api.rs:42)
  // -------------------------------------------------------------------
  def q10Count(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").agg(count(lit(1)).as("n"))
  val q10Sql: String = "SELECT COUNT(*) AS n FROM lineitem"

  // -------------------------------------------------------------------
  // q11: union — the reference only has block-level union inside its
  // CSV reader (src/block.rs:181, src/reader.rs:119-129); exposed here
  // as the DataFrame-level operator it implies.
  // -------------------------------------------------------------------
  def q11Union(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val hi = o.filter(col("o_totalprice") > lit(400000.0))
      .select(col("o_orderkey"), col("o_totalprice"), lit("high").as("bucket"))
    val lo = o.filter(col("o_totalprice") < lit(50000.0))
      .select(col("o_orderkey"), col("o_totalprice"), lit("low").as("bucket"))
    hi.union(lo).orderBy(asc("o_orderkey"))
  }
  val q11Sql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_totalprice, 'high' AS bucket FROM orders WHERE o_totalprice > 400000.0
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, 'low' AS bucket FROM orders WHERE o_totalprice < 50000.0
      |) ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // q124: schema-drift union — unionByName(allowMissingColumns): two
  // corpus snapshots whose schemas diverged (v1 carries lang, v2
  // carries n_chars) align by COLUMN NAME with null fill, the
  // schema-evolution shape every long-lived multi-snapshot corpus
  // hits (positional union q11 would silently mis-align here). Exact
  // oracle: the null-filled projections are replayed explicitly.
  // -------------------------------------------------------------------
  def q124SchemaDriftUnion(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val v1 = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), lit("v1").as("snap"))
    val v2 = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("n_chars"), lit("v2").as("snap"))
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy(asc("doc_id"))
  }
  val q124Sql: String =
    """SELECT * FROM (
      |  SELECT doc_id, lang, 'v1' AS snap, NULL AS n_chars
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, NULL AS lang, 'v2' AS snap, CAST(n_chars AS BIGINT) AS n_chars
      |  FROM documents WHERE doc_id % 2 = 1
      |) ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q12: distinct (group-by-all-columns special case; the reference's
  // keys-only group_by, tests/lib.rs:179-185)
  // -------------------------------------------------------------------
  def q12Distinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(asc("l_returnflag"), asc("l_linestatus"))
  val q12Sql: String =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -------------------------------------------------------------------
  // q13: top-k — descending sort + limit (beyond the reference's
  // ascending-only order_by; Spark executes as TakeOrderedAndProject,
  // a per-partition heap + driver merge: no global sort at 100 TB)
  // -------------------------------------------------------------------
  def q13TopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(50)
  val q13Sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin

  // -------------------------------------------------------------------
  // q14: the reference's two-phase grouping made visible — group_by
  // nests values into List(T) columns, aggregate collapses them with
  // per-list kernels (reference: src/dataframe.rs:373-446,
  // src/block.rs:942-1093). Spark: collect_list + array HOFs
  // (sort_array for determinism; aggregate() HOF accumulates in
  // DECIMAL so the fold is exact). Oracle states the equivalent
  // direct aggregates.
  // -------------------------------------------------------------------
  def q14GroupTwoPhase(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val listed = li
      .groupBy(col("l_linenumber"))
      .agg(sort_array(collect_list(col("l_quantity"))).as("qtys"))
    listed.select(
      col("l_linenumber"),
      aggregate(col("qtys"), lit(0).cast(D), (a, x) => (a + x.cast(D)).cast(D))
        .cast("double").as("qty_sum"),
      element_at(col("qtys"), 1).as("qty_first_sorted"),
      array_max(col("qtys")).as("qty_max"),
      array_min(col("qtys")).as("qty_min"),
      size(col("qtys")).cast("long").as("n"))
      .orderBy(asc("l_linenumber"))
  }
  val q14Sql: String =
    """SELECT l_linenumber,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS qty_sum,
      |  MIN(l_quantity) AS qty_first_sorted,
      |  MAX(l_quantity) AS qty_max,
      |  MIN(l_quantity) AS qty_min,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber""".stripMargin

  // -------------------------------------------------------------------
  // q15: multi-way join across the star schema (region→nation→customer
  // →orders) with dimension broadcasts — TPC-H-Q5-ish shape.
  // -------------------------------------------------------------------
  def q15StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_total"))
      .orderBy(asc("r_name"), asc("n_name"))
  }
  val q15Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_total
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // -------------------------------------------------------------------
  // q49: TPC-H Q6 — the canonical filter+sum forecast-revenue query.
  // Revenue product computed in exact decimal space.
  // -------------------------------------------------------------------
  def q49TpchQ6(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .filter(col("l_discount") >= lit(0.02)).filter(col("l_discount") <= lit(0.04))
      .filter(col("l_quantity") < lit(24.0))
      .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
        col("l_discount").cast(DecimalType(3, 2))).cast("double").as("revenue"),
        count(lit(1)).as("n"))
  val q49Sql: String =
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_discount >= 0.02 AND l_discount <= 0.04
      |  AND l_quantity < 24.0""".stripMargin

  // -------------------------------------------------------------------
  // q50: TPC-H Q3 shape — top-10 orders by discounted revenue for a
  // market segment before a date. Fact-fact join + top-k on an exact
  // decimal-derived measure.
  // -------------------------------------------------------------------
  def q50TpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === lit("BUILDING"))
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-06-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2))))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }
  val q50Sql: String =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // -------------------------------------------------------------------
  // q51: TPC-H Q17 shape — rows exceeding their group average
  // (correlated-subquery semantics expressed as a self-aggregate join;
  // the average is decimal-exact so the comparison is portable).
  // -------------------------------------------------------------------
  def q51AboveGroupAvg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val avgs = li.groupBy(col("l_partkey").as("p_key"))
      .agg((sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double") /
        count(lit(1))).as("avg_qty"))
    li.join(broadcast(avgs), li("l_partkey") === avgs("p_key"))
      .filter(col("l_quantity") > lit(1.5) * col("avg_qty"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("avg_qty"))
      .orderBy(asc("l_orderkey"), asc("l_linenumber"), asc("l_partkey"),
        asc("l_quantity"))
  }
  val q51Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, avg_qty
      |FROM lineitem
      |JOIN (
      |  SELECT l_partkey AS p_key,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty
      |  FROM lineitem GROUP BY l_partkey
      |) ON l_partkey = p_key
      |WHERE l_quantity > 1.5 * avg_qty
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin

  // -------------------------------------------------------------------
  // q76: TPC-H Q5 shape — local-supplier volume: the six-table join
  // with the nation-colocation condition (c_nationkey = s_nationkey).
  // The fact table streams once; customer/supplier/nation/region are
  // all explicit broadcasts, so the only shuffles are the lineitem ⋈
  // orders join and the final 5-group aggregate.
  // -------------------------------------------------------------------
  def q76TpchQ5(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region").filter(col("r_name") === lit("ASIA"))
    val n = t(spark, dir, "nation")
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
    val c = t(spark, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
    val s = t(spark, dir, "supplier")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    t(spark, dir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2))))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }
  val q76Sql: String =
    """SELECT n_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // -------------------------------------------------------------------
  // q77: TPC-H Q10 shape — returned-item customer ranking: revenue
  // lost to returns per customer in a quarter, top 20. Fact-fact join
  // + two broadcast dims + top-k (TakeOrderedAndProject).
  // -------------------------------------------------------------------
  def q77TpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem").filter(col("l_returnflag") === lit("R"))
    val n = t(spark, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2))))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
  }
  val q77Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q131: TPC-H Q8 shape — national market share: BRAZIL's share of
  // AMERICA-customer revenue for MEDIUM parts by order year. The
  // widest join in the registry (lineitem ⋈ part ⋈ orders ⋈ customer
  // ⋈ nation ⋈ region ⋈ supplier ⋈ nation): the fact table streams
  // once through one shuffle join (orders) with every dimension an
  // explicit broadcast; part prunes 6/7 of the fact rows map-side
  // BEFORE the shuffle. Numerator and denominator are exact decimal
  // sums; the share is one IEEE division of two identically-derived
  // doubles, so it matches bit-for-bit.
  // -------------------------------------------------------------------
  def q131TpchQ8(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part").filter(col("p_type") === lit("MEDIUM"))
      .select(col("p_partkey"))
    val r = t(spark, dir, "region").filter(col("r_name") === lit("AMERICA"))
    val n1 = t(spark, dir, "nation")
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nkey"))
    val c = t(spark, dir, "customer")
      .join(broadcast(n1), col("c_nationkey") === col("c_nkey"))
      .select(col("c_custkey"))
    val n2 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val s = t(spark, dir, "supplier")
      .join(broadcast(n2), col("s_nationkey") === col("s_nkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val vol = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2)))
    t(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        coalesce(sum(when(col("supp_nation") === lit("BRAZIL"), vol))
          .cast("double"), lit(0.0)).as("brazil_volume"),
        sum(vol).cast("double").as("total_volume"))
      .withColumn("mkt_share", col("brazil_volume") / col("total_volume"))
      .orderBy(asc("o_year"))
  }
  val q131Sql: String =
    """WITH agg AS (
      |  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
      |    COALESCE(CAST(CAST(SUM(CASE WHEN n2.n_name = 'BRAZIL'
      |      THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) END)
      |      AS VARCHAR) AS DOUBLE), 0.0) AS brazil_volume,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |      AS VARCHAR) AS DOUBLE) AS total_volume
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE p_type = 'MEDIUM' AND r_name = 'AMERICA'
      |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY 1
      |)
      |SELECT o_year, brazil_volume, total_volume,
      |  brazil_volume / total_volume AS mkt_share
      |FROM agg ORDER BY o_year""".stripMargin

  // -------------------------------------------------------------------
  // q198: TPC-H Q14 shape — promo revenue share: the fraction of one
  // ship-month's discounted revenue from PROMO parts. The CASE-inside-
  // aggregate + ratio idiom (q131's recipe): both sums exact decimals,
  // the share ONE IEEE division of two identically-derived doubles.
  // Scale: part is a broadcast prune BEFORE the aggregate; the fact
  // table streams map-side (date filter pushed to the scan) into a
  // 1-row partial agg — no shuffle carries fact rows.
  // -------------------------------------------------------------------
  def q198TpchQ14(spark: SparkSession, dir: String): DataFrame = {
    val vol = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2)))
    val p = t(spark, dir, "part").select(col("p_partkey"), col("p_type"))
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        coalesce(sum(when(col("p_type") === lit("PROMO"), vol))
          .cast("double"), lit(0.0)).as("promo_revenue"),
        sum(vol).cast("double").as("total_revenue"))
      .withColumn("promo_share_pct",
        col("promo_revenue") * lit(100.0) / col("total_revenue"))
  }
  val q198Sql: String =
    """SELECT
      |  COALESCE(CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) END)
      |    AS VARCHAR) AS DOUBLE), 0.0) AS promo_revenue,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |    AS VARCHAR) AS DOUBLE) AS total_revenue,
      |  COALESCE(CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) END)
      |    AS VARCHAR) AS DOUBLE), 0.0) * 100.0
      |  / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |    AS VARCHAR) AS DOUBLE) AS promo_share_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'""".stripMargin

  // -------------------------------------------------------------------
  // q199: TPC-H Q7 shape — volume shipping between two nations: per
  // (supplier nation, customer nation, ship year) discounted revenue
  // for the ordered nation pairs, both directions. Exercises the
  // two-aliased-dimension join (nation joined twice under different
  // roles) the registry didn't cover. Dimensions broadcast; the fact
  // table shuffles once (orders join); exact decimal sums surfaced
  // via the VARCHAR-cast double rule.
  // -------------------------------------------------------------------
  def q199TpchQ7(spark: SparkSession, dir: String): DataFrame = {
    val nA = "NATION_1"; val nB = "NATION_2"
    val ns = t(spark, dir, "nation")
      .filter(col("n_name").isin(nA, nB))
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val nc = t(spark, dir, "nation")
      .filter(col("n_name").isin(nA, nB))
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    val s = t(spark, dir, "supplier")
      .join(broadcast(ns), col("s_nationkey") === col("s_nkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val c = t(spark, dir, "customer")
      .join(broadcast(nc), col("c_nationkey") === col("c_nkey"))
      .select(col("c_custkey"), col("cust_nation"))
    val vol = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2)))
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(vol).cast("double").as("revenue"), count(lit(1)).as("n"))
      .orderBy(asc("supp_nation"), asc("cust_nation"), asc("l_year"))
  }
  val q199Sql: String =
    """SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
      |  CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |    AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      |  AND n2.n_name IN ('NATION_1', 'NATION_2')
      |  AND n1.n_name != n2.n_name
      |  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // -------------------------------------------------------------------
  // q200: TPC-H Q15 shape — top supplier(s) by quarterly revenue: the
  // aggregate-then-join-against-own-max idiom (Q15's CREATE VIEW
  // without the view). The max is EXACT decimal equality — no double
  // comparison anywhere near the tie logic, so suppliers tied at the
  // max all surface, deterministically. Revenue agg is supplier-keyed
  // (map-side partial); the 1-row max broadcasts back.
  // -------------------------------------------------------------------
  def q200TpchQ15(spark: SparkSession, dir: String): DataFrame = {
    val vol = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2)))
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(vol).as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.join(broadcast(mx), col("total_rev") === col("max_rev"))
      .join(t(spark, dir, "supplier"),
        col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy(asc("s_suppkey"))
  }
  val q200Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey AS supplier_no,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY 1
      |)
      |SELECT s_suppkey, s_name,
      |  CAST(CAST(total_rev AS VARCHAR) AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON supplier_no = s_suppkey
      |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // -------------------------------------------------------------------
  // q53: the same pipeline expressed through the GraftFrame facade —
  // reference-style chained ops (select → filter(Predicate) →
  // two-phase groupBy → aggregate) land in the oracle gate. Uses only
  // order-free aggregators (First over the value-sorted list ≡ MIN).
  // -------------------------------------------------------------------
  def q53GraftFacade(spark: SparkSession, dir: String): DataFrame = {
    import graft.api._
    GraftFrame(t(spark, dir, "lineitem"))
      .select(col("l_linestatus"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))
      .filter("l_returnflag", Predicate(Comparator.Equal, "A"))
      .select(col("l_linestatus"), col("l_quantity"), col("l_extendedprice"))
      .groupBy("l_linestatus")
      .aggregate(Map(
        "l_quantity" -> Aggregator.Max,
        "l_extendedprice" -> Aggregator.First)) // first of sorted list = min
      .df
  }
  val q53Sql: String =
    """SELECT l_linestatus, MAX(l_quantity) AS l_quantity,
      |  MIN(l_extendedprice) AS l_extendedprice
      |FROM lineitem WHERE l_returnflag = 'A'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // -------------------------------------------------------------------
  // q97: the SQL entry point — ONE dialect-portable SQL string runs
  // unchanged on graft (spark.sql over registered temp views) AND as
  // its own DuckDB oracle. Money is summed in integer cents
  // (ROUND(x*100) — 2-decimal-clean inputs make every rounding mode
  // agree) so the identical text is also hash-identical; the outer
  // CAST keeps DuckDB's SUM off HUGEINT.
  // -------------------------------------------------------------------
  private val q97Text: String =
    """SELECT n_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  def q97SqlEntry(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "customer", "nation").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    spark.sql(q97Text)
  }
  val q97Sql: String = q97Text

  // -------------------------------------------------------------------
  // q114: the in-memory source (reference from_vecs!, src/dataframe.rs:
  // 271-284) gated at driver level: a deterministic literal dataset
  // built in memory, run through the GraftFrame facade (select with
  // arithmetic → filter → two-phase-style group aggregate), with the
  // IDENTICAL literal rows inlined into the oracle as a VALUES table.
  // No file source anywhere on the Spark side — this is the gate for
  // data born in the session.
  // -------------------------------------------------------------------
  private val q114Rows: Seq[(Long, Long, Double)] =
    (1L to 100L).map(i => (i, i % 7, ((i * 37) % 100) / 4.0))

  def q114InMemory(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frame = graft.sources.Sources.inMemory(
      q114Rows.toDF("id", "cat", "v"))
    frame
      .select(col("id"), col("cat"), (col("v") * lit(2.0)).as("v2"))
      .filter(col("id") <= lit(90L))
      .df
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n"), dsum(col("v2")).as("sum_v2"))
      .orderBy(asc("cat"))
  }
  val q114Sql: String = {
    val values = q114Rows.map { case (i, c, v) => s"($i, $c, $v)" }.mkString(", ")
    s"""SELECT cat, COUNT(*) AS n,
       |  CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) * 2.0 AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_v2
       |FROM (VALUES $values) t(id, cat, v)
       |WHERE id <= 90
       |GROUP BY cat ORDER BY cat""".stripMargin
  }

  // -------------------------------------------------------------------
  // q137: TPC-H Q17 shape — small-quantity revenue for one brand. The
  // classic CORRELATED scalar subquery (qty < 0.2 * avg(qty) of the
  // same part) decorrelated the Spark-first way: one partial+final
  // hash aggregate over lineitem per part (sum/count in integer
  // cents), joined back to the brand's fact rows. The predicate is
  // rewritten divide-free — qty < 0.2*sum/cnt ⟺ qty_cents*5*cnt <
  // sum_cents — so the gate is pure int64 comparison, exact on both
  // engines. At 100 TB the per-part aggregate is the map-side-combined
  // shuffle you'd want; no row-at-a-time subquery ever exists.
  // (reference has no subqueries; this extends §2.4-2.5 composition.)
  // -------------------------------------------------------------------
  def q137TpchQ17(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_quantity") * lit(100)).cast("long")
    val brandParts = t(spark, dir, "part")
      .filter(col("p_brand") === lit("Brand#4")).select(col("p_partkey"))
    val li = t(spark, dir, "lineitem")
    val perPart = li
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("pp_key"))
      .agg(sum(cents).as("sum_cents"), count(lit(1)).as("cnt"))
    li.join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(perPart), col("l_partkey") === col("pp_key"))
      .filter(cents * lit(5) * col("cnt") < col("sum_cents"))
      .agg(
        (dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }
  val q137Sql: String =
    """WITH pa AS (
      |  SELECT l_partkey AS pp_key,
      |    SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sum_cents,
      |    COUNT(*) AS cnt
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')
      |  GROUP BY 1
      |)
      |SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
      |  COUNT(*) AS n_small
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN pa ON l_partkey = pp_key
      |WHERE p_brand = 'Brand#4'
      |  AND CAST(ROUND(l_quantity * 100) AS BIGINT) * 5 * cnt < sum_cents""".stripMargin

  // -------------------------------------------------------------------
  // q138: TPC-H Q13 shape (custdist) — how many customers placed
  // exactly k qualifying orders, including k=0. The left-join-then-
  // count-distribution pattern done aggregate-first: orders are
  // pre-aggregated per customer BEFORE touching the customer table
  // (shuffles counts, not order rows), the left join fills absent
  // customers with 0, and a second tiny aggregate builds the
  // distribution. Pure integers — exact everywhere.
  // -------------------------------------------------------------------
  def q138TpchQ13(spark: SparkSession, dir: String): DataFrame = {
    val perCust = t(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= lit("1-URGENT"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    t(spark, dir, "customer")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }
  val q138Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders
      |  FROM orders WHERE o_orderpriority <> '1-URGENT' GROUP BY 1
      |)
      |SELECT COALESCE(n_orders, 0) AS c_count, COUNT(*) AS custdist
      |FROM customer LEFT JOIN pc ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  // -------------------------------------------------------------------
  // q139: TPC-H Q18 shape (large-volume orders) — the IN-subquery-
  // with-HAVING pattern as an aggregate-then-join: per-order quantity
  // sums in integer cents (exact, map-side combined), HAVING as a
  // post-aggregate filter, then one shuffle join to orders and a
  // broadcast of customer. qty_sum returns to double by /100.0 —
  // one exact IEEE division per row.
  // -------------------------------------------------------------------
  def q139TpchQ18(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity") * lit(100)).cast("long")).as("qc"))
      .filter(col("qc") > lit(25000L))
    t(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        (col("qc") / lit(100.0)).as("qty_sum"))
      .orderBy(desc("o_totalprice"), asc("o_orderdate"), asc("o_orderkey"))
  }
  val q139Sql: String =
    """WITH big AS (
      |  SELECT l_orderkey, SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qc
      |  FROM lineitem GROUP BY 1 HAVING qc > 25000
      |)
      |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  qc / 100.0 AS qty_sum
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // q140: TPC-H Q22 shape (global-scalar + anti-join) — market
  // segments of high-balance customers who never placed an URGENT
  // order. The uncorrelated scalar subquery (avg positive balance)
  // becomes a one-row broadcast frame; the comparison is divide-free
  // (bal_cents * n > sum_cents ⟺ bal > avg); NOT EXISTS is a
  // left-anti join against the pre-filtered orders. Money stays in
  // integer cents until one final /100.0.
  // -------------------------------------------------------------------
  def q140TpchQ22(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val balCents = round(col("c_acctbal") * lit(100)).cast("long")
    val scalar = cust.filter(col("c_acctbal") > lit(0.0))
      .agg(sum(balCents).as("s"), count(lit(1)).as("n"))
    val urgent = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === lit("1-URGENT"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(scalar))
      .filter(balCents * col("n") > col("s"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        (sum(balCents) / lit(100.0)).as("totacctbal"))
      .orderBy(asc("c_mktsegment"))
  }
  val q140Sql: String =
    """WITH s AS (
      |  SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS s, COUNT(*) AS n
      |  FROM customer WHERE c_acctbal > 0
      |)
      |SELECT c_mktsegment, COUNT(*) AS numcust,
      |  SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
      |FROM customer, s
      |WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * n > s.s
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // q141: TPC-H Q21 shape (suppliers who kept orders waiting) — the
  // triple-correlated EXISTS / NOT EXISTS collapsed into ONE aggregate
  // pass: per order, count distinct suppliers and distinct suppliers
  // with returned ('R') lines; a supplier "waits" when it is the SOLE
  // R-supplier in a multi-supplier order. Three correlated subqueries
  // become one extra groupBy — the decorrelation a 100 TB plan needs
  // (the naive EXISTS pair is two additional fact-fact joins).
  // -------------------------------------------------------------------
  def q141TpchQ21(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val perOrder = li.groupBy(col("l_orderkey").as("po_key"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("l_returnflag") === lit("R"),
          col("l_suppkey"))).as("n_r_supp"))
      .filter(col("n_supp") > lit(1) && col("n_r_supp") === lit(1))
    li.filter(col("l_returnflag") === lit("R"))
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(perOrder, col("l_orderkey") === col("po_key"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
      .join(broadcast(t(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
  }
  val q141Sql: String =
    """WITH po AS (
      |  SELECT l_orderkey AS po_key,
      |    COUNT(DISTINCT l_suppkey) AS n_supp,
      |    COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_r_supp
      |  FROM lineitem GROUP BY 1
      |), sole AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey
      |  FROM lineitem JOIN po ON l_orderkey = po_key
      |  WHERE l_returnflag = 'R' AND n_supp > 1 AND n_r_supp = 1
      |)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM sole JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  // -------------------------------------------------------------------
  // q302-q309: the EIGHT TPC-H queries the registry was missing —
  // with these, all 22 TPC-H shapes are implemented and oracled
  // (Q2,4,9,11,12,16,19,20 join the existing 14). The driver's
  // reduced schema has no partsupp / l_commitdate / l_shipmode /
  // p_container, so each query keeps its CANONICAL SHAPE (the
  // plan-relevant structure: correlated min, EXISTS semi-join,
  // profit expression, HAVING-vs-global, conditional agg, anti-join +
  // count-distinct, OR-of-ANDs pushdown, nested semi) over the
  // available columns — the q141/q138 adaptation discipline.
  // -------------------------------------------------------------------
  // Q2 shape: min-cost supplier per part (the correlated MIN
  // subquery), decorrelated into a per-part min aggregate + an
  // equi-join back on (part, cost) — the 100 TB plan; cost = best
  // quoted price (min cents) from lineitem.
  def q302TpchQ2(spark: SparkSession, dir: String): DataFrame = {
    val eu = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")
        .filter(col("r_name") === "EUROPE")), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val p = t(spark, dir, "part")
      .filter(col("p_size") === 15 && col("p_type") === "SMALL")
      .select(col("p_partkey"))
    val costs = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("cents")).as("cost"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
    val minc = costs.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("cost")).as("mcost"))
    costs.join(broadcast(minc),
        col("p_partkey") === col("mk") && col("cost") === col("mcost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("cost"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"), asc("p_partkey"))
      .limit(20)
  }
  val q302Sql: String =
    """WITH eu AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'
      |), costs AS (
      |  SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name,
      |    MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN eu ON l_suppkey = s_suppkey
      |  WHERE p_size = 15 AND p_type = 'SMALL'
      |  GROUP BY 1, 2, 3, 4, 5
      |), minc AS (
      |  SELECT p_partkey AS mk, MIN(cost) AS mcost FROM costs GROUP BY 1
      |)
      |SELECT s_acctbal, s_name, n_name, p_partkey, cost
      |FROM costs JOIN minc ON p_partkey = mk AND cost = mcost
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20""".stripMargin

  // Q4 shape: order-priority checking — EXISTS(lineitem shipped > 75
  // days after the order) as a LEFT SEMI join with a compound
  // condition; never a join-then-distinct.
  def q303TpchQ4(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-10-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 75 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(asc("o_orderpriority"))
  }
  val q303Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 75 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // Q9 shape: product-type profit by supplier nation and order year;
  // the cost basis adapts ps_supplycost to 0.5·p_retailprice. All
  // arithmetic in DECIMAL from raw columns (rule 1), summed exactly.
  def q304TpchQ9(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val profit = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2))) -
      col("p_retailprice").cast(DecimalType(12, 2)) *
      col("l_quantity").cast(DecimalType(12, 2)) * lit(0.5).cast(DecimalType(2, 1))
    li.join(broadcast(t(spark, dir, "part").filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(profit.cast(D)).cast("double").as("sum_profit"))
      .orderBy(asc("nation"), desc("o_year"))
  }
  val q304Sql: String =
    """SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(CAST(SUM(CAST(
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
      |    - CAST(p_retailprice AS DECIMAL(12,2))
      |      * CAST(l_quantity AS DECIMAL(12,2)) * CAST(0.5 AS DECIMAL(2,1))
      |    AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_type = 'PROMO'
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  // Q11 shape: important-stock HAVING vs a GLOBAL scalar — the
  // decorrelation is a 1-row broadcast total, never a recompute per
  // group; value = cents of shipped price from two nations' suppliers.
  def q305TpchQ11(spark: SparkSession, dir: String): DataFrame = {
    val sup = t(spark, dir, "supplier")
      .filter(col("s_nationkey").isin(7L, 11L))
      .select(col("s_suppkey"))
    val v = t(spark, dir, "lineitem")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("l_partkey")).agg(sum(col("cents")).as("value_cents"))
    val tot = v.groupBy().agg(sum(col("value_cents")).as("total"),
      count(lit(1)).as("n_parts"))
    v.crossJoin(broadcast(tot))
      .filter(col("value_cents") * col("n_parts") > lit(2L) * col("total"))
      .select(col("l_partkey"), col("value_cents"))
      .orderBy(desc("value_cents"), asc("l_partkey"))
  }
  val q305Sql: String =
    """WITH v AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS value_cents
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE s_nationkey IN (7, 11)
      |  GROUP BY 1
      |)
      |SELECT l_partkey, value_cents
      |FROM v
      |WHERE value_cents * (SELECT COUNT(*) FROM v)
      |  > 2 * (SELECT SUM(value_cents) FROM v)
      |ORDER BY value_cents DESC, l_partkey""".stripMargin

  // Q12 shape: shipmode priority matrix — one fact join + two
  // conditional aggregates (the CASE-sum decorrelation of the
  // canonical query), l_returnflag standing in for l_shipmode.
  def q306TpchQ12(spark: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(asc("l_returnflag"))
  }
  val q306Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // Q16 shape: supplier count per part attribute group, an ANTI join
  // excluding flagged suppliers (negative balance stands in for the
  // complaint-comment scan) before the count-distinct.
  def q307TpchQ16(spark: SparkSession, dir: String): DataFrame = {
    val bad = t(spark, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val ps = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
    ps.join(broadcast(t(spark, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
      .limit(30)
  }
  val q307Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 16, 25, 36)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 30""".stripMargin

  // Q19 shape: the OR-of-ANDs disjunctive predicate — three
  // brand/size/quantity branches that must still push the part filter
  // into the broadcast side and the quantity bounds into the scan.
  def q308TpchQ19(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val p = t(spark, dir, "part")
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(dsum(col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2))))
        .as("revenue"))
  }
  val q308Sql: String =
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |    AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // Q20 shape: the nested semi-join chain — suppliers having a red
  // part whose 1998 shipped quantity exceeds the threshold; each
  // level is a semi join, never a join-then-distinct.
  def q309TpchQ20(spark: SparkSession, dir: String): DataFrame = {
    val red = t(spark, dir, "part").filter(col("p_name").startsWith("red"))
      .select(col("p_partkey"))
    val heavy = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .join(broadcast(red), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
      .filter(col("qty") > 50L)
      .select(col("l_suppkey")).distinct()
    t(spark, dir, "supplier")
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .orderBy(asc("s_suppkey"))
  }
  val q309Sql: String =
    """SELECT s_suppkey, s_name, s_nationkey
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
      |  GROUP BY l_partkey, l_suppkey
      |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 50)
      |ORDER BY s_suppkey""".stripMargin

  /** Every query of this module: name → (build function, oracle SQL). */
  val registry: Map[String, Query] = Query.registry(
    "q302_tpch_q2" -> Query(q302TpchQ2, q302Sql),
    "q303_tpch_q4" -> Query(q303TpchQ4, q303Sql),
    "q304_tpch_q9" -> Query(q304TpchQ9, q304Sql),
    "q305_tpch_q11" -> Query(q305TpchQ11, q305Sql),
    "q306_tpch_q12" -> Query(q306TpchQ12, q306Sql),
    "q307_tpch_q16" -> Query(q307TpchQ16, q307Sql),
    "q308_tpch_q19" -> Query(q308TpchQ19, q308Sql),
    "q309_tpch_q20" -> Query(q309TpchQ20, q309Sql),
    "q114_inmemory" -> Query(q114InMemory, q114Sql),
    "q137_tpch_q17" -> Query(q137TpchQ17, q137Sql),
    "q138_tpch_q13" -> Query(q138TpchQ13, q138Sql),
    "q139_tpch_q18" -> Query(q139TpchQ18, q139Sql),
    "q140_tpch_q22" -> Query(q140TpchQ22, q140Sql),
    "q141_tpch_q21" -> Query(q141TpchQ21, q141Sql),
    "q97_sql_entry" -> Query(q97SqlEntry, q97Sql),
    "q53_graft_facade" -> Query(q53GraftFacade, q53Sql),
    "q76_tpch_q5" -> Query(q76TpchQ5, q76Sql),
    "q77_tpch_q10" -> Query(q77TpchQ10, q77Sql),
    "q131_tpch_q8" -> Query(q131TpchQ8, q131Sql),
    "q49_tpch_q6" -> Query(q49TpchQ6, q49Sql),
    "q198_tpch_q14" -> Query(q198TpchQ14, q198Sql),
    "q199_tpch_q7" -> Query(q199TpchQ7, q199Sql),
    "q200_tpch_q15" -> Query(q200TpchQ15, q200Sql),
    "q50_tpch_q3" -> Query(q50TpchQ3, q50Sql),
    "q51_above_group_avg" -> Query(q51AboveGroupAvg, q51Sql),
    "q01_tpch_q1" -> Query(q01TpchQ1, q01Sql),
    "q02_select_arith" -> Query(q02SelectArith, q02Sql),
    "q03_filter_chain" -> Query(q03FilterChain, q03Sql),
    "q04_orderby_multi" -> Query(q04OrderBy, q04Sql),
    "q05_global_agg" -> Query(q05GlobalAgg, q05Sql),
    "q06_group_agg" -> Query(q06GroupAgg, q06Sql),
    "q07_join_inner" -> Query(q07JoinInner, q07Sql),
    "q08_join_broadcast_agg" -> Query(q08JoinBroadcastAgg, q08Sql),
    "q09_take_limit" -> Query(q09Take, q09Sql),
    "q10_count" -> Query(q10Count, q10Sql),
    "q11_union" -> Query(q11Union, q11Sql),
    "q124_schema_drift_union" -> Query(q124SchemaDriftUnion, q124Sql),
    "q12_distinct" -> Query(q12Distinct, q12Sql),
    "q13_topk_desc" -> Query(q13TopK, q13Sql),
    "q14_group_two_phase" -> Query(q14GroupTwoPhase, q14Sql),
    "q15_star_join" -> Query(q15StarJoin, q15Sql))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.builds(registry)
}
