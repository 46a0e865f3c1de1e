package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-out techniques as reusable operators: salted joins for skewed
  * keys and bucketed co-located joins that eliminate the shuffle
  * entirely. These are the knobs the 100 TB deployment turns; specs
  * assert their plan shape (no Exchange for bucketed joins, identical
  * results for salted joins).
  */
object Scale {

  /** Skew-resistant inner equi-join: the left (large, skewed) side gets
    * a random salt in [0, saltFactor); the right side is exploded
    * saltFactor× so every (key, salt) pair finds its match. Hot keys
    * spread over saltFactor reducers instead of one straggler.
    * Result set is identical to a plain inner join on `key`.
    *
    * (Spark's AQE skew-join handles this adaptively at runtime; the
    * explicit form is for engines/paths where AQE can't see the skew,
    * e.g. pre-partitioned outputs or deterministic layout control.)
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    val saltedL = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor)).cast("int"))
    val saltedR = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    saltedL.join(saltedR, Seq(key, "__salt")).drop("__salt")
  }

  /** Join-key SKEW AUDIT — the measurement that sizes [[saltedJoin]]'s
    * `saltFactor` (and decides whether salting is needed at all)
    * before the 100 TB shuffle runs, instead of discovering the
    * straggler reducer an hour in. Per audited key: key cardinality,
    * row count, the hottest key's row count and its parts-per-million
    * share, exact p50/p99 of the per-key row distribution, and the
    * recommended salt factor `ceil(max_rows / (n_rows /
    * targetPartitions))` — 1 means "don't salt".
    *
    * Exact percentiles WITHOUT a global sort of the per-key counts:
    * the count frame collapses to a count-of-counts histogram (one
    * row per DISTINCT per-key count — e.g. lineitem's per-order
    * counts take 7 values regardless of row count), and p50/p99 fall
    * out of a cumulative window over THAT bounded frame. The record
    * stream is touched once by a partial-aggregated groupBy; the
    * single-partition window runs on the histogram (lesson-17
    * sanctioned: bounded by the count domain, not the data).
    *
    * All integer algebra: pX = smallest count c with
    * `cum_keys · 100 ≥ X · n_keys`; top share = `max · 1e6 div rows`;
    * salt = `ceil(max · targetPartitions / rows)` via div/mod.
    * Output: one row (label, n_keys, n_rows, max_rows, p50, p99,
    * top1_ppm, salt_factor).
    */
  def keySkewAudit(df: DataFrame, keyCol: String, label: String,
                   targetPartitions: Int = 200): DataFrame = {
    val hist = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt")).agg(count(lit(1)).as("n_keys"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(asc("cnt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    hist
      .withColumn("cum_keys", sum(col("n_keys")).over(w))
      .withColumn("tot_keys", sum(col("n_keys")).over(wAll))
      .agg(max(col("tot_keys")).cast("long").as("n_keys"),
        sum(col("cnt") * col("n_keys")).cast("long").as("n_rows"),
        max(col("cnt")).cast("long").as("max_rows"),
        min(when(col("cum_keys") * 2 >= col("tot_keys"), col("cnt")))
          .cast("long").as("p50"),
        min(when(col("cum_keys") * 100 >= col("tot_keys") * 99, col("cnt")))
          .cast("long").as("p99"))
      .select(lit(label).as("key_label"), col("n_keys"), col("n_rows"),
        col("max_rows"), col("p50"), col("p99"),
        expr("(max_rows * 1000000L) div n_rows").as("top1_ppm"),
        expr(s"(max_rows * ${targetPartitions}L + n_rows - 1) div n_rows")
          .as("salt_factor"))
  }

  /** Write both sides bucketed by the join key; subsequent joins of the
    * two tables are co-located — SortMergeJoin with NO Exchange on
    * either side (verify with .explain: no Exchange below the join).
    * The cluster-scale pattern for repeated fact-fact joins.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, path: Option[String] = None): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a stale location (e.g. from a crashed run) blocks table creation
    // even after DROP; clear it
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = new java.io.File(path.getOrElse(new java.io.File(warehouse, table).toString))
    if (loc.exists()) graft.util.TempDirs.deleteRecursively(loc)
    // pre-repartition on the bucket key with the bucket count: each
    // write task then owns exactly one bucket (repartition's
    // HashPartitioning is the same murmur3-pmod bucketBy uses), so the
    // write is one sorted sequential file per bucket instead of every
    // input task sorting/writing slices of every bucket — measured
    // 2.5× on the sf0.1 lineitem write (historical: a deleted one-off
    // probe). At cluster scale
    // bucket count >> cores, so this also caps file count at |buckets|.
    val w = df.repartition(buckets, col(key)).write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    // explicit path → EXTERNAL table (scratch location); else managed
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket key. The merge hint pins
    * the co-located SortMergeJoin this layout exists for — at demo
    * scale the planner would otherwise broadcast the smaller side and
    * never exercise the exchange-free path (at 100 TB both sides are
    * fact tables and SMJ is the only option anyway). */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    spark.table(leftTable).hint("merge")
      .join(spark.table(rightTable), Seq(key))

  /** Upsert / MERGE: updates win per key, unmatched base rows survive,
    * brand-new keys insert — last-writer-wins CDC merge without a
    * table format. One anti join (keys only on the build side) + a
    * union: the base table streams through once.
    *
    * At 100 TB this is the partition-overwrite pattern: partition (or
    * bucket) both sides by the key, merge only the partitions the
    * update batch touches, and the anti join co-locates instead of
    * shuffling the base.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    updates.unionByName(
      base.join(updates.select(keys.map(col): _*).distinct(),
        keys, "left_anti"))

  /** SCD TYPE-2 history materialization — the warehouse counterpart of
    * [[upsert]] (which keeps only the latest row): from a change
    * stream, the FULL effective-interval history per entity. Events
    * order per key by (order column, tiebreak); consecutive rows with
    * the same attribute value compress to one version
    * (null-safe `<=>` against the lag); each version's interval is
    * [its order value, next version's) with the open current version's
    * end null. All windows partition by the entity key — hash-
    * partitioned, per-key sorted, no global sort; at 100 TB the state
    * per key is its own history, never the table. Output: key, attr,
    * eff_from, eff_to (null = current), version (1-based), is_current.
    */
  def scd2History(df: DataFrame, keyCol: String, attrCol: String,
                  ordCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(asc(ordCol), asc(tieCol))
    val changes = df
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .filter(!(col(attrCol) <=> col("__prev")))
      .select(col(keyCol), col(attrCol).as("attr"),
        col(ordCol).as("eff_from"), col(tieCol).as("__tie"))
    val wv = Window.partitionBy(col(keyCol))
      .orderBy(asc("eff_from"), asc("__tie"))
    changes
      .withColumn("eff_to", lead(col("eff_from"), 1).over(wv))
      .withColumn("version", row_number().over(wv).cast("long"))
      .withColumn("is_current",
        when(col("eff_to").isNull, lit(1L)).otherwise(lit(0L)))
      .drop("__tie")
  }

  /** Incremental aggregate maintenance: merge a delta's PARTIAL
    * aggregate state into a materialized base aggregate instead of
    * recomputing over all data — the mergeability contract every
    * distributive aggregate (count, sum, min, max) satisfies. Both
    * inputs are (group-keys, count, sum) frames as produced by
    * [[partialAgg]]; the merge is one small shuffle on the group keys,
    * proportional to |groups|, not |rows|.
    */
  def partialAgg(df: DataFrame, groupCol: String, valueCol: Column): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("s"))

  def mergePartials(base: DataFrame, delta: DataFrame, groupCol: String): DataFrame =
    base.unionByName(delta)
      .groupBy(col(groupCol))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
}
