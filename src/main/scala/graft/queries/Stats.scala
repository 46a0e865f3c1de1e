package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical aggregates with exact cross-engine determinism:
  * percentiles over dyadic-exact values, and variance / correlation
  * derived from DECIMAL moment sums with the identical double formula
  * on both engines (built-in stddev/corr stream doubles in partition
  * order — not reproducible across engines; the moment-sum form is).
  */
object Stats {

  private def li(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")

  // -------------------------------------------------------------------
  // q42: exact percentiles (type-7 interpolation in both engines).
  // l_quantity is integer-valued and p ∈ {.25,.5,.75} is dyadic, so
  // every interpolation step is exact in binary — bit-identical.
  // -------------------------------------------------------------------
  def q42Percentiles(spark: SparkSession, dir: String): DataFrame =
    li(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_quantity, 0.9)").as("p90"))
      .orderBy(asc("l_returnflag"))
  val q42Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  quantile_cont(l_quantity, 0.9) AS p90
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q43: variance / stddev / correlation from exact decimal moment
  // sums (Σx, Σx², Σy, Σy², Σxy in DECIMAL — associative), finished
  // with the same double-space formula on both sides.
  // -------------------------------------------------------------------
  def q43Moments(spark: SparkSession, dir: String): DataFrame = {
    val d2 = DecimalType(12, 2)
    val q = col("l_quantity").cast(d2)
    val p = col("l_extendedprice").cast(d2)
    val sums = li(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(q).cast("double").as("sx"),
        sum(q * q).cast("double").as("sxx"),
        sum(p).cast("double").as("sy"),
        sum(p * p).cast("double").as("syy"),
        sum(q * p).cast("double").as("sxy"))
    sums.select(
      col("l_returnflag"), col("n"),
      ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("var_qty"),
      sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("stddev_qty"),
      ((col("sxy") - col("sx") * col("sy") / col("n")) /
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
          (col("syy") - col("sy") * col("sy") / col("n")))).as("corr_qty_price"))
      .orderBy(asc("l_returnflag"))
  }
  val q43Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, n,
      |  (sxx - sx * sx / n) / (n - 1) AS var_qty,
      |  sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
      |  (sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_qty_price
      |FROM s ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q54: approximate percentiles — the 100 TB twin of q42. Exact
  // percentile() is a per-group sort (full shuffle of every value; the
  // sf0.1 calibration query); approx_percentile streams a bounded
  // GK sketch per partition and merges — constant memory per group,
  // one map-side-combined aggregation, no value sort. accuracy=10000
  // (~0.01% rank error). Sketch merge order is not cross-engine
  // reproducible, but the GK guarantee IS checkable: every returned
  // value must sit within ε of its target RANK. The oracle (was
  // rows-only in r1/r2) recomputes each emitted value's true rank
  // bracket in DuckDB — count(x ≤ v) ≥ (p−ε)·n and
  // count(x < v) ≤ (p+ε)·n with ε = 0.001 (10× the accuracy=10000
  // bound) — and keeps the row only if all four quantiles qualify.
  // An out-of-tolerance estimate drops its row ⇒ FAIL.
  // ApproxPercentileSpec additionally tolerance-checks against q42.
  // -------------------------------------------------------------------
  def q54ApproxPercentiles(spark: SparkSession, dir: String): DataFrame =
    li(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr(
        "approx_percentile(l_quantity, array(0.25, 0.5, 0.75, 0.9), 10000)")
        .as("pcts"))
      .select(col("l_returnflag"),
        element_at(col("pcts"), 1).as("p25"),
        element_at(col("pcts"), 2).as("p50"),
        element_at(col("pcts"), 3).as("p75"),
        element_at(col("pcts"), 4).as("p90"))
      .orderBy(asc("l_returnflag"))
  val q54Sql: String = {
    def bracket(p: String, v: String): String =
      s"""(SELECT COUNT(*) FROM lineitem l WHERE l.l_returnflag = e.l_returnflag
         |     AND l.l_quantity <= e.$v) >= ($p - 0.001) * n.n
         |  AND (SELECT COUNT(*) FROM lineitem l WHERE l.l_returnflag = e.l_returnflag
         |     AND l.l_quantity < e.$v) <= ($p + 0.001) * n.n""".stripMargin
    s"""WITH n AS (SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1)
       |SELECT e.l_returnflag, e.p25, e.p50, e.p75, e.p90
       |FROM read_parquet('__GRAFT_OUT__/q54_approx_percentiles/*.parquet') e
       |JOIN n ON n.l_returnflag = e.l_returnflag
       |WHERE ${bracket("0.25", "p25")}
       |  AND ${bracket("0.50", "p50")}
       |  AND ${bracket("0.75", "p75")}
       |  AND ${bracket("0.90", "p90")}
       |UNION ALL SELECT '~', -1.0, -1.0, -1.0, -1.0 WHERE (SELECT COUNT(*)
       |  FROM read_parquet('__GRAFT_OUT__/q54_approx_percentiles/*.parquet')) = 0
       |ORDER BY l_returnflag""".stripMargin
  }

  // -------------------------------------------------------------------
  // q74: heavy hitters — top-20 most-referenced parts via the native
  // batched Misra-Gries aggregate (functions.SketchFunctions
  // .space_saving_topk): fixed memory per task, mergeable partial
  // summaries, only capacity-sized states cross the shuffle.
  // capacity=32768 exceeds the part cardinality at BOTH sf0.01 (~2k)
  // and sf0.1 (~20k), so the gate holds bit-for-bit at either scale
  // (an sf0.1 sweep showed 4096 flips into the sketch regime there,
  // where a FLAT distribution — top count ≈ 53 vs the N/capacity ≈ 146
  // guarantee threshold — makes exact-top-20 unrecoverable by ANY
  // bounded-memory sketch; that regime's error bounds are SketchSpec's
  // job, not this gate's).
  // -------------------------------------------------------------------
  def q74HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    li(spark, dir)
      .select(col("l_partkey").cast("string").as("pk"))
      .agg(graft.functions.SketchFunctions
        .space_saving_topk(col("pk"), 20, 32768).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.key").as("part_key"), col("e.cnt").as("n"))
      .orderBy(desc("n"), asc("part_key"))
  val q74Sql: String =
    """SELECT CAST(l_partkey AS VARCHAR) AS part_key, COUNT(*) AS n
      |FROM lineitem GROUP BY 1
      |ORDER BY n DESC, part_key LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q104: GROUPED heavy hitters — top-3 tokens per language via the
  // mergeable Misra-Gries aggregate under groupBy (one sketch per
  // group, partial-merged map-side). Capacity far exceeds the token
  // vocabulary, so the exact regime holds and the window-rank oracle
  // matches exactly; under capacity pressure the sketch regime is
  // covered by SketchSpec.
  // -------------------------------------------------------------------
  def q104GroupedHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(graft.functions.SketchFunctions
        .space_saving_topk(col("tok"), 3, 4096).as("top"))
      .select(col("lang"), explode(col("top")).as("e"))
      .select(col("lang"), col("e.key").as("token"), col("e.cnt").as("n"))
      .orderBy(asc("lang"), desc("n"), asc("token"))
  val q104Sql: String =
    raw"""SELECT lang, token, n FROM (
      |  SELECT lang, token, COUNT(*) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, token) AS rk
      |  FROM (SELECT lang, UNNEST(string_split_regex(TRIM(text), '\s+')) AS token
      |        FROM documents)
      |  GROUP BY lang, token)
      |WHERE rk <= 3 ORDER BY lang, n DESC, token""".stripMargin

  // -------------------------------------------------------------------
  // q106: equal-width histogram — 10 bins over l_extendedprice in
  // integer CENTS with data-derived bounds. Every step is integer
  // arithmetic (ROUND(x*100) on 2-decimal-clean money, then
  // (c-mn)*10 div (mx-mn+1)), so binning is bit-identical across
  // engines with no float edge cases at bin boundaries.
  // -------------------------------------------------------------------
  def q106Histogram(spark: SparkSession, dir: String): DataFrame = {
    val cents = li(spark, dir).select(
      round(col("l_extendedprice") * 100).cast("long").as("c"))
    val stats = cents.agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
    cents.crossJoin(broadcast(stats))
      .select(expr("(c - mn) * 10 div (mx - mn + 1)").as("bin"), col("c"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"))
      .orderBy(asc("bin"))
  }
  val q106Sql: String =
    """WITH cents AS (
      |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
      |), s AS (
      |  SELECT MIN(c) AS mn, MAX(c) AS mx FROM cents
      |)
      |SELECT (c - mn) * 10 // (mx - mn + 1) AS bin,
      |  COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS sum_cents
      |FROM cents CROSS JOIN s
      |GROUP BY 1 ORDER BY bin""".stripMargin

  // -------------------------------------------------------------------
  // q90: one-pass column profiler — the ANALYZE-style table profile
  // (count / distinct / min / max / mean per column) computed in a
  // single scan with a multi-column aggregate, unpivoted to one row
  // per column. Means go through DECIMAL sums (exact, associative);
  // the final double division is the identical (double ÷ int64) op on
  // both engines.
  // -------------------------------------------------------------------
  def q90ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    val d2 = DecimalType(20, 2)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"n_$c"),
        countDistinct(col(c)).as(s"d_$c"),
        min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c"),
        (sum(col(c).cast(d2)).cast("double") / count(col(c))).as(s"avg_$c"))
    }
    val one = li(spark, dir).agg(aggs.head, aggs.tail: _*)
    // unpivot the single stat row with explode(array(struct…)) — ONE
    // scan + ONE aggregate for all profiled columns, not one per column
    one.select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"), col(s"n_$c").as("n_rows"),
          col(s"d_$c").as("n_distinct"), col(s"mn_$c").as("min_v"),
          col(s"mx_$c").as("max_v"), col(s"avg_$c").as("avg_v"))
      }: _*)).as("r"))
      .select(col("r.*"))
      .orderBy(asc("col_name"))
  }
  val q90Sql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, COUNT($c) AS n_rows,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v,
         |  CAST(CAST(SUM(CAST($c AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) / COUNT($c) AS avg_v
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // -------------------------------------------------------------------
  // q116: distribution drift between corpus snapshots — the
  // data-quality monitor a production ingest runs on every batch:
  // reference snapshot (even doc_ids) vs current (odd), document
  // lengths binned into 10 fixed-width integer bins over the GLOBAL
  // range (q106's all-integer binning — no float bin edges), per-bin
  // χ² contribution (cur − E)²/E with E scaled from the reference.
  // χ² and not PSI on purpose: +,−,×,÷ are IEEE-identical on both
  // engines in expression order, while PSI's ln() is libm-
  // implementation-defined and would flake the hash gate. Shape: two
  // scans collapse to one with conditional aggregation; 10 groups
  // regardless of corpus size.
  // -------------------------------------------------------------------
  def q116DriftChi2(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    val stats = d.agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
    val binned = d.crossJoin(broadcast(stats))
      .select(expr("(n_chars - mn) * 10 div (mx - mn + 1)").as("bin"),
        (col("doc_id") % 2 === 0).as("is_ref"))
      .groupBy(col("bin"))
      .agg(count(when(col("is_ref"), 1)).as("ref_n"),
        count(when(!col("is_ref"), 1)).as("cur_n"))
    val totals = binned.agg(sum(col("ref_n")).as("ref_t"), sum(col("cur_n")).as("cur_t"))
    binned.crossJoin(broadcast(totals))
      .filter(col("ref_n") > 0)
      .select(col("bin"), col("ref_n"), col("cur_n"),
        round((col("cur_n") - col("ref_n").cast("double") * col("cur_t") / col("ref_t"))
          * (col("cur_n") - col("ref_n").cast("double") * col("cur_t") / col("ref_t"))
          / (col("ref_n").cast("double") * col("cur_t") / col("ref_t")), 6)
          .as("chi2_contrib"))
      .orderBy(asc("bin"))
  }
  val q116Sql: String =
    """WITH b AS (
      |  SELECT (n_chars - mn) * 10 // (mx - mn + 1) AS bin,
      |    doc_id % 2 = 0 AS is_ref
      |  FROM documents CROSS JOIN
      |    (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents)
      |), c AS (
      |  SELECT bin, COUNT(CASE WHEN is_ref THEN 1 END) AS ref_n,
      |    COUNT(CASE WHEN NOT is_ref THEN 1 END) AS cur_n
      |  FROM b GROUP BY bin
      |), t AS (SELECT SUM(ref_n) AS ref_t, SUM(cur_n) AS cur_t FROM c)
      |SELECT bin, ref_n, cur_n,
      |  ROUND((cur_n - CAST(ref_n AS DOUBLE) * cur_t / ref_t)
      |    * (cur_n - CAST(ref_n AS DOUBLE) * cur_t / ref_t)
      |    / (CAST(ref_n AS DOUBLE) * cur_t / ref_t), 6) AS chi2_contrib
      |FROM c CROSS JOIN t
      |WHERE ref_n > 0
      |ORDER BY bin""".stripMargin

  // -------------------------------------------------------------------
  // q122: Count-Min sketch point queries — the frequency-estimation
  // member of the sketch family (Misra-Gries top-k q74, HLL distinct
  // q68/q110, GK percentiles q54, Bloom membership q83). Build one
  // mergeable 4×2048 sketch over all token occurrences (64 KB model,
  // independent of vocabulary), collect it, probe the exact top-20
  // tokens' counts from the sketch as a plan LITERAL (the Bloom
  // pattern — no second groupBy over the corpus).
  //
  // TOLERANCE ORACLE (q54/q68 pattern + sentinel): the top-20 token
  // list and exact counts replay exactly in DuckDB; the sketch
  // estimate is engine-specific but CERTIFIABLE — CMS never
  // underestimates, and the emitted estimate must sit within the
  // e/width · N classical bound (≥e^depth≈55× looser than observed:
  // measured max overestimate 0 at sf0.01 — top tokens dominate their
  // rows). A fabricated row, wrong exact count, or out-of-bound
  // estimate falls out of the join ⇒ row-count FAIL.
  // -------------------------------------------------------------------
  def q122CmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
    val sketch = toks
      .agg(graft.functions.SketchFunctions
        .cms_agg(xxhash64(col("tok")), 4, 2048).as("s"))
      .collect()(0).getAs[Array[Byte]](0) // 64 KB model, not data
    toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), asc("tok")).limit(20)
      .select(col("tok"), col("n_exact"),
        graft.functions.SketchFunctions
          .cms_estimate(lit(sketch), xxhash64(col("tok")), 4).as("n_est"))
      .orderBy(desc("n_exact"), asc("tok"))
  }
  val q122Sql: String =
    raw"""WITH toks AS (
      |  SELECT UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok FROM documents
      |), exact AS (
      |  SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
      |), top AS (
      |  SELECT tok, n FROM exact ORDER BY n DESC, tok LIMIT 20
      |)
      |SELECT e.tok, e.n_exact, e.n_est
      |FROM read_parquet('__GRAFT_OUT__/q122_cms_freq/*.parquet') e
      |JOIN top t ON t.tok = e.tok AND t.n = e.n_exact
      |WHERE e.n_est >= e.n_exact
      |  AND e.n_est <= e.n_exact + CAST(CEIL(
      |    2.718281828459045 * (SELECT COUNT(*) FROM toks) / 2048.0) AS BIGINT)
      |UNION ALL SELECT '', -1, -1 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q122_cms_freq/*.parquet')) = 0
      |ORDER BY n_exact DESC, tok""".stripMargin

  // -------------------------------------------------------------------
  // q125: KMV (bottom-k / theta) distinct sketches with SET operations —
  // cross-source content overlap. Per source, one kmv_agg(hash, 256)
  // sketch over its 3-gram shingles (set semantics are inherent: the
  // sketch keeps the 256 smallest DISTINCT hashes); for every source
  // pair, the theta-sketch estimators for |A∪B|, |A∩B| and Jaccard
  // from the sketches alone. This is the sketch-family member HLL
  // (q68/q110) cannot provide: HLL counts distincts but cannot
  // intersect; KMV sketches of a SHARED hash function can.
  //
  // 100 TB shape: one corpus pass, map-side partial sketches, only
  // ≤2 KB per (source) group crosses the shuffle; the pairwise stage
  // runs on #sources² sketch rows (model-sized), never on data. The
  // answered question — which dumps/mirrors duplicate each other's
  // content, what fraction of a new crawl is already covered — is the
  // source-level complement of the per-document dedup ladder (q30+).
  //
  // EXACT oracle (not a tolerance gate): every number here is a
  // deterministic pure function of the input SET under a portable hash
  // (15 hex chars of md5 → 60-bit int; same value in DuckDB via
  // CAST('0x'||… AS BIGINT)), so DuckDB replays sketches, thetas and
  // estimates bit-identically: integer comparisons, then one IEEE
  // double division + FLOOR on each estimate (same expression shape on
  // both engines). θ = min(θ_A, θ_B, kth(union)) per the standard KMV
  // union/intersection construction (Beyer et al., SIGMOD'07).
  // -------------------------------------------------------------------
  def q125KmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    val maxL = lit(Long.MaxValue)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val grams = graft.operators.Curation.ngramRows(
      docs.select(col("doc_id"), col("source"), col("text")),
      "doc_id", "text", 3, carry = Seq("source"))
    val h = conv(substring(md5(col("gram").cast("binary")), 1, 15), 16, 10)
      .cast("long")
    // per-source sketch frame as a LocalRelation (r13): #sources rows
    // × ≤2 KB — structurally bounded for PlanLint (retires this
    // query's allowlist entry) with a loud cap guard, and ONE
    // execution of the grams+sketch lineage now serves BOTH pair
    // sides (previously each side recomputed it)
    val sk = graft.operators.DomainFrame.materialize(
      grams.groupBy(col("source"))
        .agg(graft.functions.SketchFunctions.kmv_agg(h, k).as("s")),
      cap = 1000, "q125 per-source KMV sketch frame")
    val a = sk.select(col("source").as("src_a"), col("s").as("sa"))
    val b = sk.select(col("source").as("src_b"), col("s").as("sb"))
    // (k-1-ish)·2^60/θ with nv = |union sample below θ|; exact when no
    // sketch saturated (θ = "infinity" ⇒ the sketches ARE the sets)
    val est = floor((col("nv").cast("double") - lit(1.0))
      * lit(1152921504606846976.0) / col("theta").cast("double")).cast("long")
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .withColumn("ka", size(col("sa")).cast("long"))
      .withColumn("kb", size(col("sb")).cast("long"))
      .withColumn("u_all", array_sort(array_union(col("sa"), col("sb"))))
      .withColumn("theta_a",
        when(size(col("sa")) >= k, element_at(col("sa"), k)).otherwise(maxL))
      .withColumn("theta_b",
        when(size(col("sb")) >= k, element_at(col("sb"), k)).otherwise(maxL))
      .withColumn("theta_u",
        when(size(col("u_all")) >= k, element_at(col("u_all"), k)).otherwise(maxL))
      .withColumn("theta", least(col("theta_a"), col("theta_b"), col("theta_u")))
      .withColumn("nv",
        size(filter(col("u_all"), x => x <= col("theta"))).cast("long"))
      .withColumn("m", size(filter(array_intersect(col("sa"), col("sb")),
        x => x <= col("theta"))).cast("long"))
      .withColumn("union_est", when(col("theta") === maxL, col("nv")).otherwise(est))
      .withColumn("inter_est", when(col("theta") === maxL, col("m"))
        .otherwise(floor(col("m").cast("double") * est.cast("double")
          / col("nv").cast("double")).cast("long")))
      .withColumn("jaccard_fp", expr("(10000 * m) div nv"))
      .select(col("src_a"), col("src_b"), col("ka"), col("kb"), col("nv"),
        col("m"), col("union_est"), col("inter_est"), col("jaccard_fp"))
      .orderBy(asc("src_a"), asc("src_b"))
  }
  val q125Sql: String =
    raw"""WITH grams AS (
      |  SELECT source, UNNEST(list_transform(
      |    range(1, GREATEST(LEN(t) - 2, 1) + 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS gram
      |  FROM (SELECT source, string_split_regex(TRIM(text), '\s+') AS t
      |        FROM documents)
      |), h AS (
      |  SELECT DISTINCT source,
      |    CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) AS h
      |  FROM grams
      |), sk AS (
      |  SELECT source, (list_sort(list(DISTINCT h)))[1:256] AS s
      |  FROM h GROUP BY source
      |), pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b, a.s AS sa, b.s AS sb
      |  FROM sk a JOIN sk b ON a.source < b.source
      |), c1 AS (
      |  SELECT src_a, src_b, sa, sb, len(sa) AS ka, len(sb) AS kb,
      |    list_sort(list_distinct(list_concat(sa, sb))) AS u_all,
      |    list_intersect(sa, sb) AS inter_all
      |  FROM pairs
      |), c2 AS (
      |  SELECT *, LEAST(
      |    CASE WHEN ka >= 256 THEN sa[256] ELSE 9223372036854775807 END,
      |    CASE WHEN kb >= 256 THEN sb[256] ELSE 9223372036854775807 END,
      |    CASE WHEN len(u_all) >= 256 THEN u_all[256]
      |         ELSE 9223372036854775807 END) AS theta
      |  FROM c1
      |), c3 AS (
      |  SELECT src_a, src_b, ka, kb, theta,
      |    len(list_filter(u_all, x -> x <= theta)) AS nv,
      |    len(list_filter(inter_all, x -> x <= theta)) AS m
      |  FROM c2
      |)
      |SELECT src_a, src_b, CAST(ka AS BIGINT) AS ka, CAST(kb AS BIGINT) AS kb,
      |  CAST(nv AS BIGINT) AS nv, CAST(m AS BIGINT) AS m,
      |  CASE WHEN theta = 9223372036854775807 THEN CAST(nv AS BIGINT)
      |    ELSE CAST(FLOOR((CAST(nv AS DOUBLE) - 1.0) * 1152921504606846976.0
      |      / CAST(theta AS DOUBLE)) AS BIGINT) END AS union_est,
      |  CASE WHEN theta = 9223372036854775807 THEN CAST(m AS BIGINT)
      |    ELSE CAST(FLOOR(CAST(m AS DOUBLE)
      |      * FLOOR((CAST(nv AS DOUBLE) - 1.0) * 1152921504606846976.0
      |        / CAST(theta AS DOUBLE))
      |      / CAST(nv AS DOUBLE)) AS BIGINT) END AS inter_est,
      |  (10000 * CAST(m AS BIGINT)) // CAST(nv AS BIGINT) AS jaccard_fp
      |FROM c3
      |ORDER BY src_a, src_b""".stripMargin

  // -------------------------------------------------------------------
  // q130: z-score outlier counts per event type, INTEGER-EXACT — the
  // anomaly-detection member of the stats family. |v − mean| > kσ is
  // cleared of all division, sqrt and float casts by multiplying
  // through by n:  (n·v − Σv)² > k²·(n·Σv² − (Σv)²)  — every term is
  // an exact integral (v = value·1e6 through DECIMAL; squares through
  // DECIMAL(19,0) on the Spark side, HUGEINT in the oracle), so the
  // per-row verdicts and counts match bit-for-bit with no IEEE
  // boundary anywhere (contrast q43, which finishes in double space).
  // Scale: one partial-agged stats pass, 5-row broadcast back over
  // the data, map-only verdicts, one final partial-agged count.
  // -------------------------------------------------------------------
  def q130Outliers(spark: SparkSession, dir: String): DataFrame = {
    val d19 = DecimalType(19, 0)
    val base = graft.sources.Events.ev(spark, dir)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("v"))
    val stats = base.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("v")).as("s1"),
      sum(col("v").cast(d19) * col("v").cast(d19)).as("s2"))
    val dev = col("n") * col("v") - col("s1")
    val lhs = dev.cast(d19) * dev.cast(d19)
    val spread = col("n").cast(d19) * col("s2") -
      col("s1").cast(d19) * col("s1").cast(d19)
    base.join(broadcast(stats), "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("n")).as("n"),
        count(when(lhs > lit(4).cast(d19) * spread, 1)).as("n_out2"),
        count(when(lhs > lit(9).cast(d19) * spread, 1)).as("n_out3"))
      .orderBy(asc("event_type"))
  }
  val q130Sql: String =
    """WITH base AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      |  FROM events
      |), st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(v AS HUGEINT)) AS s1,
      |    SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS s2
      |  FROM base GROUP BY event_type
      |)
      |SELECT b.event_type, MIN(st.n) AS n,
      |  COUNT(CASE WHEN (st.n * b.v - st.s1) * (st.n * b.v - st.s1)
      |    > 4 * (st.n * st.s2 - st.s1 * st.s1) THEN 1 END) AS n_out2,
      |  COUNT(CASE WHEN (st.n * b.v - st.s1) * (st.n * b.v - st.s1)
      |    > 9 * (st.n * st.s2 - st.s1 * st.s1) THEN 1 END) AS n_out3
      |FROM base b JOIN st USING (event_type)
      |GROUP BY b.event_type ORDER BY b.event_type""".stripMargin

  // -------------------------------------------------------------------
  // q136: trimmed & winsorized statistics — the robust-aggregation
  // sibling of q130's outlier counts (clip influence instead of
  // flagging it). Per flag over l_quantity: the IQR [p25, p75] (dyadic
  // percentiles over integers — interpolation exact in binary, q42's
  // guarantee), the trimmed mean over in-range rows, and the
  // winsorized sum with out-of-range values clamped to the fences.
  // Clamped values are dyadic quarters, so summing through
  // DECIMAL(12,2) is exact and both engines agree bit-for-bit. Shape:
  // one percentile pass, 3-row broadcast back, map-only clamp, one
  // partial-agged aggregate.
  // -------------------------------------------------------------------
  def q136RobustStats(spark: SparkSession, dir: String): DataFrame = {
    val d2 = DecimalType(12, 2)
    val base = li(spark, dir).select(col("l_returnflag"), col("l_quantity"))
    val fences = base.groupBy(col("l_returnflag")).agg(
      expr("percentile(l_quantity, 0.25)").as("p25"),
      expr("percentile(l_quantity, 0.75)").as("p75"))
    base.join(broadcast(fences), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(
        min(col("p25")).as("p25"),
        min(col("p75")).as("p75"),
        count(when(col("l_quantity").between(col("p25"), col("p75")), 1))
          .as("n_kept"),
        (sum(when(col("l_quantity").between(col("p25"), col("p75")),
            col("l_quantity").cast(d2))).cast("double") /
          count(when(col("l_quantity").between(col("p25"), col("p75")), 1)))
          .as("trimmed_mean"),
        sum(greatest(least(col("l_quantity"), col("p75")), col("p25")).cast(d2))
          .cast("double").as("winsorized_sum"))
      .orderBy(asc("l_returnflag"))
  }
  val q136Sql: String =
    """WITH f AS (
      |  SELECT l_returnflag,
      |    quantile_cont(l_quantity, 0.25) AS p25,
      |    quantile_cont(l_quantity, 0.75) AS p75
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l.l_returnflag, MIN(p25) AS p25, MIN(p75) AS p75,
      |  COUNT(CASE WHEN l_quantity BETWEEN p25 AND p75 THEN 1 END) AS n_kept,
      |  CAST(CAST(SUM(CASE WHEN l_quantity BETWEEN p25 AND p75
      |      THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE)
      |    / COUNT(CASE WHEN l_quantity BETWEEN p25 AND p75 THEN 1 END)
      |    AS trimmed_mean,
      |  CAST(CAST(SUM(CAST(GREATEST(LEAST(l_quantity, p75), p25)
      |      AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS winsorized_sum
      |FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag
      |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q142: grouped least-squares regression (value vs. time) from exact
  // integer moment sums — the distributed-friendly formulation of
  // per-group model fitting. x = whole hours since 2024-01-01 (int64),
  // y = value in millionths (int64, ≤6-decimal-clean); Σx, Σx², Σy,
  // Σxy stay in int64 (bounds checked: x ≤ 8.8e3, y ≤ 5.6e8 ⇒
  // Σxy ≤ 5e17 per group), Σy² alone needs 128-bit so it runs through
  // DECIMAL(38,0) on Spark and HUGEINT in DuckDB. The normal-equation
  // combinations (n·Σxy − ΣxΣy etc., up to ~3e27) are computed exactly
  // in 38-digit space, and only the final slope / intercept / r²
  // divisions happen in doubles — the same IEEE expression tree on
  // both engines. One partial+final hash aggregate; nothing else
  // shuffles. Built-in regr_slope/corr stream doubles in partition
  // order and are NOT cross-engine reproducible; this form is.
  // -------------------------------------------------------------------
  def q142GroupLinreg(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val base = graft.sources.Events.ev(spark, dir)
      .select(col("event_type"),
        expr("(unix_micros(ts) - 1704067200000000L) div 3600000000L").as("x"),
        (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("v6"))
    val sums = base.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("v6")).as("sy6"),
      sum(col("x") * col("v6")).as("sxy6"),
      sum(col("v6").cast(d38) * col("v6").cast(d38)).as("syy12"))
    val num6 = (col("n").cast(d38) * col("sxy6").cast(d38) -
      col("sx").cast(d38) * col("sy6").cast(d38)).cast("double")
    val den = (col("n").cast(d38) * col("sxx").cast(d38) -
      col("sx").cast(d38) * col("sx").cast(d38)).cast("double")
    val syyTerm = (col("n").cast(d38) * col("syy12") -
      col("sy6").cast(d38) * col("sy6").cast(d38)).cast("double")
    sums.select(
        col("event_type"), col("n"),
        (num6 / den / lit(1e6)).as("slope"),
        ((col("sy6").cast("double") - num6 / den * col("sx").cast("double")) /
          col("n").cast("double") / lit(1e6)).as("intercept"),
        (num6 * num6 / (den * syyTerm)).as("r2"))
      .orderBy(asc("event_type"))
  }
  val q142Sql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - 1704067200000000) // 3600000000 AS x,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v6
      |  FROM events
      |), s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x*x) AS BIGINT) AS sxx,
      |    CAST(SUM(v6) AS BIGINT) AS sy6, CAST(SUM(x*v6) AS BIGINT) AS sxy6,
      |    SUM(CAST(v6 AS HUGEINT) * v6) AS syy12
      |  FROM b GROUP BY 1
      |), c AS (
      |  SELECT event_type, n,
      |    CAST(CAST(CAST(n AS HUGEINT)*sxy6 - CAST(sx AS HUGEINT)*sy6 AS VARCHAR) AS DOUBLE) AS num6,
      |    CAST(CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS VARCHAR) AS DOUBLE) AS den,
      |    CAST(CAST(CAST(n AS HUGEINT)*syy12 - CAST(sy6 AS HUGEINT)*sy6 AS VARCHAR) AS DOUBLE) AS syyterm,
      |    CAST(sy6 AS DOUBLE) AS sy6d, CAST(sx AS DOUBLE) AS sxd
      |  FROM s
      |)
      |SELECT event_type, n,
      |  num6 / den / 1e6 AS slope,
      |  (sy6d - num6 / den * sxd) / CAST(n AS DOUBLE) / 1e6 AS intercept,
      |  num6 * num6 / (den * syyterm) AS r2
      |FROM c ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q143: source-concentration metrics per language — Herfindahl
  // index, Gini impurity, and top-source share of the documents
  // corpus. All three are RATIONAL in the group counts (Σc², max c,
  // N²), so the whole computation is exact int64 followed by one IEEE
  // division per output column — no logs, no cross-engine libm risk
  // (ln differs by ulps between JVM and C; entropy is deliberately
  // NOT used here). Two stacked partial-agged aggregates: counts per
  // (lang, source) — the only shuffle, ~languages×sources rows — then
  // per-lang combination. The curation use: flag languages whose
  // corpus is dominated by few sources before training.
  // -------------------------------------------------------------------
  def q143Concentration(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("c") * col("c")).as("sum_c2"),
        max(col("c")).as("max_c"))
      .select(
        col("lang"), col("n_docs"), col("n_sources"),
        (col("sum_c2").cast("double") /
          (col("n_docs") * col("n_docs")).cast("double")).as("hhi"),
        (lit(1.0) - col("sum_c2").cast("double") /
          (col("n_docs") * col("n_docs")).cast("double")).as("gini_impurity"),
        (col("max_c").cast("double") / col("n_docs").cast("double"))
          .as("top_share"))
      .orderBy(asc("lang"))
  val q143Sql: String =
    """WITH cs AS (
      |  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2
      |), s AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs, COUNT(*) AS n_sources,
      |    CAST(SUM(c*c) AS BIGINT) AS sum_c2, MAX(c) AS max_c
      |  FROM cs GROUP BY 1
      |)
      |SELECT lang, n_docs, n_sources,
      |  CAST(sum_c2 AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE) AS hhi,
      |  1.0 - CAST(sum_c2 AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE) AS gini_impurity,
      |  CAST(max_c AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_share
      |FROM s ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q153: exact two-sample Kolmogorov-Smirnov statistic — the
  // distribution-shift gate between event populations (here click vs
  // purchase values; in a training pipeline, yesterday's vs today's
  // feature distribution). All-integer formulation: values are
  // ≤6-decimal clean so v·1e6 is an exact long key; per-value counts
  // aggregate distributed (the only data-sized shuffle), and the KS
  // numerator max|c1·n2 − c2·n1| runs over the DISTINCT-value frame —
  // the one global-ordered cumsum is metadata-sized, not data-sized
  // (bin to a fixed grid first if the value domain is unbounded). The
  // single final division is the same IEEE op in both engines; no
  // sqrt, no logs, no float compare anywhere else.
  // -------------------------------------------------------------------
  def q153KsTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Events.ev(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("v6"))
    val counts = ev.groupBy(col("v6")).agg(
      count(when(col("event_type") === "click", 1)).as("c1"),
      count(when(col("event_type") === "purchase", 1)).as("c2"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(asc("v6"))
      .rowsBetween(Long.MinValue, 0L)
    val cum = counts
      .withColumn("f1", sum(col("c1")).over(w))
      .withColumn("f2", sum(col("c2")).over(w))
    val n = ev.groupBy().agg(
      count(when(col("event_type") === "click", 1)).as("n1"),
      count(when(col("event_type") === "purchase", 1)).as("n2"))
    cum.crossJoin(broadcast(n))
      .select(col("n1"), col("n2"),
        abs(col("f1") * col("n2") - col("f2") * col("n1")).as("d"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("d")).as("ks_num"))
      .select(col("n1"), col("n2"), col("ks_num"),
        (col("ks_num").cast("double") /
          (col("n1") * col("n2")).cast("double")).as("ks"))
  }
  val q153Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v6
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), counts AS (
      |  SELECT v6,
      |    COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS c1,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS c2
      |  FROM ev GROUP BY v6
      |), cum AS (
      |  SELECT
      |    SUM(c1) OVER (ORDER BY v6
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
      |    SUM(c2) OVER (ORDER BY v6
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
      |  FROM counts
      |), n AS (
      |  SELECT COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n1,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n2
      |  FROM ev
      |)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS BIGINT) AS ks_num,
      |  CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS DOUBLE)
      |    / CAST(n1 * n2 AS DOUBLE) AS ks
      |FROM cum, n GROUP BY n1, n2""".stripMargin

  // -------------------------------------------------------------------
  // q166: mergeable quantile sketch — grouped t-digest (δ=100) over
  // events.value, six quantiles per event_type. The missing member of
  // the sketch family (HLL/CMS/KMV/MG all gated already): bounded
  // memory per task, ~3 KB partial states across the shuffle, vs a
  // full per-group sort for exact quantiles. Estimates are not
  // bit-stable cross-engine (interpolation over merge-order-dependent
  // centroids), so the oracle is a rank-bracket containment (rule 9):
  // DuckDB recomputes the EXACT rank of every emitted estimate and
  // requires it within max(3, 2%·n) of q·n — measured max rank error
  // is 0.24%·n (sf0.01) / 0.12%·n (sf0.1) (t-digest k1-scale bound is
  // O(q(1−q)n/δ)), so the 2% gate has ≥8× margin without tolerating a
  // broken sketch.
  // A completeness clause pins 6 rows × |event_type| (partial emission
  // zeroes the main branch → hard FAIL per rule 10).
  // -------------------------------------------------------------------
  private val q166Qs = Seq(0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
  def q166TdigestQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Events.ev(spark, dir)
      .groupBy(col("event_type"))
      .agg(graft.functions.SketchFunctions
        .tdigest_quantiles(col("value"), 100, q166Qs).as("qs"))
      .select(col("event_type"), explode(col("qs")).as("e"))
      .select(col("event_type"), col("e.q").as("q"), col("e.est").as("est"))
      .orderBy(asc("event_type"), asc("q"))
  val q166Sql: String =
    """WITH e AS (
      |  SELECT event_type, q, est
      |  FROM read_parquet('__GRAFT_OUT__/q166_tdigest_quantiles/*.parquet')
      |), g AS (
      |  SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1
      |), r AS (
      |  SELECT e.event_type, e.q, e.est,
      |    SUM(CASE WHEN x.value < e.est THEN 1 ELSE 0 END) AS below,
      |    SUM(CASE WHEN x.value <= e.est THEN 1 ELSE 0 END) AS beloweq
      |  FROM e JOIN events x ON x.event_type = e.event_type
      |  GROUP BY 1, 2, 3
      |)
      |SELECT r.event_type, r.q, r.est
      |FROM r JOIN g ON g.event_type = r.event_type
      |WHERE r.below <= r.q * g.n + GREATEST(3, 0.02 * g.n)
      |  AND r.beloweq >= r.q * g.n - GREATEST(3, 0.02 * g.n)
      |  AND (SELECT COUNT(*) FROM e) = 6 * (SELECT COUNT(*) FROM g)
      |UNION ALL SELECT '~', -1.0, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q166_tdigest_quantiles/*.parquet')) = 0
      |ORDER BY event_type, q""".stripMargin

  // -------------------------------------------------------------------
  // q173: equi-HEIGHT decile binning of l_extendedprice — the
  // quantile-bucketed complement of q106's equal-width histogram
  // (feature binning / data-skew profiling: each bin holds ~10% of the
  // mass, so bin widths expose the distribution shape). Boundaries are
  // the 9 interior deciles via type-7 interpolation over exact cents
  // integers — both engines evaluate the IDENTICAL IEEE expression
  // h = p·(n−1), lerp(x_lo, x_hi) (q42's guarantee), so the fence
  // doubles match bit-for-bit; bin(v) = Σ_j [v ≥ b_j] is then 9
  // codegen'd comparisons against a broadcast 1-row fence frame —
  // map-only, no HOF lambda, no global sort of the fact table. Every
  // output column is an exact integer (counts, min/max cents, BIGINT
  // cent sums). The percentile agg itself is the one non-streaming
  // piece (value→count map ∝ distinct prices); q54's GK sketch is the
  // registered approx twin for unbounded domains.
  // -------------------------------------------------------------------
  def q173EquiHeightBins(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
      .cast("long").as("cents")
    val c = li(spark, dir).select(cents)
    val fences = c.agg(
      expr("percentile(cents, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
        .as("bs"))
      .select((1 to 9).map(j => element_at(col("bs"), j).as(s"f$j")): _*)
    val bin = (1 to 9).map(j =>
        when(col("cents") >= col(s"f$j"), 1L).otherwise(0L))
      .reduce(_ + _).as("bin")
    c.crossJoin(broadcast(fences))
      .select(col("cents"), bin)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(asc("bin"))
  }
  val q173Sql: String =
    """WITH c AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |    AS cents FROM lineitem
      |), f AS (
      |  SELECT quantile_cont(cents, 0.1) AS f1, quantile_cont(cents, 0.2) AS f2,
      |    quantile_cont(cents, 0.3) AS f3, quantile_cont(cents, 0.4) AS f4,
      |    quantile_cont(cents, 0.5) AS f5, quantile_cont(cents, 0.6) AS f6,
      |    quantile_cont(cents, 0.7) AS f7, quantile_cont(cents, 0.8) AS f8,
      |    quantile_cont(cents, 0.9) AS f9
      |  FROM c
      |), b AS (
      |  SELECT cents,
      |    (CASE WHEN cents >= f1 THEN 1 ELSE 0 END)
      |    + (CASE WHEN cents >= f2 THEN 1 ELSE 0 END)
      |    + (CASE WHEN cents >= f3 THEN 1 ELSE 0 END)
      |    + (CASE WHEN cents >= f4 THEN 1 ELSE 0 END)
      |    + (CASE WHEN cents >= f5 THEN 1 ELSE 0 END)
      |    + (CASE WHEN cents >= f6 THEN 1 ELSE 0 END)
      |    + (CASE WHEN cents >= f7 THEN 1 ELSE 0 END)
      |    + (CASE WHEN cents >= f8 THEN 1 ELSE 0 END)
      |    + (CASE WHEN cents >= f9 THEN 1 ELSE 0 END) AS bin
      |  FROM c CROSS JOIN f
      |)
      |SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n,
      |  MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  // -------------------------------------------------------------------
  // q190: t-digest-FENCED equi-height binning — q173's decile bins
  // with the fences drawn from the mergeable t-digest sketch instead
  // of the exact percentile aggregate. This is the registered 100 TB
  // path for quantile binning (round-6 verdict item): exact
  // `percentile` buffers a distinct-value count map on ONE reducer at
  // the final merge (distinct-bounded here, unbounded in general);
  // the t-digest final merge is ~3 KB of centroids regardless of
  // domain, so the plan carries only sketch-sized state anywhere
  // above the scan. Binning is then identical to q173: 9 codegen
  // comparisons against a broadcast 1-row fence frame, map-only.
  //
  // Oracle (rule 9, q166's rank-bracket recipe): estimates are not
  // bit-stable cross-engine, so DuckDB reads the EMITTED fences back,
  // (a) verifies each fence's exact rank sits within max(3, 2%·n) of
  // its decile target (measured error ~0.2%·n — ≥8× margin), then
  // (b) recomputes every per-bin aggregate EXACTLY from lineitem
  // using those emitted fences — n/lo/hi/sum must match
  // bit-for-bit or the containment join drops the row. Completeness:
  // exactly 10 bins + the rule-10 empty-output sentinel.
  // -------------------------------------------------------------------
  def q190TdigestBins(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
      .cast("long").as("cents")
    val c = li(spark, dir).select(cents)
    val qs = (1 to 9).map(_ / 10.0)
    val fences = c.agg(graft.functions.SketchFunctions
        .tdigest_quantiles(col("cents").cast("double"), 100, qs).as("qs"))
      .select((1 to 9).map(j =>
        element_at(col("qs"), j).getField("est").as(s"f$j")): _*)
    val bin = (1 to 9).map(j =>
        when(col("cents") >= col(s"f$j"), 1L).otherwise(0L))
      .reduce(_ + _).as("bin")
    val fenceRows = fences
      .select(posexplode(array((1 to 9).map(j => col(s"f$j")): _*)))
      .select((col("pos") + 1).cast("long").as("bin"), col("col").as("fence"))
    c.crossJoin(broadcast(fences))
      .select(col("cents"), bin)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"),
        sum(col("cents")).as("sum_cents"))
      .join(broadcast(fenceRows), Seq("bin"), "left_outer")
      .select(col("bin"), coalesce(col("fence"), lit(-1.0)).as("fence"),
        col("n"), col("lo_cents"), col("hi_cents"), col("sum_cents"))
      .orderBy(asc("bin"))
  }
  val q190Sql: String =
    """WITH e AS (
      |  SELECT bin, fence, n, lo_cents, hi_cents, sum_cents
      |  FROM read_parquet('__GRAFT_OUT__/q190_tdigest_bins/*.parquet')
      |), c AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |    AS cents FROM lineitem
      |), tot AS (SELECT COUNT(*) AS n FROM c),
      |fr AS (
      |  SELECT e.bin, e.fence,
      |    SUM(CASE WHEN c.cents < e.fence THEN 1 ELSE 0 END) AS below,
      |    SUM(CASE WHEN c.cents <= e.fence THEN 1 ELSE 0 END) AS beloweq
      |  FROM e CROSS JOIN c WHERE e.bin >= 1 GROUP BY 1, 2
      |), fok AS (
      |  SELECT COUNT(*) AS k FROM fr CROSS JOIN tot
      |  WHERE below <= bin * 0.1 * n + GREATEST(3, 0.02 * n)
      |    AND beloweq >= bin * 0.1 * n - GREATEST(3, 0.02 * n)
      |), binned AS (
      |  SELECT c.cents,
      |    (SELECT COUNT(*) FROM e f WHERE f.bin >= 1 AND c.cents >= f.fence)
      |      AS bin
      |  FROM c
      |), truth AS (
      |  SELECT bin, COUNT(*) AS n, MIN(cents) AS lo, MAX(cents) AS hi,
      |    CAST(SUM(cents) AS BIGINT) AS s
      |  FROM binned GROUP BY 1
      |)
      |SELECT e.bin, e.fence, e.n, e.lo_cents, e.hi_cents, e.sum_cents
      |FROM e JOIN truth t ON t.bin = e.bin AND t.n = e.n
      |  AND t.lo = e.lo_cents AND t.hi = e.hi_cents AND t.s = e.sum_cents
      |WHERE (SELECT k FROM fok) = 9 AND (SELECT COUNT(*) FROM e) = 10
      |UNION ALL SELECT -1, -1.0, -1, -1, -1, -1 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q190_tdigest_bins/*.parquet')) = 0
      |ORDER BY bin""".stripMargin

  // -------------------------------------------------------------------
  // q174: median/MAD robust outlier detection — the heavy-tail-safe
  // sibling of q130's z-score counts (mean/σ are themselves dragged by
  // the outliers they're meant to flag; median/MAD have breakdown
  // point 0.5). Per order priority over o_totalprice, ALL-INTEGER via
  // the doubling trick: med2 = 2·median(cents) is an exact integer
  // (the middle-pair average ×2 = a+b), dev2 = |2·cents − med2|,
  // mad4 = 2·median(dev2) — and the k·MAD test |c−med| > k·MAD
  // clears to 2·dev2 > k·mad4, an integer comparison with no sqrt,
  // division, or IEEE boundary anywhere (q130's discipline). Shape:
  // two percentile passes (each a per-group value→count map, tiny
  // domain), two broadcast joins of the 5-row fence frame, map-only
  // test, one partial-agged count.
  // -------------------------------------------------------------------
  def q174MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(14, 2)) * 100)
          .cast("long").as("cents"))
    val med = base.groupBy(col("o_orderpriority")).agg(
      (expr("percentile(cents, 0.5D)") * 2).cast("long").as("med2"))
    val dev = base.join(broadcast(med), "o_orderpriority")
      .select(col("o_orderpriority"), col("cents"),
        abs(lit(2) * col("cents") - col("med2")).as("dev2"), col("med2"))
    val mad = dev.groupBy(col("o_orderpriority")).agg(
      (expr("percentile(dev2, 0.5D)") * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), "o_orderpriority")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        min(col("med2")).as("med2"),
        min(col("mad4")).as("mad4"),
        sum(when(lit(2) * col("dev2") > lit(3) * col("mad4"), 1L)
          .otherwise(0L)).as("n_out3"),
        sum(when(lit(2) * col("dev2") > lit(5) * col("mad4"), 1L)
          .otherwise(0L)).as("n_out5"))
      .orderBy(asc("o_orderpriority"))
  }
  val q174Sql: String =
    """WITH c AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      |  FROM orders
      |), m AS (
      |  SELECT o_orderpriority,
      |    CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT) AS med2
      |  FROM c GROUP BY o_orderpriority
      |), d AS (
      |  SELECT c.o_orderpriority, cents, ABS(2 * cents - med2) AS dev2, med2
      |  FROM c JOIN m USING (o_orderpriority)
      |), md AS (
      |  SELECT o_orderpriority,
      |    CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
      |  FROM d GROUP BY o_orderpriority
      |)
      |SELECT d.o_orderpriority, COUNT(*) AS n,
      |  MIN(med2) AS med2, MIN(mad4) AS mad4,
      |  CAST(SUM(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_out3,
      |  CAST(SUM(CASE WHEN 2 * dev2 > 5 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_out5
      |FROM d JOIN md USING (o_orderpriority)
      |GROUP BY d.o_orderpriority ORDER BY d.o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // q181: t-digest sketch-TABLE union — quantile ALGEBRA across
  // snapshots, the rank/quantile twin of q110's HLL table: each
  // snapshot (event_id mod 4) persists one ~3 KB digest per event
  // type (`tdigest_agg` → BINARY), and p50/p90/p99 of the COMBINED
  // distribution come from merging sketches alone
  // (`tdigest_merge_quantiles`) — adding a snapshot's stats never
  // rescans history, and only sketch bytes cross the union shuffle.
  // Oracle: q166's rank-bracket containment over the full events
  // table (the merged estimate must rank within max(3, 2%·n) of q·n)
  // + 3×|types| completeness + sentinel. The digest-union error is
  // the same micro-batch merge path q166/q167 already exercise.
  // -------------------------------------------------------------------
  def q181TdigestUnion(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Events.ev(spark, dir)
      .select(col("event_type"), pmod(col("event_id"), lit(4)).as("snapshot"),
        col("value"))
      .groupBy(col("event_type"), col("snapshot"))
      .agg(graft.functions.SketchFunctions
        .tdigest_agg(col("value"), 100).as("sk")) // the persisted sketch table
      .groupBy(col("event_type"))
      .agg(graft.functions.SketchFunctions
        .tdigest_merge_quantiles(col("sk"), 100, Seq(0.5, 0.9, 0.99)).as("qs"))
      .select(col("event_type"), explode(col("qs")).as("e"))
      .select(col("event_type"), col("e.q").as("q"), col("e.est").as("est"))
      .orderBy(asc("event_type"), asc("q"))
  val q181Sql: String =
    """WITH e AS (
      |  SELECT event_type, q, est
      |  FROM read_parquet('__GRAFT_OUT__/q181_tdigest_union/*.parquet')
      |), g AS (
      |  SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1
      |), r AS (
      |  SELECT e.event_type, e.q, e.est,
      |    SUM(CASE WHEN x.value < e.est THEN 1 ELSE 0 END) AS below,
      |    SUM(CASE WHEN x.value <= e.est THEN 1 ELSE 0 END) AS beloweq
      |  FROM e JOIN events x ON x.event_type = e.event_type
      |  GROUP BY 1, 2, 3
      |)
      |SELECT r.event_type, r.q, r.est
      |FROM r JOIN g ON g.event_type = r.event_type
      |WHERE r.below <= r.q * g.n + GREATEST(3, 0.02 * g.n)
      |  AND r.beloweq >= r.q * g.n - GREATEST(3, 0.02 * g.n)
      |  AND (SELECT COUNT(*) FROM e) = 3 * (SELECT COUNT(*) FROM g)
      |UNION ALL SELECT '~', -1.0, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q181_tdigest_union/*.parquet')) = 0
      |ORDER BY event_type, q""".stripMargin

  // -------------------------------------------------------------------
  // q284: MANN-WHITNEY U (Wilcoxon rank-sum), one source vs the rest —
  // the nonparametric "is this source's length distribution shifted?"
  // audit a mixing pipeline runs per ingest feed. Exact midrank
  // arithmetic: ranks carry the ×2 scaling (avg of a tie run of k at
  // cumulative offset c is c + (k+1)/2, so rank2 = 2c + k + 1 is
  // always integral), U follows as u2 = 2·U = ΣR2 − n1(n1+1), and the
  // effect size is the AUC u2·1e6 div (2·n1·n2) — all int64
  // (ΣR2 ≤ 2·N·n1; the ·1e6 step needs u2 ≲ 9·10^12, i.e. per-stratum
  // runs at 100 TB — divide through DECIMAL past that). Scale shape:
  // one (value) count aggregate + one (source, value) count aggregate
  // (both partial-agg); the rank window runs over the DISTINCT-value
  // frame (domain-bounded, q153's discipline), joined back on value.
  // Oracle: identical CTE algebra in DuckDB, bit-for-bit.
  // -------------------------------------------------------------------
  def q284MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val doc = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("n_chars"))
    val vc = doc.groupBy(col("n_chars")).agg(count(lit(1)).as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(asc("n_chars")).rowsBetween(Long.MinValue, -1L)
    val r2 = vc.select(col("n_chars"),
      (lit(2L) * coalesce(sum(col("cv")).over(w), lit(0L))
        + col("cv") + 1L).as("rank2"))
    val sv = doc.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val tot = doc.groupBy().agg(count(lit(1)).as("n"))
    sv.join(r2, "n_chars")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n1"), sum(col("c") * col("rank2")).as("r1_2"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n1"), (col("n") - col("n1")).as("n2"),
        (col("r1_2") - col("n1") * (col("n1") + 1L)).as("u2"))
      // n2 > 0 guard (ADVICE r10): if one source ever comprised the
      // whole table, Spark div would yield NULL while DuckDB // raises
      // division-by-zero — guard BOTH sides so the oracle run matches.
      // u2 ≥ 0 by construction (it is 2·U, U ∈ [0, n1·n2]), so the
      // div-vs-floor hazard does not apply here.
      .withColumn("auc_fx",
        expr("CASE WHEN n2 > 0 THEN u2 * 1000000L div (2 * n1 * n2) END"))
      .orderBy(asc("source"))
  }
  val q284Sql: String =
    """WITH vc AS (
      |  SELECT n_chars, COUNT(*) AS cv FROM documents GROUP BY 1
      |), r2 AS (
      |  SELECT n_chars,
      |    2 * COALESCE(SUM(cv) OVER (ORDER BY n_chars
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + cv + 1 AS rank2
      |  FROM vc
      |), sv AS (
      |  SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2
      |), tot AS (SELECT COUNT(*) AS n FROM documents
      |), agg AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n1,
      |    CAST(SUM(c * rank2) AS BIGINT) AS r1_2
      |  FROM sv JOIN r2 USING (n_chars) GROUP BY 1
      |)
      |SELECT source, n1, (SELECT n FROM tot) - n1 AS n2,
      |  r1_2 - n1 * (n1 + 1) AS u2,
      |  CASE WHEN (SELECT n FROM tot) - n1 > 0 THEN
      |    ((r1_2 - n1 * (n1 + 1)) * 1000000)
      |      // (2 * n1 * ((SELECT n FROM tot) - n1))
      |  END AS auc_fx
      |FROM agg ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q285: SPEARMAN rank correlation per source between document length
  // (n_chars) and distinct-token count — the Heaps-law cousin as a
  // per-feed monotonic-association audit (a feed whose length/lexical-
  // diversity coupling breaks from the corpus norm is usually
  // templated or boilerplate-heavy). Midranks WITHIN source via the
  // same ×2-integral trick as q284, Pearson over rank2 pairs: num,
  // dx, dy are exact int64 sums; ρ = num / (√dx·√dy) is evaluated in
  // double — int64→double casts, √, ·, / are each IEEE
  // correctly-rounded, identical operand order both engines — and
  // pinned as floor(ρ·1e6) (the q274 score_fx convention). Scale
  // shape: per-doc token distinct count (one explode + partial-agg),
  // two DISTINCT-(source, value) rank windows (domain-bounded), two
  // hash joins back on (source, value), one per-source fold.
  // -------------------------------------------------------------------
  def q285Spearman(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val doc = d.select(col("source"), col("doc_id"), col("n_chars").as("x"),
      size(array_distinct(graft.operators.TextAnalysis
        .tokens(col("text")))).cast("long").as("y"))
    def rank2Of(vcol: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(asc(vcol))
        .rowsBetween(Long.MinValue, -1L)
      doc.groupBy(col("source"), col(vcol)).agg(count(lit(1)).as("cv"))
        .select(col("source"), col(vcol),
          (lit(2L) * coalesce(sum(col("cv")).over(w), lit(0L))
            + col("cv") + 1L).as(s"r_$vcol"))
    }
    doc.join(rank2Of("x"), Seq("source", "x"))
      .join(rank2Of("y"), Seq("source", "y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("r_x")).as("sx"), sum(col("r_y")).as("sy"),
        sum(col("r_x") * col("r_x")).as("sxx"),
        sum(col("r_y") * col("r_y")).as("syy"),
        sum(col("r_x") * col("r_y")).as("sxy"))
      .select(col("source"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("dx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("dy"))
      .withColumn("rho_fx",
        when(col("dx") > 0 && col("dy") > 0,
          floor(col("num").cast("double")
            / (sqrt(col("dx").cast("double")) * sqrt(col("dy").cast("double")))
            * 1e6).cast("long")))
      .orderBy(asc("source"))
  }
  val q285Sql: String =
    """WITH doc AS (
      |  SELECT source, n_chars AS x,
      |    CAST(LEN(list_distinct(string_split_regex(TRIM(text), '\s+')))
      |      AS BIGINT) AS y
      |  FROM documents
      |), rx AS (
      |  SELECT source, x,
      |    2 * COALESCE(SUM(cv) OVER (PARTITION BY source ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + cv + 1 AS r_x
      |  FROM (SELECT source, x, COUNT(*) AS cv FROM doc GROUP BY 1, 2)
      |), ry AS (
      |  SELECT source, y,
      |    2 * COALESCE(SUM(cv) OVER (PARTITION BY source ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + cv + 1 AS r_y
      |  FROM (SELECT source, y, COUNT(*) AS cv FROM doc GROUP BY 1, 2)
      |), agg AS (
      |  SELECT source, COUNT(*) AS n,
      |    CAST(SUM(r_x) AS BIGINT) AS sx, CAST(SUM(r_y) AS BIGINT) AS sy,
      |    CAST(SUM(r_x * r_x) AS BIGINT) AS sxx,
      |    CAST(SUM(r_y * r_y) AS BIGINT) AS syy,
      |    CAST(SUM(r_x * r_y) AS BIGINT) AS sxy
      |  FROM doc JOIN rx USING (source, x) JOIN ry USING (source, y)
      |  GROUP BY 1
      |)
      |SELECT source, n,
      |  n * sxy - sx * sy AS num,
      |  n * sxx - sx * sx AS dx,
      |  n * syy - sy * sy AS dy,
      |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
      |    CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
      |      / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
      |         * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000)
      |      AS BIGINT)
      |  END AS rho_fx
      |FROM agg ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q286: AUTOCORRELATION of the daily event volume at lags 1..7 —
  // the weekly-seasonality fingerprint (q188's anomaly gate assumes
  // it; this measures it). Mean-centering stays integral by working
  // with z_t = n·x_t − S (n = #days, S = Σx): acf_k =
  // Σ z_t·z_{t+k} / Σ z_t², emitted as floor(num/den·1e6). num/den
  // are exact int64 (|z| ≤ n·x_max; den ≤ n·(n·x_max)² — the int64→
  // double casts round identically in both engines, and num may be
  // NEGATIVE, which is exactly why the division happens in double:
  // Spark's integer div truncates toward zero while DuckDB's //
  // floors, so a negative fixed-point quotient would diverge by 1).
  // Scale shape: ONE data-sized (day) count aggregate; the lag
  // windows and the fold run over the ~365-row daily frame.
  // -------------------------------------------------------------------
  def q286AcfDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.sources.Events.ev(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val tot = daily.groupBy().agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val z = daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("n") * col("x") - col("s")).as("z"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(asc("day"))
    val lagged = z.select(col("z") +:
      (1 to 7).map(k => lead(col("z"), k).over(w).as(s"z$k")): _*)
    val folded = lagged.groupBy().agg(
      count(lit(1)).as("n_days"),
      sum(col("z") * col("z")).as("den") +:
        (1 to 7).map(k => sum(col("z") * col(s"z$k")).as(s"num$k")): _*)
    folded.select(expr(
      "stack(7, " + (1 to 7).map(k => s"${k}L, num$k").mkString(", ")
        + ") as (lag, num)"), col("n_days"), col("den"))
      .withColumn("acf_fx",
        when(col("den") > 0, floor(col("num").cast("double")
          / col("den").cast("double") * 1e6).cast("long")))
      .select(col("lag"), col("n_days"), col("num"), col("den"), col("acf_fx"))
      .orderBy(asc("lag"))
  }
  val q286Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
      |  FROM events GROUP BY 1
      |), tot AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s FROM daily
      |), z AS (
      |  SELECT day, (SELECT n FROM tot) * x - (SELECT s FROM tot) AS z
      |  FROM daily
      |), lagged AS (
      |  SELECT z,
      |    LEAD(z, 1) OVER (ORDER BY day) AS z1,
      |    LEAD(z, 2) OVER (ORDER BY day) AS z2,
      |    LEAD(z, 3) OVER (ORDER BY day) AS z3,
      |    LEAD(z, 4) OVER (ORDER BY day) AS z4,
      |    LEAD(z, 5) OVER (ORDER BY day) AS z5,
      |    LEAD(z, 6) OVER (ORDER BY day) AS z6,
      |    LEAD(z, 7) OVER (ORDER BY day) AS z7
      |  FROM z
      |), folded AS (
      |  SELECT COUNT(*) AS n_days, CAST(SUM(z * z) AS BIGINT) AS den,
      |    CAST(SUM(z * z1) AS BIGINT) AS num1,
      |    CAST(SUM(z * z2) AS BIGINT) AS num2,
      |    CAST(SUM(z * z3) AS BIGINT) AS num3,
      |    CAST(SUM(z * z4) AS BIGINT) AS num4,
      |    CAST(SUM(z * z5) AS BIGINT) AS num5,
      |    CAST(SUM(z * z6) AS BIGINT) AS num6,
      |    CAST(SUM(z * z7) AS BIGINT) AS num7
      |  FROM lagged
      |), u AS (
      |  SELECT 1 AS lag, num1 AS num, n_days, den FROM folded
      |  UNION ALL SELECT 2, num2, n_days, den FROM folded
      |  UNION ALL SELECT 3, num3, n_days, den FROM folded
      |  UNION ALL SELECT 4, num4, n_days, den FROM folded
      |  UNION ALL SELECT 5, num5, n_days, den FROM folded
      |  UNION ALL SELECT 6, num6, n_days, den FROM folded
      |  UNION ALL SELECT 7, num7, n_days, den FROM folded
      |)
      |SELECT CAST(lag AS BIGINT) AS lag, n_days, num, den,
      |  CASE WHEN den > 0 THEN
      |    CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000)
      |      AS BIGINT) END AS acf_fx
      |FROM u ORDER BY lag""".stripMargin

  // -------------------------------------------------------------------
  // q293: THEIL-SEN robust trend of the daily event volume — the
  // median of all pairwise slopes (Sen 1968), the robust-stats
  // sibling of q136/q174 applied to the time axis: one outlier day
  // drags an OLS slope arbitrarily but moves the pairwise-slope
  // median not at all (29.3% breakdown). ONE data-sized pass (the
  // daily count aggregate); the all-pairs slope frame is
  // date-DOMAIN-bounded (~n_days²/2 rows — metadata, PlanLint-
  // allowlisted build side) and the median picks by row_number over
  // (slope, dt, dy) — slopes are correctly-rounded doubles of exact
  // int64 dy/dt, and rows tied on the full sort key emit identical
  // output columns, so the pick is engine-independent. floor() in
  // double because slopes can be negative (div-truncation vs floor).
  // -------------------------------------------------------------------
  def q293TheilSen(spark: SparkSession, dir: String): DataFrame = {
    // the daily volume frame as a LocalRelation (r13): date-DOMAIN-
    // bounded (≤ #days rows) — structurally bounded for PlanLint
    // (retires this query's allowlist entry) with a loud cap guard
    // sized for a ~50-year span; ONE events scan now serves both
    // self-join sides and the n_days count (previously three)
    val daily = graft.operators.DomainFrame.materialize(
      graft.sources.Events.ev(spark, dir)
        .select(expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("x")),
      cap = 20000, "q293 daily event-volume frame")
    val pairs = daily.select(col("day").as("d1"), col("x").as("x1"))
      .join(daily.select(col("day").as("d2"), col("x").as("x2")),
        col("d2") > col("d1"))
      .select((col("x2") - col("x1")).as("dy"), (col("d2") - col("d1")).as("dt"))
      .withColumn("sl", col("dy").cast("double") / col("dt").cast("double"))
    val cnt = pairs.groupBy().agg(count(lit(1)).as("n_pairs"))
    val nd = daily.groupBy().agg(count(lit(1)).as("n_days"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(asc("sl"), asc("dt"), asc("dy"))
    pairs.crossJoin(broadcast(cnt))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .crossJoin(broadcast(nd))
      .select(col("n_days"), col("n_pairs"), col("dy").as("med_dy"),
        col("dt").as("med_dt"),
        floor(col("sl") * 1e6).cast("long").as("slope_fx"))
  }
  val q293Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1
      |), pairs AS (
      |  SELECT b.x - a.x AS dy, b.day - a.day AS dt,
      |    CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS sl
      |  FROM daily a JOIN daily b ON b.day > a.day
      |), cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs
      |), sel AS (
      |  SELECT dy, dt, sl, ROW_NUMBER() OVER (ORDER BY sl, dt, dy) AS rn
      |  FROM pairs
      |)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
      |  (SELECT n_pairs FROM cnt) AS n_pairs,
      |  dy AS med_dy, dt AS med_dt,
      |  CAST(FLOOR(sl * 1000000) AS BIGINT) AS slope_fx
      |FROM sel WHERE rn = ((SELECT n_pairs FROM cnt) + 1) // 2""".stripMargin

  // -------------------------------------------------------------------
  // q294: BENFORD FIRST-DIGIT AUDIT over order totals — the classic
  // fabricated-data detector: organically-grown monetary values
  // follow P(d) = log10(1 + 1/d); synthetic/templated/clamped values
  // don't. Money goes through the exact cents convention (rule 1),
  // the first digit via string head of the integer dollars, and the
  // Benford reference probabilities are HARDCODED fixed-point
  // literals on BOTH sides (floor(log10(1+1/d)·1e6) — no libm trust
  // needed for 9 constants). One partial-agged digit count; the
  // 9-row reference frame is literal.
  // -------------------------------------------------------------------
  private val benfordFx =
    Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L, 57991L, 51152L, 45757L)
  def q294Benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digits = spark.read.parquet(s"$dir/orders.parquet")
      .select(substring(
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 100")
          .cast("string"), 1, 1).cast("long").as("digit"))
    val cnts = digits.groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    val tot = digits.groupBy().agg(count(lit(1)).as("n"))
    val bf = benfordFx.zipWithIndex
      .map { case (fx, i) => (i + 1L, fx) }.toDF("digit", "benford_fx")
    bf.join(cnts, Seq("digit"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        expr("coalesce(cnt, 0L) * 1000000L div n").as("share_fx"),
        col("benford_fx"))
      .withColumn("dev_fx", abs(col("share_fx") - col("benford_fx")))
      .orderBy(asc("digit"))
  }
  val q294Sql: String = {
    val bfRows = benfordFx.zipWithIndex
      .map { case (fx, i) => s"(${i + 1}, $fx)" }.mkString(", ")
    s"""WITH d AS (
      |  SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
      |    // 100 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders
      |), c AS (
      |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1
      |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
      |), bf(digit, benford_fx) AS (VALUES $bfRows)
      |SELECT CAST(bf.digit AS BIGINT) AS digit,
      |  COALESCE(c.cnt, 0) AS cnt,
      |  COALESCE(c.cnt, 0) * 1000000 // (SELECT n FROM n) AS share_fx,
      |  CAST(bf.benford_fx AS BIGINT) AS benford_fx,
      |  ABS(COALESCE(c.cnt, 0) * 1000000 // (SELECT n FROM n)
      |    - bf.benford_fx) AS dev_fx
      |FROM bf LEFT JOIN c ON c.digit = bf.digit
      |ORDER BY digit""".stripMargin
  }

  // -------------------------------------------------------------------
  // q298: PER-TYPE OLS TREND of daily event volume — the classical
  // least-squares slope next to q293's robust Theil-Sen (report both:
  // when they disagree, outlier days are moving OLS). Closed form
  // from exact int64 moment sums (n·Σdx − Σd·Σx over n·Σd² − (Σd)²;
  // the rule-1 moment-sum discipline — never a streaming corr), the
  // one division in double since num can be negative. ONE data-sized
  // (type, day) aggregate; the fold is type-count-sized.
  // -------------------------------------------------------------------
  def q298OlsTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.sources.Events.ev(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("x"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("d")).as("sd"), sum(col("x")).as("sx"),
        sum(col("d") * col("d")).as("sdd"), sum(col("d") * col("x")).as("sdx"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") * col("sdx") - col("sd") * col("sx")).as("num"),
        (col("n_days") * col("sdd") - col("sd") * col("sd")).as("den"))
      .withColumn("slope_fx", when(col("den") > 0,
        floor(col("num").cast("double") / col("den").cast("double") * 1e6)
          .cast("long")))
      .orderBy(asc("event_type"))
  }
  val q298Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(d * d) AS BIGINT) AS sdd,
      |    CAST(SUM(d * x) AS BIGINT) AS sdx
      |  FROM daily GROUP BY 1
      |)
      |SELECT event_type, n_days,
      |  n_days * sdx - sd * sx AS num,
      |  n_days * sdd - sd * sd AS den,
      |  CASE WHEN n_days * sdd - sd * sd > 0 THEN
      |    CAST(FLOOR(CAST(n_days * sdx - sd * sx AS DOUBLE)
      |      / CAST(n_days * sdd - sd * sd AS DOUBLE) * 1000000) AS BIGINT)
      |  END AS slope_fx
      |FROM m ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q299: ε-DIFFERENTIALLY-PRIVATE COUNT RELEASE — the MECHANISM rung
  // of the privacy family (q270/q277/q289 are audits; this releases):
  // daily event counts + two-sided geometric ("discrete Laplace")
  // noise at ε = 1, sensitivity 1 (one event moves one day's count by
  // 1). The sampler is an integer inverse-CDF: u = mix32(portable
  // hash(day)) is 32-bit uniform, and the noise value is picked by
  // comparing u against HARDCODED cumulative thresholds
  // floor(2^32·CDF) (π(k) ∝ e^{−|k|}, outcomes interleaved
  // 0, +1, −1, …, ±16, tail clamped to +17 at P ≈ 6·10^−8) — the
  // q294 Benford trick: reference constants as exact literals on both
  // sides, zero libm trust, zero floats anywhere. Deterministic noise
  // is REPLAYABLE noise (the gate's requirement); production swaps
  // the hash for a secret-keyed PRF, the algebra is unchanged.
  // -------------------------------------------------------------------
  private val dpOuts: Seq[Long] =
    0L +: (1 to 16).flatMap(k => Seq(k.toLong, -k.toLong))
  private val dpThs: Seq[Long] = Seq(
    1984778077L, 2714937127L, 3445096177L, 3713706680L, 3982317183L,
    4081133465L, 4179949747L, 4216302225L, 4252654704L, 4266028033L,
    4279401363L, 4284321136L, 4289240909L, 4291050792L, 4292860676L,
    4293526494L, 4294192313L, 4294437254L, 4294682196L, 4294772304L,
    4294862413L, 4294895562L, 4294928711L, 4294940906L, 4294953101L,
    4294957587L, 4294962074L, 4294963724L, 4294965375L, 4294965982L,
    4294966589L, 4294966812L, 4294967036L)
  private val dpSeed = 77L
  def q299DpRelease(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation => C, Sampling => S}
    val daily = graft.sources.Events.ev(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_true"))
    // u is its own column, computed once: inlined into all 33
    // branches, its hash made the stage's generated method exceed the
    // JVM's 64 KB limit, and Spark ran the stage interpreted
    val noise = dpThs.zip(dpOuts).foldRight(lit(17L)) {
      case ((th, out), acc) => when(col("u") < lit(th), lit(out)).otherwise(acc)
    }
    daily.withColumn("u", S.mix32(C.portableHash(col("day"), dpSeed)))
      .withColumn("noise", noise)
      .select(col("day"), col("noise"),
        (col("n_true") + col("noise")).as("n_noisy"))
      .orderBy(asc("day"))
  }
  val q299Sql: String = {
    val caseChain = dpThs.zip(dpOuts)
      .map { case (th, out) => s"WHEN v < $th THEN $out" }
      .mkString("\n      |    ")
    s"""WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n_true
      |  FROM events GROUP BY 1
      |), h0 AS (SELECT day, n_true,
      |  ${graft.operators.Curation.portableHashSql("day", dpSeed)} AS v FROM daily
      |), h1 AS (SELECT day, n_true, xor(v, v >> 16) AS v FROM h0
      |), h2 AS (SELECT day, n_true, (v * 69069 + 12345) % 4294967296 AS v FROM h1
      |), h3 AS (SELECT day, n_true, xor(v, v >> 13) AS v FROM h2
      |), h4 AS (SELECT day, n_true, (v * 99991 + 1) % 4294967296 AS v FROM h3
      |), h5 AS (SELECT day, n_true, xor(v, v >> 16) AS v FROM h4
      |), n AS (
      |  SELECT day, n_true, CAST(CASE
      |    $caseChain
      |    ELSE 17 END AS BIGINT) AS noise
      |  FROM h5
      |)
      |SELECT day, noise, n_true + noise AS n_noisy
      |FROM n ORDER BY day""".stripMargin
  }

  // -------------------------------------------------------------------
  // q316: CROSS-CORRELATION of click vs purchase daily volume at lags
  // −7..+7 — the lead-lag discovery tool (does purchase volume FOLLOW
  // click volume, and by how many days?) completing q286's
  // autocorrelation with the two-series case. Same integral
  // mean-centering (z_i = n·x_i − S_i over the shared day domain);
  // num_k = Σ z1_t·z2_{t+k} (negative lags lead z1 instead), the
  // normalizer √(Σz1²)·√(Σz2²) and the division run in double from
  // exact int64s (num can be negative — the q286 div-vs-floor rule).
  // ONE data-sized (day) aggregate; all lag windows on the daily frame.
  // -------------------------------------------------------------------
  def q316CcfDaily(spark: SparkSession, dir: String): DataFrame = {
    val dd = graft.sources.Events.ev(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("x1"),
        count(when(col("event_type") === "purchase", 1)).as("x2"))
    val tot = dd.groupBy().agg(count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"))
    val z = dd.crossJoin(broadcast(tot))
      .select(col("day"), (col("n") * col("x1") - col("s1")).as("z1"),
        (col("n") * col("x2") - col("s2")).as("z2"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(asc("day"))
    val lagged = z.select(Seq(col("z1"), col("z2")) ++
      (1 to 7).flatMap(k => Seq(lead(col("z2"), k).over(w).as(s"b$k"),
        lead(col("z1"), k).over(w).as(s"a$k"))): _*)
    val aggs = Seq(
      sum(col("z1") * col("z1")).as("d1"),
      sum(col("z2") * col("z2")).as("d2"),
      sum(col("z1") * col("z2")).as("num0")) ++
      (1 to 7).map(k => sum(col("z1") * col(s"b$k")).as(s"p$k")) ++
      (1 to 7).map(k => sum(col(s"a$k") * col("z2")).as(s"m$k"))
    val folded = lagged.groupBy().agg(aggs.head, aggs.tail: _*)
    val stackExpr = "stack(15, " +
      (((-7 to -1).map(k => s"${k}L, m${-k}") :+ "0L, num0") ++
        (1 to 7).map(k => s"${k}L, p$k")).mkString(", ") + ") as (lag, num)"
    folded.select(expr(stackExpr), col("d1"), col("d2"))
      .withColumn("ccf_fx",
        when(col("d1") > 0 && col("d2") > 0,
          floor(col("num").cast("double")
            / (sqrt(col("d1").cast("double")) * sqrt(col("d2").cast("double")))
            * 1e6).cast("long")))
      .select(col("lag"), col("num"), col("ccf_fx"))
      .orderBy(asc("lag"))
  }
  val q316Sql: String = {
    val leadCols = (1 to 7).map(k =>
      s"LEAD(z2, $k) OVER (ORDER BY day) AS b$k,\n      |    " +
        s"LEAD(z1, $k) OVER (ORDER BY day) AS a$k").mkString(",\n      |    ")
    val aggCols = ((1 to 7).map(k =>
      s"CAST(SUM(z1 * b$k) AS BIGINT) AS p$k") ++
      (1 to 7).map(k => s"CAST(SUM(a$k * z2) AS BIGINT) AS m$k"))
      .mkString(",\n      |    ")
    val unions = (((-7 to -1).map(k => s"SELECT $k AS lag, m${-k} AS num, d1, d2 FROM folded")
      :+ "SELECT 0, num0, d1, d2 FROM folded") ++
      (1 to 7).map(k => s"SELECT $k, p$k, d1, d2 FROM folded"))
      .mkString("\n      |  UNION ALL ")
    s"""WITH dd AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS x1,
      |    CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS x2
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1
      |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2 FROM dd
      |), z AS (
      |  SELECT day, (SELECT n FROM tot) * x1 - (SELECT s1 FROM tot) AS z1,
      |    (SELECT n FROM tot) * x2 - (SELECT s2 FROM tot) AS z2
      |  FROM dd
      |), lagged AS (
      |  SELECT z1, z2,
      |    $leadCols
      |  FROM z
      |), folded AS (
      |  SELECT CAST(SUM(z1 * z1) AS BIGINT) AS d1,
      |    CAST(SUM(z2 * z2) AS BIGINT) AS d2,
      |    CAST(SUM(z1 * z2) AS BIGINT) AS num0,
      |    $aggCols
      |  FROM lagged
      |), u AS (
      |  $unions
      |)
      |SELECT CAST(lag AS BIGINT) AS lag, num,
      |  CASE WHEN d1 > 0 AND d2 > 0 THEN
      |    CAST(FLOOR(CAST(num AS DOUBLE)
      |      / (SQRT(CAST(d1 AS DOUBLE)) * SQRT(CAST(d2 AS DOUBLE)))
      |      * 1000000) AS BIGINT) END AS ccf_fx
      |FROM u ORDER BY lag""".stripMargin
  }

  // -------------------------------------------------------------------
  // q320: WINSORIZED MEAN per event type (5% both tails) — the robust
  // location estimate between the mean (q43) and the median (q136):
  // clamp to the exact k-th ORDER STATISTICS (k_lo = ⌈n/20⌉,
  // k_hi = n − k_lo + 1 — integer ranks, NOT an interpolated
  // percentile whose 0.05 factor is not dyadic and would not replay
  // bit-exactly) and average through the clamped values. Exact:
  // values land in the ×1e6 decimal fixed point (rule 1), the fence
  // lookup and the clamped sum both fold from the DISTINCT-value
  // count frame (q153's discipline — the cum window is value-domain-
  // bounded, no data-sized sort anywhere), mean = sum div n.
  // -------------------------------------------------------------------
  def q320Winsorized(spark: SparkSession, dir: String): DataFrame = {
    val ev6 = graft.sources.Events.ev(spark, dir)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long").as("v6"))
    val vc = ev6.groupBy(col("event_type"), col("v6"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(asc("v6"))
      .rowsBetween(Long.MinValue, 0L)
    val cum = vc.withColumn("cum", sum(col("c")).over(w))
    val tot = ev6.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .withColumn("k_lo", expr("(n + 19) div 20"))
      .withColumn("k_hi", expr("n - (n + 19) div 20 + 1"))
    val fences = cum.join(tot, "event_type")
      .groupBy(col("event_type"), col("n"), col("k_lo"))
      .agg(min(when(col("cum") >= col("k_lo"), col("v6"))).as("lo_v6"),
        min(when(col("cum") >= col("k_hi"), col("v6"))).as("hi_v6"))
    vc.join(fences, "event_type")
      .select(col("event_type"), col("n"), col("k_lo"),
        col("lo_v6"), col("hi_v6"),
        (col("c") * greatest(least(col("v6"), col("hi_v6")), col("lo_v6")))
          .as("cs"))
      .groupBy(col("event_type"), col("n"), col("k_lo"),
        col("lo_v6"), col("hi_v6"))
      .agg(sum(col("cs")).as("wins_sum"))
      // FLOOR division, not truncation (ADVICE r10): Spark `div`
      // truncates toward zero while the oracle's `//` floors — they
      // diverge by 1 on negative numerators. events.value is
      // non-negative in current data, but the correction keeps the
      // query exact if the domain ever includes negatives, in pure
      // int64 (the double+floor route would lose exactness past 2^53).
      .withColumn("wins_mean_v6",
        expr("wins_sum div n - (CASE WHEN wins_sum % n != 0 AND wins_sum < 0 THEN 1 ELSE 0 END)"))
      .orderBy(asc("event_type"))
  }
  val q320Sql: String =
    """WITH ev6 AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v6
      |  FROM events
      |), vc AS (
      |  SELECT event_type, v6, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM ev6 GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, v6, c,
      |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v6
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM vc
      |), tot AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    (CAST(COUNT(*) AS BIGINT) + 19) // 20 AS k_lo,
      |    CAST(COUNT(*) AS BIGINT)
      |      - (CAST(COUNT(*) AS BIGINT) + 19) // 20 + 1 AS k_hi
      |  FROM ev6 GROUP BY 1
      |), fences AS (
      |  SELECT cum.event_type, tot.n, tot.k_lo,
      |    MIN(CASE WHEN cum >= k_lo THEN v6 END) AS lo_v6,
      |    MIN(CASE WHEN cum >= k_hi THEN v6 END) AS hi_v6
      |  FROM cum JOIN tot USING (event_type)
      |  GROUP BY 1, 2, 3
      |)
      |SELECT vc.event_type, f.n, f.k_lo, f.lo_v6, f.hi_v6,
      |  CAST(SUM(vc.c * GREATEST(LEAST(vc.v6, f.hi_v6), f.lo_v6)) AS BIGINT)
      |    AS wins_sum,
      |  CAST(SUM(vc.c * GREATEST(LEAST(vc.v6, f.hi_v6), f.lo_v6)) AS BIGINT)
      |    // f.n AS wins_mean_v6
      |FROM vc JOIN fences f USING (event_type)
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY vc.event_type""".stripMargin

  /** Every query of this module: name → (build function, oracle SQL). */
  val registry: Map[String, Query] = Query.registry(
    "q320_winsorized" -> Query(q320Winsorized, q320Sql),
    "q316_ccf_daily" -> Query(q316CcfDaily, q316Sql),
    "q298_ols_trend" -> Query(q298OlsTrend, q298Sql),
    "q299_dp_release" -> Query(q299DpRelease, q299Sql),
    "q293_theil_sen" -> Query(q293TheilSen, q293Sql),
    "q294_benford" -> Query(q294Benford, q294Sql),
    "q284_mann_whitney" -> Query(q284MannWhitney, q284Sql),
    "q285_spearman" -> Query(q285Spearman, q285Sql),
    "q286_acf_daily" -> Query(q286AcfDaily, q286Sql),
    "q190_tdigest_bins" -> Query(q190TdigestBins, q190Sql),
    "q181_tdigest_union" -> Query(q181TdigestUnion, q181Sql),
    "q174_mad_outliers" -> Query(q174MadOutliers, q174Sql),
    "q173_equiheight_bins" -> Query(q173EquiHeightBins, q173Sql),
    "q166_tdigest_quantiles" -> Query(q166TdigestQuantiles, q166Sql),
    "q153_ks_test" -> Query(q153KsTest, q153Sql),
    "q142_group_linreg" -> Query(q142GroupLinreg, q142Sql),
    "q143_concentration" -> Query(q143Concentration, q143Sql),
    "q130_outliers" -> Query(q130Outliers, q130Sql),
    "q136_robust_stats" -> Query(q136RobustStats, q136Sql),
    "q125_kmv_overlap" -> Query(q125KmvOverlap, q125Sql),
    "q122_cms_freq" -> Query(q122CmsFreq, q122Sql),
    "q116_drift_chi2" -> Query(q116DriftChi2, q116Sql),
    "q42_percentiles" -> Query(q42Percentiles, q42Sql),
    "q43_moment_stats" -> Query(q43Moments, q43Sql),
    "q54_approx_percentiles" -> Query(q54ApproxPercentiles, q54Sql),
    "q74_heavy_hitters" -> Query(q74HeavyHitters, q74Sql),
    "q90_column_profile" -> Query(q90ColumnProfile, q90Sql),
    "q104_grouped_heavy_hitters" -> Query(q104GroupedHeavyHitters, q104Sql),
    "q106_histogram" -> Query(q106Histogram, q106Sql))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.builds(registry)
}
