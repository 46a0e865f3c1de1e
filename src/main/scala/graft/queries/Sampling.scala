package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Curation => C, Sampling => S}

/** Sampling / data-mixing queries (q69-q71): deterministic stratified
  * sampling for corpus mixing, skew-safe per-group caps, and
  * statistical-LM quality scoring — the subset-selection layer of a
  * training-data pipeline. All DuckDB oracle-gated (portable integer
  * hash, exact window ranks, fixed-point log-probabilities).
  */
object Sampling {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private val toksSql = raw"string_split_regex(TRIM(text), '\s+')"

  // -------------------------------------------------------------------
  // q69: stratified mixing sample — downsample dominant 'en' to 50%,
  // keep 'zh' at 80%, everything else at 25%; membership by portable
  // hash so the oracle replays the exact arithmetic. Map-only (the
  // rate CASE + one hash compare ride the scan); per-(lang, source)
  // kept-counts and id-sums make the gate membership-exact.
  // -------------------------------------------------------------------
  private val mixRates = Map("en" -> 0.5, "zh" -> 0.8)
  private val mixDefault = 0.25
  private val mixSeed = 11L

  def q69StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    S.stratifiedSample(docs(spark, dir), "doc_id", "lang",
        mixRates, mixDefault, mixSeed)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(asc("lang"), asc("source"))

  val q69Sql: String = {
    def thr(r: Double) = math.floor(r * 4294967296.0).toLong
    val h = C.portableHashSql("doc_id", mixSeed)
    s"""SELECT lang, source, COUNT(*) AS n_kept,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
       |FROM documents
       |WHERE $h < CASE lang WHEN 'en' THEN ${thr(0.5)}
       |                     WHEN 'zh' THEN ${thr(0.8)}
       |                     ELSE ${thr(0.25)} END
       |GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }

  // -------------------------------------------------------------------
  // q70: per-source cap — keep the 10 longest docs per source
  // (n_chars desc, doc_id tie-break). Runs the two-phase salted
  // window (no hot-group reducer; see Sampling.capPerGroup), which is
  // provably identical to the single-window rank the oracle computes.
  // -------------------------------------------------------------------
  def q70GroupCap(spark: SparkSession, dir: String): DataFrame =
    S.capPerGroup(docs(spark, dir), "doc_id", "source", 10,
        Seq(col("n_chars").desc, col("doc_id").asc))
      .select(col("doc_id"), col("source"), col("n_chars"), col("rank_in_group"))
      .orderBy(asc("source"), asc("rank_in_group"))

  val q70Sql: String =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rank_in_group
      |  FROM documents)
      |SELECT doc_id, source, n_chars, CAST(rank_in_group AS BIGINT) AS rank_in_group
      |FROM r WHERE rank_in_group <= 10 ORDER BY source, rank_in_group""".stripMargin

  // -------------------------------------------------------------------
  // q71: bigram-LM quality score — add-one-smoothed bigram model
  // trained on the corpus itself, every document scored by its total
  // fixed-point log-probability (PERF.md lesson 7: Σ floor(1e6·ln P)
  // is an associative integer sum, so the oracle compares exactly).
  // -------------------------------------------------------------------
  def q71BigramLm(spark: SparkSession, dir: String): DataFrame =
    C.bigramLmScore(docs(spark, dir), "doc_id", "text")
      .orderBy(asc("doc_id"))

  val q71Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, $toksSql AS t FROM documents
      |), pos AS (
      |  SELECT doc_id, t, UNNEST(range(1, LEN(t))) AS i FROM toks
      |), bg AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM pos
      |), uni AS (
      |  SELECT w, COUNT(*) AS u_cnt
      |  FROM (SELECT UNNEST(t) AS w FROM toks) GROUP BY w
      |), v AS (
      |  SELECT COUNT(*) AS v_size FROM uni
      |), big AS (
      |  SELECT w1, w2, COUNT(*) AS b_cnt FROM bg GROUP BY w1, w2
      |)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(FLOOR(1e6 * LN(
      |    CAST(b_cnt + 1 AS DOUBLE) / (u_cnt + v_size)))) AS BIGINT)
      |    AS sum_fp_logprob
      |FROM bg JOIN big USING (w1, w2) JOIN uni ON bg.w1 = uni.w CROSS JOIN v
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q225: CROSS-SPLIT LM quality filter (the actual CCNet recipe; q71
  // is the self-trained variant): the add-one bigram model trains on
  // the CLEAN slice only (lang = 'en'), every document — all five
  // languages — is scored with the frozen counts. Out-of-model
  // bigrams/unigrams floor at 0, so non-English text scores low
  // because the MODEL never saw it, which is precisely the filter
  // signal. Fixed-point Σ floor(1e6·ln P) integer sums ⇒ exact hash
  // compare; both model tables broadcast (deterministic top-50k cap),
  // scored corpus scanned once.
  // -------------------------------------------------------------------
  def q225LmFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    C.bigramLmScoreCross(d, d.filter(col("lang") === "en"),
        "doc_id", "text", maxVocab = 50000)
      .orderBy(asc("doc_id"))
  }
  val q225Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, $toksSql AS t FROM documents
      |), etoks AS (
      |  SELECT doc_id, $toksSql AS t FROM documents WHERE lang = 'en'
      |), pos AS (
      |  SELECT doc_id, t, UNNEST(range(1, LEN(t))) AS i FROM toks
      |), bg AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM pos
      |), epos AS (
      |  SELECT doc_id, t, UNNEST(range(1, LEN(t))) AS i FROM etoks
      |), ebg AS (
      |  SELECT t[i] AS w1, t[i + 1] AS w2 FROM epos
      |), uni AS (
      |  SELECT w, COUNT(*) AS u_cnt
      |  FROM (SELECT UNNEST(t) AS w FROM etoks) GROUP BY w
      |), v AS (
      |  SELECT COUNT(*) AS v_size FROM uni
      |), big AS (
      |  SELECT w1, w2, b_cnt FROM (
      |    SELECT w1, w2, COUNT(*) AS b_cnt FROM ebg GROUP BY w1, w2
      |    ORDER BY b_cnt DESC, w1, w2 LIMIT 50000)
      |)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(FLOOR(1e6 * LN(
      |    CAST(COALESCE(b_cnt, 0) + 1 AS DOUBLE)
      |      / (COALESCE(u_cnt, 0) + v_size)))) AS BIGINT) AS sum_fp_logprob
      |FROM bg LEFT JOIN big USING (w1, w2)
      |LEFT JOIN uni ON bg.w1 = uni.w CROSS JOIN v
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q94: mixture resampling toward target source weights — rates
  // derived from ACTUAL per-source counts (min(1, w·target/n_s)), so
  // the oracle recomputes the identical thresholds from SQL counts:
  // same double ops in the same order, floor'd to the same integer
  // hash threshold. Budget = |docs| div 5 keeps the query meaningful
  // at every scale factor.
  // -------------------------------------------------------------------
  private val mixWeights = Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2)

  def q94MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    S.mixtureSample(d, "doc_id", "source", mixWeights.toMap,
        totalTarget = d.count() / 5, seed = 7L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(asc("source"))
  }
  val q94Sql: String = {
    val h = C.portableHashSql("doc_id", 7L)
    val cases = mixWeights.map { case (s, w) =>
      s"WHEN '$s' THEN CAST(FLOOR(LEAST(1.0, $w * tt / ns) * 4294967296.0) AS BIGINT)"
    }.mkString("\n      |    ")
    s"""WITH t AS (
       |  SELECT COUNT(*) // 5 AS tt FROM documents
       |), n AS (
       |  SELECT source, COUNT(*) AS ns FROM documents GROUP BY source
       |), r AS (
       |  SELECT source, CASE source
       |    $cases
       |    ELSE 0 END AS thr
       |  FROM n CROSS JOIN t
       |)
       |SELECT d.source, COUNT(*) AS n_sampled,
       |  CAST(SUM(d.doc_id) AS BIGINT) AS sum_ids
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE $h < r.thr
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // -------------------------------------------------------------------
  // q128: weighted sampling without replacement — priority sampling
  // (Duffield-Lund-Thorup): 200 orders with probability ∝ o_totalprice.
  // priority = w_cents / u is ONE IEEE division of two exact integers
  // (weight through DECIMAL·100, u from the portable hash), so the
  // oracle replays it bit-for-bit; ties break on o_orderkey. Plans as
  // TakeOrderedAndProject — map-only, no global sort, k·partitions
  // rows to the merge.
  // -------------------------------------------------------------------
  def q128PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast("long").as("w_cents"))
    S.prioritySample(orders, "o_orderkey", col("w_cents"), k = 200, seed = 42L)
      .select(col("o_orderkey"), col("w_cents"), col("priority"))
      .orderBy(desc("priority"), asc("o_orderkey"))
  }
  val q128Sql: String = {
    val u = s"(${graft.operators.Curation.portableHashSql("o_orderkey", 42L)} + 1)"
    raw"""WITH s AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS w_cents,
      |    $u AS u
      |  FROM orders
      |)
      |SELECT o_orderkey, w_cents,
      |  CAST(w_cents AS DOUBLE) / CAST(u AS DOUBLE) AS priority
      |FROM s ORDER BY priority DESC, o_orderkey LIMIT 200""".stripMargin
  }

  // -------------------------------------------------------------------
  // q243: RENDEZVOUS (HRW) SHARDING — the placement op a 100 TB corpus
  // store actually needs when the shard fleet GROWS: assign every doc
  // a shard under N=8 and under N=9 with the same seed and tabulate
  // the (shard8, shard9) transition grid. The HRW guarantee shows up
  // structurally in the output: every off-diagonal row has shard9 = 8
  // (movers go ONLY to the new shard — a doc's old key set is
  // unchanged, so its argmax can only change if the new shard's key
  // beats all 8), and the moved mass is ~1/9 of the corpus, where
  // `hash % N` resharding (q59's split trick) would move ~8/9 and the
  // grid would fill. Map-only: 9 fixed-shape integer hash expressions
  // + GREATEST ride the scan; id-sums make membership exact.
  // -------------------------------------------------------------------
  private val hrwSeed = 500L

  def q243RendezvousShard(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        S.rendezvousShard(col("doc_id"), 8, hrwSeed).as("shard8"),
        S.rendezvousShard(col("doc_id"), 9, hrwSeed).as("shard9"))
      .groupBy(col("shard8"), col("shard9"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(asc("shard8"), asc("shard9"))

  // Oracle twin of rendezvousShard: the same portable-hash base, the
  // same per-shard stride, and mix32's xorshift rounds staged as CTEs
  // (one column per round; inlining would copy the operand text 32×).
  // MAX(key) replaces GREATEST since shards are rows here, and the
  // tie-break is packed into key's low bits on both sides.
  val q243Sql: String =
    s"""WITH p AS (
       |  SELECT doc_id, ${C.portableHashSql("doc_id", hrwSeed)} AS base
       |  FROM documents
       |), k0 AS (
       |  SELECT doc_id, s, (base + s * 2246822519) % 4294967296 AS v
       |  FROM p CROSS JOIN range(0, 9) t(s)
       |), k1 AS (SELECT doc_id, s, xor(v, v >> 16) AS v FROM k0),
       |k2 AS (SELECT doc_id, s, (v * 69069 + 12345) % 4294967296 AS v FROM k1),
       |k3 AS (SELECT doc_id, s, xor(v, v >> 13) AS v FROM k2),
       |k4 AS (SELECT doc_id, s, (v * 99991 + 1) % 4294967296 AS v FROM k3),
       |k5 AS (SELECT doc_id, s, xor(v, v >> 16) AS v FROM k4),
       |keys AS (SELECT doc_id, s, v * 64 + (63 - s) AS key FROM k5),
       |a AS (
       |  SELECT doc_id,
       |    63 - (MAX(key) FILTER (s < 8) % 64) AS shard8,
       |    63 - (MAX(key) % 64) AS shard9
       |  FROM keys GROUP BY doc_id
       |)
       |SELECT shard8, shard9, COUNT(*) AS n,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
       |FROM a GROUP BY 1, 2 ORDER BY shard8, shard9""".stripMargin

  // -------------------------------------------------------------------
  // q244: TEMPERATURE-SCALED MIXTURE WEIGHTS (α = 0.5) — the data-mix
  // recipe LLaMA/PaLM-style pipelines use to keep big sources from
  // drowning small ones: sampling weight ∝ n_toks^α. α = 0.5 is the
  // one exponent with an EXACT integer replay (w = isqrt(n_toks·1e6)
  // ≈ 1000·√n_toks via the corrected integer square root — a double
  // pow() would not be cross-engine reproducible); shares p_fx, the
  // 10 M-token budget allocation, and the implied per-source epoch
  // count (>1e6 ⇒ the source repeats — the oversampling warning the
  // mix designer reads) all stay in int64 fixed point. Scale shape:
  // one partial-agged groupBy over (source), then a 1-row broadcast
  // total — the data is scanned once, nothing else shuffles.
  // -------------------------------------------------------------------
  private val mixBudget = 10000000L

  def q244TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = docs(spark, dir)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
      .withColumn("w_sqrt", S.isqrt(col("n_toks") * lit(1000000L)))
    val tot = bySrc.agg(sum(col("w_sqrt")).as("w_tot"))
    bySrc.crossJoin(broadcast(tot))
      .withColumn("p_fx", expr("w_sqrt * 1000000L div w_tot"))
      .withColumn("alloc_toks", expr(s"($mixBudget * p_fx) div 1000000L"))
      .withColumn("epochs_fx", expr("alloc_toks * 1000000L div n_toks"))
      .select(col("source"), col("n_docs"), col("n_toks"), col("w_sqrt"),
        col("p_fx"), col("alloc_toks"), col("epochs_fx"))
      .orderBy(asc("source"))
  }

  val q244Sql: String =
    raw"""WITH s AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(LEN($toksSql)) AS BIGINT) AS n_toks
       |  FROM documents GROUP BY source
       |), x AS (
       |  SELECT source, n_docs, n_toks, n_toks * 1000000 AS x FROM s
       |), w AS (
       |  SELECT source, n_docs, n_toks,
       |    ${S.isqrtSql("x")} AS w_sqrt
       |  FROM x
       |), t AS (SELECT CAST(SUM(w_sqrt) AS BIGINT) AS w_tot FROM w)
       |SELECT source, n_docs, n_toks, w_sqrt,
       |  (w_sqrt * 1000000) // w_tot AS p_fx,
       |  ($mixBudget * ((w_sqrt * 1000000) // w_tot)) // 1000000 AS alloc_toks,
       |  ((($mixBudget * ((w_sqrt * 1000000) // w_tot)) // 1000000) * 1000000)
       |    // n_toks AS epochs_fx
       |FROM w CROSS JOIN t ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q295: MULTIPLICATIVE-WEIGHTS MIXTURE (the DoReMi-shaped update,
  // Xie et al. 2023, under this repo's exact-replay contract) — the
  // third mixture-design primitive next to q244 (temperature RESCALES)
  // and q271 (water-filling CAPS): iteratively UPWEIGHT the domains
  // whose difficulty signal exceeds the current-mixture mean.
  // Difficulty here is the repetition proxy 1 − TTR per source (the
  // deterministic stand-in for per-domain excess loss; a per-round
  // re-evaluated signal swaps into the same update). Three rounds of
  //   mean_t = Σ p·d div Σ p
  //   p      ← p · (10^6 + d − mean_t) div 10^6,  then Σp-renormalize
  // — every operand positive (|d − mean| < 10^6), every step integral.
  // Scale shape: ONE corpus scan (the (source, token) distinct +
  // count aggregates); the update iterates on the collected
  // source-level table — a model-sized collect (#sources rows): the
  // MIXTURE is the model, exactly like q165's 64×64 eigensolve.
  // Oracle: three unrolled rounds in SQL over the same stats CTE.
  // -------------------------------------------------------------------
  def q295MwMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = docs(spark, dir)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .filter(col("t") =!= "")
    val stats = tok.groupBy(col("source"))
      .agg(count(lit(1)).as("n_toks"), countDistinct(col("t")).as("n_types"))
      .withColumn("d_fx", expr("1000000L - (n_types * 1000000L div n_toks)"))
    // model-sized collect: #sources rows — the mixture IS the model
    val m = stats.select(col("source"), col("d_fx")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    var p = m.map(_ => 1000000L / m.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    for (round <- 1 to 3) {
      val sp = p.sum
      val mean = m.indices.map(i => p(i) * m(i)._2).sum / sp
      val pn0 = m.indices.map(i => p(i) * (1000000L + m(i)._2 - mean) / 1000000L)
      val s2 = pn0.sum
      p = pn0.map(x => x * 1000000L / s2).toArray
      out ++= m.indices.map(i => (round.toLong, m(i)._1, m(i)._2, p(i)))
    }
    out.toSeq.toDF("round", "source", "d_fx", "p_fx")
      .orderBy(asc("round"), asc("source"))
  }
  val q295Sql: String = {
    def roundSql(i: Int): String = {
      val prev = s"p${i - 1}"
      s"""m$i AS (SELECT CAST(SUM(p * d) AS BIGINT) // CAST(SUM(p) AS BIGINT)
        |  AS mean FROM $prev),
        |q$i AS (SELECT source, d,
        |  p * (1000000 + d - (SELECT mean FROM m$i)) // 1000000 AS p
        |  FROM $prev),
        |p$i AS (SELECT source, d,
        |  p * 1000000 // (SELECT CAST(SUM(p) AS BIGINT) FROM q$i) AS p
        |  FROM q$i)""".stripMargin
    }
    raw"""WITH tok AS (
      |  SELECT source, tok AS t
      |  FROM (SELECT source, UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != ''
      |), st AS (
      |  SELECT source,
      |    1000000 - (COUNT(DISTINCT t) * 1000000 // COUNT(*)) AS d
      |  FROM tok GROUP BY 1
      |), p0 AS (
      |  SELECT source, d,
      |    1000000 // (SELECT COUNT(*) FROM st) AS p
      |  FROM st
      |),
      |""".stripMargin +
      (1 to 3).map(roundSql).mkString(",\n") + "\n" +
      (1 to 3).map(i =>
        s"""SELECT CAST($i AS BIGINT) AS round, source,
          |  CAST(d AS BIGINT) AS d_fx, CAST(p AS BIGINT) AS p_fx
          |FROM p$i""".stripMargin).mkString("\nUNION ALL\n") +
      "\nORDER BY round, source"
  }

  /** Every query of this module: name → (build function, oracle SQL). */
  val registry: Map[String, Query] = Query.registry(
    "q295_mw_mixture" -> Query(q295MwMixture, q295Sql),
    "q243_rendezvous_shard" -> Query(q243RendezvousShard, q243Sql),
    "q244_temperature_mix" -> Query(q244TemperatureMix, q244Sql),
    "q69_stratified_sample" -> Query(q69StratifiedSample, q69Sql),
    "q70_group_cap" -> Query(q70GroupCap, q70Sql),
    "q71_bigram_lm" -> Query(q71BigramLm, q71Sql),
    "q225_lm_filter" -> Query(q225LmFilter, q225Sql),
    "q94_mixture_sample" -> Query(q94MixtureSample, q94Sql),
    "q128_priority_sample" -> Query(q128PrioritySample, q128Sql))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.builds(registry)
}
