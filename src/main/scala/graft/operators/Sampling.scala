package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Curation => C}

/** Sampling and data-mixing operators for training-data pipelines:
  * deterministic stratified sampling, per-group caps, and corpus
  * mixing by per-stratum rates. Beyond-reference surface (the
  * reference engine has no sampling operators; its only row-subset
  * op is `take`, SURVEY.md §2.6).
  *
  * Everything is deterministic by construction — membership depends
  * only on (row id, seed) through [[Curation.portableHash]], never on
  * partitioning, row order, or a per-run RNG — so backfills and
  * re-runs keep identical samples (the property `Sample.seed`-style
  * RNG sampling loses the moment partitioning changes), and the
  * DuckDB oracle can replay the exact arithmetic.
  */
object Sampling {

  /** Keep-row predicate sampling at `rate` ∈ [0,1]: hash the id into
    * [0, 2^32) and keep the fraction below rate·2^32. Map-only, zero
    * shuffle — at 100 TB this is pure scan parallelism and composes
    * with predicate pushdown (the hash filter rides the scan).
    */
  def sampleAt(id: Column, seed: Long, rate: Double): Column =
    C.portableHash(id, seed) < lit(math.floor(rate * 4294967296.0).toLong)

  /** Stratified / mixing sample: per-stratum keep rates (e.g. mix
    * sources at different proportions, downsample a dominant
    * language). Strata absent from `rates` fall back to
    * `defaultRate`. Still map-only: the rate lookup is a CASE chain
    * over the stratum column, the membership test one hash compare.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       seed: Long): DataFrame = {
    val rateCol = rates.foldLeft(lit(math.floor(defaultRate * 4294967296.0).toLong)) {
      case (acc, (s, r)) =>
        when(col(strataCol) === lit(s), lit(math.floor(r * 4294967296.0).toLong))
          .otherwise(acc)
    }
    df.filter(C.portableHash(col(idCol), seed) < rateCol)
  }

  /** Cap each group at `n` rows, preferring rows by `orderCols`
    * (ties MUST be broken by a unique column for determinism).
    *
    * Two-phase: phase 1 salts each group into `salts` sub-partitions
    * by id hash and keeps the top-n per (group, salt); phase 2 ranks
    * the ≤ salts·n survivors per group. The global per-group top-n
    * under a total order is contained in the union of per-salt top-n,
    * so the result is EXACTLY the single-window answer, and no reducer
    * ever sees more than max(group_rows/salts, salts·n) rows.
    *
    * Honesty note (verified against the physical plan): since Spark
    * 3.5 the optimizer already inserts a PARTIAL `WindowGroupLimit`
    * below the exchange for `row_number() ≤ n` filters — each map
    * partition forwards at most n rows per group, so the plain
    * single-window formulation is itself skew-bounded at
    * n × mapPartitions rows per reducer. This operator remains (a) the
    * exact-parity harness that proves that plan's answer under skew
    * (SamplingSpec), and (b) the manual recipe for rank functions the
    * built-in rewrite does not cover (e.g. per-group top-n by a
    * non-row_number preference with RANGE semantics).
    */
  def capPerGroup(df: DataFrame, idCol: String, groupCol: String, n: Int,
                  orderCols: Seq[Column], salts: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(C.portableHash(col(idCol), 99L), lit(salts.toLong)))
    val w1 = Window.partitionBy(col(groupCol), col("__salt")).orderBy(orderCols: _*)
    val survivors = salted
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= lit(n))
      .drop("__salt", "__r1")
    val w2 = Window.partitionBy(col(groupCol)).orderBy(orderCols: _*)
    survivors
      .withColumn("rank_in_group", row_number().over(w2).cast("long"))
      .filter(col("rank_in_group") <= lit(n))
  }

  /** Deterministic exact-size global sample: the `n` rows with the
    * smallest (hash, id). Plans as TakeOrderedAndProject — each
    * partition keeps its local top-n, only n·partitions rows reach
    * the driver-side merge; no global sort materializes.
    */
  def takeSample(df: DataFrame, idCol: String, n: Int, seed: Long): DataFrame =
    df.withColumn("sample_key", C.portableHash(col(idCol), seed))
      .orderBy(asc("sample_key"), asc(idCol))
      .limit(n)

  /** Mixture resampling toward TARGET source weights — the
    * training-mix step: given desired proportions per stratum and a
    * total budget, derive each stratum's keep-rate from its ACTUAL
    * row count (rate_s = min(1, w_s·target / n_s)) and apply the
    * deterministic hash sample. An over-represented source is thinned
    * toward its weight; an under-represented one caps at rate 1
    * (sampling can't invent rows — upweight at training time instead).
    * Strata not in `weights` drop (rate 0).
    *
    * Scale shape: the count pass is one partial-aggregated groupBy
    * whose result (per-stratum counts = the model) is collected to
    * compute the rate thresholds, then membership is the same map-only
    * hash compare as [[stratifiedSample]] — zero shuffle of the data.
    */
  def mixtureSample(df: DataFrame, idCol: String, strataCol: String,
                    weights: Map[String, Double], totalTarget: Long,
                    seed: Long): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = weights.collect { case (s, w) if counts.contains(s) =>
      s -> math.min(1.0, w * totalTarget / counts(s))
    }
    stratifiedSample(df, idCol, strataCol, rates, defaultRate = 0.0, seed)
  }

  /** Weighted sampling without replacement via PRIORITY SAMPLING
    * (Duffield, Lund & Thorup, "Priority sampling for estimation of
    * arbitrary subset sums", JACM 54(6), 2007): row i gets priority
    * q_i = w_i / u_i with u_i uniform on (0,1]; the k highest
    * priorities form the sample. Inclusion probability is ∝ weight
    * (truncated at 1), and with the threshold τ = (k+1)-th priority,
    * max(w_i, τ) is an unbiased subset-sum estimator — the standard
    * one-pass weighted sample for skewed data (heavy rows enter with
    * certainty, light rows proportionally).
    *
    * Determinism: u_i is the portable integer hash shifted to
    * [1, 2^32] — priority is one IEEE double division of two exact
    * integers, so correctly rounded and bit-identical on any engine;
    * ties break on id. Same cross-engine contract as
    * [[stratifiedSample]], extended to real-weighted rows.
    *
    * Scale shape: map-only priority computation; `orderBy.limit(k)`
    * plans as TakeOrderedAndProject — each partition keeps a local
    * top-k heap and only k·partitions rows reach the merge. No global
    * sort, no shuffle of the data.
    *
    * `weightCents` must be an integral-valued column (money through
    * DECIMAL·100 — exact in doubles below 2^53).
    */
  def prioritySample(df: DataFrame, idCol: String, weightCents: Column,
                     k: Int, seed: Long): DataFrame =
    df.withColumn("w_cents", weightCents.cast("long"))
      .withColumn("priority",
        col("w_cents").cast("double") /
          (C.portableHash(col(idCol), seed) + lit(1L)).cast("double"))
      .orderBy(desc("priority"), asc(idCol))
      .limit(k)

  /** Rendezvous / highest-random-weight (HRW) shard assignment
    * (Thaler & Ravishankar 1998): every (row, shard) pair gets an
    * independent portable hash; the row lands on the shard with the
    * highest. The property a pipeline actually wants from it: growing
    * the fleet from N to N+1 shards moves ONLY the rows whose new
    * shard's hash beats all N previous ones — an expected 1/(N+1) of
    * the data — where modulo sharding (`hash % N`, q59's split trick)
    * reshuffles ~N/(N+1) of everything.
    *
    * Per-pair hash: the id is hashed once ([[Curation.portableHash]]),
    * the shard index enters via a large odd stride, and [[mix32]]
    * decorrelates the shards (see its doc for why the plain portable
    * hash CANNOT be used per-shard). key_s = mix(...)·64 + (63−s)
    * packs the tie-break into the low bits (equal hashes resolve to
    * the LOWEST shard), so the argmax is a plain integer GREATEST —
    * fixed-shape, no struct ordering semantics to match across
    * engines. mix < 2^32 ⇒ key < 2^38: no overflow. Map-only: N
    * fixed-shape expressions ride the scan inside whole-stage codegen;
    * nothing shuffles.
    */
  def rendezvousShard(id: Column, nShards: Int, seed: Long): Column = {
    require(nShards >= 2 && nShards <= 64,
      s"nShards must be in [2, 64], got $nShards")
    val base = C.portableHash(id, seed)
    val keys = (0 until nShards).map { s =>
      mix32(pmod(base + lit(s * 2246822519L), lit(4294967296L))) * lit(64L) +
        lit((63 - s).toLong)
    }
    lit(63L) - pmod(greatest(keys: _*), lit(64L))
  }

  /** Nonlinear 32-bit finalizer (xorshift–multiply) in portable int64
    * arithmetic: XOR folds between the multiplies break the AFFINE
    * structure of [[Curation.portableHash]]. That affinity matters
    * here and nowhere else in the repo: portableHash(id, seed) =
    * f0 + (id+seed)·D (mod 2^32) — a pure arithmetic progression —
    * which is fine for a single % n bucketing but makes hashes at
    * neighboring seeds maximally correlated (they differ by a
    * CONSTANT). [[rendezvousShard]] takes an argmax across per-shard
    * hashes, and an argmax over an N-term AP mod 2^32 is degenerate
    * (measured before this mix existed: 92% of rows landed on shard
    * 0). Multiplier constants stay < 2^17 against < 2^32 operands, so
    * every product is < 2^49 — no int64 overflow for DuckDB to error
    * on; `xor` and `>>` are exact on both engines.
    */
  def mix32(v: Column): Column = {
    val v1 = v.bitwiseXOR(shiftrightunsigned(v, 16))
    val v2 = pmod(v1 * lit(69069L) + lit(12345L), lit(4294967296L))
    val v3 = v2.bitwiseXOR(shiftrightunsigned(v2, 13))
    val v4 = pmod(v3 * lit(99991L) + lit(1L), lit(4294967296L))
    v4.bitwiseXOR(shiftrightunsigned(v4, 16))
  }

  // mix32's oracle twin lives in the q243 SQL as staged CTEs (one per
  // round) — inlining the xor folds as a single expression would copy
  // the operand text 32×.

  /** Exact integer square root floor(√x) for 0 ≤ x < 2^52. The double
    * `sqrt` is correctly rounded (IEEE 754 requires it), so it is off
    * by at most one integer after `floor` when x sits next to a
    * perfect square; the two CASE corrections make the result exact —
    * and therefore bit-replayable on any engine, unlike a bare
    * FLOOR(SQRT(x)) whose boundary behavior is at the mercy of the
    * double rounding. Used for exact fixed-point power-law weights
    * (n^0.5 temperature sampling) where a double `pow` would not be
    * cross-engine reproducible.
    */
  def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    val s1 = when(s0 * s0 > x, s0 - lit(1L)).otherwise(s0)
    when((s1 + lit(1L)) * (s1 + lit(1L)) <= x, s1 + lit(1L)).otherwise(s1)
  }

  /** SQL text of [[isqrt]]; `xExpr` should be a simple column
    * reference (it is inlined several times). */
  def isqrtSql(xExpr: String): String = {
    val s0 = s"CAST(FLOOR(SQRT(CAST($xExpr AS DOUBLE))) AS BIGINT)"
    val s1 = s"(CASE WHEN $s0 * $s0 > $xExpr THEN $s0 - 1 ELSE $s0 END)"
    s"(CASE WHEN ($s1 + 1) * ($s1 + 1) <= $xExpr THEN $s1 + 1 ELSE $s1 END)"
  }
}
