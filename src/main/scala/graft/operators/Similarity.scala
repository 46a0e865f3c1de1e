package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, mirroring what a 100 TB pipeline needs:
  *  - brute-force cosine top-k: exact baseline. Query set is broadcast
  *    (it is small by construction); candidates stream through a
  *    map-side cross join — no shuffle of the candidate table at all;
  *    top-k per query via per-partition heaps (TakeOrderedAndProject
  *    shape through a window over the small query-id key space).
  *  - LSH (random hyperplane) bucketing: signs of d·h for H fixed
  *    pseudo-random hyperplanes → H-bit bucket key; only colliding
  *    buckets are compared, then exact-reranked. Deterministic
  *    hyperplanes (seeded), so results are reproducible run-to-run.
  *
  * All vector math is `Column` expression trees (zip_with/aggregate
  * HOFs) — no UDF serialization, executes on Tungsten rows.
  */
object Similarity {

  /** Dot product of two vector columns, accumulated in double —
    * native codegen'd expression (graft.functions.VecDot); the HOF
    * formulation (zip_with+aggregate) measured ~1 ms/pair interpreted,
    * VecDot ~100 ns. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** L2-normalize once before joining — cosine of normalized vectors is
    * a plain dot product, saving two norms per candidate pair. Native
    * codegen'd kernel (the `transform` HOF runs interpreted per
    * element; same IEEE result bit-for-bit). */
  def normalized(a: Column): Column = graft.functions.VectorFunctions.vec_normalize(a)

  private def dotD(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  /** Exact brute-force cosine top-k: for each query vector, the k
    * nearest candidates by cosine. Queries are broadcast; candidates
    * are never shuffled — the plan is scan → broadcast-nested-loop →
    * window top-k on the query key.
    *
    * A candidate whose id EQUALS the query's id is excluded — the
    * right semantics when queries are drawn from the candidate table
    * (q34/q35/q52), and a no-op when the id spaces are disjoint. Query
    * ids must not collide with UNRELATED candidate ids, or an innocent
    * candidate silently vanishes from that query's ranking.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idQ: String, idC: String, vecQ: String, vecC: String,
                     k: Int): DataFrame = {
    val q = queries.select(col(idQ).as("query_id"), normalized(col(vecQ)).as("qv"))
    val c = candidates.select(col(idC).as("cand_id"), normalized(col(vecC)).as("cv"))
    val joined = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
    val scored = joined
      .select(col("query_id"), col("cand_id"), dotD(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(k))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein
    * 1998) — the diversity-aware top-k every retrieval-augmented
    * pipeline wants instead of raw cosine top-k: greedily pick the
    * item maximizing `0.7·rel − 0.3·max_sim_to_already_picked`, so
    * near-duplicate hits stop crowding out coverage. Two stages with
    * very different scale characters, deliberately separated:
    *
    *  1. POOL (distributed): brute-force relevance scan — normalized
    *     candidates, codegen'd [[graft.functions.VectorExpressions.VecDot]]
    *     against the broadcast query, TakeOrderedAndProject top
    *     `poolSize` (partial per partition, no global sort). At
    *     100 TB this stage swaps for any ANN rung (IVF/PQ/sign-bit)
    *     unchanged — MMR only ever sees the pool.
    *  2. GREEDY (driver): k rounds of argmax over the pool. The
    *     collect is MODEL-sized by construction (`poolSize` rows, the
    *     re-rank window — not the corpus); the whole greedy costs
    *     k·poolSize·dim ≈ 10⁶ flops, noise next to one scan.
    *
    * Exact-replay contract: dots sum in index order over the SAME
    * normalized doubles the oracle recomputes (the q34 parity), the
    * marginal score uses literal weights 0.7/0.3 on BOTH engines
    * (never `1 − λ`, whose double differs from literal 0.3), max-sim
    * over an empty picked set is 0.0, and ties break by smaller id —
    * so every pick and its `floor(1e6·score)` replay bit-for-bit.
    * Returns (step 1-based, id, score_fx).
    */
  /** [[mmrSelect]]'s stage 1 as a standalone frame (public so its
    * plan shape is spec-assertable: the greedy stage executes this
    * eagerly, so the operator's RETURNED plan is just the emitted
    * literal frame). Shape: normalized scan → codegen VecDot against
    * the 1-row broadcast query (GlobalLimit-bounded BNLJ) →
    * TakeOrderedAndProject(poolSize) — partial top-k per partition,
    * no global sort. */
  def mmrPool(candidates: DataFrame, query: DataFrame,
              idC: String, vecC: String, vecQ: String,
              poolSize: Int): DataFrame = {
    // limit(1): the query is one vector by contract; the explicit
    // GlobalLimit also PROVES the broadcast side bounded to PlanLint
    val q = query.select(normalized(col(vecQ)).as("qv")).limit(1)
    candidates
      .select(col(idC).cast("long").as("cand_id"), normalized(col(vecC)).as("cv"))
      .crossJoin(broadcast(q))
      .select(col("cand_id"), col("cv"), dotD(col("qv"), col("cv")).as("rel"))
      .orderBy(desc("rel"), asc("cand_id"))
      .limit(poolSize)
  }

  def mmrSelect(candidates: DataFrame, query: DataFrame,
                idC: String, vecC: String, vecQ: String,
                poolSize: Int = 64, k: Int = 16): DataFrame = {
    val spark = candidates.sparkSession
    val pool = mmrPool(candidates, query, idC, vecC, vecQ, poolSize)
    // model-sized collect: poolSize rows — the re-rank pool, not the data
    val rows = pool.collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    }
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val used = scala.collection.mutable.Set.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var step = 1
    while (step <= math.min(k, rows.length)) {
      var bestId = -1L
      var bestScore = Double.NegativeInfinity
      var bestVec: Array[Double] = null
      for ((id, v, rel) <- rows if !used(id)) {
        var maxSim = Double.NegativeInfinity
        for (s <- chosen) {
          var d = 0.0
          var i = 0
          while (i < v.length) { d += v(i) * s(i); i += 1 }
          if (d > maxSim) maxSim = d
        }
        if (chosen.isEmpty) maxSim = 0.0
        val score = 0.7 * rel - 0.3 * maxSim
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestId = id; bestScore = score; bestVec = v
        }
      }
      used += bestId
      chosen += bestVec
      out += ((step, bestId, math.floor(1000000.0 * bestScore).toLong))
      step += 1
    }
    import spark.implicits._
    out.toSeq.toDF("step", "vec_id", "score_fx")
  }

  /** 1-BIT sign quantization — the cheapest rung of the ANN ladder:
    * each dim contributes one bit (v[i] > 0), packed into two int64
    * halves (lo = dims 0-31, hi = dims 32-63; two halves rather than
    * one long so the 2^63 bit never collides with the sign bit on
    * either engine). 64-dim float vectors shrink 256 → 16 bytes, so
    * the full-scan Hamming pass at 100 TB reads 16× fewer bytes than
    * float and 4× fewer than int8 (q119). The packing is a generated
    * 32-term sum of DISTINCT powers of two per half — sum ≡ bitwise-or
    * here, every term a literal, whole-stage-codegen'd end to end (no
    * HOF, no explode, no shuffle: map-only at write time) and
    * bit-replayable in plain SQL.
    */
  def signBitCodes(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    def half(lo: Int): Column =
      (0 until 32).map { j =>
        when(element_at(col(vecCol), lit(lo + j + 1)) > lit(0f),
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    df.select(col(idCol).as("id"), half(0).as("lo"), half(32).as("hi"))
  }

  /** Hamming top-k over [[signBitCodes]]: per query the k candidates
    * with fewest differing sign bits (ties → lower id — a total order,
    * so the ranking is deterministic and exactly SQL-replayable,
    * unlike float cosine). Probe side broadcasts; the per-pair kernel
    * is two `bit_count(xor)` ops on longs — branch-free codegen, no
    * vector ever reaches the join. Quality vs float top-k is pinned by
    * OperatorsSpec (sign bits of *normalized-free* raw floats: sign is
    * scale-invariant, so no normalize pass is needed at all). Excludes
    * id-equal pairs, as [[bruteForceTopK]] does.
    */
  def hammingTopK(queries: DataFrame, candidates: DataFrame,
                  idQ: String, idC: String, vecQ: String, vecC: String,
                  k: Int): DataFrame = {
    val q = signBitCodes(queries, idQ, vecQ)
      .select(col("id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    val c = signBitCodes(candidates, idC, vecC)
      .select(col("id").as("cand_id"), col("lo").as("clo"), col("hi").as("chi"))
    val joined = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
    val scored = joined.select(col("query_id"), col("cand_id"),
      (bit_count(col("qlo").bitwiseXOR(col("clo"))) +
        bit_count(col("qhi").bitwiseXOR(col("chi")))).cast("long").as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(asc("hamming"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(k))
  }

  /** Deterministic pseudo-random unit hyperplanes (fixed seed). */
  private def hyperplanes(numPlanes: Int, dim: Int,
                          seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
  }

  /** H-bit random-hyperplane signature of a vector column — one native
    * sign-bits kernel over the constant plane matrix (the per-plane
    * `when(vec_dot ≥ 0)` tree costs planning/codegen time proportional
    * to numPlanes × dim literal nodes). */
  def lshSignature(vec: Column, numPlanes: Int, dim: Int): Column =
    graft.functions.VectorFunctions.vec_mat_signbits(vec, hyperplanes(numPlanes, dim))

  /** Approximate top-k: LSH-bucket join with multi-probe, exact cosine
    * rerank inside buckets. `probeBits` controls the probe radius: each
    * query probes its own bucket plus every bucket within that Hamming
    * distance of its signature (1 + H + H(H−1)/2 buckets at radius 2) —
    * the standard multi-probe recall/cost dial, as literal XOR masks
    * (pure codegen'd integer ops).
    * The scale path: candidate set per query shrinks by
    * ~2^H / #probes, and the join is a hash join on an 8-byte key
    * instead of a cross join.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame,
              idQ: String, idC: String, vecQ: String, vecC: String,
              k: Int, numPlanes: Int = 8, dim: Int = 64,
              probeBits: Int = 1): DataFrame = {
    val masks: Seq[Long] =
      Seq(0L) ++
        (if (probeBits >= 1) (0 until numPlanes).map(i => 1L << i) else Nil) ++
        (if (probeBits >= 2)
          for { i <- 0 until numPlanes; j <- (i + 1) until numPlanes }
            yield (1L << i) | (1L << j)
         else Nil)
    val q = queries.select(col(idQ).as("query_id"), normalized(col(vecQ)).as("qv"),
      lshSignature(col(vecQ), numPlanes, dim).as("sig"))
    val probes = q.select(col("query_id"), col("qv"),
        explode(array(masks.map(lit(_)): _*)).as("mask"), col("sig"))
      .select(col("query_id"), col("qv"),
        col("sig").bitwiseXOR(col("mask")).as("bucket"))
      .dropDuplicates("query_id", "bucket")
    val c = candidates.select(col(idC).as("cand_id"), normalized(col(vecC)).as("cv"),
      lshSignature(col(vecC), numPlanes, dim).as("bucket"))
    val scored = c.join(broadcast(probes), Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), dotD(col("qv"), col("cv")).as("cosine"))
      .dropDuplicates("query_id", "cand_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(k))
  }

  /** Spherical k-means training for the IVF coarse quantizer —
    * distributed Lloyd iterations entirely in DataFrame ops. Each
    * round: assign every (normalized) vector to its argmax-dot
    * centroid (map-only, VecDot × numCells), then recompute centroids
    * as the normalized per-cell mean via posexplode + one hash
    * aggregate on (cell, dim-position). Only the numCells×dim model —
    * never data — reaches the driver, so the same code trains on
    * 10^5 or 10^10 vectors. Seeded deterministic init; empty cells
    * keep their previous centroid.
    */
  def trainCentroids(data: DataFrame, vecCol: String, numCells: Int,
                     iters: Int, dim: Int,
                     seed: Long = 42L): Array[Array[Double]] = {
    var cents = hyperplanes(numCells, dim, seed)
    val vs = data.select(normalized(col(vecCol)).as("v"))
    for (_ <- 0 until iters) {
      // FIXED-POINT vector-sum aggregate (q67's fixed-point convention
      // as a native [[graft.functions.VecFixedSum]]): floor(x·1e12)
      // per component summed as longs — exact and associative, so the
      // trained model is bit-identical regardless of shuffle merge
      // order (a double sum could flip boundary vectors' cells between
      // runs and wobble the q52/q75 recall/keep sets). The former
      // posexplode + decimal(30,15)-sum formulation was ~30× slower at
      // ×100 scale for TWO stacked reasons (historical: a deleted
      // one-off probe isolated both):
      // the optimizer pulls the argmax projection above the Generate
      // and re-evaluates it per exploded ELEMENT (64×, PERF.md lesson
      // 6), and the decimal cast allocates a BigDecimal per component.
      // Here the 12.8 M-row explode never exists; partial aggregation
      // ships numCells × dim longs per task. The 1e12 scale cancels in
      // the normalization below.
      val stats = vs
        .withColumn("cell", graft.functions.VectorFunctions.vec_mat_argmax(col("v"), cents))
        .groupBy(col("cell"))
        .agg(graft.functions.VectorFunctions.vec_fixed_sum(col("v"), dim).as("s"))
        .collect() // numCells rows of dim longs — the model, not the data
      val next = cents.map(_.clone())
      stats.foreach { r =>
        val cell = r.getInt(0)
        val mean = r.getSeq[Long](1).map(_.toDouble).toArray
        val n = math.sqrt(mean.map(x => x * x).sum)
        if (n > 0) next(cell) = mean.map(_ / n)
      }
      cents = next
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of
    * `numCells` unit centroids partitions the candidate space; each
    * candidate lands in its nearest cell, each query probes its
    * `nProbe` nearest cells and exact-reranks within them. Centroids
    * default to the deterministic seeded init; pass
    * [[trainCentroids]]' output for a trained quantizer (what q52
    * does). All scoring runs on the native VecDot.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame,
              idQ: String, idC: String, vecQ: String, vecC: String,
              k: Int, numCells: Int = 16, nProbe: Int = 4,
              dim: Int = 64,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(hyperplanes(numCells, dim))
    import graft.functions.VectorFunctions.{vec_mat_argmax, vec_mat_dots}
    // candidate → argmax cell (native kernel over the centroid matrix)
    val c = candidates.select(col(idC).as("cand_id"), normalized(col(vecC)).as("cv"))
      .withColumn("cell", vec_mat_argmax(col("cv"), cents))
    // query → top nProbe cells via posexplode of the score array + rank
    val qBase = queries.select(col(idQ).as("query_id"), normalized(col(vecQ)).as("qv"))
    val probes = qBase
      .select(col("query_id"), col("qv"),
        posexplode(vec_mat_dots(col("qv"), cents)).as(Seq("cell", "s")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("s"), asc("cell"))))
      .filter(col("rk") <= lit(nProbe))
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), dotD(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(k))
  }

  /** INCREMENTAL IVF MAINTENANCE — the index-freshness rung of the
    * incremental ladder (q95 dedup, q217 pHash, q226 SemDeDup, q257
    * MinHash, q296 CC; this is the ANN index's turn): ingest a delta
    * into a FROZEN coarse quantizer, re-center ONLY the cells whose
    * delta-mass fraction crossed the drift threshold, and leave every
    * other centroid BIT-IDENTICAL — the zero-slack maintenance
    * invariant (untouched rows of the returned model are the SAME
    * arrays as the input model's, shared by construction; asserted on
    * a planted fixture in OperatorsSpec).
    *
    * One data pass: assign every current member to its frozen cell
    * (map-only argmax), aggregate per cell (base count, delta count,
    * fixed-point member sum — the [[trainCentroids]] exactness
    * convention, so the refreshed centroids are bit-identical
    * regardless of shuffle merge order); drifted cells' new centroids
    * are their normalized current-member means (one Lloyd half-step
    * restricted to the drifted set) computed from the SAME aggregate —
    * no second pass. Only the numCells×dim model reaches the driver.
    *
    * At 100 TB this is the move that keeps an IVF index serving while
    * a crawler ships skewed deltas: a full retrain re-clusters (and
    * re-shuffles the posting lists of) EVERY cell on every ingest;
    * this touches the drifted fraction only. q328 publishes the
    * recall-vs-retrain-fraction operating curve a user reads to pick
    * the threshold.
    *
    * Drift rule (exact integer arithmetic, no float thresholds):
    * cell c is drifted iff nDelta(c)·driftDen > (nBase(c)+nDelta(c))·
    * driftNum — strictly more than driftNum/driftDen of the cell's
    * CURRENT mass is new. Cells with no members keep their centroid.
    *
    * Returns (refreshed model, per-cell audit (cell, nBase, nDelta,
    * drifted) for all cells 0..numCells-1 in order). */
  def incrementalRetrain(data: DataFrame, vecCol: String, newCol: String,
                         cents: Array[Array[Double]], dim: Int,
                         driftNum: Long, driftDen: Long)
      : (Array[Array[Double]], Seq[(Int, Long, Long, Boolean)]) = {
    require(driftNum >= 0 && driftDen > 0,
      s"drift threshold $driftNum/$driftDen must be a valid fraction")
    import graft.functions.VectorFunctions.{vec_fixed_sum, vec_mat_argmax}
    val stats = data
      .select(normalized(col(vecCol)).as("v"),
        col(newCol).cast("boolean").as("is_new"))
      .withColumn("cell", vec_mat_argmax(col("v"), cents))
      .groupBy(col("cell"))
      .agg(sum(when(col("is_new"), 0L).otherwise(1L)).as("n_base"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_delta"),
        vec_fixed_sum(col("v"), dim).as("s"))
      .collect() // numCells rows of dim longs — the model, not the data
      .map(r => r.getInt(0) -> r).toMap
    // outer array copied, inner rows SHARED: an untouched cell's
    // centroid is the input model's array itself — bit-identical
    val next = cents.map(identity)
    val audit = cents.indices.map { c =>
      val (nBase, nDelta) = stats.get(c)
        .map(r => (r.getLong(1), r.getLong(2))).getOrElse((0L, 0L))
      val drifted = nDelta * driftDen > (nBase + nDelta) * driftNum
      if (drifted) {
        val mean = stats(c).getSeq[Long](3).map(_.toDouble).toArray
        val n = math.sqrt(mean.map(x => x * x).sum)
        if (n > 0) next(c) = mean.map(_ / n)
      }
      (c, nBase, nDelta, drifted)
    }
    (next, audit)
  }

  /** Argmax-cell assignment against a fixed centroid model (the IVF
    * coarse quantizer's map-only step, shared by [[ivfTopK]] and
    * [[semanticDedup]]). */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  cents: Array[Array[Double]]): DataFrame =
    df.select(col(idCol).as("id"), normalized(col(vecCol)).as("v"))
      .withColumn("cell", graft.functions.VectorFunctions.vec_mat_argmax(col("v"), cents))

  /** Cell cap of [[semanticDedup]]'s within-cell self-join and of
    * [[semanticIncrementalPairs]]' index side: a fuller cell is dropped
    * from pairing. */
  private val SemanticMaxCell = 10000

  /** Semantic deduplication (the SemDeDup recipe): cluster the
    * embedding space with the k-means coarse quantizer, compare pairs
    * ONLY within a cell (semantic near-dups share a cell by
    * construction — they are nearly the same point), connect the
    * ≥ threshold pairs into duplicate groups, and keep the lowest id
    * per group.
    *
    * Scale shape: training touches only the numCells×dim model
    * ([[trainCentroids]]); assignment is map-only; the within-cell
    * self-join is an equi-join on the cell id, guarded by
    * [[SemanticMaxCell]] (an over-full cell means the quantizer is too
    * coarse — raise numCells — rather than letting one reducer take
    * O(m²) pairs);
    * group connection is [[Dedup.connectedComponents]]' per-round
    * (id, label) shuffles. Returns (id, cluster, keep).
    *
    * `numCells ≤ 0` (the default) auto-scales the quantizer with the
    * corpus: max(16, n/2000) cells, so the expected cell is ~2000
    * vectors and the within-cell self-join cost per cell stays flat as
    * the corpus grows — the cells-follow-corpus contract that was
    * previously a manual dial. The count is one extra O(1)-result
    * pass; pass an explicit numCells to pin the model size (what the
    * deterministic q75 gate does).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, numCells: Int = 0, iters: Int = 4,
                    dim: Int = 64): DataFrame = {
    val cells =
      if (numCells > 0) numCells
      else math.max(16L, df.count() / 2000L).toInt
    val cents = trainCentroids(df, vecCol, cells, iters, dim)
    val assigned = assignCells(df, idCol, vecCol, cents)
      .withColumn("cell_n", count(lit(1)).over(
        Window.partitionBy(col("cell"))))
      .filter(col("cell_n") <= lit(SemanticMaxCell))
      .persist() // narrow-ish (id, unit vec, cell); read by both join sides
    val l = assigned.select(col("id").as("id_a"), col("v").as("v_a"), col("cell"))
    val r = assigned.select(col("id").as("id_b"), col("v").as("v_b"), col("cell"))
    val pairs = l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dotD(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= lit(threshold))
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    df.select(col(idCol).as("id")).join(cc, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("cluster"), col("id")).as("cluster"))
      .withColumn("keep", (col("id") === col("cluster")).cast("boolean"))
  }

  /** DBSCAN core/border/noise roles over CELL-BLOCKED candidate pairs
    * — the scale-safe twin of brute-force density auditing (q314 is
    * the measurement baseline, this is the 100 TB path): neighbor
    * pairs are only discovered within a trained coarse-quantizer cell
    * (the [[semanticDedup]] blocking discipline), so each per-point
    * neighbor count is a certified LOWER bound of the true count and
    * the pair volume is n · E[cell] instead of n². The role labels
    * inherit one-sided guarantees the oracle can replay exactly: an
    * emitted CORE is a true core (approx count ≥ minPts ⇒ exact count
    * ≥ minPts), and an emitted BORDER has a true core among its true
    * neighbors (approx-core ⊆ exact-core, approx-neighbor ⊆
    * exact-neighbor). Emitted NOISE is the only one-way-uncertifiable
    * label — blocking can under-count a true core into noise, which
    * is what the recall floors in the gate measure.
    *
    * Scale shape: quantizer cells follow the corpus (max(16, n/500) —
    * E[cell] ≈ 500 ⇒ pair volume ≈ grids·500·n, corpus-linear);
    * training is model-only driver traffic ([[trainCentroids]], one
    * model per seeded grid — a true pair missed by one grid's split is
    * caught by another); assignment is map-only; the pair stage is an
    * equi-join on the cell id guarded per-grid by `maxCell` (an
    * overfull cell is DROPPED — further undercounting, never an O(m²)
    * reducer — the census discipline of PERF lessons 21/22); scoring
    * runs IN-STREAM inside each grid's join stage so only the ≥θ
    * survivor pairs (two longs each) are materialized, and counts and
    * roles are the last prefix of [[dbscanPrefixRoles]]: one count
    * aggregate, one border join and one max-aggregate. Dots run codegen'd
    * ([[dot]]) over floored 1e6 fixed-point normalized vectors —
    * integer-exact (the q119/q314 convention) — against `thetaFx` in
    * the 1e12 cos scale.
    */
  def dbscanCellRoles(data: DataFrame, idCol: String, vecCol: String,
                      thetaFx: Long, minPts: Long, numCells: Int = 0,
                      iters: Int = 2, dim: Int = 64, grids: Int = 3,
                      maxCell: Int = 10000,
                      // census audit hook (round-12 "no silent caps"):
                      // called once per grid with (grid index, dropped
                      // cell count, dropped row count); the default
                      // logs any nonzero drop so a hot cell converting
                      // mass to noise at corpus scale leaves a trail
                      onCensus: (Int, Long, Long) => Unit =
                        (g, cells, rows) => if (cells > 0L)
                          println(s"[dbscan-census] grid=$g dropped_cells=$cells dropped_rows=$rows")): DataFrame = {
    val pairs = dbscanGridPairs(data, idCol, vecCol, thetaFx, numCells,
      iters, dim, grids, maxCell, onCensus)
    dbscanPrefixRoles(data, idCol, pairs, minPts)
      .select(col("id"), col(s"n_nb_$grids").as("n_nb"),
        col(s"role_$grids").as("role"))
  }

  /** Per-grid DISJOINT canonical survivor-pair frames for
    * [[dbscanCellRoles]]: element g holds the (ia < ib, dot ≥ θ) pairs
    * co-located by grid g's trained quantizer and NOT co-located by
    * any earlier grid — first-finder-wins. Disjointness makes the
    * union over any seed-PREFIX exactly the distinct survivor set of
    * that prefix, so:
    *
    *  - the cross-grid `distinct()` that used to shuffle and
    *    hash-aggregate every survivor pair — the operator's DOMINANT
    *    stage even after the r13 canonical-orientation halving
    *    (historical r13 attribution by the since-retired
    *    DbscanPhaseProbe: distinct+checkpoint 229.9 s of a ~310 s
    *    ×100 piecewise total; r14 removes it per guide §2.4, remove
    *    shuffles outright) — costs ZERO shuffle: the earlier-grid test
    *    is a per-row cell-equality filter evaluated in-stream inside
    *    grid g's join stage BEFORE the dot, and the union of the
    *    per-grid outputs is already duplicate-free;
    *  - a prefix union serves every grids ≤ `grids` consumer, which is
    *    what lets the q324 grids-1/2/3 operating curve and q322 share
    *    ONE build (the knnCurveOf discipline applied to blocking).
    *
    * All `grids` assignments are computed in ONE argmax pass over the
    * checkpointed base and checkpointed ONCE (was one pass + one
    * checkpoint per grid). An overfull cell (census guard, PERF
    * lessons 21/22) is dropped by NULLing its assignment: a null
    * equi-join key matches nothing — the same map-only drop as the
    * former isin filter — and null also reads as "not co-located by
    * this grid" in the first-finder test (`coalesce(ca===cb, false)`),
    * which exactly matches the old semantics where a dropped cell's
    * pairs never reached the union from that grid. Each element is an
    * eager localCheckpoint of (ia, ib) longs, so downstream count
    * aggregates and the border semi-join never re-run the join+dot.
    */
  def dbscanGridPairs(data: DataFrame, idCol: String, vecCol: String,
                      thetaFx: Long, numCells: Int = 0,
                      iters: Int = 2, dim: Int = 64, grids: Int = 3,
                      maxCell: Int = 10000,
                      onCensus: (Int, Long, Long) => Unit =
                        (g, cells, rows) => if (cells > 0L)
                          println(s"[dbscan-census] grid=$g dropped_cells=$cells dropped_rows=$rows")): Seq[DataFrame] = {
    val cells =
      if (numCells > 0) numCells
      else math.max(16L, data.count() / 500L).toInt
    // fixed-point vectors once; each grid re-assigns cells (map-only)
    val base = data.select(col(idCol).as("id"),
        normalized(col(vecCol)).as("nv"))
      .select(col("id"), col("nv"),
        transform(col("nv"),
          x => floor(x.cast("double") * lit(1e6)).cast("double")).as("f"))
      .localCheckpoint(eager = true) // feeds grids×2 join sides + training
    // `grids` independently-seeded trained quantizers: a ≥θ pair missed
    // by one grid's cell split is caught by another (the knnGraphDescent
    // multi-grid recall trick — measured: 1 grid keeps ~0.18 of true
    // neighbor pairs on this corpus, 3 grids ~0.45). The dot + θ filter
    // runs IN-STREAM inside each grid's cell self-join — vectors ride
    // the join sides (n rows each), candidate pair rows exist only
    // inside the codegen'd stage, and only the tiny ≥θ SURVIVOR set
    // (two longs per pair) is ever materialized. The first formulation
    // distinct'd 300M candidate ids and then re-joined both 1 KB
    // vectors onto them — two 300 GB wide shuffles that filled the
    // disk at ×100 (round-11 postmortem; the lesson-4/6 "never shuffle
    // wide payloads you can stream" rule, re-learned on pair frames).
    val cents = (0 until grids).map { g =>
      trainCentroids(base, "nv", cells, iters, dim, seed = 42L + 7L * g)
    }
    val asgRaw = base.select(
      col("id") +: col("f") +:
        (0 until grids).map(g => graft.functions.VectorFunctions
          .vec_mat_argmax(col("nv"), cents(g)).as(s"c$g")): _*)
      .localCheckpoint(eager = true)
    // per-grid census: a hash AGGREGATE over the checkpointed
    // assignment (sort-free, rule 17); overfull cells are collected
    // (≤ numCells rows — model-sized), REPORTED through onCensus (no
    // silent caps), and dropped by nulling the assignment column.
    val cellCols = (0 until grids).map { g =>
      val overfull = asgRaw.groupBy(col(s"c$g"))
        .agg(count(lit(1)).as("cell_n"))
        .filter(col("cell_n") > lit(maxCell))
        .collect()
      onCensus(g, overfull.length.toLong, overfull.map(_.getLong(1)).sum)
      if (overfull.isEmpty) col(s"c$g")
      else when(col(s"c$g").isin(overfull.map(_.get(0)): _*), lit(null))
        .otherwise(col(s"c$g")).as(s"c$g")
    }
    val asg = asgRaw.select(col("id") +: col("f") +: cellCols: _*)
    (0 until grids).map { g =>
      val la = asg.select(col("id").as("ia") +: col("f").as("fa") +:
        (0 to g).map(j => col(s"c$j").as(s"ca$j")): _*)
      val rb = asg.select(col("id").as("ib") +: col("f").as("fb") +:
        (0 to g).map(j => col(s"c$j").as(s"cb$j")): _*)
      // first-finder-wins: grid g skips any pair an EARLIER grid
      // co-located (null = dropped/overfull there ⇒ not co-located).
      // Cheap int compares run before the 64-dim dot.
      val firstFinder = (0 until g)
        .map(j => !coalesce(col(s"ca$j") === col(s"cb$j"), lit(false)))
        .foldLeft(lit(true))(_ && _)
      la.filter(col(s"ca$g").isNotNull)
        .join(rb.filter(col(s"cb$g").isNotNull),
          col(s"ca$g") === col(s"cb$g"))
        // CANONICAL orientation (r13): ia < ib halves the survivor
        // emission and the checkpoint; [[dbscanPrefixRoles]] reads
        // both ends of each pair, so every consumer sees the
        // identical bidirectional neighbor relation.
        .filter(col("ia") < col("ib"))
        .filter(firstFinder)
        .filter(dotD(col("fa"), col("fb")) >= lit(thetaFx.toDouble))
        .select(col("ia"), col("ib"))
        .localCheckpoint(eager = true)
    }
  }

  /** DBSCAN counts and roles for EVERY grid prefix in one fold over
    * [[dbscanGridPairs]]' per-grid disjoint canonical (ia < ib) pair
    * frames. Output: one row per `data` id with `n_nb_g` and `role_g`
    * for each prefix g = 1 … gridPairs.length, where prefix g is the
    * union of the first g grids' pairs — exactly what a grids = g run
    * finds, since the seeds are a prefix chain and first-finder-wins
    * makes the frames disjoint.
    *
    *  - counts: both ends of every pair are generated map-only from
    *    the grid-tagged pairs (no mirror union); ONE aggregate sums
    *    the ends per id, conditionally per prefix — disjointness makes
    *    the prefix-g count the sum of the counts of grids ≤ g;
    *  - border: ONE join of the ends with the per-prefix core flags
    *    and ONE max-aggregate — a point is a border at prefix g iff a
    *    pair from a grid ≤ g joins it to a point that is core at g.
    *
    * One pass serves q322 (last prefix) and every row of the q324
    * curve. */
  def dbscanPrefixRoles(data: DataFrame, idCol: String,
                        gridPairs: Seq[DataFrame], minPts: Long): DataFrame = {
    require(gridPairs.nonEmpty, "dbscanPrefixRoles needs at least one grid")
    val prefixes = 1 to gridPairs.length
    val ends = gridPairs.zipWithIndex
      .map { case (p, g) => p.select(col("ia"), col("ib"), lit(g + 1).as("grid")) }
      .reduce(_ unionAll _)
      .select(col("grid"), explode(array(
        struct(col("ia").as("id"), col("ib").as("nbr")),
        struct(col("ib").as("id"), col("ia").as("nbr")))).as("e"))
      .select(col("e.id").as("id"), col("e.nbr").as("nbr"), col("grid"))
    val counts = prefixes.map(g =>
      sum(when(col("grid") <= g, 1L).otherwise(0L)).as(s"c$g"))
    val nb = ends.groupBy(col("id")).agg(counts.head, counts.tail: _*)
    val pts = data.select(col(idCol).as("id"))
      .join(nb, Seq("id"), "left_outer")
      .select(col("id") +: prefixes.map(g =>
        coalesce(col(s"c$g"), lit(0L)).as(s"n_nb_$g")): _*)
    def core(g: Int): Column = col(s"n_nb_$g") >= lit(minPts)
    val cores = pts.filter(prefixes.map(core).reduce(_ || _))
      .select(col("id").as("nbr") +: prefixes.map(g => core(g).as(s"core$g")): _*)
    val nears = prefixes.map(g =>
      max(col("grid") <= g && col(s"core$g")).as(s"near$g"))
    val near = ends.join(cores, Seq("nbr")).groupBy(col("id"))
      .agg(nears.head, nears.tail: _*)
    pts.join(near, Seq("id"), "left_outer")
      .select(col("id") +: prefixes.flatMap(g => Seq(col(s"n_nb_$g"),
        when(core(g), "core")
          .when(coalesce(col(s"near$g"), lit(false)), "border")
          .otherwise("noise").as(s"role_$g"))): _*)
  }

  /** Embedding-space near-duplicate pairs: all pairs above a cosine
    * threshold, found via LSH buckets (exact verify). Near-dups have
    * cosine ≈ 1 ⇒ identical LSH signs with high probability, so
    * bucket-blocking loses almost nothing at threshold ≥ 0.9.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, numPlanes: Int = 8,
                         dim: Int = 64): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), normalized(col(vecCol)).as("v"),
      lshSignature(col(vecCol), numPlanes, dim).as("bucket"))
    val l = sigs.select(col("id").as("id_a"), col("v").as("v_a"), col("bucket"))
    val r = sigs.select(col("id").as("id_b"), col("v").as("v_b"), col("bucket"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dotD(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= lit(threshold))
      .dropDuplicates("id_a", "id_b")
  }

  /** HARD-NEGATIVE mining — the contrastive-training companion of
    * [[bruteForceTopK]]: for each anchor, the k MOST similar
    * candidates strictly below `maxCos` — similar enough to be
    * informative negatives, dissimilar enough to not be positives or
    * near-duplicates (the band that makes retriever/embedding
    * training work; negatives at cosine ≈ 0 teach nothing, negatives
    * above the band are usually unlabeled positives).
    *
    * Same plan shape as the exact top-k: anchors broadcast (training
    * batches are model-sized next to the corpus), candidates stream
    * map-only through one scan, the band filter runs BEFORE the
    * per-anchor rank so the window only sees in-band rows. At corpus
    * scale, mine from an ANN pool instead ([[ivfTopK]] with a larger
    * k, then band-filter) — this operator is the exact-semantics
    * baseline the pooled variant is measured against.
    */
  def hardNegativeTopK(queries: DataFrame, candidates: DataFrame,
                       idQ: String, idC: String, vecQ: String, vecC: String,
                       k: Int, maxCos: Double): DataFrame = {
    val q = queries.select(col(idQ).as("query_id"), normalized(col(vecQ)).as("qv"))
    val c = candidates.select(col(idC).as("cand_id"), normalized(col(vecC)).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        dotD(col("qv"), col("cv")).as("cosine"))
      .filter(col("cosine") < lit(maxCos))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(k))
  }

  /** SEMANTIC decontamination — the embedding rung of the
    * decontamination ladder (exact q57 / Bloom q83 / fuzzy q120 /
    * incremental q187 catch verbatim and near-verbatim leaks; this
    * catches *paraphrased* eval material): flag every training vector
    * whose max cosine against ANY eval vector reaches `tau`, and
    * report WHICH eval item it matches (the evidence a curation
    * pipeline attaches to the drop decision).
    *
    * Scale shape: eval benchmark suites are tiny (thousands of rows)
    * next to a training corpus — the eval side BROADCASTS, the
    * training side streams map-only through one scan, and the
    * per-train argmax is a two-phase aggregate (`max(struct(cos, −id))`,
    * the PERF-lesson-17 form — no data-sized sort window),
    * partial-aggregated map-side so the shuffle carries
    * one row per FLAGGED train id, not per pair. Nothing data-sized
    * is ever built on the driver. Ref scope: angelini/df has no
    * vector ops; decontamination semantics follow the exact-overlap
    * ladder (reference surveys only relational ops, src/dataframe.rs).
    *
    * Deterministic: ties in cosine break toward the SMALLEST eval id
    * via max(struct(cos, −eval_id)).
    */
  def semanticDecontaminate(train: DataFrame, evalSet: DataFrame,
                            idT: String, idE: String,
                            vecT: String, vecE: String,
                            tau: Double): DataFrame = {
    val t = train.select(col(idT).as("train_id"), normalized(col(vecT)).as("tv"))
    val e = evalSet.select(col(idE).as("eval_id"), normalized(col(vecE)).as("ev"))
    t.join(broadcast(e), lit(true))
      .select(col("train_id"), col("eval_id"),
        dotD(col("tv"), col("ev")).as("cosine"))
      .groupBy(col("train_id"))
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("ne"))).as("m"))
      .filter(col("m.cosine") >= lit(tau))
      .select(col("train_id"), (-col("m.ne")).as("eval_id"),
        col("m.cosine").as("cosine"))
  }

  /** INCREMENTAL semantic dedup — the ingest shape (q95 exact / q187
    * Bloom / q217 perceptual) at the EMBEDDING rung: today's crawl
    * probes the standing vector index for semantic near-duplicates
    * instead of re-deduplicating history. Both sides map-only assign
    * to a deterministic cell grid (the seeded hyperplane argmax — no
    * training, so the index's cell of record never drifts between
    * ingests); candidates come from a cell EQUI-join (index side
    * bucket-capped, the signatureMatches discipline), then exact
    * cosine verifies ≥ `threshold`. Near-identical vectors share an
    * argmax cell by construction (the SemDeDup property), so at
    * near-dup thresholds the cell block loses nothing. Returns
    * (probe_id, index_id, cosine).
    */
  def semanticIncrementalPairs(index: DataFrame, probes: DataFrame,
                               idI: String, idP: String,
                               vecI: String, vecP: String,
                               threshold: Double, numCells: Int = 64,
                               dim: Int = 64): DataFrame = {
    val cents = hyperplanes(numCells, dim)
    val ix = assignCells(index, idI, vecI, cents)
      .withColumn("cell_n", count(lit(1)).over(
        Window.partitionBy(col("cell"))))
      .filter(col("cell_n") <= lit(SemanticMaxCell))
      .select(col("id").as("index_id"), col("v").as("iv"), col("cell"))
    val pr = assignCells(probes, idP, vecP, cents)
      .select(col("id").as("probe_id"), col("v").as("pv"), col("cell"))
    pr.join(ix, Seq("cell"))
      .select(col("probe_id"), col("index_id"),
        dotD(col("pv"), col("iv")).as("cosine"))
      .filter(col("cosine") >= lit(threshold))
  }

  /** Approximate kNN GRAPH via NN-DESCENT (Dong, Moses & Li, WWW'11)
    * — the all-nodes neighbor structure that SemDeDup clustering,
    * kNN-classification and manifold analysis consume, where the ANN
    * ladder (q34-q191) only answers query→corpus probes. Two phases,
    * both bucketed, never all-pairs:
    *
    *  1. INIT: vectors map-only assign to `grids` INDEPENDENT
    *     deterministic seeded hyperplane-argmax cell grids (the
    *     [[semanticIncrementalPairs]] grid family under distinct
    *     seeds — no training, replayable); within a cell, each node
    *     RING-PAIRS with its next `initWidth` cellmates in
    *     xxhash64-of-id order (symmetric union), NOT with every
    *     cellmate. Full within-cell pairing is O(n·cellSize) pairs —
    *     measured THRASHING at ×100 (200k vectors, ~500/cell: 100M+
    *     init pairs each dragging two 512-byte vectors through the
    *     scoring joins drove the JVM to 97% sys time); ring pairing is
    *     O(n·initWidth·grids) by construction, and hyperplane-argmax
    *     cell SKEW (cells are not balanced) can no longer explode any
    *     single cell. Multiple grids still matter on weakly-clustered
    *     corpora: a true neighbor missed by one random grid's argmax
    *     is caught by another, and descent densifies from there.
    *  2. DESCENT × `rounds`: the NN-descent step — a node's improved
    *     candidates are its neighbors' neighbors over the UNDIRECTED
    *     current graph; the REVERSED edge set is capped at k per node
    *     (best-cosine first, the Dong et al. reverse-sample), because
    *     a hub vector can sit in THOUSANDS of nodes' top-k lists and
    *     an uncapped reverse degree makes the neighbors-of-neighbors
    *     self-join quadratic in hub degree. With the cap, undirected
    *     degree ≤ 2k and the candidate set is genuinely ≤ (2k)² per
    *     node. One self-join on the shared endpoint, distinct pair
    *     set unioned with the current edges, exact cosines re-scored
    *     through two (id → vector) hash joins, per-node top-k by
    *     (cosine desc, id asc).
    *
    * Scale shape: init is O(n·initWidth·grids) pairs regardless of
    * cell geometry; each descent round is ≤ (2k)² candidates per node
    * — corpus-linear; the only shuffles carry (long, long) pairs or
    * (long, vector) rows. The normalized vector frame is
    * localCheckpointed once (it feeds 2(rounds+1)+grids joins) and
    * each round's edge frame cuts its lineage — the graph-family
    * discipline. The per-node top-k windows run over
    * candidate-bounded frames (initWidth·grids / 4k² rows per key),
    * the documented exception to the lesson-17 argmax rule.
    * Deterministic end-to-end: seeded grids, hash-ordered rings,
    * sequential-IEEE [[dot]], ties broken by neighbor id.
    *
    * Returns (src, dst, rank, cosine), rank 1..≤k per src.
    */
  def knnGraphDescent(data: DataFrame, idCol: String, vecCol: String,
                      k: Int, numCells: Int = 0, dim: Int = 64,
                      grids: Int = 2, rounds: Int = 2): DataFrame =
    knnGraphDescentCurve(data, idCol, vecCol, k, numCells, dim,
      grids, rounds).last

  /** [[knnGraphDescent]] with every intermediate published: element r
    * of the returned Seq is the graph after r descent rounds (r = 0 is
    * the scored init), each a lazy localCheckpoint so one build serves
    * every consumer. Because round r+1's candidate set CONTAINS round
    * r's selected edges (und ⊆ cand — the descent recurrence), a true
    * top-k edge once selected can never be displaced (at most k−1
    * candidates outrank it in ANY candidate superset, by definition of
    * the exact top-k under the same desc(cos), asc(dst) tie order), so
    * per-node true-edge hits are NON-DECREASING in rounds with zero
    * slack — the theorem q326's oracle asserts (the q324 nested-
    * candidate discipline applied to the rounds dial). */
  def knnGraphDescentCurve(data: DataFrame, idCol: String, vecCol: String,
                      k: Int, numCells: Int = 0, dim: Int = 64,
                      grids: Int = 2, rounds: Int = 2,
                      initWidth: Int = 8): Seq[DataFrame] = {
    val cells =
      if (numCells > 0) numCells
      else math.max(16, (data.count() / 2000L).toInt)
    val base = data
      .select(col(idCol).as("id"), normalized(col(vecCol)).as("v"))
      .localCheckpoint(eager = true) // reused 2(rounds+1)+grids times
    val byRank = Window.partitionBy(col("src"))
      .orderBy(desc("cos"), asc("dst"))
    // exact-score a candidate pair set and keep each src's top-k
    def topK(cand: DataFrame): DataFrame = cand
      .join(base.select(col("id").as("src"), col("v").as("sv")), Seq("src"))
      .join(base.select(col("id").as("dst"), col("v").as("dv")), Seq("dst"))
      .select(col("src"), col("dst"), dotD(col("sv"), col("dv")).as("cos"))
      .withColumn("rank", row_number().over(byRank))
      .filter(col("rank") <= lit(k))
    // INIT part 1: hash-ordered ring pairs within each cell, per grid
    val gridInit = (0 until grids).map { g =>
      val asg = base.select(col("id"),
        graft.functions.VectorFunctions.vec_mat_argmax(col("v"),
          hyperplanes(cells, dim, seed = 42L + g)).as("cell"))
      val ring = asg.withColumn("rn", row_number().over(
          Window.partitionBy(col("cell"))
            .orderBy(xxhash64(col("id")), col("id"))).cast("long"))
      val fwd = ring.select(col("cell"), col("rn"), col("id").as("src"))
        .withColumn("off", explode(lit((1 to initWidth).toArray)))
        .select(col("cell"), (col("rn") + col("off")).as("rn_b"), col("src"))
        .join(ring.select(col("cell"), col("rn").as("rn_b"),
          col("id").as("dst")), Seq("cell", "rn_b"))
        .select(col("src"), col("dst"))
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    }.reduce(_ union _)
    // INIT part 2: the classic NN-descent RANDOM init, made
    // deterministic — pairs within xxhash64 id-buckets of expected
    // size 8. Guarantees every node enters the graph (a node whose
    // argmax cell is a singleton in every grid would otherwise vanish
    // — the spec's planted-cluster fixture caught exactly that) and
    // seeds descent with cluster-structure-independent links.
    val nb = math.max(1L, base.count() / 8L)
    val hb = base.select(col("id"),
      pmod(xxhash64(col("id")), lit(nb)).as("cell"))
    val hashInit = hb.select(col("id").as("src"), col("cell"))
      .join(hb.select(col("id").as("dst"), col("cell")), Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val init = gridInit.union(hashInit).distinct()
    // ONE lazy checkpoint per round, shared by the published curve
    // element (a cheap projection on top) and the next round's
    // candidate generation — no round frame is materialized twice
    def publish(sc: DataFrame): DataFrame = sc
      .select(col("src"), col("dst"),
        col("rank").cast("long").as("rank"), col("cos").as("cosine"))
    val out = Seq.newBuilder[DataFrame]
    var scored = topK(init).localCheckpoint(eager = false)
    out += publish(scored)
    for (_ <- 1 to rounds) {
      // DESCENT round: candidates = neighbors-of-neighbors over the
      // undirected current graph, plus the current edges themselves.
      // Reversed edges are CAPPED at k per node (best cosine first) —
      // see the header: hub in-degree is unbounded without it.
      val sc = scored // already a lazy checkpoint — lineage is cut
      val e = sc.select(col("src"), col("dst"))
      val rev = sc.withColumn("rr", row_number().over(
          Window.partitionBy(col("dst")).orderBy(desc("cos"), asc("src"))))
        .filter(col("rr") <= lit(k))
        .select(col("dst").as("src"), col("src").as("dst"))
      val und = e.union(rev).distinct()
      val cand = und.select(col("src"), col("dst").as("mid"))
        .join(und.select(col("src").as("mid"), col("dst")), Seq("mid"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .union(und)
        .distinct()
      scored = topK(cand).localCheckpoint(eager = false)
      out += publish(scored)
    }
    out.result()
  }

  /** EUCLIDEAN Lloyd iterations — the per-subspace k-means behind
    * product quantization (vs the spherical [[trainCentroids]]: PQ
    * sub-vectors are slices of a unit vector and carry meaningful
    * norms, so assignment must be by squared distance, and means must
    * NOT be re-normalized).
    *
    * Assignment uses the augmented-matrix identity
    *   argmin_j ‖x−c_j‖² = argmax_j (x·c_j − ‖c_j‖²/2)
    * so the native `vec_mat_argmax` kernel over rows [c_j | −‖c_j‖²/2]
    * probed with [x | 1] does Euclidean assignment with zero new
    * expression code (ties keep the highest index — deterministic).
    * Means are exact fixed-point sums ([[graft.functions.VecFixedSum]],
    * floor(x·1e12) longs): associative, so the trained codebook is
    * bit-identical across partitionings. Per iteration only
    * kCents × dim longs reach the driver — model, never data.
    */
  def euclideanCentroids(data: DataFrame, vecCol: String, kCents: Int,
                         iters: Int, dim: Int): Array[Array[Double]] = {
    var cents = hyperplanes(kCents, dim) // deterministic seeded init
    val vs = data.select(col(vecCol).cast("array<double>").as("v"))
      .withColumn("va", concat(col("v"), array(lit(1.0))))
    for (_ <- 0 until iters) {
      val aug = cents.map(c => c :+ (-0.5 * c.map(x => x * x).sum))
      val stats = vs
        .withColumn("cell",
          graft.functions.VectorFunctions.vec_mat_argmax(col("va"), aug))
        .groupBy(col("cell"))
        .agg(graft.functions.VectorFunctions.vec_fixed_sum(col("v"), dim).as("s"),
          count(lit(1)).as("n"))
        .collect() // kCents rows of dim longs — the model, not the data
      val next = cents.map(_.clone())
      stats.foreach { r =>
        val cell = r.getInt(0)
        val s = r.getSeq[Long](1).map(_.toDouble).toArray
        val cnt = r.getLong(2).toDouble
        if (cnt > 0) next(cell) = s.map(_ / cnt / 1e12)
      }
      cents = next
    }
    cents
  }

  /** Train PQ codebooks: split the (unit-normalized) embedding into
    * `m` contiguous sub-vectors of dim/m and run Euclidean k-means with
    * `ksub` centroids in each subspace independently. Returns
    * m × ksub × (dim/m) doubles — at the default 8×16×8 that is a 4 KB
    * model, trivially shipped to every executor as plan literals. */
  def pqTrainCodebooks(data: DataFrame, vecCol: String, m: Int, ksub: Int,
                       dim: Int, iters: Int,
                       preNormalized: Boolean = false): Array[Array[Array[Double]]] = {
    val subDim = dim / m
    require(m * subDim == dim, s"dim $dim must split into $m equal subspaces")
    // the m subspace trainings are INDEPENDENT tiny jobs (each
    // iteration is an argmax + fixed-point sum over subDim-wide
    // slices); submitted sequentially they cost m·iters job
    // dispatches of mostly scheduler overhead (measured ~3 s of
    // q163's ~5 s at sf0.1). Submitting them concurrently lets the
    // scheduler overlap them — results are bit-identical (each
    // training is deterministic and touches only its own slice).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // `preNormalized` = the caller already produced the vector space to
    // quantize (e.g. IVFADC residuals, which must NOT be re-normalized
    // — a residual's norm IS its information)
    val vexpr = if (preNormalized) col(vecCol).cast("array<double>")
                else normalized(col(vecCol))
    // a pool made per call: its threads are created by this thread, so
    // they inherit its Spark local properties (job tags, description,
    // trace id) and every training job is charged to the calling
    // query — a shared pool's long-lived threads keep the properties
    // of whichever query first created them
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, Runtime.getRuntime.availableProcessors()))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val trained = (0 until m).map { j =>
        Future(euclideanCentroids(
          data.select(slice(vexpr, j * subDim + 1, subDim).as("v")),
          "v", ksub, iters, subDim))
      }
      trained.map(Await.result(_, Duration.Inf)).toArray
    } finally pool.shutdown()
  }

  /** Product-quantization approximate top-k with asymmetric distance
    * computation (ADC) — Jégou/Douze/Schmid, TPAMI 2011 ("Product
    * quantization for nearest neighbor search"); the reference
    * (angelini/df) has no vector surface at all (SURVEY.md §2).
    *
    * ENCODE: each candidate's unit vector becomes `m` small codes
    * (nearest sub-centroid per subspace). At 8 subspaces × 16 centroids
    * that is 8 codes ≈ 8 BYTES replacing 256 bytes of floats — the
    * 100 TB lever: brute-force search over PQ codes scans 32× less
    * data, and the scan is table lookups, not multiplies. Encoding is
    * map-only (native argmax kernels over plan-literal codebooks).
    *
    * SEARCH: each query precomputes per-subspace lookup tables
    * t_j[c] = q_j · c_jc (ksub doubles × m — built once per query by a
    * native vec_mat_dots); the approximate score of a candidate is
    * Σ_j t_j[code_j], a pure codegen'd element_at chain. Queries are
    * broadcast (small by construction, the q34/q52 convention);
    * candidates stream map-side — the candidate table is NEVER
    * shuffled, and per-query top-k is a window over the tiny query-id
    * key space. Codebooks are trained on the candidate corpus.
    *
    * RERANK (`rerank` > k): the production IVFADC+R shape — ADC is the
    * cheap FILTER over the compressed scan, the per-query ADC
    * top-`rerank` survivors are joined BACK to their full vectors by id
    * (a hash join fetching only queries × rerank payloads — full
    * vectors never ride the scoring scan) and exact-reranked by true
    * cosine. Compression does candidate elimination; floats only touch
    * the shortlist. Measured here: ADC-only recall@10 degrades with
    * corpus size (0.35 → 0.165 from 2 k → 20 k vectors at 32-bit
    * codes), rerank=100 restores it (see q163's floors).
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame,
             idQ: String, idC: String, vecQ: String, vecC: String,
             k: Int, m: Int = 8, ksub: Int = 16, dim: Int = 64,
             iters: Int = 2, rerank: Int = 0): DataFrame = {
    val subDim = dim / m
    require(m * subDim == dim, s"dim $dim must split into $m equal subspaces")
    val books = pqTrainCodebooks(candidates, vecC, m, ksub, dim, iters)
    val augBooks = books.map(_.map(c => c :+ (-0.5 * c.map(x => x * x).sum)))
    val cv = candidates.select(col(idC).as("cand_id"), normalized(col(vecC)).as("cv"))
    val coded = (0 until m).foldLeft(cv) {
        (df, j) => df.withColumn(s"code_$j",
          graft.functions.VectorFunctions.vec_mat_argmax(
            concat(slice(col("cv"), j * subDim + 1, subDim), array(lit(1.0))),
            augBooks(j)))
      }.drop("cv")
    val qv = queries.select(col(idQ).as("query_id"), normalized(col(vecQ)).as("qv"))
    val tabs = (0 until m).foldLeft(qv) {
        (df, j) => df.withColumn(s"t_$j",
          graft.functions.VectorFunctions.vec_mat_dots(
            slice(col("qv"), j * subDim + 1, subDim), books(j)))
      }.drop("qv")
    val adc = (0 until m).map(j =>
      element_at(col(s"t_$j"), col(s"code_$j") + 1)).reduce(_ + _)
    val scored = coded.join(broadcast(tabs), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), adc.as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("adc"), asc("cand_id"))
    if (rerank <= k) {
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= lit(k))
    } else {
      val shortlist = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= lit(rerank))
        .select(col("query_id"), col("cand_id"))
      val exactScored = shortlist
        .join(cv, Seq("cand_id")) // id-equi-join: fetch only shortlist payloads
        .join(broadcast(qv), Seq("query_id"))
        .select(col("query_id"), col("cand_id"), dotD(col("qv"), col("cv")).as("cosine"))
      val w2 = Window.partitionBy(col("query_id")).orderBy(desc("cosine"), asc("cand_id"))
      exactScored.withColumn("rank", row_number().over(w2))
        .filter(col("rank") <= lit(k))
    }
  }

  /** IVF-PQ approximate top-k — the [[ivfTopK]] coarse quantizer
    * composed with [[pqTopK]]'s compressed-scan ADC scoring: the
    * production large-corpus ANN shape (FAISS's IVFADC family, Jégou
    * et al. 2011). The coarse quantizer prunes the scan to
    * `nProbe`/`numCells` of the corpus via a CELL EQUI-JOIN (where
    * pure PQ broadcasts every query against every code row), and PQ
    * codes shrink what that scan reads ~42× — the two levers multiply.
    *
    * `residual = true` is CLASSIC IVFADC: codes quantize the residual
    * x − centroid(cell) — residuals are smaller and better-centered
    * than raw vectors, so the same code budget spends its resolution
    * where the cell didn't already explain the vector, and the ADC
    * score becomes q·c_cell (already computed by the probe step) +
    * Σ_j t_j[code_j]. The per-row centroid subtract is one zip_with
    * against a plan-literal centroid table selected by cell id —
    * interpreted HOF, but map-only ONCE per vector at encode (the
    * q119 quantization precedent), never per pair. `residual = false`
    * keeps the raw-vector simplification (q179's original gate shape;
    * measured ~0.66 recall vs ~0.75+ residual at sf0.1).
    *
    * Scale shape: encode is map-only (argmax kernels over plan-literal
    * models); queries broadcast with their per-subspace LUTs attached
    * per probed cell; the candidate code table NEVER shuffles; ADC is
    * a codegen'd element_at chain; the optional `rerank` shortlist
    * fetches full vectors by id-equi-join only (the q163 IVFADC+R
    * recipe).
    */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame,
                idQ: String, idC: String, vecQ: String, vecC: String,
                k: Int, numCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 16, dim: Int = 64,
                iters: Int = 2, rerank: Int = 0,
                residual: Boolean = false): DataFrame = {
    val subDim = dim / m
    require(m * subDim == dim, s"dim $dim must split into $m equal subspaces")
    val cents = trainCentroids(candidates, vecC, numCells, iters, dim)
    import graft.functions.VectorFunctions.{vec_mat_argmax, vec_mat_dots}
    val cv = candidates.select(col(idC).as("cand_id"), normalized(col(vecC)).as("cv"))
    val centsLit = array(cents.map(c => array(c.map(lit(_)): _*)): _*)
    // "ev" = the encoded space: raw unit vector, or the cell residual
    val withCell = cv.withColumn("cell", vec_mat_argmax(col("cv"), cents))
    val encBase =
      if (residual)
        withCell.withColumn("ev",
          graft.functions.VectorFunctions.vec_sub(
            col("cv"), element_at(centsLit, col("cell") + 1)))
      else withCell.withColumn("ev", col("cv"))
    val books =
      if (residual) {
        // MATERIALIZE the residual frame before the 8 concurrent
        // subspace trainings. The encode is now the native codegen'd
        // VecSub (no interpreted lambda ⇒ the PERF-lesson-17
        // shared-NamedLambdaVariable nondeterminism class is retired
        // by construction; OperatorsSpec's IVF-PQ residual spec pins
        // vec_sub to the zip_with arithmetic), so the
        // checkpoint is purely an efficiency choice: it stops the
        // m × iters training jobs each re-scanning candidates and
        // re-deriving argmax cells + residuals from the raw vectors.
        val resid = encBase.select(col("ev")).localCheckpoint(true)
        pqTrainCodebooks(resid, "ev", m, ksub, dim, iters,
          preNormalized = true)
      } else pqTrainCodebooks(candidates, vecC, m, ksub, dim, iters)
    val augBooks = books.map(_.map(c => c :+ (-0.5 * c.map(x => x * x).sum)))
    val coded = (0 until m).foldLeft(encBase) {
        (df, j) => df.withColumn(s"code_$j",
          vec_mat_argmax(
            concat(slice(col("ev"), j * subDim + 1, subDim), array(lit(1.0))),
            augBooks(j)))
      }.drop("cv", "ev")
    val qv = queries.select(col(idQ).as("query_id"), normalized(col(vecQ)).as("qv"))
    val probes = qv
      .select(col("query_id"), col("qv"),
        posexplode(vec_mat_dots(col("qv"), cents)).as(Seq("cell", "s")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("s"), asc("cell"))))
      .filter(col("rk") <= lit(nProbe))
      .select(col("query_id"), col("qv"), col("cell"), col("s"))
    val tabs = (0 until m).foldLeft(probes) {
        (df, j) => df.withColumn(s"t_$j",
          vec_mat_dots(slice(col("qv"), j * subDim + 1, subDim), books(j)))
      }.drop("qv")
    // residual ADC: q·x = q·c_cell + q·r — the probe score "s" IS the
    // first term, already computed once per (query, cell)
    val adcSum = (0 until m).map(j =>
      element_at(col(s"t_$j"), col(s"code_$j") + 1)).reduce(_ + _)
    val adc = if (residual) col("s") + adcSum else adcSum
    // the IVF lever: an EQUI-join on cell — only probed cells' code
    // rows are scored (q163's pure-PQ path scores the whole corpus)
    val scored = coded.join(broadcast(tabs), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), adc.as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("adc"), asc("cand_id"))
    if (rerank <= k) {
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= lit(k))
    } else {
      val shortlist = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= lit(rerank))
        .select(col("query_id"), col("cand_id"))
      val exactScored = shortlist
        .join(cv, Seq("cand_id"))
        .join(broadcast(qv), Seq("query_id"))
        .select(col("query_id"), col("cand_id"), dotD(col("qv"), col("cv")).as("cosine"))
      val w2 = Window.partitionBy(col("query_id")).orderBy(desc("cosine"), asc("cand_id"))
      exactScored.withColumn("rank", row_number().over(w2))
        .filter(col("rank") <= lit(k))
    }
  }

  /** Top principal component by distributed covariance + driver-side
    * power iteration — the embedding-space analytics primitive behind
    * whitening, drift detection, and spectral filtering.
    *
    * 100 TB shape: ONE scan computes N, Σx ([[graft.functions.VecFixedSum]])
    * and the upper-triangle Σx⊗x ([[graft.functions.VecOuterFixedSum]])
    * as exact fixed-point partial aggregates — the O(N·d²)
    * multiply-adds happen inside map-side combine, only d(d+1)/2 longs
    * per task cross the network, and NOTHING data-proportional reaches
    * the driver. The d×d eigen-iteration then runs driver-side on a
    * 32 KB matrix (10³ iterations of a 64×64 matvec is microseconds) —
    * the same "model on driver, data stays out" split as
    * [[trainCentroids]]. Deterministic end to end: fixed-point sums
    * are merge-order invariant, init is the fixed uniform vector, and
    * the sign is canonicalized (largest-|loading| component positive).
    *
    * Returns (loadings of unit length, λ = vᵀCv) for the population
    * covariance C = Σx⊗x/N − μμᵀ.
    */
  /** GREEDY k-CENTER coreset selection (Gonzalez 1985 farthest-point
    * traversal — the 2-approximation to the k-center objective): pick
    * the point farthest from everything selected so far, k times. The
    * diversity-sampling primitive of data curation: a k-point coreset
    * that spans the embedding space (cover the modes, don't oversample
    * the head) — the complement of [[semanticDedup]] (which REMOVES
    * redundancy; this SELECTS spread) and of q195's outliers (which
    * ranks by distance to the single centroid).
    *
    * EXACT and oracle-replayable: distances are squared Euclidean over
    * q119/q195's int8 quantization (floor(x/max|x|·127) of the unit
    * vector — exact small ints in doubles), so every round's argmax is
    * integer arithmetic; ties break to the smaller id; the seed is the
    * min id. A fixed k unrolls round-by-round in SQL exactly like the
    * fixed-iteration graph gates.
    *
    * Scale shape: the quantized frame materializes ONCE
    * (localCheckpoint — it is scanned k times); each round is map-only
    * scoring against ≤ k broadcast 512-byte center literals (native
    * VecSub/VecDot codegen) + a 1-row TakeOrdered — the model (k
    * centers) lives on the driver, the data never re-shuffles. Total
    * work k²/2·n dot products; k is small by definition (a coreset).
    *
    * Returns k rows (sel_rank 1..k, id, dist2) where dist2 is the
    * squared distance to the nearest previously-selected center at
    * selection time (0 for the seed) — the k-center objective trace:
    * dist2 of row r+1 is the covering radius² after r centers.
    */
  def kCenterSelect(data: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    import graft.functions.VectorFunctions.{vec_dot, vec_sub}
    val spark = data.sparkSession
    import spark.implicits._
    val qz = data
      .select(col(idCol).cast("long").as("id"), normalized(col(vecCol)).as("v"))
      .withColumn("m", array_max(transform(col("v"), x => abs(x))))
      .select(col("id"),
        transform(col("v"),
          x => floor(x / col("m") * lit(127.0)).cast("double")).as("qv"))
      .localCheckpoint(true)
    def centerLit(qv: Seq[Double]) = array(qv.map(lit(_)): _*)
    def d2(c: Column) =
      vec_dot(vec_sub(col("qv"), c), vec_sub(col("qv"), c)).cast("long")
    val seed = qz.orderBy(asc("id")).limit(1)
      .collect()(0) // 1 row — the model, not the data
    var picked = List((1L, seed.getLong(0), 0L))
    var scored = qz.withColumn("d", d2(centerLit(seed.getSeq[Double](1))))
    for (r <- 2 to k) {
      val far = scored.select(col("id"), col("d"), col("qv"))
        .orderBy(desc("d"), asc("id")).limit(1).collect()(0) // 1 row
      picked = (r.toLong, far.getLong(0), far.getLong(1)) :: picked
      scored = scored.withColumn("d",
        least(col("d"), d2(centerLit(far.getSeq[Double](2)))))
    }
    picked.reverse.toDF("sel_rank", "id", "dist2")
  }

  def pcaTopComponent(data: DataFrame, vecCol: String, dim: Int,
                      iters: Int = 1000): (Array[Double], Double) = {
    import graft.functions.VectorFunctions.{vec_fixed_sum, vec_outer_fixed_sum}
    val scale = 1e9 // fixed-point scale of the moment sums
    val row = data.select(col(vecCol).as("v"))
      .agg(count(lit(1)).as("n"),
        vec_fixed_sum(col("v"), dim, scale).as("s1"),
        vec_outer_fixed_sum(col("v"), dim, scale).as("s2"))
      .collect()(0) // d(d+1)/2 + d longs — the model, not the data
    val n = row.getLong(0).toDouble
    val s1 = row.getSeq[Long](1)
    val s2 = row.getSeq[Long](2)
    val mu = Array.tabulate(dim)(i => s1(i).toDouble / scale / n)
    val c = Array.ofDim[Double](dim, dim)
    var idx = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val v = s2(idx).toDouble / scale / n - mu(i) * mu(j)
        c(i)(j) = v; c(j)(i) = v; idx += 1; j += 1
      }
      i += 1
    }
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim) { r =>
        var s = 0.0; var k = 0
        while (k < dim) { s += c(r)(k) * v(k); k += 1 }
        s
      }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var it = 0
    while (it < iters) {
      val w = matvec(v)
      val norm = math.sqrt(w.map(x => x * x).sum)
      if (norm > 0) v = w.map(_ / norm)
      it += 1
    }
    val cv = matvec(v)
    val lambda = v.zip(cv).map { case (a, b) => a * b }.sum
    val kmax = v.indices.maxBy(k => math.abs(v(k)))
    if (v(kmax) < 0) v = v.map(x => -x)
    (v, lambda)
  }
}
