package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph algorithms beyond connected components
  * ([[Dedup.connectedComponents]]). Same scale discipline: per-round
  * shuffles carry (8-byte id, 8-byte value) pairs only, lineage is
  * truncated per round, and only O(1) counters reach the driver.
  */
object Graph {

  /** Fixed-point scale of the PageRank family's ranks (1e9). */
  private val RankScale = 1000000000L

  /** Fixed-point scale of the HITS scores (1e6). */
  private val HitsScale = 1000000L

  /** Rounds between lineage cuts in the fixed-round loops that take no
    * mid-loop action (the GraphX/Pregel convention). */
  private val CheckpointInterval = 5

  /** Eager lineage cut shared by every loop here. */
  private def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Fixed-iteration PageRank in EXACT fixed-point integer arithmetic.
    *
    * Ranks are maintained as `BIGINT` fixed-point (scale = 1e9):
    *   r0(v)   = scale / N
    *   r_k+1(v) = (15·scale)/(100·N) + (85 · Σ_{(u,v)∈E} r_k(u) div deg(u)) div 100
    * — every step is integral division on longs, so the result is
    * bit-identical across engines AND across partitionings (long sums
    * are associative; no IEEE rounding anywhere). A float formulation
    * would pin the oracle to summation order — the same reason k-means
    * training sums fixed-point ([[graft.functions.VecFixedSum]]).
    *
    * Fixed `iters` (power iteration truncated, not converged): the
    * deterministic-replay contract a DuckDB oracle can unroll. Rank
    * mass from dangling nodes (deg = 0) is dropped, per the classic
    * simplified formulation — callers wanting circulation add reverse
    * edges.
    *
    * Scale shape: edges persist once ((src, dst) longs); each round is
    * one join edges⋈ranks (co-partitioned on src after the first
    * round), one partial-aggregated groupBy(dst), one left join back
    * to the node list. Unlike the CC loop — which takes a per-round
    * ACTION (the convergence count) and therefore must truncate every
    * round — this loop runs a fixed number of rounds with no
    * mid-loop action, so ranks are truncated only every
    * [[CheckpointInterval]] rounds (the GraphX/Pregel convention):
    * short chains evaluate as ONE fused DAG (measured 5.5 → ~2 s for 3
    * rounds at sf0.1), long chains stay bounded in plan depth. Only N
    * (a count) is collected. Returns (id, rank_fx) for every node.
    */
  def pageRankFixed(edges: DataFrame, srcCol: String, dstCol: String,
                    iters: Int = 3): DataFrame = {
    val scale = RankScale
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val nodes = cut(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val n = nodes.count()
    require(n > 0, "empty graph")
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val base = 15L * scale / (100L * n)
    var ranks = nodes.select(col("id"), lit(scale / n).as("r"))
    for (k <- 1 to iters) {
      val contrib = e
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .join(deg, "src")
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("cs"))
      val next = nodes
        .join(contrib, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(base) + expr(s"(85 * coalesce(cs, 0L)) div 100")).as("r"))
      ranks = if (k % CheckpointInterval == 0 && k < iters) cut(next) else next
    }
    ranks.select(col("id"), col("r").as("rank_fx"))
  }

  /** KATZ centrality (Katz 1953) — attenuated walk-count centrality,
    * the degree-UNnormalized sibling of [[pageRankFixed]]: a node is
    * central if many short walks end at it, each walk damped by α per
    * hop. Exact fixed-point replay contract (q123's):
    *   x_0(v)    = scale                       (β = scale)
    *   x_k+1(v)  = scale + (Σ_{(u,v)∈E} x_k(u)) div alphaDen
    * — every step integral on longs, so a fixed round count unrolls
    * bit-identically in a SQL oracle. α = 1/alphaDen must sit below
    * 1/λ_max (≤ 1/d_max suffices) for the series to be bounded; the
    * int64 envelope is x ≤ scale·Σ_{j≤iters}(d_max/alphaDen)^j and the
    * per-node pre-div sum ≤ d_max·x — at alphaDen=1000 that clears
    * int64 for d_max up to ~10^5 at 3 rounds; raise alphaDen with the
    * degree scale (it is the attenuation, not a capacity knob).
    *
    * Scale shape identical to [[pageRankFixed]] minus the degree
    * frame: per round one edges⋈x hash join + one partial-aggregated
    * groupBy(dst) + a left join to the node frame — (id, long)
    * exchanges only; no mid-loop action, lineage truncated every
    * [[CheckpointInterval]] rounds. Returns (id, katz_fx) per node.
    */
  def katzFixed(edges: DataFrame, srcCol: String, dstCol: String,
                iters: Int = 3, alphaDen: Long = 1000L,
                scale: Long = 1000000L): DataFrame = {
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val nodes = cut(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    var x = nodes.select(col("id"), lit(scale).as("r"))
    for (k <- 1 to iters) {
      val contrib = e
        .join(x.select(col("id").as("src"), col("r")), "src")
        .groupBy(col("dst")).agg(sum(col("r")).as("cs"))
        .withColumnRenamed("dst", "id")
      val next = nodes
        .join(contrib, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(scale) + expr(s"coalesce(cs, 0L) div $alphaDen")).as("r"))
      x = if (k % CheckpointInterval == 0 && k < iters) cut(next) else next
    }
    x.select(col("id"), col("r").as("katz_fx"))
  }

  /** PERSONALIZED PageRank ([[pageRankFixed]] with the teleport mass
    * restricted to a seed set — Page et al. 1999 §6 / the random walk
    * with restart): relevance-to-the-seeds rather than global
    * centrality, the primitive behind graph-based data selection
    * ("expand this trusted set"), related-item retrieval, and
    * seed-conditioned audience scoring.
    *
    * Same EXACT fixed-point contract as the unpersonalized operator —
    * every step is integral arithmetic on longs, so a fixed number of
    * rounds unrolls bit-identically in a SQL oracle:
    *   r0(v)    = scale div |S| if v ∈ S else 0
    *   r_k+1(v) = [v∈S]·(15·scale) div (100·|S|)
    *              + (85 · Σ_{(u,v)∈E} r_k(u) div deg(u)) div 100
    * Seeds outside the graph's node set are dropped (both engines see
    * the same |S|). Rank mass never reaches nodes farther than `iters`
    * hops from a seed — those rows are exactly 0 and are filtered, so
    * the output is sparse like the walk itself (BFS q170's bounded-
    * horizon semantics, with mass instead of hop counts).
    *
    * Scale shape identical to [[pageRankFixed]]: per-round one
    * edges⋈ranks join + one partial-aggregated groupBy(dst) + a left
    * join to the node frame, (id, long) shuffle payloads; the frontier
    * filter (r > 0) keeps early rounds seed-sized. Only |S| and N
    * (counts) are collected.
    */
  def personalizedPageRankFixed(edges: DataFrame, seeds: DataFrame,
                                srcCol: String, dstCol: String,
                                seedCol: String, iters: Int = 3): DataFrame = {
    val scale = RankScale
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val sd = seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .join(nodes, "id")
    // node frame with a 0/1 seed flag — the only per-node state
    val nb = cut(nodes
      .join(sd.withColumn("seed", lit(1L)), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("seed"), lit(0L)).as("seed")))
    val s = nb.agg(sum(col("seed"))).collect()(0).getLong(0)
    require(s > 0, "no seed is present in the graph")
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val base = 15L * scale / (100L * s)
    var ranks = nb.select(col("id"), (col("seed") * lit(scale / s)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.filter(col("r") > 0)
          .select(col("id").as("src"), col("r")), "src")
        .join(deg, "src")
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("cs"))
      ranks = nb
        .join(contrib, Seq("id"), "left_outer")
        .select(col("id"), col("seed"),
          (col("seed") * lit(base)
            + expr("(85 * coalesce(cs, 0L)) div 100")).as("r"))
    }
    ranks.filter(col("r") > 0).select(col("id"), col("r").as("ppr_fx"))
  }

  /** Per-vertex triangle counts via degree-ordered edge orientation
    * ("compact-forward" / Latapy 2008; the MapReduce variant is
    * Suri & Vassilvitskii, WWW'11 "Counting Triangles and the Curse
    * of the Last Reducer").
    *
    * Each undirected edge is oriented from its lower (degree, id)
    * endpoint to its higher — a total order, so the oriented graph is
    * a DAG and every triangle appears exactly once as u→v, u→w, v→w
    * with (deg,id)(u) < (v) < (w). Orientation is THE scale move:
    * wedge fan-out is Σ C(outdeg, 2) and out-degree is bounded by
    * O(√m) under this order, so total wedge work is O(m^1.5)
    * regardless of skew — a celebrity vertex with degree 10^6
    * contributes no wedges from its own adjacency because all its
    * edges point INTO it. A naive src-grouped wedge join would put
    * C(10^6, 2) pairs on one reducer (the "last reducer" curse).
    *
    * Shapes: two equi-joins to attach degrees, one self-equi-join on
    * src (residual (deg,id) struct comparison — stays a hash join),
    * one closing equi-join on the (v, w) pair, then a partial-agged
    * explode + count. All shuffles carry pairs/triples of longs; no
    * vertex adjacency is ever collected. Struct comparison avoids
    * packing (deg, id) into one long, so no id-space bound is imposed.
    *
    * Returns (id, n_tri) for every vertex in ≥1 triangle. Counts are
    * orientation-independent, so an oracle may use the simpler
    * a<b-canonical 3-way join.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
                     broadcastEdgeLimit: Long = 4000000L): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("dg"))
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("dg").as("db")), "b")
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    // Persist the oriented edge list: it feeds BOTH wedge sides and the
    // closing join, and without a persist each use re-evaluates the
    // whole upstream (edge derivation + distinct + degree joins) —
    // measured 64 s → 6 s at sf0.1. Three longs per edge, so memory is
    // 24 B/edge — the narrow-frame persist pattern (PERF lesson: never
    // cache wide tables, always cache derived long-only frames).
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = oriented.count() // materializes the persist; drives the join strategy
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("ddeg").as("vdeg"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("ddeg").as("wdeg"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(struct(col("vdeg"), col("v")) < struct(col("wdeg"), col("w")))
      .select(col("src").as("u"), col("v"), col("w"))
    // Closing join: wedges (the O(m^1.5) side) probe the edge set on
    // (v, w). When the edge set fits an executor (~16 B/edge), ship IT
    // and leave the wedge stream in place — the wedge side is always
    // the bigger one, and a map-side probe avoids shuffling it
    // (measured 23.7 → ~4 s on 41M wedges at sf0.1). Past the
    // threshold both sides hash-partition on (v, w) — the wedge
    // stream still never needs to fit anywhere.
    // `broadcastEdgeLimit` is the gate (default ≈64 MB of edge pairs);
    // specs force 0 to exercise the shuffle branch on small graphs.
    val closing0 = oriented.select(col("src").as("v"), col("dst").as("w"))
    val closing = if (m <= broadcastEdgeLimit) broadcast(closing0) else closing0
    val tris = wedges.join(closing, Seq("v", "w"))
    tris.select(col("u").as("id"))
      .union(tris.select(col("v").as("id")))
      .union(tris.select(col("w").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — triangles(v) / C(deg v,
    * 2), the "how clique-like is this node's neighborhood" cohesion
    * score (Watts-Strogatz): ≈1e6 (fixed point) for a node whose
    * neighbors all trade with each other, 0 for a star hub. Reuses
    * [[triangleCounts]]' degree-ordered O(m^1.5) enumeration (the
    * expensive part); the degree table is one partial-agged groupBy
    * over the canonical undirected edge set; nodes with no triangle
    * join in at 0 via left join + coalesce. coeff_fx =
    * (2·n_tri·1e6) div (dg·(dg−1)) in exact int64 — bit-replayable.
    * deg < 2 nodes report 0 (C(deg,2) = 0: coefficient undefined,
    * pinned to 0 — the networkx convention).
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("dg"))
    deg.join(triangleCounts(edges, srcCol, dstCol),
        Seq("id"), "left_outer")
      .select(col("id"), col("dg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff_fx", when(col("dg") >= 2,
        expr("(n_tri * 2000000L) div (dg * (dg - 1))")).otherwise(lit(0L)))
  }

  /** DEGREE ASSORTATIVITY (Newman 2002, Phys. Rev. Lett. 89) — the
    * one-number "do hubs link to hubs?" health check of a graph
    * (r > 0: assortative/social-like; r < 0: disassortative/hub-and-
    * spoke — the shape that makes wedge counts and LSH buckets skew):
    * the Pearson correlation of endpoint degrees over the undirected
    * edge set, via the edge-sum formulation
    *   r = (S_jk/m − (S_j/2m)²) / (S_jj/2m − (S_j/2m)²)
    * with S_jk = Σ dᵤ·dᵥ, S_j = Σ (dᵤ+dᵥ), S_jj = Σ (dᵤ²+dᵥ²) over
    * the m canonical edges (FULL degrees, not excess — pinned
    * convention). The integer sums are exact int64 partial aggregates
    * (bit-replayable); r itself is ONE fixed-shape IEEE expression
    * over them (explicit x·x, no pow), rounded to 6 — the q221
    * modularity discipline, so the gate is tolerance-free. A regular
    * graph (zero variance) yields null on both engines. Shuffles
    * carry only (long, long) pairs; the final row is 1 row.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("dg"))
    und
      .join(deg.select(col("id").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("dg").as("db")), Seq("b"))
      .agg(count(lit(1)).as("m"),
        sum(col("da") * col("db")).as("s_jk"),
        sum(col("da") + col("db")).as("s_j"),
        sum(col("da") * col("da") + col("db") * col("db")).as("s_jj"))
      .withColumn("num",
        (col("s_jk").cast("double") / col("m").cast("double"))
          - (col("s_j").cast("double") / (lit(2.0) * col("m").cast("double")))
            * (col("s_j").cast("double") / (lit(2.0) * col("m").cast("double"))))
      .withColumn("den",
        (col("s_jj").cast("double") / (lit(2.0) * col("m").cast("double")))
          - (col("s_j").cast("double") / (lit(2.0) * col("m").cast("double")))
            * (col("s_j").cast("double") / (lit(2.0) * col("m").cast("double"))))
      // zero variance (regular graph) → null, not ANSI divide-by-zero
      .withColumn("r_round", round(col("num") / nullif(col("den"), lit(0.0)), 6))
      .select("m", "s_jk", "s_j", "s_jj", "r_round")
  }

  /** WEIGHTED fixed-iteration PageRank — [[pageRankFixed]] with rank
    * mass split by edge weight instead of out-degree:
    *   r_k+1(v) = base + (85 · Σ_{(u,v,w)} (r_k(u)·w) div W_u) div 100
    * where W_u = Σ outgoing weights of u. Still EXACT int64 integral
    * arithmetic end-to-end (bit-identical across engines and
    * partitionings), so an oracle unrolls the identical rounds.
    * Caller bound: max(r)·max(w) must fit int64 — r ≤ ~scale (1e9),
    * so weights up to ~10^9 are safe; pre-scale weights
    * down if larger (only RATIOS within one source matter).
    * Duplicate (src, dst) edges are weight-summed first. Same
    * per-round shapes and truncation contract as [[pageRankFixed]].
    */
  def pageRankWeightedFixed(edges: DataFrame, srcCol: String, dstCol: String,
                            weightCol: String, iters: Int = 3): DataFrame = {
    val scale = RankScale
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .filter(col("w") > 0))
    val nodes = cut(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val n = nodes.count()
    require(n > 0, "empty graph")
    val wsum = e.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val base = 15L * scale / (100L * n)
    var ranks = nodes.select(col("id"), lit(scale / n).as("r"))
    for (k <- 1 to iters) {
      val contrib = e
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .join(wsum, "src")
        .select(col("dst").as("id"), expr("(r * w) div wsum").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("cs"))
      val next = nodes
        .join(contrib, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(base) + expr(s"(85 * coalesce(cs, 0L)) div 100")).as("r"))
      ranks = if (k % CheckpointInterval == 0 && k < iters) cut(next) else next
    }
    ranks.select(col("id"), col("r").as("rank_fx"))
  }

  /** HITS hubs & authorities (Kleinberg 1999), `rounds` fixed
    * synchronous rounds in EXACT int64 fixed point — the replay
    * contract of [[pageRankFixed]]: classic HITS L2-normalizes (not
    * integer-replayable), this variant max-normalizes each score
    * vector to `scale` via integer division, which preserves the
    * RANKING (normalization is monotone) and makes every round an
    * unrollable SQL expression. h⁰ = 1; per round: a = Σ_in h then
    * a ← a·scale div max(a); h = Σ_out a then h ← h·scale div max(h).
    * Returns (id, hub_fx, auth_fx) for every vertex — 0 for roles a
    * vertex never plays (e.g. pure sinks have hub_fx 0).
    *
    * Overflow bound: Σ_in h ≤ in_deg·scale, so the normalize multiply
    * needs in_deg·scale² < 2^63 — at scale 1e6 that is max degree
    * < 9.2e6 (re-check before raising it; pre-divide h by a common
    * g if it ever tightens — the q184 discipline).
    *
    * Scale shape per round: two edges⋈scores hash joins + two
    * partial-agged sums; max() is a 1-row broadcast; exchanges carry
    * long pairs only; lineage truncated between rounds.
    */
  def hitsFixed(edges: DataFrame, srcCol: String, dstCol: String,
                rounds: Int = 2): DataFrame = {
    require(rounds >= 1)
    val scale = HitsScale
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val nodes = cut(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    var hub = nodes.select(col("id"), lit(1L).as("h"))
    var auth = nodes.select(col("id"), lit(0L).as("a"))
    for (r <- 1 to rounds) {
      val aRaw = e.join(hub.select(col("id").as("src"), col("h")), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("a"))
      val aFull = nodes.join(aRaw, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("a"), lit(0L)).as("a"))
      val amax = aFull.agg(greatest(max(col("a")), lit(1L)).as("mx"))
      auth = aFull.crossJoin(broadcast(amax))
        .select(col("id"), expr(s"(a * $scale) div mx").as("a"))
      val hRaw = e.join(auth.select(col("id").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("h"))
      val hFull = nodes.join(hRaw, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("h"))
      val hmax = hFull.agg(greatest(max(col("h")), lit(1L)).as("mx"))
      hub = hFull.crossJoin(broadcast(hmax))
        .select(col("id"), expr(s"(h * $scale) div mx").as("h"))
      if (r < rounds) { hub = cut(hub); auth = cut(auth) }
    }
    hub.join(auth, Seq("id"))
      .select(col("id"), col("h").as("hub_fx"), col("a").as("auth_fx"))
  }

  /** Weighted single/multi-source shortest paths: `rounds` synchronous
    * Bellman-Ford relaxations in exact int64 — after round R the
    * distances are exact over all ≤R-hop paths (full convergence at
    * R = longest shortest-path hop count; callers iterate externally
    * if unknown). The weighted sibling of [[bfsLevels]] under the
    * [[pageRankFixed]] fixed-round replay contract: min() is
    * associative and integer, so every round is an unrollable SQL
    * expression and partial-aggregates map-side.
    *
    * Per round: one edges⋈dist hash join + one partial-agged min per
    * dst + one union-min fold back into the standing frame — all
    * exchanges carry (id, long) pairs; lineage truncated between
    * rounds. Weights must be ≥0 ints; max path weight must stay
    * below 2^63 (rounds · max edge weight — re-check before changing
    * weight units, the q184 discipline).
    */
  def ssspFixed(edges: DataFrame, srcCol: String, dstCol: String,
                weightCol: String, sources: DataFrame, idCol: String,
                rounds: Int = 3): DataFrame = {
    require(rounds >= 1)
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    var dist = sources.select(col(idCol).cast("long").as("id"), lit(0L).as("d"))
    for (r <- 1 to rounds) {
      val relax = e
        .join(dist.select(col("id").as("src"), col("d")), "src")
        .select(col("dst").as("id"), (col("d") + col("w")).as("d"))
      val next = dist.unionByName(relax)
        .groupBy(col("id")).agg(min(col("d")).as("d"))
      dist = if (r % 2 == 0 && r < rounds) cut(next) else next
    }
    dist.select(col("id"), col("d").as("dist"))
  }

  /** Multi-source BFS: minimum hop distance from a seed set, level-
    * synchronous frontier expansion (the Pregel iteration pattern).
    *
    * Exactly the distributed shape BFS wants: each round joins ONLY
    * the current frontier (nodes first reached last round) against the
    * edge list — visited nodes never re-enter the join, so total work
    * is O(Σ frontier-adjacent edges) = O(m) across all rounds, not
    * O(m · diameter). Every shuffle carries (8-byte id, 4-byte dist)
    * pairs; the per-round driver action is a single count (the
    * termination test), the same convention as
    * [[Dedup.connectedComponents]], and lineage is truncated each
    * round for the same reason (an unbounded iterative DAG re-executes
    * the whole history once an action lands).
    *
    * Stops when the frontier empties or after `maxHops` rounds —
    * with a hop cap, the result equals "min over walks of length ≤
    * maxHops", which is what a bounded recursive-CTE oracle computes,
    * so the two formulations agree even on graphs with unreached
    * tails. Directed by construction; callers union reversed edges
    * for undirected reachability. Returns (id, dist) for every node
    * within `maxHops` of a seed (seeds at dist 0).
    */
  def bfsLevels(edges: DataFrame, sources: DataFrame, srcCol: String,
                dstCol: String, idCol: String, maxHops: Int = 8): DataFrame = {
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    var dist = cut(sources.select(col(idCol).cast("long").as("id")).distinct()
      .select(col("id"), lit(0).as("dist")))
    var frontier = dist
    var k = 0
    var done = false
    while (k < maxHops && !done) {
      k += 1
      val next = cut(frontier
        .join(e, frontier("id") === e("src"))
        .select(col("dst").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .select(col("id"), lit(k).as("dist")))
      if (next.isEmpty) done = true
      else {
        dist = cut(dist.union(next))
        frontier = next
      }
    }
    dist
  }

  /** PER-PIVOT multi-source BFS: hop distance from EACH pivot
    * separately (contrast [[bfsLevels]], which collapses the seed set
    * to one min-distance). This is the Eppstein-Wang pivot sweep that
    * approximate closeness/harmonic centrality needs: k pivot BFS
    * trees grown simultaneously in ONE level-synchronous loop, the
    * frontier keyed by (pivot, node) so all k trees share every
    * edges-join and shuffle instead of paying k sequential BFS runs.
    *
    * Work per round is O(Σ frontier-adjacent edges) like single-BFS —
    * visited (pivot, node) pairs never re-enter the join — and total
    * state is ≤ k·|V| (8+8+4 bytes per pair), so k is the explicit
    * memory/DAG knob: at 100 TB you pick k ≈ 16-64 pivots (the
    * estimator's error is O(1/√k), independent of graph size) and the
    * whole sweep costs k× one BFS's shuffle bytes but the SAME number
    * of rounds. Lineage truncated per round (localCheckpoint) — the
    * unbounded-iterative-DAG rule every fixpoint operator here follows.
    *
    * Directed by construction (union reversed edges for undirected).
    * Hop-capped like [[bfsLevels]], so a bounded recursive-CTE oracle
    * replays it exactly. Returns (pivot, id, dist), dist 0 at the
    * pivot itself, one row per (pivot, node) within `maxHops`.
    */
  def multiSourceBfs(edges: DataFrame, pivots: DataFrame, srcCol: String,
                     dstCol: String, idCol: String, maxHops: Int = 4): DataFrame = {
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    var dist = cut(pivots.select(col(idCol).cast("long").as("pivot")).distinct()
      .select(col("pivot"), col("pivot").as("id"), lit(0).as("dist")))
    var frontier = dist
    var k = 0
    var done = false
    while (k < maxHops && !done) {
      k += 1
      val next = cut(frontier
        .join(e, frontier("id") === e("src"))
        .select(col("pivot"), col("dst").as("id")).distinct()
        .join(dist, Seq("pivot", "id"), "left_anti")
        .select(col("pivot"), col("id"), lit(k).as("dist")))
      if (next.isEmpty) done = true
      else {
        dist = cut(dist.union(next))
        frontier = next
      }
    }
    dist
  }

  /** Synchronous label propagation (Raghavan et al. 2007), `rounds`
    * fixed rounds — community detection as iterated neighborhood
    * majority vote: every vertex starts as its own label; each round
    * it adopts the most frequent label among its neighbors, ties
    * broken by smallest label. Fixed rounds + deterministic tie-break
    * = the unrollable-replay contract ([[pageRankFixed]]) — the
    * classic formulation breaks ties randomly and is therefore
    * gate-hostile; the deterministic variant converges the same way
    * on strong communities.
    *
    * Scale shape per round: one edges⋈labels hash join, one
    * partial-agged (dst, label) count, one per-dst window pick over
    * the counted frame (bounded fan-in: ≤ deg(v) label rows per
    * vertex). Every exchange carries long pairs/triples. Lineage
    * truncated every other round (no mid-loop action).
    *
    * Directed-edge input is treated as given; pass both directions
    * for undirected majority. Returns (id, label) for EVERY vertex of
    * the edge set: a vertex that receives no votes in a round (zero
    * in-degree) KEEPS its current label — so on directed graphs
    * source-only vertices persist across rounds and keep voting
    * through their out-edges, instead of silently dropping out of the
    * frame after round 1 (the standard LPA retention rule; on
    * symmetrized inputs like q177's this is observably identical
    * because every vertex has in-edges).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 2): DataFrame = {
    require(rounds >= 1)
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    var labels = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .select(col("id"), col("id").as("lab"))
    for (r <- 1 to rounds) {
      // majority pick as a HASH-AGGREGATE argmax — max(struct(c, −lab))
      // is (count desc, label asc) — instead of a per-id sort window:
      // the window was measured 5.6× slower than the weighted-pagerank
      // rounds on the same 40 M edges (ScaleStress ×100) because the
      // (dst, label) frame is edge-sized and the sort can't partial-
      // aggregate; two hash aggregates with map-side combine can
      val votes = e
        .join(labels.select(col("id").as("src"), col("lab")), "src")
        .groupBy(col("dst").as("id"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("vlab"))
      // left-join against the PREVIOUS labels so zero-in-degree
      // vertices keep their label (and their out-edge votes) instead
      // of vanishing after round 1 — long pairs both sides, the
      // no-vote side is the in-degree-0 slice only
      val next = labels.join(votes, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("vlab"), col("lab")).as("lab"))
      // r14: cut EVERY round, not every other — labels is referenced
      // twice per round (votes join + the keep-label left-join), so
      // an uncut round's vote aggregate re-executes inside the next
      // round's plan: one full edge-sized aggregate wasted per uncut
      // round for the price of a node-sized checkpoint write.
      labels = if (r < rounds) cut(next) else next
    }
    labels
  }

  /** Iterated k-core peel: `rounds` synchronous rounds of "drop every
    * vertex with degree < k among survivors", the standard k-core
    * decomposition step (Matula & Beck 1983; the synchronous variant
    * is the scalable one — each round is one degree aggregation, not
    * a priority queue).
    *
    * FIXED round count, like [[pageRankFixed]]'s fixed iterations:
    * the deterministic-replay contract an unrolled SQL oracle can
    * mirror bit-for-bit. Once the peel reaches its fixpoint (the true
    * k-core), further rounds are no-ops, so `rounds` ≥ the peel depth
    * of the graph gives the exact k-core; callers wanting guaranteed
    * convergence loop externally on the returned count. Peel depth in
    * practice is small (it is bounded by the degeneracy ordering
    * depth, typically ≤ tens even on web graphs).
    *
    * Shapes: the canonical undirected edge list persists once
    * (16 B/edge); each round is two semi joins (edge survival = both
    * endpoints alive) + one partial-agged degree count — all shuffles
    * carry long pairs. The alive set shrinks monotonically. No
    * mid-loop action, so lineage is truncated every other round (the
    * fixed-rounds convention of [[pageRankFixed]]).
    *
    * Returns (id, deg) for vertices alive after `rounds` rounds, with
    * deg = their degree among round-(rounds−1) survivors (the degree
    * that justified keeping them — ≥ k by construction).
    */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val und = cut(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var alive = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct()
    var result: DataFrame = null
    for (r <- 1 to rounds) {
      val e2 = und
        .join(alive.select(col("id").as("a")), "a")
        .join(alive.select(col("id").as("b")), "b")
      val deg = e2.select(col("a").as("id"))
        .union(e2.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      result = deg
      alive = deg.select(col("id"))
      if (r % 2 == 0 && r < rounds) { alive = cut(alive) }
    }
    result
  }

  /** MODULARITY decomposition (Newman & Girvan 2004) of a node
    * partition over a SYMMETRIC edge list — the quality score that
    * tells you whether the communities [[labelPropagation]] (or any
    * other partitioner) found are real structure or noise. Per
    * community c:  Q_c = int_c/D − (deg_c/D)²  with D = |directed
    * edges| = 2m, int_c = directed edges with both endpoints in c,
    * deg_c = Σ degrees in c; global Q = Σ_c Q_c ∈ [−1/2, 1).
    *
    * Everything until the final Q_c is EXACT integer arithmetic, and
    * Q_c itself is one fixed-shape IEEE expression over those
    * integers — bit-identical across engines and partitionings, so
    * the whole output is hash-gateable with no tolerance. Shape: two
    * edges⋈labels hash joins (long pairs), partial-agged per-label
    * counts, a 1-row global count broadcast — nothing wider than
    * (long, long) in any exchange, no windows, no driver data.
    *
    * `labels` must be (id, lab) covering every edge endpoint (what
    * [[labelPropagation]] returns for the same edge list). Returns
    * one row per community: (lab, n_nodes, deg_sum, internal, q_term).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
    // (src, dst, la, lb) longs — read by both the global count and the
    // per-community aggregate. Deliberately NOT persisted: with the
    // caller's edge/label frames materialized (their job — iterative
    // lineage is cut where it's born), recomputing two hash joins of
    // longs beats an InMemoryRelation round-trip (isolated A/B on the
    // sf0.1 trade graph: 6.5 → 5.9 s for the q221 composite)
    val tagged = e
      .join(labels.select(col("id").as("src"), col("lab").as("la")), "src")
      .join(labels.select(col("id").as("dst"), col("lab").as("lb")), "dst")
    val tot = tagged.agg(count(lit(1)).as("dd"))
    val per = tagged.groupBy(col("la").as("lab"))
      .agg(count(lit(1)).as("deg_sum"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("internal"))
    val nn = labels.groupBy(col("lab")).agg(count(lit(1)).as("n_nodes"))
    val d = col("dd").cast("double")
    per.join(nn, "lab").crossJoin(broadcast(tot))
      .select(col("lab"), col("n_nodes"), col("deg_sum"), col("internal"),
        (col("internal").cast("double") / d
          - (col("deg_sum").cast("double") / d)
            * (col("deg_sum").cast("double") / d)).as("q_term"))
  }

  /** Louvain-style synchronous move rounds (Blondel et al. 2008, the
    * local-move phase under the fixed-rounds synchronous contract
    * every iterative operator here uses): starting from singleton
    * communities, each round every vertex simultaneously moves to the
    * neighboring (or its own) community maximizing the modularity
    * gain. The gain comparison is EXACT integer algebra: with
    * dd = Σdeg = 2m, moving i into community c scores
    *
    *   score(i, c) = dd·k_{i,c} − k_i·(Σtot_c − k_i·[c = cur_i])
    *
    * (the 2m-scaled numerator of the standard ΔQ with the constant
    * removal term dropped — constant across candidates, so the argmax
    * is identical), ties broken by smaller community label. This is
    * the modularity-weighted refinement of [[labelPropagation]]'s
    * plain majority vote: a vote into a high-degree community is
    * discounted by its Σtot mass, so the giant-label flood LPA is
    * prone to is damped.
    *
    * Int64 envelope: dd·max_deg < 2^63 — safe to dd ~ 1e12 directed
    * edges with degrees ≤ 1e6; past that, scale scores by a common
    * power of two before comparing.
    *
    * Scale shapes: the distinct edge frame persists once; per round,
    * Σtot is a node-sized join + community-sized aggregate, k_{i,c}
    * a partial-agged (src, lab) count, and the argmax the lesson-17
    * max(struct) hash aggregate — long tuples in every exchange,
    * never a sort window over the edge-sized candidate frame. No
    * self-loops expected (callers strip them; a self-loop would
    * count itself in k_{i,c}).
    *
    * Returns (id, lab) after `rounds` synchronous rounds.
    */
  def louvainMoveRounds(edges: DataFrame, srcCol: String, dstCol: String,
                        rounds: Int = 2): DataFrame = {
    require(rounds >= 1)
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct().localCheckpoint(true)
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("k"))
      .localCheckpoint(true) // node-sized, probed every round
    val ddRow = e.agg(count(lit(1)).as("dd"))
    // r14: labels is referenced FOUR times per round (tot, kic, stay,
    // move) and kic twice (stay, move) — un-truncated, each reference
    // re-executed the whole prior-round DAG, so work grew ~4× per
    // round (isolated warm A/B at sf0.1: q272 8.4 → 1.5 s after
    // cutting labels each round + lazily checkpointing kic; output
    // bit-identical). labels is node-sized, kic ≤ edge-sized; the
    // lazy kic cut materializes inside the round's single argmax job
    // and lets both candidate branches share one RDD.
    var labels = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .select(col("id"), col("id").as("lab"))
      .localCheckpoint(true)
    for (r <- 1 to rounds) {
      val tot = labels.join(deg, "id").groupBy(col("lab"))
        .agg(sum(col("k")).as("sigma"))
      val kic = e
        .join(labels.select(col("id").as("dst"), col("lab").as("clab")), "dst")
        .groupBy(col("src").as("id"), col("clab"))
        .agg(count(lit(1)).as("kic"))
        .localCheckpoint(false)
      // candidate rows: the current community (k_{i,cur} looked up,
      // 0 when i has no neighbor at home) ∪ every neighbor community
      val stay = labels.as("l")
        .join(kic.as("kk"),
          col("l.id") === col("kk.id") && col("l.lab") === col("kk.clab"),
          "left_outer")
        .select(col("l.id").as("id"), col("l.lab").as("cur"),
          col("l.lab").as("clab"), coalesce(col("kk.kic"), lit(0L)).as("kic"))
      val move = kic.join(labels, "id")
        .filter(col("clab") =!= col("lab"))
        .select(col("id"), col("lab").as("cur"), col("clab"), col("kic"))
      val scored = stay.union(move)
        .join(deg, "id")
        .join(tot.select(col("lab").as("clab"), col("sigma")), "clab")
        .crossJoin(broadcast(ddRow))
        .select(col("id"),
          (col("dd") * col("kic") - col("k") *
            (col("sigma") -
              when(col("clab") === col("cur"), col("k")).otherwise(0L)))
            .as("score"),
          col("clab"))
      val next = scored.groupBy(col("id"))
        .agg(max(struct(col("score"), (-col("clab")).as("nc"))).as("m"))
        .select(col("id"), (-col("m.nc")).as("lab"))
      labels = if (r < rounds) next.localCheckpoint(true) else next
    }
    labels
  }
}
