package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Specs for the pipeline operator modules: text analysis, dedup,
  * similarity, multimodal. Uses planted fixtures with known answers.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenization and text stats") {
    val df = Seq("the quick  brown fox", "a b").toDF("text")
    val got = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.uniqueTokenCount(col("text")).as("u"),
      TextAnalysis.avgTokenLen(col("text")).as("l")).collect()
    assert(got(0).getLong(0) === 4L)
    assert(got(0).getLong(1) === 4L)
    assert(got(0).getDouble(2) === 16.0 / 4)
    assert(got(1).getLong(0) === 2L)
  }

  test("shingles produce n-k+1 hashes and are order-sensitive") {
    val df = Seq("a b c d e", "b a c d e").toDF("text")
    val got = df.select(TextAnalysis.shingles(col("text"), 3).as("sh")).collect()
    assert(got(0).getSeq[Long](0).length === 3)
    // different word order → different shingle hashes
    assert(got(0).getSeq[Long](0) !== got(1).getSeq[Long](0))
  }

  test("fingerprint is whitespace-normalizing and deterministic") {
    val df = Seq("hello  world", "hello world", "hello mars").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      "the cat is on the mat with a hat",
      "der hund ist mit der katze und das haus",
      "le chat est dans la maison pour le chien",
      "el perro y el gato para la casa como una").toDF("text")
    val got = df.select(TextAnalysis.langId(col("text"))).collect().map(_.getString(0))
    assert(got.toSeq === Seq("en", "de", "fr", "es"))
  }

  test("quality score is in [0,1] and favors long diverse text") {
    val df = Seq(
      "the of and a to in is on for with " * 20, // long, stopword-rich, repetitive
      "x").toDF("text")
    val got = df.select(TextAnalysis.qualityScore(col("text"))).collect().map(_.getDouble(0))
    assert(got.forall(s => s >= 0.0 && s <= 1.0))
    assert(got(0) > got(1))
  }

  test("exact dedup groups identical normalized text") {
    val df = Seq(
      (1L, "same text here"), (2L, "same  text here"), (3L, "different")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", "text").orderBy("keep_id").collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("pageRankFixed matches a hand-rolled fixed-point reference") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val got = Graph.pageRankFixed(edges, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical integral arithmetic in plain Scala (long division = div)
    val scale = 1000000000L
    val nodes = Seq(1L, 2L, 3L)
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
    val out = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(1L))
    val base = 15L * scale / (100L * nodes.size)
    var r = nodes.map(_ -> scale / nodes.size).toMap
    for (_ <- 0 until 3) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, vs) <- out; v <- vs) contrib(v) += r(u) / deg(u)
      r = nodes.map(v => v -> (base + 85L * contrib(v) / 100L)).toMap
    }
    assert(got === r)
    // partition-independence: long adds are associative, so the ranks
    // must be bit-identical under any input layout
    val again = Graph.pageRankFixed(edges.repartition(7), "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("shotBoundaries: cut where the byte histogram jumps, none where it doesn't") {
    // 3 frames of 4 bytes: f0 = all 0x10s, f1 = all 0x10s (d=0),
    // f2 = all 0xF0s (d = 4+4 = 8). threshold 8 → exactly one cut at
    // frame index 2; max_d = 8.
    val payload = Array.fill(8)(0x10.toByte) ++ Array.fill(4)(0xF0.toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, "video", payload, 0, 0, 0),
      Multimodal.MediaRow(2L, "image", payload, 0, 0, 0)). // filtered out
      toDS()
    val got = Multimodal.shotBoundaries(media, chunk = 4, threshold = 8L)
      .collect()
    assert(got.length === 1)
    assert(got.head === Multimodal.ShotSummary(1L, 3L, 1L, 2L, 8L))
  }

  test("tClosenessAudit: hand-computed ordered-EMD on a two-class fixture") {
    // class A: sens [1,1,2]; class B: [2,3,3,3]. Global 1:2, 2:2, 3:3
    // (N=7, m=3). Both classes: emd_num = 17;
    // A: 17e6 div (2·3·7) = 404761, B: 17e6 div (2·4·7) = 303571.
    val df = Seq(("A", 1L), ("A", 1L), ("A", 2L),
      ("B", 2L), ("B", 3L), ("B", 3L), ("B", 3L)).toDF("q", "s")
    val got = Curation.tClosenessAudit(df, Seq("q"), "s", tFx = 350000L)
      .orderBy(col("q")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(got(0) === (("A", 3L, 3L, 17L, 404761L, false)))
    assert(got(1) === (("B", 4L, 3L, 17L, 303571L, true)))
  }

  test("incrementalConnectedComponents ≡ full CC: merge, new node, no-op delta edge") {
    // standing: {1-2} {5-6} {8-9}; delta merges (2,5), adds new node
    // 3 via (3,9), and (1,2) is a no-op intra-component edge
    val standing = Seq((1L, 2L), (5L, 6L), (8L, 9L)).toDF("a", "b")
    val delta = Seq((2L, 5L), (3L, 9L), (1L, 2L)).toDF("a", "b")
    val got = Dedup.incrementalConnectedComponents(standing, delta, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(standing.union(delta), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === full)
    assert(got === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
      3L -> 3L, 8L -> 3L, 9L -> 3L))
  }

  test("katzFixed matches a hand-rolled fixed-point reference; partition-independent") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val got = Graph.katzFixed(edges, "s", "d", iters = 3, alphaDen = 2L,
      scale = 1000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val in = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L), 3L -> Seq(2L))
    var x = Map(1L -> 1000L, 2L -> 1000L, 3L -> 1000L)
    for (_ <- 0 until 3)
      x = x.keys.map(v => v -> (1000L + in(v).map(x).sum / 2L)).toMap
    assert(got === x)
    val again = Graph.katzFixed(edges.repartition(5), "s", "d", iters = 3,
      alphaDen = 2L, scale = 1000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("pageRankWeightedFixed matches a hand-rolled reference; uniform weights = unweighted") {
    val edges = Seq((1L, 2L, 10L), (2L, 1L, 30L), (2L, 3L, 10L), (3L, 1L, 5L))
      .toDF("s", "d", "w")
    val got = Graph.pageRankWeightedFixed(edges, "s", "d", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical integral arithmetic in plain Scala
    val scale = 1000000000L
    val nodes = Seq(1L, 2L, 3L)
    val out = Map(1L -> Seq((2L, 10L)), 2L -> Seq((1L, 30L), (3L, 10L)),
      3L -> Seq((1L, 5L)))
    val wsum = out.map { case (u, es) => u -> es.map(_._2).sum }
    val base = 15L * scale / (100L * nodes.size)
    var r = nodes.map(_ -> scale / nodes.size).toMap
    for (_ <- 0 until 3) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, es) <- out; (v, w) <- es) contrib(v) += r(u) * w / wsum(u)
      r = nodes.map(v => v -> (base + 85L * contrib(v) / 100L)).toMap
    }
    assert(got === r)
    // 2→1 (weight 30) must outrank 2→3 (weight 10)'s recipient boost:
    // node 1 receives 3/4 of node 2's mass
    assert(got(1L) > got(3L))
    // uniform weights reduce to the unweighted fixed-point ranks
    val uw = Graph.pageRankWeightedFixed(
        edges.withColumn("w", lit(7L)), "s", "d", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = Graph.pageRankFixed(edges.select(col("s"), col("d")), "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uw === plain)
  }

  test("triangleCounts on known graphs: K4, K4+pendant, path") {
    // K4: every vertex is in C(3,2)=3 triangles; 4 triangles total.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s", "d")
    val got = Graph.triangleCounts(k4, "s", "d").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // pendant vertex 5 attached to 4 joins no triangle; duplicate and
    // reversed edges must not double-count
    val noisy = k4.union(Seq((4L, 5L), (2L, 1L), (1L, 2L)).toDF("s", "d"))
    val got2 = Graph.triangleCounts(noisy, "s", "d").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 === Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // a path has no triangles → empty result
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    assert(Graph.triangleCounts(path, "s", "d").count() === 0L)
  }

  // q239's gate is backed here: hand-derived r on a star (perfectly
  // disassortative, −1), K4+pendant (−15/27 = −5/9 exactly), and a
  // regular graph (zero degree variance → null on both engines).
  test("degreeAssortativity: star, K4+pendant, regular-graph null") {
    def r(edges: Seq[(Long, Long)]): Option[Double] = {
      val row = Graph.degreeAssortativity(
        edges.toDF("s", "d"), "s", "d").collect()(0)
      if (row.isNullAt(4)) None else Some(row.getDouble(4))
    }
    assert(r(Seq((1L, 2L), (1L, 3L), (1L, 4L))) === Some(-1.0))
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    assert(r(k4p) === Some(-0.555556)) // −5/9 rounded to 6
    assert(r(Seq((1L, 2L), (2L, 3L), (3L, 1L))) === None) // K3: regular
  }

  // q237's gate is backed here: hand-computed coefficients on the
  // "kite" (triangle {1,2,3} + pendant 4 on 3) — incl. the deg<2 → 0
  // pin and the triangle-free node appearing at 0.
  test("clusteringCoefficients: kite graph hand values, every node present") {
    val kite = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "d")
    val got = Graph.clusteringCoefficients(kite, "s", "d")
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1L, 1000000L),   // both neighbors connected
      (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L),    // 2·1e6 div (3·2)
      (4L, 1L, 0L, 0L)))        // pendant: C(1,2)=0 → pinned 0
  }

  test("bfsLevels: hop distances on a path with a shortcut, hop cap, unreachable tail") {
    // 1→2→3→4→5 plus shortcut 1→4: dist(4)=1 via the shortcut (not 3),
    // and dist(5)=2 through it.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("s", "d")
    val seeds = Seq(1L).toDF("v")
    val got = Graph.bfsLevels(edges, seeds, "s", "d", "v", maxHops = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 2))
    // hop cap truncates: maxHops=1 keeps only the seed's direct successors
    val capped = Graph.bfsLevels(edges, seeds, "s", "d", "v", maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped === Map(1L -> 0, 2L -> 1, 4L -> 1))
    // directed: nothing upstream of the seed; disconnected 9→10 unreached;
    // multi-source takes the min over seeds
    val edges2 = edges.union(Seq((9L, 10L)).toDF("s", "d"))
    val multi = Graph.bfsLevels(edges2, Seq(3L, 9L).toDF("v"), "s", "d", "v",
        maxHops = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(multi === Map(3L -> 0, 9L -> 0, 4L -> 1, 10L -> 1, 5L -> 2))
  }

  test("labelPropagation: two cliques with one bridge resolve to two communities") {
    // K4 on {1..4} and K4 on {11..14}, bridged by 4-11. Labels start
    // as own ids; round 1 pulls each clique toward its min id, round 2
    // consolidates. The bridge must not merge the cliques.
    def k4(base: Long) = for {
      i <- 0L to 3L; j <- 0L to 3L if i < j
    } yield (base + i, base + j)
    val und = (k4(1L) ++ k4(11L) :+ (4L, 11L))
    val edges = (und ++ und.map(_.swap)).toDF("s", "d")
    val got = Graph.labelPropagation(edges, "s", "d", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
    // each clique unanimous; communities distinct
    val c1 = Set(1L, 2L, 3L, 4L).map(got)
    val c2 = Set(11L, 12L, 13L, 14L).map(got)
    assert(c1.size === 1 && c2.size === 1 && c1 != c2)
    // deterministic: same input, same labels on a different layout
    val again = Graph.labelPropagation(edges.repartition(7), "s", "d", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("louvainMoveRounds: hand-replayed gains on two bridged cliques") {
    // same two-K4 + bridge graph as the LPA spec; both rounds replayed
    // by hand with score = dd·k_ic − k_i·(σ_c − k_i·[c = cur]), dd=26.
    // Round 1 (singletons): each K4{1..4} node picks its min-degree
    // smallest-label neighbor (1→2, 2/3/4→1; 11→12, 12→13, 13/14→12);
    // round 2 consolidates each clique (stay scores 31/28 beat every
    // move) and pulls the stragglers in (1→lab1 at 48, 12→lab12 at 48).
    def k4(base: Long) = for {
      i <- 0L to 3L; j <- 0L to 3L if i < j
    } yield (base + i, base + j)
    val und = (k4(1L) ++ k4(11L) :+ (4L, 11L))
    val edges = (und ++ und.map(_.swap)).toDF("s", "d")
    val got = Graph.louvainMoveRounds(edges, "s", "d", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      11L -> 12L, 12L -> 12L, 13L -> 12L, 14L -> 12L))
    // the heavy-community discount is live: round-1 node 1 prefers a
    // degree-3 singleton (score 17) over the degree-4 bridge node 4
    // (score 14) — LPA's unweighted vote cannot tell them apart
    val r1 = Graph.louvainMoveRounds(edges, "s", "d", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(1L) === 2L && r1(4L) === 1L && r1(11L) === 12L)
    // layout invariance
    val again = Graph.louvainMoveRounds(edges.repartition(7), "s", "d", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("ssspFixed: Bellman-Ford rounds match hand distances; bounded horizon") {
    // 1 -(5)-> 2 -(1)-> 3 -(1)-> 4; 1 -(10)-> 3 (longer direct edge);
    // parallel 1->2 edge of weight 7 must lose to the 5
    val e = Seq((1L, 2L, 5L), (1L, 2L, 7L), (2L, 3L, 1L),
      (3L, 4L, 1L), (1L, 3L, 10L)).toDF("s", "d", "w")
    val src = Seq(Tuple1(1L)).toDF("id")
    def run(r: Int) = Graph.ssspFixed(e, "s", "d", "w", src, "id", rounds = r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // round 1: only direct edges relaxed
    assert(run(1) === Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
    // round 2: 1->2->3 (6) beats direct 10; 4 reached via 3@10+1=11
    assert(run(2) === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 11L))
    // round 3: 4 improves through the 3-hop path (5+1+1)
    val r3 = run(3)
    assert(r3 === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 7L))
    // partition invariance (mergeable mins end-to-end)
    assert(Graph.ssspFixed(e.repartition(5), "s", "d", "w", src, "id", 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap === r3)
  }

  test("hitsFixed: hand-rolled 2-round reference on a small bipartite graph") {
    // customers 2,4,6 -> suppliers 1,3: c2 buys from both, c4 and c6
    // from s1 only. s1 (in-deg 3) must out-rank s3 (in-deg 1) as
    // authority; c2 (buys from both) must be the top hub.
    val e = Seq((2L, 1L), (2L, 3L), (4L, 1L), (6L, 1L)).toDF("s", "d")
    val got = Graph.hitsFixed(e, "s", "d", rounds = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // hand-unroll with scale = 1e6, h0 = 1:
    // a1: s1=3, s3=1 -> max 3 -> a1n: s1=1000000, s3=333333
    // h1: c2=1333333, c4=1000000, c6=1000000 -> h1n: c2=1000000, c4=c6=750000
    // a2: s1=1000000+750000+750000=2500000, s3=1000000
    //     -> a2n: s1=1000000, s3=400000
    // h2: c2=1400000, c4=1000000, c6=1000000
    //     -> h2n: c2=1000000, c4=c6=714285
    assert(got(1L) === (0L, 1000000L))   // pure sink: hub 0, top authority
    assert(got(3L) === (0L, 400000L))
    assert(got(2L) === (1000000L, 0L))   // pure source: top hub, auth 0
    assert(got(4L) === (714285L, 0L))
    assert(got(6L) === (714285L, 0L))
    // partition invariance (mergeable aggregates end-to-end)
    val again = Graph.hitsFixed(e.repartition(5), "s", "d", rounds = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again === got)
  }

  test("labelPropagation: directed source-only vertices persist and keep voting") {
    // 0 -> 1 -> 2 (pure chain). Vertex 0 has no in-edges: it must stay
    // in the output every round with its own label, and its round-2
    // vote (lab(0)=0 pushed into 1, then 1's label into 2) must land —
    // before the retention fix 0 vanished after round 1 and round 2
    // saw no votes from it.
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("s", "d")
    val got = Graph.labelPropagation(edges, "s", "d", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(0L, 1L, 2L), s"source-only vertex dropped: $got")
    assert(got(0L) === 0L)   // no in-votes ever: keeps own label
    assert(got(1L) === 0L)   // round 2: vote from the persisted 0
    assert(got(2L) === 0L)   // round 2 sees 1's round-1 label (= 0)
  }

  test("kCorePeel: iterated peel matches hand-peel; fixpoint on a clique+tail") {
    // K4 (nodes 1-4) with a pendant path 4-5-6: the 2-core is exactly
    // K4 ∪ {nothing of the path} — peeling removes 6 (deg 1), then 5.
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("s", "d")
    val core2 = Graph.kCorePeel(g, "s", "d", k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=3: K4 survives with degree 3 each; k=4: empty
    val core3 = Graph.kCorePeel(g, "s", "d", k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Graph.kCorePeel(g, "s", "d", k = 4, rounds = 4).count() === 0L)
    // a single round does ONE synchronous peel, not the fixpoint:
    // after round 1 on the k=2 peel, 6 is gone but 5 (deg 2 initially)
    // still stands with its recomputed-next-round degree pending
    val one = Graph.kCorePeel(g, "s", "d", k = 2, rounds = 1)
      .collect().map(r => r.getLong(0)).toSet
    assert(one === Set(1L, 2L, 3L, 4L, 5L))
    // duplicate/reversed edges are canonicalized, not double-counted
    val noisy = g.union(Seq((2L, 1L), (1L, 2L)).toDF("s", "d"))
    val core2b = Graph.kCorePeel(noisy, "s", "d", k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2b === core2)
  }

  test("triangleCounts closing join: the over-threshold SHUFFLE branch matches broadcast") {
    // the closing join's broadcast is size-gated (broadcastEdgeLimit);
    // at 100× scale the gate flips to the hash-partitioned branch,
    // which the default-path tests never execute — force it with
    // limit 0 and require identical counts AND no broadcast in the plan
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L)).toDF("s", "d")
    val viaBroadcast = Graph.triangleCounts(g, "s", "d").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val shuffled = Graph.triangleCounts(g, "s", "d", broadcastEdgeLimit = 0L)
    val viaShuffle = shuffled.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaShuffle === viaBroadcast)
    assert(viaShuffle.toMap.apply(4L) === 4L) // K4's 3 + the 4-5-6 triangle
    // and the forced run really took the un-hinted branch: no explicit
    // broadcast hint in its logical plan (tiny-data AQE may still
    // broadcast on SIZE — that's AQE's call; the gate we own is the
    // hint), while the default path carries one
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
        case r: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => r
      }.nonEmpty
    assert(!hinted(shuffled), "limit 0 must not plant a broadcast hint")
    assert(hinted(Graph.triangleCounts(g, "s", "d")),
      "default path should broadcast the closing edge set at this size")
  }

  test("q130 outlier counts equal an exact BigInt replay at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.Stats.q130Outliers(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
          .cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expect = rows.groupBy(_._1).map { case (et, g) =>
      val vs = g.map(x => BigInt(x._2))
      val n = BigInt(vs.length); val s1 = vs.sum; val s2 = vs.map(v => v * v).sum
      val spread = n * s2 - s1 * s1
      def out(k: Int) = vs.count(v => { val d = n * v - s1; d * d > k * k * spread })
      et -> ((vs.length.toLong, out(2).toLong, out(3).toLong))
    }
    assert(got === expect)
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    val v1 = Seq((1L, "aaa"), (2L, "bbb"), (3L, "ccc")).toDF("doc_id", "text")
    val v2 = Seq((2L, "bbb"), (3L, "ccc revised"), (4L, "ddd")).toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(2), r.isNullAt(3)))
    assert(got.toSeq === Seq(
      (1L, "removed", false, true),
      (3L, "changed", false, false),
      (4L, "added", true, false)))
  }

  test("minhash LSH finds planted near-duplicates") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup = base.replace("sigma", "sygma")
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val df = Seq((1L, base), (2L, nearDup), (3L, other), (4L, base))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text",
      k = 3, numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always found
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // disjoint doc excluded
  }

  test("minhashIndexProbe: probes find index twins, novel content stays silent") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val index = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val probes = Seq(
      (101L, base),                          // exact twin of index 1
      (102L, base.replace("sigma", "sygma")), // near twin of index 1
      (103L, "wholly novel content never seen before anywhere at all today"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashIndexProbe(index, probes, "doc_id", "text",
        k = 3, numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((101L, 1L))) // identical text: guaranteed hit
    assert(got.find(t => t._1 == 101L && t._2 == 1L).get._3 === 1.0)
    assert(!pairs.exists(_._1 == 103L)) // novel probe matches nothing
    assert(!pairs.exists(_._2 == 2L))   // nothing resembles index 2
  }

  test("simhash: identical text → distance 0; similar → small; disjoint → large") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely unrelated words entirely elsewhere tonight"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(1)) <
      java.lang.Long.bitCount(sigs(0) ^ sigs(2)))
  }

  test("jaccard pairs: exact ground truth") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", k = 2, threshold = 0.1, maxId = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L))) // shares 4 of 6 bigrams ≈ 0.5
  }

  test("cosine and brute-force top-k are exact") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
    val got = Similarity.bruteForceTopK(q, vecs, "vec_id", "vec_id",
      "embedding", "embedding", 3).orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L)) // by cosine desc
    assert(math.abs(got(1).getDouble(2)) < 1e-12) // orthogonal → 0
    assert(math.abs(got(2).getDouble(2) + 1.0) < 1e-12) // opposite → -1
  }

  test("lsh topk recall vs brute force on real embeddings") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
      "embedding", "embedding", 5)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, e, "vec_id", "vec_id",
      "embedding", "embedding", 5, numPlanes = 4, dim = 64)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.2, s"LSH recall $recall too low") // 4 planes, 1-bit probes
  }

  test("int8-quantized ranking recalls the float exact top-10 (q119 vs q34)") {
    // quantization loss is bounded: the integer ranking must recover
    // most of the float top-10 — pins the recall the q119 Scaladoc
    // claims (measured 0.97 at sf0.01; floor 0.8 allows data drift)
    val exact = graft.queries.Pipeline.q34CosineTopK(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = graft.queries.Pipeline.q119QuantizedAnn(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall $recall below 0.8")
  }

  // q240's gate is backed here: code packing verified bit-for-bit
  // against Long arithmetic on a planted sign pattern, the Hamming
  // ranking on vectors with known flipped-dim counts, and the float
  // recall of the sign ranking on real embeddings (measured 0.30 at
  // sf0.001 — 64 sign bits alone, no rerank; floor 0.2 allows data
  // drift and is still ~15× the chance level. In a real deployment
  // this rung SHORTLISTS for an exact rerank — q119/q34 are the
  // rerank kernels — so ranking recall, not end recall, is what the
  // floor pins).
  test("sign-bit codes pack exactly and hamming ranks by flipped dims") {
    val base = Array.fill(64)(1.0f)
    def flip(n: Int) = { val v = base.clone(); (0 until n).foreach(i => v(i) = -1.0f); v }
    val df = Seq((0L, base), (1L, flip(1)), (2L, flip(3)), (3L, flip(5)))
      .toDF("vec_id", "embedding")
    val codes = Similarity.signBitCodes(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(codes(0L) === ((0xFFFFFFFFL, 0xFFFFFFFFL)))   // all 64 bits set
    assert(codes(1L) === ((0xFFFFFFFEL, 0xFFFFFFFFL)))   // dim 0 cleared
    assert(codes(3L) === ((0xFFFFFFE0L, 0xFFFFFFFFL)))   // dims 0-4 cleared
    val got = Similarity.hammingTopK(df.filter(col("vec_id") === 0L), df,
      "vec_id", "vec_id", "embedding", "embedding", 3)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    assert(got.map(_.getLong(2)).toSeq === Seq(1L, 3L, 5L)) // exact hamming
  }

  test("sign-bit hamming ranking recalls the float exact top-10 (q240 vs q34)") {
    val exact = graft.queries.Pipeline.q34CosineTopK(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sign = graft.queries.Pipeline.q240SignBitAnn(spark, sf)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect sign).size.toDouble / exact.size
    assert(recall >= 0.2, s"sign-bit recall $recall below 0.2")
  }

  test("containment pairs flag a planted excerpt that symmetric jaccard dilutes") {
    val words = (1 to 220).map(i => s"w$i")
    val long = words.mkString(" ")                 // 220 tokens, 218 shingles
    val excerpt = words.slice(40, 60).mkString(" ") // 20 tokens ⊂ long
    val other = (1 to 50).map(i => s"z$i").mkString(" ")
    val df = Seq((0L, long), (1L, excerpt), (2L, other)).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text",
      k = 3, threshold = 0.5, maxId = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // excerpt → long is fully contained; the reverse direction and the
    // unrelated doc must NOT appear at this threshold
    assert(pairs.keySet === Set((1L, 0L)))
    assert(pairs((1L, 0L)) === 1.0)
    // and the symmetric jaccard for the same pair is diluted below it
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      k = 3, threshold = 0.01, maxId = 10L)
      .filter(col("id_a") === 0L && col("id_b") === 1L)
      .collect()(0).getDouble(2)
    assert(j < 0.1, s"jaccard $j should be diluted")
  }

  test("q152 JL projection preserves pairwise cosine structure (corr + recall floors)") {
    import graft.functions.VectorFunctions.vec_jl_project
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        vec_jl_project(col("embedding"), 32, 1e6).as("p"))
      .orderBy("vec_id").collect()
    val V = rows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val P = rows.map(_.getSeq[Long](2).map(_.toDouble).toArray)
    val n = V.length
    assert(n >= 100 && P.head.length === 32)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    // Pearson correlation of exact vs projected cosine over all pairs —
    // the JL guarantee in aggregate (measured 0.62 at sf0.001 with
    // k=32, equal to a true-random sign matrix; floor allows drift)
    val (ce, cp) = (for { i <- 0 until n; j <- (i+1) until n }
      yield (cos(V(i), V(j)), cos(P(i), P(j)))).unzip
    val m = ce.length.toDouble
    val (me, mp) = (ce.sum / m, cp.sum / m)
    val cov = ce.zip(cp).map { case (x, y) => (x - me) * (y - mp) }.sum
    val corr = cov / math.sqrt(
      ce.map(x => (x - me) * (x - me)).sum * cp.map(y => (y - mp) * (y - mp)).sum)
    assert(corr > 0.5, s"JL cosine correlation $corr below 0.5")
    // top-10 recall well above the ~0.02 chance level (measured 0.22)
    def top10(m: Array[Array[Double]]): Map[Int, Set[Int]] =
      (0 until n).map { i =>
        i -> (0 until n).filter(_ != i)
          .sortBy(j => -cos(m(i), m(j))).take(10).toSet
      }.toMap
    val (te, tp) = (top10(V), top10(P))
    val recall = (0 until n).map(i => (te(i) intersect tp(i)).size / 10.0).sum / n
    assert(recall >= 0.1, s"JL top-10 recall $recall below 0.1")
  }

  test("euclideanCentroids recovers separated cluster means — unnormalized, deterministic") {
    import graft.operators.Similarity
    // two tight clusters far from the unit sphere: spherical k-means
    // would collapse them to unit vectors; Euclidean means must sit at
    // ~±10.02 with norm ≈ 20 — pins that PQ training is NOT spherical
    val rows = ((0 until 50).map(i => Array.fill(4)(10.0f + (i % 5) * 0.01f)) ++
      (0 until 50).map(i => Array.fill(4)(-10.0f - (i % 5) * 0.01f)))
      .map(Tuple1(_))
    val df = rows.toDF("v")
    val cents = Similarity.euclideanCentroids(df, "v", 2, iters = 4, dim = 4)
    val means = cents.map(c => c.sum / c.length).sorted
    assert(math.abs(means(0) - (-10.02)) < 0.05, means.mkString(","))
    assert(math.abs(means(1) - 10.02) < 0.05, means.mkString(","))
    // bit-identical retrain (fixed-point sums + seeded init)
    val again = Similarity.euclideanCentroids(df, "v", 2, iters = 4, dim = 4)
    assert(cents.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("PQ top-k: ADC+rerank recalls exact neighbors; runs are deterministic") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    def run() = Similarity.pqTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", k = 10, m = 8, ksub = 16, dim = 64,
        iters = 2, rerank = 50)
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    val r1 = run()
    assert(r1 === run()) // deterministic end-to-end (training included)
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", 10)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = r1.count(x => exact.contains((x._1, x._2)))
    assert(hits >= (exact.size * 0.6).toInt,
      s"PQ recall ${hits.toDouble / exact.size} below 0.6 at sf0.001")
    // every query returns exactly k rows with ranks 1..10
    r1.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).toSeq.sorted === (1 to 10)) }
  }

  test("IVF-PQ top-k: cell-pruned ADC+rerank recalls exact neighbors; deterministic") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    def run() = Similarity.ivfPqTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", k = 10, numCells = 8, nProbe = 4,
        m = 8, ksub = 16, dim = 64, iters = 2, rerank = 50)
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    val r1 = run()
    assert(r1 === run()) // both trained models are fixed-point deterministic
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", 10)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = r1.count(x => exact.contains((x._1, x._2)))
    assert(hits >= (exact.size * 0.4).toInt,
      s"IVF-PQ recall ${hits.toDouble / exact.size} below 0.4 at sf0.001 (half the cells probed)")
    // the IVF lever actually prunes: results ⊂ probed cells — a
    // candidate outside the query's probe list can never be returned
    val cents = Similarity.trainCentroids(e, "embedding", 8, 2, 64)
    val cells = Similarity.assignCells(e, "vec_id", "embedding", cents)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    r1.foreach { case (_, cid, _) => assert(cells.contains(cid)) }
    val usedCells = r1.groupBy(_._1).map { case (qid, rows) =>
      rows.map(r => cells(r._2)).toSet.size }
    assert(usedCells.forall(_ <= 4), "a query returned candidates from more cells than nProbe")
  }

  test("IVF-PQ residual encoding (classic IVFADC) on well-clustered data: deterministic, recalls neighbors") {
    import graft.operators.Similarity
    // 4 tight clusters around distinct coordinate directions: cells
    // explain their members, so residuals are SMALL — the regime where
    // residual codes beat raw codes (the synthetic-corpus gate q179
    // measured the opposite regime and keeps raw codes; see its
    // decision record)
    val rows = (0 until 800).map { i =>
      val c = i % 4
      val v = Array.fill(64)(0.0f)
      v(c * 16) = 1.0f
      // deterministic small jitter, unique per vector
      v((i * 7) % 64) += 0.05f + (i % 11) * 0.003f
      v((i * 13) % 64) += 0.04f
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") % 80 === 0)
    def run() = Similarity.ivfPqTopK(q, df, "vec_id", "vec_id",
        "embedding", "embedding", k = 5, numCells = 4, nProbe = 2,
        m = 8, ksub = 16, dim = 64, iters = 2, rerank = 25, residual = true)
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    val r1 = run()
    assert(r1 === run()) // deterministic incl. residual codebook training
    // rule 16: the residual is the native vec_sub, never an interpreted
    // zip_with lambda (shared mutable state under concurrent training);
    // vec_sub must match the zip_with arithmetic bit-for-bit on every row
    import graft.functions.VectorFunctions.{vec_mat_argmax, vec_sub}
    val cents = Similarity.trainCentroids(df, "embedding", 4, 2, 64)
    val centsLit = array(cents.toIndexedSeq.map(c => array(c.toIndexedSeq.map(lit(_)): _*)): _*)
    val cell = element_at(centsLit, vec_mat_argmax(col("cv"), cents) + 1)
    val residuals = df.select(Similarity.normalized(col("embedding")).as("cv"))
      .select(vec_sub(col("cv"), cell).as("a"), zip_with(col("cv"), cell, (x, y) => x - y).as("b"))
    assert(residuals.count() === 800)
    assert(residuals.filter(not(col("a") <=> col("b"))).count() === 0)
    val exact = Similarity.bruteForceTopK(q, df, "vec_id", "vec_id",
        "embedding", "embedding", 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = r1.count(x => exact.contains((x._1, x._2)))
    assert(hits >= (exact.size * 0.6).toInt,
      s"residual IVF-PQ recall ${hits.toDouble / exact.size} below 0.6 on clustered data")
  }

  test("vec_jl_project rejects shapes whose hash intermediates would overflow int64") {
    import graft.functions.VectorFunctions.vec_jl_project
    // k beyond the bound fails at construction, loudly
    intercept[IllegalArgumentException] {
      graft.functions.VecJLProject(
        org.apache.spark.sql.catalyst.expressions.Literal(null), 100, 1e6)
    }
    // oversized input vector fails at eval, loudly — never wraps
    val big = Seq(Tuple1(Array.fill(200)(1.0f))).toDF("v")
    val e = intercept[Exception] {
      big.select(vec_jl_project(col("v"), 32, 1e6)).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
    // the registered 64-dim × k=32 shape stays accepted
    val ok = Seq(Tuple1(Array.fill(64)(1.0f))).toDF("v")
      .select(vec_jl_project(col("v"), 32, 1e6)).collect()
    assert(ok(0).getSeq[Long](0).length === 32)
  }

  test("alternating CC labels a 200-node path in few rounds; agrees with min-label") {
    // path 0-1-2-...-199: diameter 199 — the shape where plain
    // min-label propagation needs diameter rounds; the alternating
    // large-star/small-star algorithm converges in polylog rounds
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val alt = Dedup.connectedComponentsAlternating(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt.size === 200)
    assert(alt.values.forall(_ === 0L))
    // parity on a mixed graph (two cliques + a bridge + a singleton pair)
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (3L, 10L), (50L, 51L)).toDF("a", "b")
    val viaAlt = Dedup.connectedComponentsAlternating(g, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProp = Dedup.connectedComponents(g, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAlt === viaProp)
    assert(viaAlt(12L) === 1L && viaAlt(51L) === 50L)
  }

  test("driver CC: cap + 1 pairs fail loudly, naming the count and the cap") {
    val g = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 10L)).toDF("a", "b")
    val err = intercept[IllegalArgumentException](
      Dedup.localConnectedComponents(g, "a", "b", cap = 3))
    assert(err.getMessage.contains("4 pairs exceed the cap of 3"), err.getMessage)
    // at the cap exactly it runs and labels by the component min
    val ok = Dedup.localConnectedComponents(g, "a", "b", cap = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L))
  }

  test("signaturePairs leaves no cached frame in the session's CacheManager") {
    val sigs = Seq((1L, 0L), (2L, 1L), (3L, 0xFFFFL << 48)).toDF("media_id", "sig")
    val pairs = Dedup.signaturePairs(sigs, "media_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cache.lookupCachedData(
      sigs.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
  }

  // q75's rows-only gate is backed here: planted near-identical
  // vectors must land in one cluster with the lowest id kept;
  // well-separated vectors must all survive as their own cluster.
  test("semanticDedup keeps one representative per planted near-dup group") {
    val rnd = new scala.util.Random(1)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-3f)
    val a = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val b = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val dups = (0L until 4L).map(i => (i, jitter(a))) ++       // group A: ids 0-3
      (10L until 13L).map(i => (i, jitter(b))) :+              // group B: ids 10-12
      (20L, Array.fill(64)(rnd.nextFloat() - 0.5f))            // singleton
    val df = dups.toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding",
        threshold = 0.99, numCells = 4, iters = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length === 8)
    (0L until 4L).foreach(i => assert(byId(i)._2 === 0L))   // group A → cluster 0
    (10L until 13L).foreach(i => assert(byId(i)._2 === 10L))
    assert(byId(20L)._2 === 20L && byId(20L)._3)
    assert(out.count(_._3) === 3) // exactly one keeper per group
  }

  // q322's blocking gate is backed here with EXACT geometry: a single
  // cell makes the blocked operator exact DBSCAN, so the planted
  // core/border/noise chain must come out verbatim — cluster (7 near-
  // identical at u), side point s at cos 0.3 to u (core: sees cluster
  // + border), border b at cos 0.286 to s but ~0 to u (1 neighbor,
  // which is core), orthogonal z (noise).
  test("dbscanCellRoles: planted core/border/noise chain, exact with one cell") {
    val rnd = new scala.util.Random(7)
    def vec(parts: (Int, Double)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a
    }
    val cluster = (0L until 7L).map { i =>
      val a = vec(0 -> 1.0)
      a(1) = (rnd.nextDouble() * 1e-3).toFloat // tiny jitter off-axis
      (i, a)
    }
    val s = (10L, vec(0 -> 0.3, 1 -> 0.9539392))
    val b = (20L, vec(1 -> 0.3, 2 -> 0.9539392))
    val z = (30L, vec(3 -> 1.0))
    val df = (cluster :+ s :+ b :+ z).toDF("vec_id", "embedding")
    val out = Similarity.dbscanCellRoles(df, "vec_id", "embedding",
        thetaFx = 250000000000L, minPts = 5L, numCells = 1, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.size === 10)
    (0L until 7L).foreach(i => assert(out(i) === ((7L, "core")), s"id $i"))
    assert(out(10L) === ((8L, "core")))
    assert(out(20L) === ((1L, "border")))
    assert(out(30L) === ((0L, "noise")))
    // census guard: an overfull cell is DROPPED (undercounts to zero,
    // never an O(m²) reducer) — with maxCell below the cell size every
    // point must come back as 0-neighbor noise, and the drop must be
    // REPORTED through the census hook (round-12 "no silent caps"):
    // each of the 3 default grids drops its single 10-point cell
    val census = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val guarded = Similarity.dbscanCellRoles(df, "vec_id", "embedding",
        thetaFx = 250000000000L, minPts = 5L, numCells = 1, iters = 1,
        maxCell = 5, onCensus = (g, c, r) => census += ((g, c, r)))
      .collect().map(r => (r.getLong(1), r.getString(2)))
    assert(guarded.length === 10)
    assert(guarded.forall(_ === ((0L, "noise"))))
    assert(census.toSeq === Seq((0, 1L, 10L), (1, 1L, 10L), (2, 1L, 10L)))
    // and the unguarded run above must have reported zero drops — the
    // hook fires per grid either way, with a zero count
    val clean = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    Similarity.dbscanCellRoles(df, "vec_id", "embedding",
        thetaFx = 250000000000L, minPts = 5L, numCells = 1, iters = 1,
        onCensus = (g, c, r) => clean += ((g, c, r))).count()
    assert(clean.toSeq === Seq((0, 0L, 0L), (1, 0L, 0L), (2, 0L, 0L)))
  }

  // q54's rows-only gate is backed here: the GK sketch at accuracy
  // 10000 must land within one quantity unit of the exact sort-based
  // percentile on every group/percentile pair.
  test("approx percentiles track exact percentiles within tolerance") {
    val exact = graft.queries.Stats.q42Percentiles(spark, sf).collect()
    val approx = graft.queries.Stats.q54ApproxPercentiles(spark, sf).collect()
    assert(exact.length === approx.length)
    exact.zip(approx).foreach { case (e, a) =>
      assert(e.getString(0) === a.getString(0))
      (1 to 4).foreach { i =>
        val ev = e.getDouble(i)
        val av = a.get(i).toString.toDouble
        assert(math.abs(ev - av) <= 1.0,
          s"group ${e.getString(0)} p$i: exact $ev vs approx $av")
      }
    }
  }

  test("multimodal decode stub is deterministic and feature stats flow") {
    val a = Multimodal.MediaCodec.decodeStub("hello".getBytes)
    val b = Multimodal.MediaCodec.decodeStub("hello".getBytes)
    assert(a.toSeq === b.toSeq)
    assert(a.length === 16)
    val stats = Multimodal.featureStats(spark, sf).collect()
    assert(stats.map(_.getString(0)).toSeq === Seq("audio", "image", "video"))
    assert(stats.map(_.getLong(1)).sum === 500L)
  }

  test("media frame sampling and resize stubs preserve batch shape") {
    val payload = (0 until 100).map(_.toByte).toArray
    assert(Multimodal.MediaCodec.resizeStub(payload, 10).length === 10)
    val frames = Multimodal.MediaCodec.frameSampleStub(payload, 10, 2)
    assert(frames.length === 5)
    assert(frames(0).length === 10)
  }

  /** An in-memory PNG with known pixels: left half black, right half
    * white — so the decoded luminance histogram is exactly half bin 0,
    * half bin 15, and any resize keeps dims ∝ the 2:1 aspect. */
  private def plantedPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("real javax.imageio decode: planted PNG yields exact dims, channels, histogram") {
    val png = plantedPng(64, 32)
    val img = Multimodal.MediaCodec.decodeImage(png)
    assert(img.isDefined, "planted PNG must decode")
    assert(img.get.getWidth === 64 && img.get.getHeight === 32)
    assert(img.get.getRaster.getNumBands === 3)
    val feat = Multimodal.MediaCodec.imageFeature(img.get)
    assert(feat.length === 16)
    assert(math.abs(feat(0) - 0.5f) < 1e-6, s"black half: ${feat(0)}")
    assert(math.abs(feat(15) - 0.5f) < 1e-6, s"white half: ${feat(15)}")
    assert(feat.slice(1, 15).forall(_ === 0f))
    // determinism: decode twice, same feature
    assert(Multimodal.MediaCodec.imageFeature(
      Multimodal.MediaCodec.decodeImage(png).get).toSeq === feat.toSeq)
    // non-image bytes must fall to the stub path, not throw
    assert(Multimodal.MediaCodec.decodeImage("not an image".getBytes).isEmpty)
  }

  test("real image resize bounds the longer edge, keeps aspect, re-encodes decodably") {
    val png = plantedPng(64, 32)
    val resized = Multimodal.MediaCodec.resizeImage(png, 16).get
    val img = Multimodal.MediaCodec.decodeImage(resized).get
    assert(img.getWidth === 16 && img.getHeight === 8)
    // never upscale: a small image passes through at original dims
    val same = Multimodal.MediaCodec.decodeImage(
      Multimodal.MediaCodec.resizeImage(png, 1024).get).get
    assert(same.getWidth === 64 && same.getHeight === 32)
    // not-an-image → None → caller falls back to the stub
    assert(Multimodal.MediaCodec.resizeImage("plain text".getBytes, 16).isEmpty)
  }

  test("extractFeatures routes decodable payloads to the real codec, others to the stub") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", plantedPng(32, 32), 999, 999, 0),
      Multimodal.MediaRow(2L, "image", "utf-8 stand-in".getBytes, 10, 20, 0),
      Multimodal.MediaRow(3L, "audio", Array[Byte](1, 2, 3), 0, 0, 16000))
    val out = Multimodal.extractFeatures(rows.toDS())
      .collect().sortBy(_.media_id)
    // real path: decoded pixel facts override the declared metadata
    assert(out(0).decoded && out(0).width === 32 && out(0).height === 32 &&
      out(0).channels === 3)
    // stub path: declared metadata echoed, channels 0
    assert(!out(1).decoded && out(1).width === 10 && out(1).height === 20 &&
      out(1).channels === 0)
    assert(!out(2).decoded)
    // transcode really re-encodes the decodable image smaller
    val t = Multimodal.transcode(rows.toDS(), imgMaxDim = 8)
      .collect().sortBy(_.media_id)
    assert(t(0).n_out > 0 && t(0).n_out < t(0).n_in,
      s"resized PNG should shrink: ${t(0).n_in} -> ${t(0).n_out}")
    assert(Multimodal.MediaCodec.decodeImage(t(0).payload).get.getWidth === 8)
  }

  test("perceptual dHash: planted PNGs — grid replays to hash, perturbed twin within Hamming 3, distinct image far") {
    import spark.implicits._
    // base: horizontal gradient (dHash = 0: brightness rises left→right,
    // so no cell exceeds its right neighbor); near: same gradient with a
    // small dark blot (≤ a couple of grid cells move); far: vertical
    // black/white stripes aligned to grid cells (alternating
    // comparisons → ~half the bits set)
    def gradientPng(w: Int, h: Int, blot: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = x * 255 / (w - 1)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      if (blot) for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def stripesPng(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if ((x * 9 / w) % 2 == 0) 0xFFFFFF else 0x000000)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", gradientPng(90, 64, blot = false), 0, 0, 0),
      Multimodal.MediaRow(2L, "image", gradientPng(90, 64, blot = true), 0, 0, 0),
      Multimodal.MediaRow(3L, "image", stripesPng(90, 64), 0, 0, 0),
      Multimodal.MediaRow(4L, "text", "word shuffle word test".getBytes, 0, 0, 0))
    val ph = Multimodal.phashTable(rows.toDS()).collect().sortBy(_.media_id)
    // real decode path for the PNGs, stub for the text stand-in
    assert(ph.take(3).forall(_.decoded) && !ph(3).decoded)
    // every grid is 72 cells of 0..255 luma (stub cells are 0..4096 fx)
    assert(ph.forall(_.grid.length === 72))
    assert(ph.take(3).forall(_.grid.forall(v => v >= 0 && v <= 255)))
    // the emitted hash IS the grid's hash (the q210 oracle's bit-replay)
    assert(ph.forall(p => Multimodal.Phash.dhashFromGrid(p.grid) === p.dhash))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ph(0).dhash === 0L, "pure gradient: no cell beats its right neighbor")
    assert(ham(ph(0).dhash, ph(1).dhash) <= 3,
      s"perturbed twin must stay within Hamming 3: ${ham(ph(0).dhash, ph(1).dhash)}")
    assert(ham(ph(0).dhash, ph(2).dhash) > 3,
      s"stripes must be far from the gradient: ${ham(ph(0).dhash, ph(2).dhash)}")
    // the pigeonhole pairing finds exactly the near pair among the
    // images (the text stub's sparse histogram also hashes near 0, so
    // pair within the image modality — as a real pipeline would)
    val sigs = ph.toSeq.take(3).map(p => (p.media_id, p.dhash)).toDF("media_id", "sig")
    val pairs = Dedup.signaturePairs(sigs, "media_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
    // the stub grid is order-insensitive (the corpus' near-dups are
    // word shuffles): same token multiset → identical grid
    assert(Multimodal.Phash.gridStub("alpha beta gamma beta".getBytes).toSeq ===
      Multimodal.Phash.gridStub("beta gamma beta alpha".getBytes).toSeq)

    // cross-frame incremental matching (q217's shape): a probe near an
    // index entry counts it; genuinely new content is ABSENT from the
    // result (the ingest pass keeps it)
    val index = Seq((1L, ph(0).dhash)).toDF("media_id", "sig")
    val probes = Seq((10L, ph(1).dhash), (11L, ph(2).dhash))
      .toDF("media_id", "sig")
    val matches = Dedup.signatureMatches(index, probes, "media_id")
      .as[(Long, Long)].collect().toMap
    assert(matches === Map(10L -> 1L), s"perturbed twin known, stripes new: $matches")
  }

  test("vec_dot native expression matches HOF semantics and registers in SQL") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val native = df.select(graft.functions.VectorFunctions.vec_dot(col("a"), col("b")))
      .collect()(0).getDouble(0)
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (s, v) => s + v))
      .collect()(0).getDouble(0)
    assert(native === hof)
    assert(native === 32.0)
    // SQL registration via extensions-style injection
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", es => graft.functions.VecDot(es(0), es(1)), "scala_udf")
    df.createOrReplaceTempView("vecs")
    assert(spark.sql("SELECT vec_dot(a, b) AS d FROM vecs").collect()(0).getDouble(0) === 32.0)
  }

  test("vec_sub native expression is bit-identical to the zip_with form") {
    // float - double mix (the ivfPqTopK residual shape: float cv minus
    // a literal double centroid), plus a pure-double pair
    val df = Seq(
      (Array(1.5f, -2.25f, 3.0f), Array(0.5, 1.75, -4.0)),
      (Array(0.0f, 7.5f, -1.0f), Array(0.0, 7.5, -1.0))).toDF("a", "b")
    import graft.functions.VectorFunctions.vec_sub
    val native = df.select(vec_sub(col("a"), col("b"))).collect()
      .map(_.getSeq[Double](0))
    val hof = df.select(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") - y.cast("double"))).collect()
      .map(_.getSeq[Double](0))
    assert(native.toSeq === hof.toSeq)
    assert(native(0) === Seq(1.0, -4.0, 7.0))
    // interpreted eval path (filter pushes it out of codegen sometimes;
    // call nullSafeEval directly for certainty)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val e = graft.functions.VecSub(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2.0, 3.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.5, 1.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    assert(e.eval(null).asInstanceOf[GenericArrayData].toDoubleArray().toSeq
      === Seq(1.5, 2.0))
  }

  test("vec-mat kernels match reference math; normalize is bit-identical to HOF") {
    import graft.functions.VectorFunctions._
    val mat = Array(
      Array(1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0),
      Array(0.5, 0.5, 0.5, 0.5))
    val v = Array(0.2f, 0.9f, 0.1f, 0.3f)
    val df = Seq(Tuple1(v)).toDF("v")
    // dots: row-by-row dot products
    val dots = df.select(vec_mat_dots(col("v"), mat)).collect()(0)
      .getSeq[Double](0)
    val expect = mat.map(row =>
      row.zip(v.map(_.toDouble)).map { case (a, b) => a * b }.sum)
    assert(dots.toArray.zip(expect).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // argmax: row 1 has the max dot (0.9); signbits: all dots >= 0
    assert(df.select(vec_mat_argmax(col("v"), mat)).collect()(0).getInt(0) === 1)
    assert(df.select(vec_mat_signbits(col("v"), mat)).collect()(0).getLong(0) === 7L)
    // argmax tie rule: equal scores keep the HIGHEST row (greatest-struct parity)
    val tie = Seq(Tuple1(Array(1.0f, 1.0f))).toDF("v")
    val tieMat = Array(Array(0.5, 0.5), Array(0.5, 0.5))
    assert(tie.select(vec_mat_argmax(col("v"), tieMat)).collect()(0).getInt(0) === 1)
    // normalize: bit-identical to the transform HOF it replaced
    val nrm = df.select(vec_normalize(col("v"))).collect()(0).getSeq[Double](0)
    val hof = df.select(transform(col("v"),
        x => x.cast("double") / sqrt(aggregate(transform(col("v"),
          y => y.cast("double") * y.cast("double")), lit(0.0), (s, y) => s + y))))
      .collect()(0).getSeq[Double](0)
    assert(nrm === hof)
  }

  test("interleave_bits and bloom probe agree between codegen and interpreted eval") {
    import graft.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    // interpreted eval of InterleaveBits vs the DataFrame (codegen) path
    val expr = InterleaveBits(Seq(Literal(12345), Literal(54321)))
    val interpreted = expr.eval(null).asInstanceOf[Long]
    val codegen = Seq((12345, 54321)).toDF("a", "b")
      .select(LayoutFunctions.interleave_bits(col("a"), col("b")))
      .collect()(0).getLong(0)
    assert(interpreted === codegen)
    // bloom: interpreted probe of a built filter agrees with codegen
    val keys = (0L until 100L)
    val buf = new BloomBuf(1 << 12)
    keys.foreach(buf.add(_, 5))
    val bytes = buf.toBytes
    val probe = BloomMightContain(Literal(bytes), Literal(42L), 5)
    assert(probe.eval(null) === true)
    val viaDf = keys.toDF("k")
      .select(SketchFunctions.bloom_might_contain(
        lit(bytes), col("k"), 5).as("hit"))
      .collect().forall(_.getBoolean(0))
    assert(viaDf)
  }

  test("GraftExtensions registers native text/vector/sketch functions for SQL") {
    val orig = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      import s2.implicits._
      val df = Seq((1L, "a b a b a b"), (2L, "c d c d e f")).toDF("id", "text")
      df.createOrReplaceTempView("ext_t")
      val viaSql = s2.sql(
        """SELECT simhash64(text) AS s, minhash_sig(text, 2, 8) AS m,
          |  shingle_hash_set(text, 2) AS sh FROM ext_t ORDER BY id""".stripMargin)
        .collect()
      val viaApi = df.select(
          graft.functions.TextHashFunctions.simhash64(col("text")).as("s"),
          graft.functions.TextHashFunctions.minhash_sig(col("text"), 2, 8).as("m"),
          graft.functions.TextHashFunctions.shingle_hash_set(col("text"), 2).as("sh"))
        .collect()
      assert(viaSql.map(_.getLong(0)).toSeq === viaApi.map(_.getLong(0)).toSeq)
      assert(viaSql.map(_.getSeq[Long](1)).toSeq === viaApi.map(_.getSeq[Long](1)).toSeq)
      val hh = s2.sql(
        "SELECT space_saving_topk(text, 1, 8) AS t FROM ext_t").collect()(0)
        .getSeq[org.apache.spark.sql.Row](0)
      assert(hh.length === 1 && hh.head.getLong(1) === 1L) // two distinct texts, cnt 1
      // round-4 additions: CMS build + probe, fixed-point vector sum
      val est = s2.sql(
        """SELECT cms_estimate(
          |  (SELECT cms_agg(xxhash64(text), 4, 64) FROM ext_t),
          |  xxhash64('a b a b a b'), 4) AS e""".stripMargin)
        .collect()(0).getLong(0)
      assert(est === 1L) // one occurrence of that exact text
      val vsum = s2.sql(
        """SELECT vec_fixed_sum(v, 2) AS s FROM (VALUES
          |  (array(CAST(1.5 AS DOUBLE), CAST(-0.25 AS DOUBLE))),
          |  (array(CAST(0.5 AS DOUBLE), CAST(0.75 AS DOUBLE)))) AS t(v)""".stripMargin)
        .collect()(0).getSeq[Long](0)
      assert(vsum === Seq(2000000000000L, 500000000000L)) // floor(x*1e12) sums
      // round-6 additions: outer-product second moment, t-digest quantiles
      val osum = s2.sql(
        """SELECT vec_outer_fixed_sum(v, 2) AS s FROM (VALUES
          |  (array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE))),
          |  (array(CAST(3.0 AS DOUBLE), CAST(-1.0 AS DOUBLE)))) AS t(v)""".stripMargin)
        .collect()(0).getSeq[Long](0)
      // upper triangle [xx, xy, yy]: (1+9, 2-3, 4+1) * 1e9
      assert(osum === Seq(10000000000L, -1000000000L, 5000000000L))
      val tq = s2.sql(
        """SELECT tdigest_quantiles(x, 100, 0.5) AS t FROM (VALUES
          |  (CAST(1.0 AS DOUBLE)), (CAST(2.0 AS DOUBLE)),
          |  (CAST(3.0 AS DOUBLE))) AS t(x)""".stripMargin)
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      assert(tq.length === 1 && tq.head.getDouble(0) === 0.5)
      assert(math.abs(tq.head.getDouble(1) - 2.0) < 1e-9) // exact median of 1,2,3
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
    }
  }

  test("SimilarityJoinGuard flags similarity-only join conditions, passes bucketed shapes") {
    val orig = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      import s2.implicits._
      val l = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("id_a", "va")
      val r = Seq((3L, Array(1.0f, 0.0f))).toDF("id_b", "vb")
      val simJoin = l.join(r,
        graft.functions.VectorFunctions.vec_dot(col("va"), col("vb")) > 0.9)
      s2.conf.set("spark.graft.similarityJoinGuard", "strict")
      val ex = intercept[Exception](simJoin.collect())
      def rootMsg(t: Throwable): String =
        if (t.getCause == null) String.valueOf(t.getMessage) else rootMsg(t.getCause)
      assert((String.valueOf(ex.getMessage) + rootMsg(ex)).contains("equi-conjunct"))
      // correct shape: equi-join on a bucket + similarity as a filter —
      // passes strict even after Catalyst pushes the filter into the
      // join condition. (The bucket must be data-derived: a literal
      // bucket constant-folds away and the join genuinely degenerates
      // to the nested loop the guard exists to flag.)
      val lb = l.withColumn("bucket", pmod(col("id_a"), lit(2)))
      val rb = r.withColumn("bucket", pmod(col("id_b"), lit(2)))
      val bucketed = lb.join(rb, Seq("bucket"))
        .filter(graft.functions.VectorFunctions.vec_dot(col("va"), col("vb")) > 0.9)
      assert(bucketed.count() === 1L)
      // warn mode: the bad shape still runs (tiny data, lint only).
      // Re-build the Dataset: Spark 4's QueryExecution memoizes phase
      // FAILURES (LazyTry), so the strict-mode failure above would be
      // rethrown from the cached plan regardless of the new conf.
      s2.conf.set("spark.graft.similarityJoinGuard", "warn")
      val simJoin2 = l.join(r,
        graft.functions.VectorFunctions.vec_dot(col("va"), col("vb")) > 0.9)
      assert(simJoin2.collect().length === 1)
    } finally {
      s2.conf.unset("spark.graft.similarityJoinGuard")
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
    }
  }

  test("asBlocks returns columnar map (reference as_blocks)") {
    val g = graft.api.GraftFrame(Seq((1L, "x"), (2L, "y")).toDF("i", "s"))
    val blocks = g.asBlocks()
    assert(blocks("i").toSeq === Seq(1L, 2L))
    assert(blocks("s").toSeq === Seq("x", "y"))
  }

  test("ivf topk recall vs brute force on real embeddings") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
      "embedding", "embedding", 5)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(q, e, "vec_id", "vec_id",
      "embedding", "embedding", 5, numCells = 16, nProbe = 4, dim = 64)
      .select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.2, s"IVF recall $recall too low")
  }

  test("trained IVF centroids are unit-norm and recall >= seeded") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    def topk(cents: Option[Array[Array[Double]]]) =
      Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding", "embedding",
        5, numCells = 16, nProbe = 4, dim = 64, centroids = cents)
        .select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
      "embedding", "embedding", 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainCentroids(e, "embedding",
      numCells = 16, iters = 2, dim = 64)
    cents.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    val seeded = (exact intersect topk(None)).size.toDouble / exact.size
    val trained = (exact intersect topk(Some(cents))).size.toDouble / exact.size
    // Lloyd rounds move centroids toward the data manifold; recall must
    // not regress (it typically improves substantially on real data)
    assert(trained >= seeded, s"trained recall $trained < seeded $seeded")
    // training is deterministic: same data + seed → same model
    val again = Similarity.trainCentroids(e, "embedding",
      numCells = 16, iters = 2, dim = 64)
    assert(cents.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    // ...and BIT-identical under a different physical partitioning:
    // the per-cell sums go through exact DECIMAL (associative), so
    // shuffle merge order cannot wobble the model (a double sum would
    // differ in ulps here and flip boundary cells)
    val repart = Similarity.trainCentroids(e.repartition(7), "embedding",
      numCells = 16, iters = 2, dim = 64)
    assert(cents.map(_.toSeq).toSeq === repart.map(_.toSeq).toSeq)
  }

  // q328's operator theorems: incrementalRetrain re-centers ONLY the
  // drifted cells; untouched centroids are the SAME arrays (zero-slack
  // bit-identity, not approximate equality); audit counts are exact;
  // the integer drift rule has no float fuzz at the boundary; and the
  // refresh is deterministic (bit-identical on re-run).
  test("incrementalRetrain: drift detection, zero-slack untouched cells, determinism") {
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    // base: 4 vectors near cell 0, 4 near cell 1; delta: 3 more near
    // cell 1 (3/7 ≈ 43% of cell 1's current mass is new, > 30%;
    // cell 0 has 0% new)
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0.0f, 0.0f)
    val rows =
      (0 until 4).map(i => (i.toLong, v(1.0, 0.05 * i), false)) ++
      (0 until 4).map(i => ((10 + i).toLong, v(0.05 * i, 1.0), false)) ++
      (0 until 3).map(i => ((20 + i).toLong, v(0.3 + 0.01 * i, 1.0), true))
    val df = rows.toDF("vec_id", "embedding", "is_new")
    val (next, audit) = Similarity.incrementalRetrain(df, "embedding",
      "is_new", cents, dim = 4, driftNum = 3L, driftDen = 10L)
    assert(audit === Seq((0, 4L, 0L, false), (1, 4L, 3L, true)))
    // zero-slack: the untouched cell's centroid is the input ARRAY itself
    assert(next(0) eq cents(0))
    // the drifted cell re-centered: unit norm, pulled toward the delta
    assert(math.abs(math.sqrt(next(1).map(x => x * x).sum) - 1.0) < 1e-9)
    assert(next(1)(0) > cents(1)(0)) // delta sits at x ≈ 0.3 ⇒ x-mass grows
    // deterministic: a second pass returns a bit-identical model
    val (again, auditAgain) = Similarity.incrementalRetrain(df, "embedding",
      "is_new", cents, dim = 4, driftNum = 3L, driftDen = 10L)
    assert(auditAgain === audit)
    assert(next.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    // the drift decision is exact integer arithmetic: 3/7 new sits
    // between thresholds 42% (drifts) and 43% (does not)
    val (_, a43) = Similarity.incrementalRetrain(df, "embedding", "is_new",
      cents, dim = 4, driftNum = 43L, driftDen = 100L)
    assert(a43.map(_._4) === Seq(false, false))
    val (_, a42) = Similarity.incrementalRetrain(df, "embedding", "is_new",
      cents, dim = 4, driftNum = 42L, driftDen = 100L)
    assert(a42.map(_._4) === Seq(false, true))
  }

  test("vec_outer_fixed_sum matches the driver-computed outer product, merge-order invariant") {
    import graft.functions.VectorFunctions.vec_outer_fixed_sum
    val dim = 4
    val vecs = Seq(
      Array(1.0f, 2.0f, -1.0f, 0.5f),
      Array(0.0f, 1.0f, 3.0f, -2.0f),
      Array(2.5f, -0.5f, 1.0f, 1.0f))
    val df = vecs.map(v => Tuple1(v.toSeq)).toDF("v")
    def run(parts: Int): Seq[Long] =
      df.repartition(parts)
        .agg(vec_outer_fixed_sum(col("v"), dim, 1e9).as("s"))
        .collect()(0).getSeq[Long](0)
    val got = run(1)
    // driver reference: upper-triangle Σ floor(x_i·x_j·1e9)
    val want = for (i <- 0 until dim; j <- i until dim) yield
      vecs.map(v => math.floor(v(i).toDouble * v(j).toDouble * 1e9).toLong).sum
    assert(got === want)
    assert(run(3) === got) // fixed-point longs: partitioning-invariant
  }

  test("pcaTopComponent recovers a planted dominant direction") {
    // planted: x = t·d + small orthogonal noise, d = (3,4)/5 in dims 0/1
    val d = Array(0.6, 0.8, 0.0, 0.0)
    val rows = (0 until 500).map { i =>
      val t = (i % 21 - 10).toDouble            // spread along d: var >> noise
      val n1 = ((i * 7) % 5 - 2).toDouble * 0.05 // orthogonal noise dims 2/3
      val n2 = ((i * 11) % 5 - 2).toDouble * 0.05
      Tuple1(Seq(t * d(0), t * d(1), n1, n2).map(_.toFloat))
    }
    val df = rows.toDF("embedding")
    val (v, lambda) = Similarity.pcaTopComponent(df, "embedding", 4, iters = 500)
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    val cosToPlanted = v.zip(d).map { case (a, b) => a * b }.sum
    assert(math.abs(cosToPlanted) > 0.999, s"v=${v.toSeq}")
    assert(v(0) > 0) // sign canonicalization: largest |loading| positive
    // lambda ≈ variance along d; residual certifies the eigenpair the
    // same way the q165 oracle does
    assert(lambda > 1.0)
    // determinism incl. partitioning
    val (v2, l2) = Similarity.pcaTopComponent(df.repartition(7), "embedding", 4, iters = 500)
    assert(v.toSeq === v2.toSeq && lambda === l2)
  }

  test("prefixFilterPairs equals the unpruned exact all-pairs join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // ground truth: full posting-join Jaccard (no prefix pruning) at τ
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.5, maxId = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val pruned = Dedup.prefixFilterPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    assert(pruned === full) // completeness AND exactness of the pruned path
    assert(full.nonEmpty)   // planted near-dups exist at sf0.001
  }

  test("prefixFilterPairs prunes: candidate set well below the shared-shingle universe") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the unpruned candidate universe = pairs sharing ANY shingle
    val post = Dedup.shingleHashes(docs, "doc_id", "text", 3)
    val fullCand = post.select(col("doc_id").as("a"), col("sh"))
      .join(post.select(col("doc_id").as("b"), col("sh")), "sh")
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val (_, cands) = Dedup.prefixFilterCandidates(docs, "doc_id", "text", 3, 0.5)
    val pruned = cands.count()
    // the point of the filter: Jaccard is VERIFIED on a candidate set
    // far smaller than the shared-shingle universe the τ=0.05 posting
    // join would verify
    assert(pruned < fullCand / 5, s"pruned=$pruned fullCand=$fullCand")
  }

  // q218's gate is backed here: a train vector planted NEAR an eval
  // vector must be flagged with THAT eval id and cosine ≈ 1; an
  // orthogonal train vector must not appear at all.
  test("semanticDecontaminate flags planted near-eval vectors with the argmax eval id") {
    def unit(axis: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == axis) 1.0f else 0.0f)
    val evalSet = Seq((100L, unit(0)), (101L, unit(1))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, unit(0)),                                       // exact dup of eval 100
      (2L, unit(0).zipWithIndex.map { case (x, i) =>       // near eval 1 axis
        if (i == 1) 0.9f else if (i == 2) 0.1f else 0.0f }),
      (3L, unit(5))                                        // orthogonal to both
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(train, evalSet,
        "vec_id", "vec_id", "embedding", "embedding", tau = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L)._1 === 100L && math.abs(got(1L)._2 - 1.0) < 1e-9)
    assert(got(2L)._1 === 101L && got(2L)._2 > 0.9)
    // tie in cosine breaks toward the SMALLEST eval id
    val tied = Similarity.semanticDecontaminate(
        Seq((7L, unit(3))).toDF("vec_id", "embedding"),
        Seq((200L, unit(3)), (201L, unit(3))).toDF("vec_id", "embedding"),
        "vec_id", "vec_id", "embedding", "embedding", tau = 0.5)
      .collect()
    assert(tied.length === 1 && tied(0).getLong(1) === 200L)
  }

  // q220's gate is backed here: frame grid, offsets, tail length, and
  // the hex→md5 fingerprint of a planted payload; non-videos excluded.
  test("frameSamples emits every 2nd chunk with byte-exact offsets and fingerprints") {
    import Multimodal._
    val payload = Array.tabulate(150)(i => i.toByte) // chunks: 64, 64, 22
    val media = Seq(
      MediaRow(2L, "video", payload, 0, 0, 0),
      MediaRow(1L, "audio", payload, 0, 0, 16000)).toDS()
    val got = frameSamples(media, chunk = 64, every = 2)
      .collect().sortBy(_.chunk_idx)
    assert(got.map(_.media_id).toSet === Set(2L)) // audio excluded
    assert(got.map(f => (f.chunk_idx, f.off, f.frame.length.toLong)).toSeq
      === Seq((0L, 0L, 64L), (2L, 128L, 22L)))
    assert(got(0).frame.toSeq === payload.slice(0, 64).toSeq)
    assert(got(1).frame.toSeq === payload.slice(128, 150).toSeq)
    // the q220 fingerprint convention: md5 over the UPPERCASE hex text
    val hex0 = payload.slice(0, 64).map(b => f"${b & 0xff}%02X").mkString
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest(hex0.getBytes("US-ASCII")).map(b => f"${b & 0xff}%02x").mkString
    val sparkMd5 = frameSamples(media, 64, 2).toDF()
      .filter(col("chunk_idx") === 0)
      .select(md5(encode(org.apache.spark.sql.functions.hex(col("frame")), "UTF-8")))
      .collect()(0).getString(0)
    assert(sparkMd5 === want)
  }

  // q223's gate is backed here: the band excludes a planted near-dup
  // (probable positive) while ranking the in-band negatives hardest
  // first.
  test("hardNegativeTopK keeps the band and excludes near-duplicates") {
    val anchor = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val cands = Seq(
      (1L, Array(1f, 0.01f, 0f, 0f)),   // cos ≈ 1 → above band, excluded
      (2L, Array(0.7f, 0.714f, 0f, 0f)), // cos ≈ 0.70 → hardest in band
      (3L, Array(0.3f, 0.954f, 0f, 0f)), // cos ≈ 0.30
      (4L, Array(0f, 1f, 0f, 0f))        // cos = 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.hardNegativeTopK(anchor, cands, "vec_id", "vec_id",
        "embedding", "embedding", k = 2, maxCos = 0.8)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq.sortBy(_._2) === Seq((2L, 1), (3L, 2)))
  }

  // q226's gate is backed here: a near-identical probe finds its index
  // source through the cell grid; an unrelated probe finds nothing.
  test("semanticIncrementalPairs: probes find standing near-dups, not noise") {
    val rnd = new scala.util.Random(3)
    def vec() = Array.fill(16)(rnd.nextFloat() - 0.5f)
    val a = vec(); val b = vec()
    val index = Seq((1L, a), (2L, b)).toDF("vec_id", "embedding")
    val probes = Seq(
      (100L, a.map(x => x + 1e-4f)),  // near-dup of index 1
      (101L, vec())                   // genuinely new
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticIncrementalPairs(index, probes,
        "vec_id", "vec_id", "embedding", "embedding",
        threshold = 0.99, numCells = 8, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 1)
    assert(got(0)._1 === 100L && got(0)._2 === 1L && got(0)._3 > 0.999)
  }

  // q234's gate is backed here: on planted tight clusters the
  // NN-descent graph must recover the EXACT neighborhood — every
  // node's top-3 are its 3 cluster-mates (cluster-mates share argmax
  // cells by the SemDeDup property, descent closes any grid misses),
  // ranks chain 1..3 with non-increasing cosine.
  test("knnGraphDescent recovers exact cluster neighborhoods with ranked cosines") {
    def member(axis: Int, j: Int): Array[Float] =
      Array.tabulate(16)(i =>
        if (i == axis) 1.0f
        else if (i == (axis + j + 3) % 16) 0.05f * (j + 1) else 0.0f)
    val rows = for (c <- 0 until 3; j <- 0 until 4)
      yield ((c * 10 + j).toLong, member(c * 5, j))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.knnGraphDescent(df, "vec_id", "embedding",
        k = 3, numCells = 4, dim = 16, grids = 2, rounds = 2)
      .collect()
    val bySrc = got.groupBy(_.getLong(0))
    assert(bySrc.size === 12)
    for ((src, g) <- bySrc) {
      assert(g.map(_.getLong(1)).toSet ===
        (0 until 4).map(j => (src / 10) * 10 + j.toLong).toSet - src,
        s"src=$src")
      val byRank = g.sortBy(_.getLong(2))
      assert(byRank.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L))
      assert(byRank.sliding(2).forall(p =>
        p(0).getDouble(3) >= p(1).getDouble(3) - 1e-12))
    }
  }

  // q326's gate is backed here: round r+1's candidate set CONTAINS
  // round r's selected edges, so true-top-k hits are NON-DECREASING in
  // rounds — the zero-slack theorem the oracle asserts — checked on a
  // seeded random fixture with a deliberately weak init (1 grid,
  // width 2) so round 0 starts well below full recall and the
  // assertion isn't vacuous.
  test("knnGraphDescentCurve: true-edge hits non-decreasing in rounds") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("vec_id", "embedding")
    val curve = Similarity.knnGraphDescentCurve(df, "vec_id", "embedding",
      k = 3, numCells = 8, dim = 16, grids = 1, rounds = 2, initWidth = 2)
    assert(curve.length === 3)
    // exact top-3 by brute force under the operator's own tie order
    // (desc cosine, asc dst)
    def norm(a: Array[Float]): Array[Double] = {
      val s = math.sqrt(a.map(x => x.toDouble * x).sum)
      a.map(_ / s)
    }
    val nv = rows.map { case (i, a) => i -> norm(a) }.toMap
    val exact = rows.map { case (i, _) =>
      i -> rows.filter(_._1 != i).map { case (j, _) =>
        (j, nv(i).zip(nv(j)).map { case (x, y) => x * y }.sum)
      }.sortBy { case (j, c) => (-c, j) }.take(3).map(_._1).toSet
    }.toMap
    val hits = curve.map(_.collect()
      .count(r => exact(r.getLong(0)).contains(r.getLong(1))))
    assert(hits(0) <= hits(1) && hits(1) <= hits(2), hits.mkString(","))
    assert(hits(2) > 0)
    // descent must actually buy something on this weak init (measured:
    // 69 → 140+ of 180 true edges) — guards a no-op descent regression
    assert(hits(2) > hits(0), hits.mkString(","))
  }

  // ADVICE r11 (medium, q297/q321/q325): the conformal split moduli
  // must make reference/calibration/test PROVABLY disjoint at EVERY
  // corpus size — the former count-derived formulas aligned at
  // in-between sizes (n ∈ [3000, 3500): test ⊆ reference, so every
  // test NN score was its own self-dot and the gate degenerated).
  // Structural proof: mRef even ⇒ residues 1/3 are nonzero mod mRef;
  // mCal = 2·mRef keeps cal/test apart; 4 | mCal keeps cal off the
  // %4 = 3 test stream. Checked exhaustively on the formulas plus by
  // witness enumeration at the adversarial sizes the advice named.
  test("conformal split moduli are disjoint at every corpus size") {
    var n = 1L
    while (n <= 1000000L) {
      val mCal = graft.queries.Pipeline.conformalCalModulus(n)
      val mRef = 2L * math.max(1L, n / 2000L)
      assert(mCal % 4 === 0L, s"n=$n")
      assert(mCal === 2L * mRef, s"n=$n") // q297's mCal is the same value
      assert(1L % mRef !== 0L, s"n=$n")   // cal residue never lands in ref
      assert(3L % mRef !== 0L, s"n=$n")   // test residue never lands in ref
      n += 1L
    }
    // witness enumeration (ids 0..n-1) at gate scales, ×100, and the
    // previously-broken in-between sizes
    for (nw <- Seq(500L, 1999L, 2000L, 2500L, 2750L, 3000L, 3250L,
        3500L, 3999L, 4000L, 20000L, 200000L)) {
      val mCal = graft.queries.Pipeline.conformalCalModulus(nw)
      val mRef = 2L * math.max(1L, nw / 2000L)
      val ids = 0L until math.min(nw, 20000L)
      val ref297 = ids.filter(_ % mRef == 0).toSet
      val cal = ids.filter(_ % mCal == 1).toSet
      val tst297 = ids.filter(_ % mCal == 3).toSet
      val ref321 = ids.filter(_ % 2 == 0).toSet
      val tst321 = ids.filter(_ % 4 == 3).toSet
      assert((ref297 & cal).isEmpty && (ref297 & tst297).isEmpty &&
        (cal & tst297).isEmpty, s"q297 overlap at n=$nw")
      assert((ref321 & cal).isEmpty && (ref321 & tst321).isEmpty &&
        (cal & tst321).isEmpty, s"q321 overlap at n=$nw")
      assert(cal.nonEmpty && tst297.nonEmpty && tst321.nonEmpty,
        s"degenerate split at n=$nw")
    }
  }

  // ADVICE r12: the never-binding-limit proofs (q290/q314's
  // limit(2001), q297's limit(4001)) assume vec_id is DENSE 0..n-1 —
  // a sparse or residue-skewed id space could overfill one residue
  // class, the limit would bind, and the emitted sample would become
  // a nondeterministic subset. Assert the contract against the actual
  // embeddings source AND the actual residue-class sizes vs the
  // limits, so a future corpus change invalidates the proofs loudly
  // here instead of silently at the oracle.
  test("embeddings vec_id is dense 0..n-1 and residue classes fit the never-binding limits") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val r = e.agg(count(lit(1)).as("n"), countDistinct(col("vec_id")).as("d"),
        min(col("vec_id")).as("mn"), max(col("vec_id")).as("mx")).collect()(0)
      val n = r.getLong(0)
      assert(r.getLong(1) === n, s"$dir: duplicate vec_ids")
      assert(r.getAs[Number]("mn").longValue === 0L, s"$dir: min vec_id != 0")
      assert(r.getAs[Number]("mx").longValue === n - 1, s"$dir: sparse vec_id space")
      val m = math.max(4L, n / 500L)
      val mRef = 2L * math.max(1L, n / 2000L)
      val c290 = e.filter(pmod(col("vec_id"), lit(m)) === 0).count()
      val c297 = e.filter(pmod(col("vec_id"), lit(mRef)) === 0).count()
      assert(c290 <= 2000L, s"$dir: q290/q314 residue class $c290 would let limit(2001) bind")
      assert(c297 <= 4000L, s"$dir: q297 residue class $c297 would let limit(4001) bind")
    }
  }

  // q222's gate is backed here: hand-computed window energies on a
  // planted byte pattern, incl. the short tail window; non-audio rows
  // excluded.
  test("audioWindows computes exact integer energies over the window grid") {
    import Multimodal._
    // 32 bytes of 128 (silence), 32 bytes of 0 (full swing), 6-byte tail of 130
    val payload = Array.fill(32)(128.toByte) ++ Array.fill(32)(0.toByte) ++
      Array.fill(6)(130.toByte)
    val media = Seq(
      MediaRow(1L, "audio", payload, 0, 0, 16000),
      MediaRow(2L, "video", payload, 0, 0, 0)).toDS()
    val got = audioWindows(media, win = 32)
      .collect().sortBy(_.win_idx)
      .map(w => (w.media_id, w.win_idx, w.n_bytes, w.ss))
    assert(got.toSeq === Seq(
      (1L, 0L, 32L, 0L),                 // centered silence
      (1L, 1L, 32L, 32L * 128 * 128),    // max swing: 32·(−128)²
      (1L, 2L, 6L, 6L * 2 * 2)))         // tail: 6·(130−128)²
  }

  // q236's gate is backed here: a single silent window inside a
  // speech run is bridged at gap=1; a two-window silence splits.
  test("audioUtterances bridges single-window gaps and splits longer silences") {
    import Multimodal._
    def block(loud: Boolean) =
      Array.fill(32)(if (loud) 0.toByte else 128.toByte)
    // windows: LOUD silent LOUD silent silent LOUD
    val payload = Array(true, false, true, false, false, true)
      .flatMap(block)
    val media = Seq(MediaRow(1L, "audio", payload, 0, 0, 16000)).toDS()
    val got = audioUtterances(media, win = 32, threshold = 40000L, gap = 1)
      .orderBy(col("utt")).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val e = 32L * 128 * 128
    assert(got.toSeq === Seq((0L, 2L, 2L, 2 * e), (5L, 5L, 1L, e)))
    // gap=0: the bridged pair splits too
    val strict = audioUtterances(media, 32, 40000L, gap = 0)
      .collect().length
    assert(strict === 3)
  }

  // q266's gate is backed here: hand-computed peaks → bands → packed
  // landmark fps on a planted energy staircase, then the offset-0
  // vote on an exact twin; a 1-shared-fp clip stays below minVotes.
  test("audioLandmarks + audioFingerprintMatches: planted constellation, twin match, sub-threshold non-match") {
    import Multimodal._
    def w(x: Int) = Array.fill(32)(x.toByte)
    // window energies 32·(x−128)²: 128→0, 168→51200(A), 208→204800(B), 248→460800(C)
    // clip1 energy seq [0,B,A,C,A,B,0,C,0] → strict local maxima at
    // t=1 (band 204800>>12=50), t=3 (460800>>12=112), t=5 (50), t=7 (112)
    val clip1 = Array(128, 208, 168, 248, 168, 208, 128, 248, 128).flatMap(w)
    // clip3 [0,C,0,B,0] → peaks (1,112),(3,50) → ONE landmark fp that
    // collides with clip1's (112,50,dt2) — votes 1 < minVotes 4
    val clip3 = Array(128, 248, 128, 208, 128).flatMap(w)
    val media = Seq(
      MediaRow(1L, "audio", clip1, 0, 0, 16000),
      MediaRow(2L, "audio", clip1, 0, 0, 16000),
      MediaRow(3L, "audio", clip3, 0, 0, 16000),
      MediaRow(4L, "video", clip1, 0, 0, 0)).toDS()
    val lm = audioLandmarks(media).filter(col("media_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // fp = b1·65536 + b2·256 + dt
    assert(lm === Set(
      (1L, 50L * 65536 + 112 * 256 + 2), (1L, 50L * 65536 + 50 * 256 + 4),
      (1L, 50L * 65536 + 112 * 256 + 6), (3L, 112L * 65536 + 50 * 256 + 2),
      (3L, 112L * 65536 + 112 * 256 + 4), (5L, 50L * 65536 + 112 * 256 + 2)))
    val got = audioFingerprintMatches(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // twin: fp 3305474 appears twice per clip → offset-0 votes 6 of 8
    // cross-offset pairs; clip3's single shared fp is filtered
    assert(got.toSeq === Seq((1L, 2L, 0L, 6L, 8L)))
  }

  // q221's gate is backed here: two disjoint triangles with a perfect
  // 2-community labelling — hand-computed Newman-Girvan terms.
  test("modularity matches hand-computed terms on two disjoint triangles") {
    def tri(base: Long) = Seq((base, base + 1), (base + 1, base + 2), (base, base + 2))
    val und = tri(1L) ++ tri(10L)
    val edges = (und ++ und.map(_.swap)).toDF("s", "d")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 2L), (11L, 2L), (12L, 2L)).toDF("id", "lab")
    val got = Graph.modularity(edges, "s", "d", labels)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // D = 12 directed edges; per community: internal = 6, deg_sum = 6
    // Q_c = 6/12 − (6/12)² = 0.25; global Q = 0.5 (perfect split)
    assert(got.keySet === Set(1L, 2L))
    Seq(1L, 2L).foreach { c =>
      assert(got(c) === ((3L, 6L, 6L, 0.25)))
    }
    // one community holding everything scores Q = 1 − 1 = 0
    val mono = labels.select(col("id"), lit(1L).as("lab"))
    val gotMono = Graph.modularity(edges, "s", "d", mono).collect()
    assert(gotMono.length === 1 && math.abs(gotMono(0).getDouble(4)) < 1e-12)
  }

  test("personalizedPageRankFixed matches a hand-rolled seeded reference") {
    // path 1→2→3→4→5 plus back-edge 2→1; seed {1}: mass reaches only
    // nodes within 3 hops (node 5 stays exactly 0 and is filtered)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    val seeds = Seq(1L, 99L).toDF("id") // 99 is off-graph → dropped
    val got = Graph.personalizedPageRankFixed(edges, seeds, "s", "d", "id",
        iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical integral arithmetic in plain Scala, |S| = 1
    val scale = 1000000000L
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 1L)
    val out = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(4L),
      4L -> Seq(5L))
    val base = 15L * scale / 100L
    var r = Map(1L -> scale).withDefaultValue(0L)
    for (_ <- 0 until 3) {
      val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, vs) <- out; v <- vs) contrib(v) += r(u) / deg(u)
      r = nodes.map(v =>
        v -> ((if (v == 1L) base else 0L) + 85L * contrib(v) / 100L))
        .toMap.withDefaultValue(0L)
    }
    assert(got === r.filter(_._2 > 0))
    assert(!got.contains(5L)) // beyond the 3-hop mass horizon
    // partition invariance: integral arithmetic, associative sums
    val again = Graph.personalizedPageRankFixed(
        edges.repartition(7), seeds, "s", "d", "id", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("kCenterSelect covers planted clusters, one center each, deterministic") {
    // three tight clusters on distinct axes; seed = min id (cluster A)
    def v(axis: Int, eps: Double) =
      Array.tabulate(4)(j => (if (j == axis) 1.0 else 0.0) +
        (if (j == (axis + 1) % 4) eps else 0.0)).map(_.toFloat)
    val rows = Seq(
      (1L, v(0, 0.00)), (2L, v(0, 0.01)), (3L, v(0, 0.02)),
      (4L, v(1, 0.00)), (5L, v(1, 0.01)), (6L, v(1, 0.02)),
      (7L, v(2, 0.00)), (8L, v(2, 0.01)), (9L, v(2, 0.02)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(df, "vec_id", "embedding", k = 3)
      .orderBy(col("sel_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got(0) === ((1L, 1L, 0L))) // seed = min id, dist 0
    // one selected point from each planted cluster
    val clusterOf = (id: Long) => (id - 1) / 3
    assert(got.map(t => clusterOf(t._2)).toSet === Set(0L, 1L, 2L))
    // the objective trace never increases (greedy covering radius)
    assert(got(1)._3 >= got(2)._3)
    // deterministic under repartition (integer distances, fixed ties)
    val again = Similarity.kCenterSelect(df.repartition(5),
        "vec_id", "embedding", k = 3)
      .orderBy(col("sel_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === got.toSeq)
  }

  test("lDiversityAudit flags homogeneous classes, exact modal share") {
    // class 1: sensitive x,x,x,y — diverse at l=2, modal share 750000 ppm
    // class 2: all same sensitive — NOT diverse, share 1000000 ppm
    val df = Seq((1, "x"), (1, "x"), (1, "x"), (1, "y"),
      (2, "z"), (2, "z")).toDF("qid", "sens")
    val got = Curation.lDiversityAudit(df, Seq("qid"), "sens", lMin = 2)
      .orderBy(col("qid")).collect()
    assert(got(0).getAs[Long]("class_n") === 4L)
    assert(got(0).getAs[Long]("n_sensitive") === 2L)
    assert(got(0).getAs[Long]("top_cnt") === 3L)
    assert(got(0).getAs[Long]("top_share_fx") === 750000L)
    assert(got(0).getAs[Boolean]("diverse"))
    assert(got(1).getAs[Long]("n_sensitive") === 1L)
    assert(got(1).getAs[Long]("top_share_fx") === 1000000L)
    assert(!got(1).getAs[Boolean]("diverse"))
  }

  test("multiSourceBfs grows per-pivot trees; each agrees with bfsLevels") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val pivots = Seq(1L, 2L).toDF("id")
    val got = Graph.multiSourceBfs(edges, pivots, "src", "dst", "id",
        maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2),
      (2L, 2L, 0), (2L, 3L, 1), (2L, 4L, 2)))
    // per-pivot slice ≡ an independent single-seed BFS
    for (p <- Seq(1L, 2L)) {
      val single = Graph.bfsLevels(edges, Seq(p).toDF("id"),
          "src", "dst", "id", maxHops = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got.filter(_._1 == p).map(t => (t._2, t._3)) === single)
    }
  }

  test("keySkewAudit: exact histogram percentiles and salt sizing") {
    // key a: 8 rows, b: 1, c: 1 → 3 keys / 10 rows, max 8,
    // p50 = 1 (2 of 3 keys at cnt 1), p99 = 8, top share 800000 ppm,
    // salt at 2 target partitions = ceil(8 / (10/2)) = 2
    val df = (Seq.fill(8)("a") ++ Seq("b", "c")).toDF("k")
    val got = Scale.keySkewAudit(df, "k", "t.k", targetPartitions = 2)
      .collect()(0)
    assert(got.getAs[String]("key_label") === "t.k")
    assert(got.getAs[Long]("n_keys") === 3L)
    assert(got.getAs[Long]("n_rows") === 10L)
    assert(got.getAs[Long]("max_rows") === 8L)
    assert(got.getAs[Long]("p50") === 1L)
    assert(got.getAs[Long]("p99") === 8L)
    assert(got.getAs[Long]("top1_ppm") === 800000L)
    assert(got.getAs[Long]("salt_factor") === 2L)
    // uniform data ⇒ salt factor 1 (don't salt)
    val uni = (1 to 12).map(i => s"k${i % 4}").toDF("k")
    assert(Scale.keySkewAudit(uni, "k", "u.k", targetPartitions = 2)
      .collect()(0).getAs[Long]("salt_factor") === 1L)
  }

  test("mmrSelect suppresses the exact duplicate a pure top-k would pick") {
    val q = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val cands = Seq(
      (1L, Array(0.8f, 0.6f, 0f, 0f)),  // rel .8
      (2L, Array(0.8f, 0.6f, 0f, 0f)),  // exact dup of 1 → penalty 0.3
      (3L, Array(0.8f, -0.6f, 0f, 0f))) // rel .8, sim to 1 only .28
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(cands, q, "vec_id", "embedding",
        "embedding", poolSize = 3, k = 3)
      .orderBy(col("step")).collect().map(_.getLong(1)).toSeq
    // pure cosine order would be (1, 2, …); MMR demotes the duplicate
    assert(got === Seq(1L, 3L, 2L))
    // step-1 score = 0.7·rel exactly, rel through the float32 path
    val s1 = Similarity.mmrSelect(cands, q, "vec_id", "embedding",
        "embedding", poolSize = 3, k = 1).collect()(0).getLong(2)
    val cv = Array(0.8f.toDouble, 0.6f.toDouble, 0.0, 0.0)
    val nm = math.sqrt(cv.map(x => x * x).sum)
    val rel = cv(0) / nm // q normalizes to exactly [1,0,0,0]
    assert(s1 === math.floor(1000000.0 * (0.7 * rel - 0.3 * 0.0)).toLong)
    // pool plan: partial top-k (TakeOrderedAndProject), never a global
    // sort — probed with rows > poolSize (at rows <= poolSize the
    // optimizer correctly ELIMINATES the limit via maxRows and the
    // TOP shape is moot)
    val many = (1L to 50L).map(i => (i, Array(i.toFloat, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val poolDf = Similarity.mmrPool(many, q, "vec_id", "embedding",
      "embedding", poolSize = 3)
    poolDf.collect() // settle AQE to the final plan
    val poolPlan = poolDf.queryExecution.executedPlan.toString
    assert(poolPlan.contains("TakeOrderedAndProject"), poolPlan)
    assert(!poolPlan.contains("rangepartitioning"), poolPlan)
  }
}
