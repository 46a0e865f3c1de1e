package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import graft.api._

/** Algebraic invariants (SURVEY.md §5 item 3) checked over generated
  * inputs: filter commutativity, sort idempotence, aggregation
  * decomposition, join cardinality for duplicate keys.
  */
class PropertySpec extends Properties("graft") {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(-100L, 100L)))

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8) // each case spins Spark jobs; keep small

  property("chained filters commute") = Prop.forAll(rowsGen) { rows =>
    rows.isEmpty || {
      val df = GraftFrame(rows.toDF("k", "v"))
      val a = df.filter("k", Predicate(Comparator.GreaterThan, 1L))
        .filter("v", Predicate(Comparator.LessThanOrEq, 50L))
      val b = df.filter("v", Predicate(Comparator.LessThanOrEq, 50L))
        .filter("k", Predicate(Comparator.GreaterThan, 1L))
      a.orderBy("k", "v").collect().toSeq == b.orderBy("k", "v").collect().toSeq
    }
  }

  property("sort is idempotent") = Prop.forAll(rowsGen) { rows =>
    rows.isEmpty || {
      val df = GraftFrame(rows.toDF("k", "v"))
      df.orderBy("k", "v").collect().toSeq ==
        df.orderBy("k", "v").orderBy("k", "v").collect().toSeq
    }
  }

  property("grouped sums decompose to global sum") = Prop.forAll(rowsGen) { rows =>
    rows.isEmpty || {
      val df = rows.toDF("k", "v")
      val global = df.agg(sum("v")).collect()(0).getLong(0)
      val grouped = df.groupBy("k").agg(sum("v").as("s"))
        .agg(sum("s")).collect()(0).getLong(0)
      global == grouped
    }
  }

  property("join cardinality = sum of per-key count products") =
    Prop.forAll(rowsGen, rowsGen) { (l, r) =>
      l.isEmpty || r.isEmpty || {
        val joined = l.toDF("lk", "lv")
          .join(r.toDF("rk", "rv"), col("lk") === col("rk"), "inner").count()
        val lc = l.groupBy(_._1).view.mapValues(_.size).toMap
        val rc = r.groupBy(_._1).view.mapValues(_.size).toMap
        joined == lc.map { case (k, n) => n.toLong * rc.getOrElse(k, 0).toLong }.sum
      }
    }

  // generated mini-corpora: 12 docs of 3-12 words from a 20-word
  // vocabulary — dense enough that shingle overlaps (and thus LSH
  // candidates) actually occur
  private val corpusGen: Gen[List[(Long, String)]] = {
    val word = Gen.oneOf((0 until 20).map(i => s"w$i"))
    Gen.listOfN(12, Gen.chooseNum(3, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  property("LSH pairs ⊆ exact n-gram Jaccard pairs with equal scores") =
    Prop.forAll(corpusGen) { corpus =>
      val docs = corpus.toDF("doc_id", "text")
      val lsh = graft.operators.Dedup
        .minhashLshPairs(docs, "doc_id", "text", k = 2, numHashes = 16,
          bands = 8, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val exact = graft.operators.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", k = 2, threshold = 0.3,
          maxId = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // every LSH-emitted pair must exist in the exact set with the
      // identical verified Jaccard (LSH may MISS pairs, never invent)
      lsh.forall { case (pair, j) => exact.get(pair).contains(j) }
    }

  property("both CC algorithms produce the identical clustering") =
    Prop.forAll(Gen.listOfN(15,
        Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)))) { edges =>
      val good = edges.filter { case (a, b) => a != b }
      good.isEmpty || {
        val pairs = good.toDF("id_a", "id_b")
        def lab(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        lab(graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")) ==
          lab(graft.operators.Dedup.connectedComponentsAlternating(pairs, "id_a", "id_b"))
      }
    }

  // ---- native kernel invariants (pure JVM eval paths — no Spark jobs,
  // so these run at full ScalaCheck sample counts) ----

  private val dim16 = Gen.chooseNum(0L, 65535L)

  property("interleave_bits is invertible on 16-bit pairs") =
    Prop.forAll(dim16, dim16) { (u, e) =>
      val z = graft.functions.InterleaveBits(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(u),
        org.apache.spark.sql.catalyst.expressions.Literal(e)))
        .eval(null).asInstanceOf[Long]
      var (du, de) = (0L, 0L)
      for (j <- 0 until 16) {
        du |= ((z >>> (2 * j)) & 1L) << j
        de |= ((z >>> (2 * j + 1)) & 1L) << j
      }
      du == u && de == e
    }

  property("bloom filter never false-negatives") =
    Prop.forAll(Gen.listOfN(200, Gen.long), Gen.oneOf(1 << 10, 1 << 12, 1 << 14)) {
      (keys, bits) =>
        val buf = new graft.functions.BloomBuf(bits)
        keys.foreach(buf.add(_, 5))
        val probe = graft.functions.BloomMightContain(
          org.apache.spark.sql.catalyst.expressions.Literal(buf.toBytes),
          org.apache.spark.sql.catalyst.expressions.Literal(0L), 5)
        keys.forall { k =>
          graft.functions.BloomMightContain(
            org.apache.spark.sql.catalyst.expressions.Literal(buf.toBytes),
            org.apache.spark.sql.catalyst.expressions.Literal(k), 5)
            .eval(null).asInstanceOf[Boolean]
        } && probe.dataType == org.apache.spark.sql.types.BooleanType
    }

  property("bloom merge(or) == build over union") =
    Prop.forAll(Gen.listOfN(80, Gen.long), Gen.listOfN(80, Gen.long)) { (a, b) =>
      val bits = 1 << 12
      val ba = new graft.functions.BloomBuf(bits); a.foreach(ba.add(_, 5))
      val bb = new graft.functions.BloomBuf(bits); b.foreach(bb.add(_, 5))
      ba.orIn(bb)
      val u = new graft.functions.BloomBuf(bits); (a ++ b).foreach(u.add(_, 5))
      java.util.Arrays.equals(ba.toBytes, u.toBytes)
    }

  private val vecGen = Gen.listOfN(8, Gen.chooseNum(-10.0, 10.0))

  property("vec_mat_argmax agrees with a linear scan of vec_mat_dots") =
    Prop.forAll(vecGen, Gen.listOfN(5, vecGen)) { (v, rows) =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types._
      val vLit = Literal.create(v.toArray, ArrayType(DoubleType, false))
      val mLit = Literal.create(rows.flatten.toArray, ArrayType(DoubleType, false))
      val dots = graft.functions.VecMatDots(vLit, mLit, rows.size)
        .eval(null).asInstanceOf[GenericArrayData].toDoubleArray()
      val arg = graft.functions.VecMatArgmax(vLit, mLit, rows.size)
        .eval(null).asInstanceOf[Int]
      // >= keeps the LAST max (highest row) — mirror that rule
      val expect = dots.zipWithIndex.foldLeft((Double.NegativeInfinity, 0)) {
        case ((bs, bi), (s, i)) => if (s >= bs) (s, i) else (bs, bi)
      }._2
      arg == expect
    }

  // micros within 1970..2100, always microsecond-clean
  private val microsGen: Gen[List[Long]] =
    Gen.listOfN(12, Gen.chooseNum(0L, 4102444800000000L))

  property("Events.normalizeTs: all three ts encodings yield identical instants") =
    Prop.forAll(microsGen) { micros =>
      micros.isEmpty || {
        import org.apache.spark.sql.types._
        val base = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
          .toDF("event_id", "us")
        val asNanos = base.withColumn("ts", (col("us") * 1000L).cast(LongType))
        val asNtz = base.withColumn("ts",
          timestamp_micros(col("us")).cast(TimestampNTZType))
        val asLtz = base.withColumn("ts", timestamp_micros(col("us")))
        val out = Seq(asNanos, asNtz, asLtz).map { df =>
          val n = graft.sources.Events.normalizeTs(df.select("event_id", "ts"))
          assert(n.schema("ts").dataType == TimestampType)
          n.orderBy("event_id").select(unix_micros(col("ts")))
            .collect().map(_.getLong(0)).toSeq
        }
        out(0) == micros && out.distinct.size == 1
      }
    }

  // largest-remainder allocation: integer allocs sum EXACTLY to budget,
  // each within 1 of its exact proportional share (q154's invariants)
  private val toksGen: Gen[List[Long]] =
    Gen.listOfN(7, Gen.chooseNum(1L, 100000L))

  property("q154 largest-remainder: allocations sum to budget, each within 1 of exact share") =
    Prop.forAll(toksGen, Gen.chooseNum(10L, 1000000L)) { (toks, budget) =>
      val total = toks.sum
      val rows = toks.zipWithIndex.map { case (t, i) => (f"s$i%02d", t) }
      val df = rows.toDF("source", "text_toks")
      val base = df.select(col("source"), col("text_toks").as("toks"),
          expr(s"($budget * toks) div $total").as("base"),
          expr(s"($budget * toks) % $total").as("rem"))
      val leftover = budget - base.agg(sum(col("base"))).collect()(0).getLong(0)
      val w = org.apache.spark.sql.expressions.Window.orderBy(desc("rem"), asc("source"))
      val alloc = base.withColumn("rk", row_number().over(w))
        .select(col("source"), col("toks"),
          (col("base") + when(col("rk") <= leftover, 1L).otherwise(0L)).as("alloc"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val sumOk = alloc.map(_._2).sum == budget
      val shareOk = alloc.forall { case (t, a) =>
        val exact = budget.toDouble * t / total
        a >= math.floor(exact) - 1e-9 && a <= math.ceil(exact) + 1e-9
      }
      sumOk && shareOk
    }

  // random directed graphs: ≤12 nodes, ≤30 edges
  private val graphGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
      .map(_.filter { case (a, b) => a != b })

  property("bfsLevels equals a naive in-memory BFS on random graphs") =
    Prop.forAll(graphGen, Gen.chooseNum(0L, 11L)) { (edges, seed) =>
      edges.isEmpty || {
        val got = graft.operators.Graph
          .bfsLevels(edges.toDF("s", "d"), Seq(seed).toDF("v"), "s", "d", "v",
            maxHops = 15)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        // reference: queue BFS over the adjacency map
        val adj = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
        val dist = scala.collection.mutable.Map(seed -> 0)
        var frontier = List(seed)
        var k = 0
        while (frontier.nonEmpty) {
          k += 1
          frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
            .distinct.filterNot(dist.contains)
          frontier.foreach(v => dist(v) = k)
        }
        got == dist.toMap
      }
    }

  property("kCorePeel round-4 equals a naive synchronous peel") =
    Prop.forAll(graphGen, Gen.chooseNum(1, 4)) { (edges, kk) =>
      edges.isEmpty || {
        val got = graft.operators.Graph
          .kCorePeel(edges.toDF("s", "d"), "s", "d", k = kk, rounds = 4)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference peel over the canonical undirected edge set
        val und = edges.map { case (a, b) => (a min b, a max b) }.distinct
        var alive = und.flatMap(e => Seq(e._1, e._2)).toSet
        var deg = Map.empty[Long, Long]
        for (_ <- 1 to 4) {
          val live = und.filter(e => alive(e._1) && alive(e._2))
          deg = live.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
            .map { case (v, xs) => v -> xs.size.toLong }
            .filter(_._2 >= kk)
          alive = deg.keySet
        }
        got == deg
      }
    }

  private val vecPairGen: Gen[List[(Array[Float], Array[Double])]] =
    Gen.listOfN(12, Gen.zip(
      Gen.listOfN(8, Gen.chooseNum(-100f, 100f)).map(_.toArray),
      Gen.listOfN(8, Gen.chooseNum(-100.0, 100.0)).map(_.toArray)))

  property("vec_sub is bit-identical to zip_with subtraction") =
    Prop.forAll(vecPairGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("a", "b")
        import graft.functions.VectorFunctions.vec_sub
        val native = df.select(vec_sub(col("a"), col("b")))
          .collect().map(_.getSeq[Double](0)).toSeq
        val hof = df.select(zip_with(col("a"), col("b"),
            (x, y) => x.cast("double") - y.cast("double")))
          .collect().map(_.getSeq[Double](0)).toSeq
        native == hof
      }
    }

  property("modularity conserves degrees/edges and bounds Q on random partitions") =
    Prop.forAll(graphGen, Gen.chooseNum(1L, 4L)) { (dir, nc) =>
      dir.isEmpty || {
        val und = (dir ++ dir.map(_.swap)).distinct
        val edges = und.toDF("s", "d")
        val labels = und.flatMap(e => Seq(e._1, e._2)).distinct
          .map(v => (v, v % nc)).toDF("id", "lab")
        val rows = graft.operators.Graph.modularity(edges, "s", "d", labels)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        val dd = und.size.toLong
        val degOk = rows.map(_._3).sum == dd          // Σ deg_c = |directed E|
        val intOk = rows.map(_._4).sum <= dd &&        // internal ⊆ E
          rows.forall(r => r._4 <= r._3)               // per community too
        val q = rows.map(_._5).sum
        val qOk = q <= 1.0 + 1e-12 && q >= -0.5 - 1e-12 // Newman bounds
        // partition invariance: layout must not change a single value
        val again = graft.operators.Graph
          .modularity(edges.repartition(7), "s", "d", labels.repartition(3))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        degOk && intOk && qOk && again.sortBy(_._1).sameElements(rows.sortBy(_._1))
      }
    }

  private val docsGen: Gen[List[(Long, String)]] =
    Gen.listOfN(8, Gen.listOfN(5, Gen.oneOf("a", "b", "cc", "dd", "e")))
      .map(_.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) })

  property("dsirWeights: token mass conserved; target==corpus ⇒ all weights 0") =
    Prop.forAll(docsGen, Gen.chooseNum(1, 6)) { (rows, vn) =>
      rows.isEmpty || {
        val df = rows.toDF("doc_id", "text")
        val got = graft.operators.Curation
          .dsirWeights(df, "doc_id", "text", isTarget = lit(true), vocabN = vn)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        val totalToks = rows.map(_._2.split("\\s+").length.toLong).sum
        got.map(_._2).sum == totalToks &&              // every occurrence scored
          got.length == rows.length &&                 // every doc present
          got.forall(_._3 == 0.0)                      // p_t ≡ p_r ⇒ exact 0
      }
    }

  property("hitsFixed is invariant to edge duplication and partitioning") =
    Prop.forAll(graphGen) { edges =>
      edges.isEmpty || {
        val base = graft.operators.Graph
          .hitsFixed(edges.toDF("s", "d"), "s", "d", rounds = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val dup = graft.operators.Graph
          .hitsFixed((edges ++ edges).toDF("s", "d").repartition(7),
            "s", "d", rounds = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        base == dup // distinct() canonicalizes; aggregates are mergeable
      }
    }

  // small random embedding fixtures for the blocking/graph properties:
  // first component strictly positive so no vector is the zero vector
  private val vecsGen: Gen[List[(Long, Array[Float])]] =
    Gen.chooseNum(6, 12).flatMap { n =>
      Gen.listOfN(n, Gen.listOfN(8, Gen.chooseNum(1, 97)))
        .map(_.zipWithIndex.map { case (xs, i) =>
          (i.toLong, xs.map(_.toFloat).toArray)
        })
    }
  // the operators' own scoring replica: L2-normalize in double,
  // floor(x·1e6) fixed point, integer-exact dot (the q119 convention)
  private def flooredNorm(v: Array[Float]): Array[Double] = {
    val d = v.map(_.toDouble)
    val s = math.sqrt(d.map(x => x * x).sum)
    d.map(x => math.floor(x / s * 1e6))
  }

  // q322's one-sided theorems as a property, not just the planted
  // fixture: for ANY vectors and ANY blocking (here 2 cells, 2 grids —
  // guaranteed to split some pairs), every emitted neighbor count is
  // ≤ the exact count, every emitted core is an exact core, and
  // coverage is total. The oracle replays these on the gate corpus;
  // this checks them on arbitrary geometry.
  property("dbscanCellRoles: counts/cores are one-sided sound under any blocking") =
    Prop.forAll(vecsGen) { rows =>
      val df = rows.toDF("vec_id", "embedding")
      val theta = 250000000000L
      val minPts = 2L
      val fx = rows.map { case (i, v) => i -> flooredNorm(v) }.toMap
      def exDot(a: Long, b: Long): Double =
        fx(a).zip(fx(b)).map { case (x, y) => x * y }.sum
      val exactNb = rows.map { case (i, _) =>
        i -> rows.count { case (j, _) => j != i && exDot(i, j) >= theta.toDouble }
      }.toMap
      val got = graft.operators.Similarity.dbscanCellRoles(df, "vec_id",
          "embedding", thetaFx = theta, minPts = minPts, numCells = 2,
          iters = 1, dim = 8, grids = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      got.length == rows.length &&
        got.forall { case (id, nNb, _) => nNb <= exactNb(id) } &&
        got.forall { case (id, _, role) =>
          role != "core" || exactNb(id) >= minPts }
    }

  // random DISJOINT per-grid canonical pair sets over ≤ 40 ids (the
  // first grid to draw a pair keeps it — dbscanGridPairs' first-finder
  // contract), 1-3 grids, and a random minPts
  private val gridPairsGen: Gen[(Int, Int, Long, Seq[Seq[(Long, Long)]])] =
    for {
      n <- Gen.chooseNum(2, 40)
      grids <- Gen.chooseNum(1, 3)
      minPts <- Gen.chooseNum(1L, 6L)
      drawn <- Gen.listOf(Gen.zip(Gen.chooseNum(0, n - 1),
        Gen.chooseNum(0, n - 1), Gen.chooseNum(0, grids - 1)))
    } yield {
      val canon = drawn.filter { case (a, b, _) => a != b }
        .map { case (a, b, g) => (math.min(a, b).toLong, math.max(a, b).toLong, g) }
        .distinctBy { case (a, b, _) => (a, b) }
      (n, grids, minPts, (0 until grids).map(g =>
        canon.collect { case (a, b, `g`) => (a, b) }))
    }

  // the all-prefix fold against a brute-force DBSCAN over the union of
  // the first g grids' pairs, for every prefix g
  property("dbscanPrefixRoles: every prefix equals brute force on its pair union") =
    Prop.forAllNoShrink(gridPairsGen) { case (n, grids, minPts, perGrid) =>
      val data = (0L until n.toLong).toDF("vec_id")
      val got = graft.operators.Similarity.dbscanPrefixRoles(data, "vec_id",
          perGrid.map(_.toDF("ia", "ib")), minPts)
        .collect().map(r => r.getLong(0) -> r).toMap
      got.size == n && (1 to grids).forall { g =>
        val union = perGrid.take(g).flatten
        val nbrs = (0L until n.toLong).map(i => i -> union.collect {
          case (`i`, b) => b
          case (a, `i`) => a
        }).toMap
        def isCore(i: Long) = nbrs(i).size >= minPts
        (0L until n.toLong).forall { i =>
          val role =
            if (isCore(i)) "core"
            else if (nbrs(i).exists(isCore)) "border"
            else "noise"
          got(i).getAs[Long](s"n_nb_$g") == nbrs(i).size &&
            got(i).getAs[String](s"role_$g") == role
        }
      }
    }

  // chain, star and clique components under shuffled ids: the driver
  // CC and the distributed min-label CC label every id identically
  private val shapedGraphGen: Gen[List[(Long, Long)]] = {
    val component = for {
      shape <- Gen.oneOf("chain", "star", "clique")
      size <- Gen.chooseNum(2, 8)
    } yield (shape, size)
    for {
      comps <- Gen.nonEmptyListOf(component).map(_.take(4))
      ids <- Gen.pick(comps.map(_._2).sum, 0L until 100L)
      keys <- Gen.listOfN(ids.size, Gen.chooseNum(0, Int.MaxValue))
      order <- Gen.oneOf(true, false)
    } yield {
      val shuffled = ids.toList.zip(keys).sortBy(_._2).map(_._1)
      val starts = comps.map(_._2).scanLeft(0)(_ + _)
      comps.zip(starts).flatMap { case ((shape, size), s) =>
        val v = shuffled.slice(s, s + size)
        val edges = shape match {
          case "chain" => v.zip(v.tail)
          case "star"  => v.tail.map(v.head -> _)
          case _       => v.combinations(2).map(p => p(0) -> p(1)).toList
        }
        if (order) edges else edges.map(_.swap)
      }
    }
  }

  property("driver CC equals the distributed CC on chains, stars and cliques") =
    Prop.forAllNoShrink(shapedGraphGen) { edges =>
      val pairs = edges.toDF("id_a", "id_b")
      def lab(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      lab(graft.operators.Dedup.localConnectedComponents(pairs, "id_a", "id_b",
          cap = edges.size)) ==
        lab(graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b"))
    }

  // q326's zero-slack theorem as a property: under ANY geometry, the
  // per-round graphs' true-edge hits are non-decreasing in rounds
  // (round r+1's candidates contain round r's selections; a true
  // top-k edge is never displaced).
  property("knnGraphDescentCurve: true-edge hits non-decreasing in rounds") =
    Prop.forAll(vecsGen) { rows =>
      val df = rows.toDF("vec_id", "embedding")
      val k = 2
      def nrm(v: Array[Float]): Array[Double] = {
        val d = v.map(_.toDouble)
        val s = math.sqrt(d.map(x => x * x).sum)
        d.map(_ / s)
      }
      val nv = rows.map { case (i, v) => i -> nrm(v) }.toMap
      val exact = rows.map { case (i, _) =>
        i -> rows.filter(_._1 != i).map { case (j, _) =>
          (j, nv(i).zip(nv(j)).map { case (x, y) => x * y }.sum)
        }.sortBy { case (j, c) => (-c, j) }.take(k).map(_._1).toSet
      }.toMap
      val curve = graft.operators.Similarity.knnGraphDescentCurve(df,
        "vec_id", "embedding", k = k, numCells = 2, dim = 8,
        grids = 1, rounds = 2, initWidth = 1)
      val hits = curve.map(_.collect()
        .count(r => exact(r.getLong(0)).contains(r.getLong(1))))
      hits(0) <= hits(1) && hits(1) <= hits(2)
    }
}
