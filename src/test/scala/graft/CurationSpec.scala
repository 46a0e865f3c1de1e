package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Specs for the dataset-curation operators: planted fixtures with
  * known answers for splits, decontamination, repetition metrics,
  * packing and redaction.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // the held-out folds of a unigramStarts frame, as q263 (usage), q265
  // (per-type piece counts) and q267 (internal boundaries) run them
  private def usageFold(starts: DataFrame): Seq[(String, Long)] =
    starts.select(expr("substring(w, pos, mlen)").as("piece"), col("wc"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("use_wt"))
      .orderBy(desc("use_wt"), asc("piece"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  private def pieceCountFold(starts: DataFrame): Map[String, Long] =
    starts.groupBy(col("w")).agg(count(lit(1)).as("n_pieces"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  private def boundaryFold(starts: DataFrame): Set[(String, Long)] =
    starts.filter(col("pos") > 1)
      .select(col("w"), (col("pos") - 1).cast("long").as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("splitAssign is deterministic and roughly proportional") {
    val ids = (0L until 10000L).toDF("id")
    val split = Curation.splitAssign(col("id"), seed = 42L, trainPct = 80, valPct = 10)
    val counts = ids.select(split.as("s")).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > 7500 && counts("train") < 8500)
    assert(counts("val") > 700 && counts("val") < 1300)
    assert(counts("test") > 700 && counts("test") < 1300)
    // re-evaluation yields the identical assignment (pure function of id+seed)
    val again = ids.select(split.as("s")).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === counts)
  }

  test("splitAssign changes with seed but not with row order") {
    val ids = (0L until 1000L).toDF("id")
    val a = ids.select(col("id"), Curation.splitAssign(col("id"), 1L, 80, 10).as("s"))
    val b = ids.orderBy(rand(7)).select(col("id"), Curation.splitAssign(col("id"), 1L, 80, 10).as("s"))
    assert(a.except(b).count() === 0) // order-independent
    val c = ids.select(Curation.splitAssign(col("id"), 2L, 80, 10).as("s"))
    // a different seed reassigns at least one row
    assert(a.select("s").collect().map(_.getString(0)).toSeq !==
      c.collect().map(_.getString(0)).toSeq)
  }

  test("generalizationDepth picks the minimal level that clears kMin") {
    val recs = Seq(
      (1L, "x", "p"), (2L, "x", "p"), (3L, "x", "q"),
      (4L, "y", "p"), (5L, "z", "q")
    ).toDF("id", "a", "b")
    val got = Curation.generalizationDepth(recs, "id",
        Seq(Seq("a", "b"), Seq("a")), kMin = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    // (x,p) class of 2 clears k at level 0; (x,q) needs level 1 (|x|=3);
    // y and z never clear -> suppression level 2, k_eff 0
    assert(got(1L) === ((2L, 0, 2L)))
    assert(got(2L) === ((2L, 0, 2L)))
    assert(got(3L) === ((1L, 1, 3L)))
    assert(got(4L) === ((1L, 2, 0L)))
    assert(got(5L) === ((1L, 2, 0L)))
  }

  test("waterFillAlloc funds small groups fully and caps large ones") {
    val sup = Seq(("a", 10L), ("b", 3L), ("c", 5L), ("d", 100L))
      .toDF("k", "supply")
    val got = Curation.waterFillAlloc(sup, "k", "supply", 1L, 2L)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    // total 118, B = 59: a/b/c fully funded (18), d capped at 41
    assert(got === Map("a" -> ((10L, false)), "b" -> ((3L, false)),
      "c" -> ((5L, false)), "d" -> ((41L, true))))
  }

  test("waterFillAlloc spreads the remainder over the first capped keys") {
    val sup = Seq(("a", 5L), ("b", 5L), ("c", 5L), ("d", 5L))
      .toDF("k", "supply")
    val got = Curation.waterFillAlloc(sup, "k", "supply", 1L, 2L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // B = 10 over 4 equal groups: level 2, remainder 2 -> a,b get 3
    assert(got === Map("a" -> 3L, "b" -> 3L, "c" -> 2L, "d" -> 2L))
    assert(got.values.sum === 10L)
  }

  test("wordpieceMergeRounds: likelihood-gain argmax diverges from BPE's count argmax") {
    // corpus "aab"×3 + "xy"×1. Round-1 pair counts: (a,a)=3, (a,b)=3,
    // (x,y)=1; BPE would take (a,a) (count tie, lexical) — WordPiece
    // scores 3/36 vs 3/18 vs 1/1 and takes the rare-but-exclusive
    // (x,y). Round 2: (a,b) at 3/18 beats (a,a) at 3/36. Round 3
    // fuses (a,ab) at 3/9.
    val df = Seq("aab aab aab xy").toDF("text")
    val got = Curation.wordpieceMergeRounds(df, "text", rounds = 3)
      .orderBy(col("round"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got(0) === ((1L, "x", "y", 1L, 1L, 1L, 0L, 10L)))
    assert(got(1) === ((2L, "a", "b", 3L, 6L, 3L,
      math.floor(math.log(3.0 / 18.0) * 1e6).toLong, 7L)))
    assert(got(2) === ((3L, "a", "ab", 3L, 3L, 3L,
      math.floor(math.log(3.0 / 9.0) * 1e6).toLong, 4L)))
  }

  test("wordpieceTrainedMerges: frozen list matches the trainer's picks and replays on held-out text") {
    val df = Seq("aab aab aab xy").toDF("text")
    val merges = Curation.wordpieceTrainedMerges(df, "text", rounds = 3)
    assert(merges === Seq(("x", "y"), ("a", "b"), ("a", "ab")))
    // frozen apply on a DIFFERENT corpus: pairs absent there are no-ops,
    // present ones replay the island-parity greedy merge
    val eval = Seq("aabab zz").toDF("text")
    val segs = Curation.bpeSegment(eval, "text", merges)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // "aabab" = a·a·b·a·b → (a,b) merges p1+p3 → a·ab·ab → (a,ab)
    // fuses the head (island parity: leftmost only) → aab·ab
    assert(segs("aabab") === 2L)
    assert(segs("zz") === 2L) // no trained pair applies
  }

  test("decontaminate flags the planted overlap and only it") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // contains eval 5-gram
      (2L, "one two three four five six seven"),     // disjoint
      (3L, "alpha beta gamma x y z")                  // shares only a 3-gram prefix
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val got = Curation.decontaminate(train, eval, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet === Set(1L))
    assert(got(1L) === 1L) // exactly the one shared 5-gram
  }

  test("repeatedExtents: planted passages merge to maximal extents; unique text anchors nothing") {
    val docs = Seq(
      // shared 8-token passage at the head of docs 1 and 2
      (1L, "a b c d e f g h unique1 only1 here1"),
      (2L, "start2 a b c d e f g h tail2 tail2b"),
      // within-doc repeat: "x y z" occurs twice in doc 3 alone
      (3L, "x y z x y z"),
      // no k-gram repeats anywhere
      (4L, "q r s t u v w"),
      // shorter than k: anchors nothing even if its tokens repeat
      (5L, "a b")).toDF("doc_id", "text")
    val out = Curation.repeatedExtents(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id", "start_tok")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 1: grams at p=0..5 of the 8-token passage repeat in doc 2 →
    // one extent [0, 7]; doc 2: same passage at p=1..6 → [1, 8];
    // doc 3: "x y z" at p=0 and p=3 (gap 3 ≤ k) → one extent [0, 5]
    assert(out === Seq(
      (1L, 0L, 7L, 8L, 6L),
      (2L, 1L, 8L, 8L, 6L),
      (3L, 0L, 5L, 6L, 2L)))
  }

  test("stripRepeatedExtents: keep-first semantics — first occurrence survives, later copies strip") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "a b c d e f g h unique1 only1 here1"),
      (2L, "start2 a b c d e f g h tail2 tail2b"),
      (3L, "x y z x y z"),
      (4L, "q r s t u v w"),
      (5L, "a b")).toDF("doc_id", "text")
    // keepFirst extents: doc 1 owns every first occurrence → untouched;
    // doc 2 loses the shared passage; doc 3 loses its second "x y z"
    val ext = Curation.repeatedExtents(docs, "doc_id", "text", k = 3, keepFirst = true)
      .orderBy("doc_id", "start_tok")
      .select("doc_id", "start_tok", "end_tok")
      .as[(Long, Long, Long)].collect().toSeq
    assert(ext === Seq((2L, 1L, 8L), (3L, 3L, 5L)))
    val out = Curation.stripRepeatedExtents(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 11L, 11L, 0L, md5hex("a b c d e f g h unique1 only1 here1")),
      (2L, 11L, 3L, 8L, md5hex("start2 tail2 tail2b")),
      (3L, 6L, 3L, 3L, md5hex("x y z")),
      (4L, 7L, 7L, 0L, md5hex("q r s t u v w")),
      (5L, 2L, 2L, 0L, md5hex("a b"))))
  }

  test("bpeMergeRounds: planted corpus replays known merges; runs merge greedily; early stop") {
    // types: aa×3, ab×1, b×1 → round 1 merges (a,a) [cnt 3], round 2
    // merges (a,b) [cnt 1], round 3 finds no pairs and stops early
    val docs = Seq((1L, "aa aa ab"), (2L, "aa b")).toDF("doc_id", "text")
    val out = Curation.bpeMergeRounds(docs, "text", rounds = 3)
      .orderBy("round")
      .as[(Long, String, String, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "a", "a", 3L, 1L, 3L, 6L),
      (2L, "a", "b", 1L, 1L, 1L, 5L)))
    // greedy left-to-right on identical-symbol runs: "aaa" counts the
    // overlapping pair twice (Sennrich get_stats) but merges only at
    // even offsets → "aa"+"a", then round 2 merges ("aa","a")
    val runs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val out2 = Curation.bpeMergeRounds(runs, "text", rounds = 3)
      .orderBy("round")
      .as[(Long, String, String, Long, Long, Long, Long)].collect().toSeq
    assert(out2 === Seq(
      (1L, "a", "a", 4L, 1L, 2L, 4L),
      (2L, "aa", "a", 2L, 1L, 2L, 2L)))
  }

  test("bpeTrainFull: one training run yields bpeMergeRounds' stats AND the segmented final frame") {
    // r13: q213+q216 share one memoized full-corpus chain — the stats
    // are bpeMergeRounds' planted rows, and the final symbol frame
    // segments the planted corpus to the expected subword vocabulary
    val docs = Seq((1L, "aa aa ab"), (2L, "aa b")).toDF("doc_id", "text")
    val (stats, syms) = Curation.bpeTrainFull(docs, "text", rounds = 3)
    assert(stats === Seq(
      (1L, "a", "a", 3L, 1L, 3L, 6L),
      (2L, "a", "b", 1L, 1L, 1L, 5L)))
    val vocab = syms.groupBy(col("s"))
      .agg(sum(col("wc")).as("n_occ"), countDistinct(col("w")).as("n_types"))
      .orderBy(desc("n_occ"), asc("s"))
      .as[(String, Long, Long)].collect().toSeq
    assert(vocab === Seq(("aa", 3L, 1L), ("ab", 1L, 1L), ("b", 1L, 1L)))
    syms.unpersist()
  }

  test("repetitionMetrics on a fully repetitive vs a diverse doc") {
    val df = Seq(
      (1L, "spam spam spam spam spam"),  // 1 distinct token, 1 distinct bigram
      (2L, "a b c d e")                   // all distinct
    ).toDF("doc_id", "text")
    val m = Curation.repetitionMetrics(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val (dupTok1, topBg1, dupBg1) = m(1L)
    assert(dupTok1 === 0.8)   // 1 - 1/5
    assert(topBg1 === 1.0)    // "spam spam" is every bigram
    assert(dupBg1 === 1.0)
    val (dupTok2, topBg2, dupBg2) = m(2L)
    assert(dupTok2 === 0.0)
    assert(topBg2 === 0.25)   // 4 bigrams, all unique
    assert(dupBg2 === 0.0)
  }

  test("packSequences: every bin within budget except possibly by last doc") {
    val docs = (0L until 500L).map(i => (i, 10L + (i % 90))).toDF("doc_id", "n_tok")
    val budget = 200L
    val packed = Curation.packSequences(docs, "doc_id", col("n_tok"), budget, buckets = 4, seed = 1L)
      .collect()
    assert(packed.map(_.getLong(2)).sum === 500L) // every doc packed exactly once
    // a bin overflows the budget only by (at most) its final document:
    // exclusive-cumsum binning ⇒ bin total < budget + max single doc (99+10)
    packed.foreach { r => assert(r.getLong(3) < budget + 100L) }
    // bins within a bucket are contiguous 0..max
    packed.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val bins = rows.map(_.getLong(1)).sorted
      assert(bins === (0L until bins.length).toArray.toSeq)
    }
  }

  test("redactPii masks emails and IPs, counts are consistent") {
    val df = Seq(
      "write to alice.smith+x@example.co.uk or 192.168.0.1 today",
      "no pii here at all",
      "two mails a@b.io c@d.org one ip 8.8.8.8").toDF("text")
    val got = df.select(
      Curation.emailCount(col("text")).as("e"),
      Curation.ipCount(col("text")).as("i"),
      Curation.redactPii(col("text")).as("r")).collect()
    assert(got(0).getInt(0) === 1 && got(0).getInt(1) === 1)
    assert(got(0).getString(2) === "write to <EMAIL> or <IP> today")
    assert(got(1).getInt(0) === 0 && got(1).getInt(1) === 0)
    assert(got(1).getString(2) === "no pii here at all")
    assert(got(2).getInt(0) === 2 && got(2).getInt(1) === 1)
    assert(got(2).getString(2) === "two mails <EMAIL> <EMAIL> one ip <IP>")
  }

  test("HLL vocab estimate within 5% of exact per-language count") {
    val exact = graft.queries.Pipeline.q66Vocab(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val approx = graft.queries.Pipeline.q68VocabApprox(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (lang, v) =>
      val est = approx(lang)
      assert(math.abs(est - v).toDouble / v <= 0.05,
        s"$lang: est $est vs exact $v")
    }
  }

  test("sketch-table union is lossless: merged snapshots == single pass") {
    import org.apache.spark.sql.functions._
    val terms = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), pmod(col("doc_id"), lit(4)).as("snap"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
    // per-snapshot sketch table, then union-merged (what q110 registers)
    val merged = terms
      .groupBy(col("lang"), col("snap"))
      .agg(expr("hll_sketch_agg(term, 14)").as("sk"))
      .groupBy(col("lang"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // one pass over everything, same lgK
    val single = terms
      .groupBy(col("lang"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(term, 14))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // union of HLL registers is exactly the register-wise max — the
    // merged estimate is identical to the single-pass estimate
    assert(merged === single)
  }

  test("tfidf ranks corpus-rare terms above ubiquitous ones") {
    // 'common' appears in all 4 docs (idf = ln(5/5) = 0); doc-specific
    // terms appear once (idf = ln(5/2) > 0) — each doc's top term must
    // be its own rare term, never 'common', despite equal tf
    val df = Seq(
      (1L, "common rare1"), (2L, "common rare2"),
      (3L, "common rare3"), (4L, "common rare4")).toDF("doc_id", "text")
    val top1 = Curation.tfidfTopK(df, "doc_id", "text", 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top1 === Map(1L -> "rare1", 2L -> "rare2", 3L -> "rare3", 4L -> "rare4"))
    // and the common term scores exactly 0 (tf * floor(ln(1)*1e6))
    val all = Curation.tfidfTopK(df, "doc_id", "text", 2)
      .collect().filter(_.getString(1) == "common")
    assert(all.nonEmpty && all.forall(_.getLong(4) === 0L))
  }

  test("boilerplateStats flags the planted cross-doc 5-gram") {
    // "one two three four five" appears in 3 docs; everything else unique
    val boiler = "one two three four five"
    val df = Seq(
      (1L, s"$boiler alpha beta gamma delta"),
      (2L, s"epsilon $boiler zeta eta theta"),
      (3L, s"iota kappa $boiler lambda mu"),
      (4L, "nu xi omicron pi rho sigma tau upsilon")).toDF("doc_id", "text")
    val out = graft.operators.Curation
      .boilerplateStats(df, "doc_id", "text", n = 5, minDocs = 3)
      .orderBy("doc_id").collect()
    // docs 1-3 each contain >=1 boilerplate gram; doc 4 none
    assert(out.length === 4)
    (0 to 2).foreach { i =>
      assert(out(i).getAs[Long]("n_boiler") >= 1L, s"doc ${i + 1}")
    }
    assert(out(3).getAs[Long]("n_boiler") === 0L)
    assert(out(3).getAs[Double]("boiler_frac") === 0.0)
  }

  test("chunkDedup keeps first occurrence corpus-wide and reassembles in order") {
    // chunkTokens=2: doc 1 = [a b][c d][e f]; doc 2 = [c d][x y];
    // doc 3 = [a b][a b] (self-dup); doc 4 entirely made of dup chunks
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "c d x y"),
      (3L, "a b a b"),
      (4L, "c d a b")).toDF("doc_id", "text")
    val out = graft.operators.Curation
      .chunkDedup(df, "doc_id", "text", chunkTokens = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_chunks"),
        r.getAs[Long]("n_kept"), r.getAs[String]("text_dedup")))
    assert(out(0) === ((1L, 3L, 3L, "a b c d e f"))) // first owner keeps all
    assert(out(1) === ((2L, 2L, 1L, "x y")))          // "c d" lost to doc 1
    assert(out(2) === ((3L, 2L, 0L, "")))             // both chunks owned by doc 1
    assert(out(3) === ((4L, 2L, 0L, "")))             // all chunks seen earlier
  }

  test("chunkSliding: overlap grid, full coverage, short-tail clamp") {
    // 10 tokens, chunk 4, stride 3 → starts 0,3,6,9:
    // [t0..t3] [t3..t6] [t6..t9] [t9] — every token covered, each
    // boundary token in two chunks, last chunk clamps to 1 token
    val toks = (0 until 10).map(i => s"t$i")
    val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val got = Curation.chunkSliding(df, "doc_id", "text", 4, 3)
      .orderBy("chunk_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq === Seq(
      (0L, 4L, "t0 t1 t2 t3"),
      (1L, 4L, "t3 t4 t5 t6"),
      (2L, 4L, "t6 t7 t8 t9"),
      (3L, 1L, "t9")))
    // single short doc still yields exactly one chunk
    val one = Curation.chunkSliding(
      Seq((2L, "only two")).toDF("doc_id", "text"), "doc_id", "text", 64, 48)
      .collect()
    assert(one.length === 1 && one(0).getLong(2) === 2L)
    // stride > chunk size must be rejected (it would drop tokens)
    intercept[IllegalArgumentException] {
      Curation.chunkSliding(df, "doc_id", "text", 4, 5)
    }
  }

  test("fuzzyDecontaminate flags near-dup cross pairs above threshold only") {
    val train = Seq(
      // identical to eval 100 ⇒ Jaccard exactly 1.0, every band collides
      (1L, "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square tonight"),
      (2L, "completely different content about catalyst optimizer internals and shuffle partitioning strategy here"),
      // shares only the 6-word prefix ⇒ Jaccard well below 0.5
      (3L, "the quick brown fox jumps over something else entirely now")
    ).toDF("doc_id", "text")
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square tonight")
    ).toDF("doc_id", "text")
    val got = Curation.fuzzyDecontaminate(train, evalDocs, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).toSet === Set((1L, 100L)))
    assert(got.head._3 === 1.0)
    // scale contract: both eval-side joins are explicit broadcasts (the
    // training corpus never shuffles toward the eval suite), and the
    // similarity predicate stays a residual filter on an equi-join —
    // never a nested-loop/cartesian condition (PERF.md lesson 2)
    val plan = Curation.fuzzyDecontaminate(train, evalDocs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected eval-side broadcast joins in:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"similarity predicate leaked into a non-equi join:\n$plan")
  }

  test("chunkSliding is map-only: no exchange in the physical plan") {
    // the operator's scale contract — chunking 100 TB is pure scan
    // parallelism; any shuffle here would be a regression
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // plan STRING, not collect(): AQE wraps the tree in a leaf
    // AdaptiveSparkPlanExec, so node-collect silently sees nothing
    val plan = Curation.chunkSliding(docs, "doc_id", "text", 64, 48)
      .queryExecution.executedPlan.toString
    assert(!plan.replace("BroadcastExchange", "").contains("Exchange"),
      s"unexpected shuffle in chunkSliding plan:\n$plan")
  }

  test("bm25TopK matches a Scala replay and ranks tf/dl sensibly") {
    val docs = Seq(
      (1L, "spark spark spark filler filler filler filler filler"), // tf=3, dl=8
      (2L, "spark filler"),                                         // tf=1, dl=2
      (3L, "spark spark filler filler filler filler filler filler filler filler " +
        "filler filler filler filler filler filler"),               // tf=2, dl=16
      (4L, "filler filler"))                                        // no hit
      .toDF("doc_id", "text")
    val got = Curation.bm25TopK(docs, "doc_id", "text", Seq("spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // exact integer replay: N=4, T=8+2+16+2=28; 'spark' hits docs 1-3
    val n = 4L; val t = 28L; val df = 3L
    val idf = math.floor(math.log((2.0 * n + 2) / (2.0 * df + 1)) * 1e6).toLong
    def score(tf: Long, dl: Long): Long =
      idf * 44 * tf * t / (20 * tf * t + 6 * t + 18 * dl * n)
    val expect = Seq(1L -> score(3, 8), 2L -> score(1, 2), 3L -> score(2, 16))
      .sortBy { case (id, s) => (-s, id) }
    assert(got.toSeq === expect)
    // doc 4 (no query term) must be absent; higher tf at equal dl wins
    assert(!got.map(_._1).contains(4L))
  }

  test("rrfFuse: hand-computed fusion, consensus beats single-list winner") {
    // doc 10 is rank 1 in list A only; doc 20 is rank 2 in BOTH lists.
    // RRF k0=60: doc20 = 2·⌊1e12/62⌋ > doc10 = ⌊1e12/61⌋ — consensus wins.
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((40L, 1), (20L, 2), (30L, 4)).toDF("id", "rank")
    val got = Curation.rrfFuse(Seq(a, b), "id", "rank", k0 = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exp = Map(
      10L -> 1000000000000L / 61,
      40L -> 1000000000000L / 61,
      20L -> 2 * (1000000000000L / 62),
      30L -> (1000000000000L / 63 + 1000000000000L / 64))
    assert(got.map(r => r._1 -> r._2).toMap === exp)
    assert(got.map(r => r._1 -> r._3).toMap ===
      Map(10L -> 1L, 40L -> 1L, 20L -> 2L, 30L -> 2L))
    // ordering: fused score desc, id asc for the 10/40 tie
    assert(got.map(_._1).toSeq === Seq(20L, 30L, 10L, 40L))
  }

  test("tfDensityTopK ranks by query-term density, integral scores") {
    val docs = Seq(
      (1L, "spark spark spark scan"),     // 4 hits? 3 spark + 1 scan = 4/4 tokens
      (2L, "spark filler filler filler"), // 1/4
      (3L, "filler filler filler filler") // 0 hits → absent
    ).toDF("doc_id", "text")
    val got = Curation.tfDensityTopK(docs, "doc_id", "text",
        Seq("spark", "scan"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq(
      (1L, 4L * 1000000000L / 4L),
      (2L, 1000000000L / 4L)))
  }

  test("strideSchedule: every prefix holds sources in ~weight proportion; deterministic") {
    // 3 sources, weights 1/2/3, POPULATIONS also 1:2:3 (50/100/150 of
    // 300) so no source exhausts mid-schedule — stride proportions
    // then hold in every prefix with O(1) error. (Once a source runs
    // dry the remainder re-normalizes among survivors — inherent to
    // any exhaustive interleave, not an error.)
    val docs = (0L until 300L).map { i =>
      val m = (i % 6).toInt
      (i, if (m == 0) "s0" else if (m <= 2) "s1" else "s2")
    }.toDF("id", "src")
    val wt = expr("CASE src WHEN 's0' THEN 1L WHEN 's1' THEN 2L ELSE 3L END")
    val sched = Curation.strideSchedule(docs, "id", "src", wt)
      .orderBy(asc("key_fx"), asc("src"), asc("id"))
      .collect().map(r => r.getString(1))
    assert(sched.length === 300)
    for (p <- Seq(30, 60, 120, 240)) {
      val prefix = sched.take(p)
      for ((s, w) <- Seq(("s0", 1), ("s1", 2), ("s2", 3))) {
        val got = prefix.count(_ == s)
        val exp = p * w / 6.0
        assert(math.abs(got - exp) <= 2.0, s"prefix $p source $s: $got vs $exp")
      }
    }
    // deterministic replay
    val again = Curation.strideSchedule(docs.repartition(7), "id", "src", wt)
      .orderBy(asc("key_fx"), asc("src"), asc("id"))
      .collect().map(r => r.getString(1))
    assert(again.toSeq === sched.toSeq)
  }

  test("orderShuffle is a deterministic permutation keyed by seed") {
    val ids = (0L until 1000L).toDF("doc_id")
    val a = Curation.orderShuffle(ids, "doc_id", 5L).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val b = Curation.orderShuffle(ids, "doc_id", 5L).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(a === b)                          // reproducible
    assert(a.sorted === (0L until 1000L))    // a permutation
    assert(a !== (0L until 1000L).toSeq)     // actually shuffled
    val c = Curation.orderShuffle(ids, "doc_id", 6L).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(a !== c)                          // seed-dependent
  }

  // q225's gate is backed here: the frozen model floors out-of-model
  // grams at zero counts, so unseen text scores strictly lower.
  test("bigramLmScoreCross scores with the frozen train-split model") {
    val train = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // model: uni a=3 b=3 c=1 (V=3); bigrams (a,b)=3 (b,a)=1 (b,c)=1
    val score = Seq((10L, "a b"), (11L, "z z")).toDF("doc_id", "text")
    val got = Curation.bigramLmScoreCross(score, train, "doc_id", "text",
        maxVocab = 100)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def fp(b: Long, u: Long) =
      math.floor(1e6 * math.log((b + 1).toDouble / (u + 3))).toLong
    assert(got(10L) === ((1L, fp(3, 3))))  // in-model bigram
    assert(got(11L) === ((1L, fp(0, 0))))  // fully out-of-model
    assert(got(11L)._2 < got(10L)._2)      // unseen text scores lower
    // a binding cap drops the tail bigram (b,c) to the B=0 floor but
    // keeps the unigram table intact
    val capped = Curation.bigramLmScoreCross(
        Seq((20L, "b c")).toDF("doc_id", "text"), train,
        "doc_id", "text", maxVocab = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(capped(20L) === fp(0, 3))
  }

  // q224's gate is backed here: merges trained on corpus A replay on
  // corpus B with greedy left-to-right parity; a trained pair absent
  // from B is a no-op.
  test("bpeSegment applies frozen merges to a held-out corpus") {
    val trainDf = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    // round 1: (a,a) wc=2 beats (a,b) wc=1; round 2: (a,b); round 3:
    // no adjacent pairs left -> early stop
    val merges = Curation.bpeTrainedMerges(trainDf, "text", rounds = 3)
    assert(merges === Seq(("a", "a"), ("a", "b")))
    val evalDf = Seq((2L, "aaab ba")).toDF("doc_id", "text")
    val segs = Curation.bpeSegment(evalDf, "text", merges)
      .collect().map(r => (r.getString(0), r.getInt(2), r.getString(3)))
      .groupBy(_._1).map { case (w, xs) =>
        w -> xs.sortBy(_._2).map(_._3).toSeq }
    // greedy parity on aaab: (aa) from the leftmost island start, the
    // third 'a' then pairs with b under merge 2; ba has neither pair
    assert(segs("aaab") === Seq("aa", "ab"))
    assert(segs("ba") === Seq("b", "a"))
    // a merge list with a pair absent from the corpus is a no-op
    val none = Curation.bpeSegment(evalDf, "text", Seq(("z", "z")))
      .collect()
    assert(none.length === 6) // aaab(4 chars) + ba(2) stay char-level
  }

  // q235's gate is backed here: hand-computed per-language fertility
  // (occurrence-weighted subwords/word) from a frozen merge list.
  test("bpe fertility: occurrence-weighted subword counts per language") {
    val held = Seq(
      (1L, "ab ab cd", "en"),
      (2L, "ab x", "de")).toDF("doc_id", "text", "lang")
    // frozen merge (a,b): ab -> 1 subword; cd -> 2; x -> 1
    val nsub = Curation.bpeSegment(held, "text", Seq(("a", "b")))
      .groupBy(col("w")).agg(count(lit(1)).as("n_sub"))
    val lw = held
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    val got = lw.join(nsub, Seq("w"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("n_sub")).as("n_subwords"))
      .withColumn("fertility_fx", expr("(n_subwords * 1000000L) div n_words"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    // en: ab x2 (1 sub each) + cd x1 (2 subs) = 4 subwords / 3 words
    // de: ab + x = 2 subwords / 2 words
    assert(got.toSeq === Seq(("de", 2L, 2L, 1000000L),
      ("en", 3L, 4L, 1333333L)))
  }

  // q219's gate is backed here: hand-computed DSIR log-ratio weights
  // on a planted 4-doc corpus (target = source 't') — the Laplace
  // smoothing, bucket counts, and per-doc occurrence-weighted sum.
  test("dsirWeights reproduces hand-computed importance weights") {
    val df = Seq(
      (1L, "wiki wiki facts", "t"),
      (2L, "wiki facts", "t"),
      (3L, "spam spam spam", "r"),
      (4L, "facts spam", "r")).toDF("doc_id", "text", "src")
    val got = Curation.dsirWeights(df, "doc_id", "text",
        isTarget = col("src") === "t", vocabN = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // counts: wiki (3 raw / 3 tgt), facts (3/2), spam (4/0);
    // totals tr=10 tt=5, nb=3 observed buckets (vocab covers all)
    val lrWiki = math.log(4.0 / 8.0) - math.log(4.0 / 13.0)
    val lrFacts = math.log(3.0 / 8.0) - math.log(4.0 / 13.0)
    val lrSpam = math.log(1.0 / 8.0) - math.log(5.0 / 13.0)
    assert(got.keySet === Set(1L, 2L, 3L, 4L)) // every doc scored
    assert(got(1L)._1 === 3L && math.abs(got(1L)._2 - (2 * lrWiki + lrFacts)) < 1e-9)
    assert(got(3L)._1 === 3L && math.abs(got(3L)._2 - 3 * lrSpam) < 1e-9)
    assert(got(4L)._1 === 2L && math.abs(got(4L)._2 - (lrFacts + lrSpam)) < 1e-9)
    assert(got(1L)._2 > 0 && got(3L)._2 < 0) // target-like up, spam down
    // a token OUTSIDE the capped vocab lands in the OOV bucket:
    // with vocabN=1 only 'spam' (count 4) survives; everything else
    // shares one OOV log-ratio, so doc 1 and doc 2's PER-TOKEN means
    // collapse to the same value
    val capped = Curation.dsirWeights(df, "doc_id", "text",
        isTarget = col("src") === "t", vocabN = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(math.abs(capped(1L)._2 / 3.0 - capped(2L)._2 / 2.0) < 1e-9)
  }

  test("winnowFingerprints: shared-run guarantee, bounds, short-doc window") {
    // docs 1 and 2 share an 8-token run (= w+k-1 with k=4, w=5): the
    // winnowing guarantee says they MUST share at least one fingerprint
    val share = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, s"one two $share three four five six seven"),
      (2L, s"$share nine ten eleven twelve thirteen fourteen"),
      (3L, "completely unrelated words that never repeat anywhere at all"),
      (4L, "tiny doc here now"),       // exactly k tokens → 1 gram < w
      (5L, "a b c")                    // < k tokens → no grams at all
    ).toDF("doc_id", "text")
    val fp = Curation.winnowFingerprints(df, "doc_id", "text", k = 4, w = 5)
    val byDoc = fp.collect().groupBy(_.getLong(0))
    val f1 = byDoc(1L).map(_.getLong(2)).toSet
    val f2 = byDoc(2L).map(_.getLong(2)).toSet
    assert((f1 & f2).nonEmpty)                    // the guarantee
    assert((f1 & byDoc(3L).map(_.getLong(2)).toSet).isEmpty)
    // a doc with fewer than w grams still fingerprints (one window)
    assert(byDoc(4L).length === 1)
    assert(!byDoc.contains(5L))                   // shorter than k: none
    // bounds: n_fp ≤ number of windows; positions inside the doc
    byDoc.foreach { case (_, rows) =>
      val nGrams = rows.head.getLong(3)
      val nWindows = math.max(nGrams - 5 + 1, 1L)
      assert(rows.length <= nWindows)
      rows.foreach { r =>
        assert(r.getLong(1) >= 0 && r.getLong(1) < nGrams)
      }
    }
    // deterministic under repartition (pure window arithmetic)
    val again = Curation.winnowFingerprints(
      df.repartition(7), "doc_id", "text", k = 4, w = 5)
    assert(again.except(fp).count() === 0 && fp.except(again).count() === 0)
  }

  test("winnowFingerprints rightmost tie-break on repeated minimum grams") {
    // one doc of one repeated token: every gram hashes identically, so
    // each window's min is the RIGHTMOST position; selections are the
    // window-end positions, collapsing to distinct (pos, hash) pairs
    val df = Seq((1L, Array.fill(10)("x").mkString(" "))).toDF("doc_id", "text")
    // 7 grams (p=0..6), w=5 → windows p=0..2 select p+4 (rightmost)
    val got = Curation.winnowFingerprints(df, "doc_id", "text", k = 4, w = 5)
      .collect().map(r => r.getLong(1)).sorted
    assert(got.toSeq === Seq(4L, 5L, 6L))
  }

  // q238's gate is backed here: a planted en→de→en document yields
  // the exact sentence/language/switch accounting; a monolingual doc
  // reports zero switches; trailing punctuation is stripped before
  // langid (so "is." still scores the en stopword).
  test("sentenceLangMix counts switches and majority language exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, "the and is. der und ist! the of words."),
      (2L, "el es para. los con una")).toDF("doc_id", "text")
    val got = Curation.sentenceLangMix(df, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // doc 1: en, de, en -> 3 sentences, 2 langs, 2 switches, dom en
    assert(got(0) === ((1L, 3L, 2L, 2L, "en")))
    // doc 2: es, es -> no switch
    assert(got(1) === ((2L, 2L, 1L, 0L, "es")))
  }

  test("alignSharedRuns locates the planted shared passage exactly") {
    import spark.implicits._
    // doc 2 embeds doc 1's 6-token passage at offset 3; doc 3 shares
    // only one scattered 4-gram with doc 1 (minimum run = k tokens)
    val passage = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"$passage tail words here"),
      (2L, s"x y z $passage and more stuff"),
      (3L, "unrelated alpha beta gamma delta other things entirely")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("doc_a", "doc_b", "n_shared")
    val grams = Curation.positionalGrams(df, "doc_id", "text", 4)
    val got = Curation.alignSharedRuns(pairs, grams, "doc_id", k = 4)
      .orderBy(col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // pair (1,2): the 6-token passage = 3 chained 4-gram anchors,
    // at start 0 in doc 1 and start 3 in doc 2; carry preserved
    assert(got(0) === ((1L, 2L, 9L, 6L, 0L, 3L)))
    // pair (1,3): single anchor 'alpha beta gamma delta' → len = k
    assert(got(1) === ((1L, 3L, 1L, 4L, 0L, 1L)))
  }

  // q241's gate is backed here: per-domain median fences on a planted
  // two-domain fixture — domain A's median differs from B's, fence
  // ties survive, and ceil((n+1)/2) picks the lower median on even n.
  test("domainQuantileFilter: per-domain median fences, tie rows survive") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),         // n=3, fence=20
      ("b", 4L, 5L), ("b", 5L, 5L), ("b", 6L, 50L), ("b", 7L, 60L) // n=4, fence=5
    ).toDF("dom", "id", "score")
    val got = Curation.domainQuantileFilter(df, "dom", "score", 1, 2)
      .select("id", "score", "fence").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a: ceil(3/2)=2nd smallest = 20 -> keep 2,3; b: ceil(4/2)=2nd = 5
    // (both 5s are <= cum 2) -> fence 5 keeps ALL of b incl. both ties
    assert(got === Set((2L, 20L, 20L), (3L, 30L, 20L),
      (4L, 5L, 5L), (5L, 5L, 5L), (6L, 50L, 5L), (7L, 60L, 5L)))
  }

  test("tokenGiniFx: flat distribution scores 0, skewed scores the exact Gini") {
    val df = Seq(
      ("flat", "a b c d"),
      // counts ascending (1,1,1,97): G = (2·394 − 5·100)/(4·100) = 0.72
      ("skew", (Seq.fill(97)("z") ++ Seq("a", "b", "c")).mkString(" "))
    ).toDF("src", "text")
    val got = Curation.tokenGiniFx(df, "src", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("flat") === ((4L, 4L, 0L)))
    assert(got("skew") === ((4L, 100L, 720000L)))
  }

  test("unigram train/apply: greedy longest-match segmentation, frozen vocab, hand-replayed") {
    // train: types abab(wc2) abcd(wc1). Seed (len 2-4, cnt desc, piece
    // asc, K=4): ab(5) aba(2) abab(2) ba(2). Round-1 greedy: abab ->
    // [abab]; abcd -> [ab, c, d]. Usage: abab:2, ab:1, c:1, d:1.
    val train = Seq("abab abab abcd").toDF("text")
    val rounds = Curation.unigramRounds(train, "text", rounds = 1,
      vocabK = 4, outK = 40, maxPieceLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(rounds.toSeq === Seq(
      (1L, 1L, "abab", 2L), (1L, 2L, "ab", 1L),
      (1L, 3L, "c", 1L), (1L, 4L, "d", 1L)))
    // frozen model = multi-char pieces of the last round's usage
    val vocab = Curation.unigramTrainedVocab(train, "text", rounds = 1,
      vocabK = 4, maxPieceLen = 4)
    assert(vocab === Seq("abab", "ab"))
    // apply on an UNSEEN corpus under the frozen vocab: ababab ->
    // [abab, ab] (longest-first, then continue), cd -> [c, d]
    val eval = Seq("ababab cd").toDF("text")
    val usage = usageFold(Curation.unigramStarts(eval, "text", vocab, maxPieceLen = 4))
    assert(usage === Seq(("ab", 1L), ("abab", 1L), ("c", 1L), ("d", 1L)))
  }

  test("unigramStarts piece-count fold: orbit length per type, terminal position dropped") {
    // frozen vocab [abab, ab]: ababab -> [abab, ab] (2), cd -> [c, d]
    // (2), ab -> [ab] (1); the orbit's terminal (len+1) row must NOT
    // count as a piece
    val eval = Seq("ababab cd ab").toDF("text")
    val got = pieceCountFold(Curation.unigramStarts(eval, "text", Seq("abab", "ab")))
    assert(got === Map("ababab" -> 2L, "cd" -> 2L, "ab" -> 1L))
  }

  // q267's gate is backed here: boundary offsets from the greedy
  // orbit (pos−1 for every non-initial piece start, terminal len+1
  // never leaks), and the BPE-vs-unigram comparison on a word where
  // the families agree on one split and diverge on another.
  test("unigramStarts boundary fold: internal split offsets, no terminal pseudo-boundary") {
    // vocab [abab, ab]: ababa -> [abab, a] (boundary 4); abc -> [ab, c]
    // (boundary 2); ab -> [ab] (no internal boundary -> no row)
    val eval = Seq("ababa abc ab").toDF("text")
    val got = boundaryFold(Curation.unigramStarts(eval, "text", Seq("abab", "ab")))
    assert(got === Set(("ababa", 4L), ("abc", 2L)))
    // agreement view vs a frozen BPE merge (a,b): abc -> [ab, c] also
    // boundary 2 (families agree); ababa BPE -> [ab, ab, a]
    // (boundaries 2, 4) vs unigram {4}: one shared, one bpe-only
    val wWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w")).orderBy(asc("p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val bpeB = Curation.bpeSegment(eval, "text", Seq(("a", "b")))
      .withColumn("b", sum(length(col("s")).cast("long")).over(wWin))
      .filter(col("b") < length(col("w")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(4))).toSet
    assert(bpeB === Set(("ababa", 2L), ("ababa", 4L), ("abc", 2L)))
  }

  test("unigramStarts: the shared valid-start frame reproduces all three apply folds") {
    // r13: q263/q265/q267 fold ONE memoized starts frame instead of
    // three orbits. Vocab [abab, ab], all wc 1: ababab -> [abab, ab],
    // cd -> [c, d], ab -> [ab], ababa -> [abab, a], abc -> [ab, c]
    val eval = Seq("ababab cd ab ababa abc").toDF("text")
    val vocab = Seq("abab", "ab")
    val starts = Curation.unigramStarts(eval, "text", vocab)
    // fold 1: usage (piece, Σwc) in (use_wt desc, piece asc) order
    assert(usageFold(starts) ===
      Seq(("ab", 3L), ("abab", 2L), ("c", 2L), ("a", 1L), ("d", 1L)))
    // fold 2: per-type piece counts
    assert(pieceCountFold(starts) === Map("ababab" -> 2L, "cd" -> 2L,
      "ab" -> 1L, "ababa" -> 2L, "abc" -> 2L))
    // fold 3: internal boundaries (pos > 1 → b = pos − 1)
    assert(boundaryFold(starts) ===
      Set(("ababab", 4L), ("cd", 1L), ("ababa", 4L), ("abc", 2L)))
    // empty corpus → empty frame, right schema
    val empty = Seq.empty[String].toDF("text")
    val none = Curation.unigramStarts(empty, "text", vocab)
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("w", "wc", "pos", "mlen"))
  }

  test("unigram ops: empty / all-empty-token corpus short-circuits, no NPE") {
    val empty = Seq.empty[String].toDF("text")
    assert(Curation.unigramRounds(empty, "text", rounds = 2).count() === 0L)
    assert(Curation.unigramTrainedVocab(empty, "text", rounds = 2) === Seq.empty)
    val blank = Seq("   ", "").toDF("text")
    assert(Curation.unigramRounds(blank, "text", rounds = 1).count() === 0L)
  }

  test("unigramKlFp: non-negative, equal strata tie exactly, shifted diverges more") {
    val same = "a a b b c c"
    val df = Seq(("s1", same), ("s2", same), ("shift", "z z z z z z"))
      .toDF("src", "text")
    val got = Curation.unigramKlFp(df, "src", "text", vocabN = 512)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // 4 distinct tokens, all in-vocab — the OOV bucket only exists
    // when OOV occurrences do (the bucket table is built from
    // OBSERVED buckets; on the real corpus vocabN < #types, so OOV
    // is always present there)
    assert(got.values.forall(_._2 === 4L))
    assert(got.values.forall(_._1 === 6L))
    // KL of two PROPER distributions is ≥ 0; floor can shave at most
    // 1 fixed-point unit per bucket
    assert(got.values.forall(_._3 >= -4L))
    // identical strata run the identical exact arithmetic
    assert(got("s1") === got("s2"))
    // all-mass-on-one-token sits farther from the mixture than the
    // strata that dominate it (hand-computed: 0.298 vs 0.143 nats)
    assert(got("shift")._3 > got("s1")._3 + 100000000L)
  }

  test("lengthBucketBatches: batches chunk the hash order exactly, pads to batch max") {
    // 10 docs, lengths 1..10 in one bucket (width 100), 1 shard, batch 4
    val df = (1L to 10L).map(i => (i, "x " * i.toInt)).toDF("id", "text")
    val got = Curation.lengthBucketBatches(df, "id",
        size(split(trim(col("text")), "\\s+")).cast("long"),
        bucketWidth = 100, batchSize = 4, shards = 1, seed = 5L)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    // Scala replay of the portable hash order
    def hash(id: Long, seed: Long): Long = {
      val h1 = math.floorMod((id + seed) * 2654435761L, 4294967296L)
      math.floorMod(h1 * 69069L + 1L, 4294967296L)
    }
    val order = (1L to 10L).sortBy(i => (hash(i, 6L), i))
    val expect = order.grouped(4).zipWithIndex.map { case (g, bi) =>
      (bi.toLong, g.size.toLong, g.max, g.sum)
    }.toSeq
    assert(got === expect)
  }
}
