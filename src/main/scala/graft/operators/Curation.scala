package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{TextAnalysis => TA}

/** Dataset-curation operators for a large-scale training-data
  * pipeline: deterministic splits, benchmark decontamination,
  * repetition (Gopher-style) quality metrics, sequence packing for a
  * fixed token budget, PII redaction, and a deterministic global
  * training-order shuffle.
  *
  * Beyond-reference surface (the reference engine — SURVEY.md §2 —
  * has no text/curation operators at all). Every operator here is
  * either a pure `Column` expression (map-only, zero shuffle) or a
  * key-partitioned shuffle (explode→groupBy on (doc, gram) keys,
  * window over hash buckets) — no driver-side loops, no UDFs, no
  * all-pairs joins, so each scales to 100 TB by adding executors.
  *
  * Cross-engine portability rule: anything gated by the DuckDB oracle
  * avoids engine-specific hashes (xxhash64) in favor of exact integer
  * arithmetic (multiplicative hashing below) or md5 (identical hex on
  * both engines).
  */
object Curation {

  /** Portable multiplicative hash → [0, 2^32). Plain 64-bit integer
    * arithmetic that never overflows for ids < ~3.4e9 (2^63 /
    * 2654435761), so DuckDB (which errors on BIGINT overflow rather
    * than wrapping) computes bit-identical values. One LCG mixing
    * round on top of Knuth's multiplicative constant spreads
    * sequential ids across low-order bits (we bucket by `% n`, not by
    * high bits).
    */
  def portableHash(id: Column, seed: Long): Column = {
    // Seed is added BEFORE the multiply: x*C mod 2^32 scrambles
    // ordering, so distinct seeds give genuinely different orders
    // (an additive post-multiply seed would only shift every hash by
    // the same constant, preserving relative order).
    val h1 = pmod((id + lit(seed)) * lit(2654435761L), lit(4294967296L))
    pmod(h1 * lit(69069L) + lit(1L), lit(4294967296L))
  }

  /** SQL text of [[portableHash]] for oracle parity. */
  def portableHashSql(idExpr: String, seed: Long): String =
    s"((((($idExpr + $seed) * 2654435761) % 4294967296) * 69069 + 1) % 4294967296)"

  /** Deterministic train/val/test assignment by hash bucket — the
    * standard leakage-safe split: membership depends only on the row
    * id and seed, never on partitioning or row order, so re-runs and
    * backfills land every row in the same split. trainPct+valPct < 100;
    * the remainder is test.
    */
  def splitAssign(id: Column, seed: Long, trainPct: Int, valPct: Int): Column = {
    val bucket = pmod(portableHash(id, seed), lit(100L))
    when(bucket < lit(trainPct.toLong), lit("train"))
      .when(bucket < lit((trainPct + valPct).toLong), lit("val"))
      .otherwise(lit("test"))
  }

  /** Word n-grams as (id, gram) rows — the portable (oracle-checkable)
    * counterpart of [[Dedup.shingleHashes]]' xxhash64 rows, built the
    * same codegen-friendly way: posexplode + window `lead` +
    * `concat_ws`, entirely inside whole-stage codegen. (The obvious
    * alternative — `transform(sequence(...), i => array_join(slice(
    * toks, i, n)))` — is an interpreted HOF with the tokenizer
    * re-inlined per gram position: measured 6× slower plus a 30 s
    * cold-codegen hit. PERF.md lesson: HOF lambdas never go in a
    * per-gram hot path.)
    *
    * One row per gram OCCURRENCE (callers `.distinct()` for set
    * semantics). Shorter-than-n documents yield their one truncated
    * gram — same GREATEST(...,1) convention as the dedup shingles and
    * the q33/q57 oracles. Shuffles (id, token) pairs once, partitioned
    * by id — documents are bounded, so no reducer hot-spot at 100 TB.
    */
  def ngramRows(df: DataFrame, idCol: String, textCol: String, n: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = col(idCol) +: carry.map(col)
    val toks = df.select(keep :+ posexplode(TA.tokens(col(textCol))): _*)
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "t")
    val w = Window.partitionBy(col(idCol)).orderBy(asc("p"))
    val parts = (1 until n).map(j => lead(col("t"), j).over(w))
    toks
      .withColumn("gram", concat_ws(" ", (col("t") +: parts): _*))
      .withColumn("last_t", lead(col("t"), n - 1).over(w))
      .withColumn("n_tok", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .filter(col("last_t").isNotNull || (col("p") === 0 && col("n_tok") < n))
      .select(keep :+ col("gram"): _*)
  }

  /** Repeated-substring EXTENT detection — the exact-boilerplate
    * remover of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better") in its gram-anchored formulation, which
    * chunk (q86) and shingle (q31) dedup only approximate: every
    * k-token window occurring ≥ 2 times in the corpus (same doc or
    * cross-doc) anchors a repeat at its position; per document,
    * anchored windows that overlap or touch (next start ≤ prev start +
    * k) merge into MAXIMAL extents [start_tok, end_tok] — the spans a
    * dedup pass would strip.
    *
    * Shape for 100 TB: positional grams are the ngramRows machinery
    * (posexplode + lead windows, doc-partitioned — codegen'd, no HOF);
    * "repeated" is one gram-keyed count (HAVING ≥ 2) semi-joined back
    * — gram-keyed work, never quadratic in documents (the ScaleStress
    * phase pins gram-keyed growth). Grouping is on the gram STRING for
    * exact oracle parity; a 100 TB run would shuffle xxhash64
    * fingerprints instead (collision odds ~n²/2⁶⁵) — same plan shape.
    * The run-merge is a lag/cumsum window over ANCHORS ONLY (the
    * repeated minority, not the corpus), doc-partitioned.
    */
  def repeatedExtents(df: DataFrame, idCol: String, textCol: String,
                      k: Int, keepFirst: Boolean = false): DataFrame = {
    val toks = df.select(col(idCol), posexplode(TA.tokens(col(textCol))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "t")
    val w = Window.partitionBy(col(idCol)).orderBy(asc("p"))
    val parts = (1 until k).map(j => lead(col("t"), j).over(w))
    // strict k-grams only: a document shorter than k tokens anchors
    // nothing (unlike ngramRows' truncated-gram convention — a short
    // doc is not "boilerplate repeated elsewhere")
    val grams = toks
      .withColumn("gram", concat_ws(" ", (col("t") +: parts): _*))
      .withColumn("last_t", lead(col("t"), k - 1).over(w))
      .filter(col("last_t").isNotNull)
      .select(col(idCol), col("p"), col("gram"))
    // keepFirst = the faithful Lee et al. APPLY semantics: the gram's
    // FIRST occurrence (min (doc_id, p)) is not an anchor, so a strip
    // pass retains exactly one copy of each repeated passage. One
    // extra min(struct) per gram — still gram-keyed aggregates only.
    val anchors =
      if (!keepFirst) {
        val rep = grams.groupBy(col("gram")).agg(count(lit(1)).as("n_occ"))
          .filter(col("n_occ") >= 2).select(col("gram"))
        grams.join(rep, Seq("gram")).select(col(idCol), col("p"))
      } else {
        val rep = grams.groupBy(col("gram")).agg(
            count(lit(1)).as("n_occ"),
            min(struct(col(idCol), col("p"))).as("first_occ"))
          .filter(col("n_occ") >= 2)
          .select(col("gram"),
            col("first_occ").getField(idCol).as("f_id"),
            col("first_occ").getField("p").as("f_p"))
        grams.join(rep, Seq("gram"))
          .filter(!(col(idCol) === col("f_id") && col("p") === col("f_p")))
          .select(col(idCol), col("p"))
      }
    val w2 = Window.partitionBy(col(idCol)).orderBy(asc("p"))
    val runs = anchors
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w2) <= lit(k), 0L).otherwise(1L))
      .withColumn("run", sum(col("brk")).over(
        w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy(col(idCol), col("run"))
      .agg(min(col("p")).cast("long").as("start_tok"),
        (max(col("p")) + lit(k - 1)).cast("long").as("end_tok"),
        count(lit(1)).as("n_anchors"))
      .select(col(idCol), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_tokens"),
        col("n_anchors"))
  }

  /** CODE-SWITCH DETECTION — sentence-level language mix per
    * document: split on sentence punctuation ([.!?]+ + whitespace, an
    * RE2/Java-shared pattern — no lookbehind), language-ID each
    * sentence with [[TA.langId]], and report per doc the sentence
    * count, distinct languages, number of adjacent-sentence language
    * SWITCHES (the code-switching signal a monolingual filter
    * misses: a doc that flips en→de→en mid-text pollutes both
    * monolingual buckets), and the dominant language (majority vote;
    * ties break to the lexically-largest code, matching langId's own
    * greatest-struct convention).
    *
    * Scale shape: sentence explode + langId are map-only codegen; the
    * switch count is a lag window over each doc's sentences (doc-
    * bounded frame); the majority vote is the lesson-17 max(struct)
    * partial aggregate over the (doc, lang) count frame.
    */
  def sentenceLangMix(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val sent = df
      .select(col(idCol), posexplode(split(trim(col(textCol)), "[.!?]+\\s+")))
      .withColumnRenamed("pos", "si").withColumnRenamed("col", "s0")
      .withColumn("s", regexp_replace(col("s0"), "[.!?]+$", ""))
      .filter(trim(col("s")) =!= "")
      .withColumn("slang", TA.langId(col("s")))
      .select(col(idCol), col("si"), col("slang"))
    val w = Window.partitionBy(col(idCol)).orderBy(asc("si"))
    val prev = lag(col("slang"), 1).over(w)
    val perDoc = sent
      .withColumn("chg",
        when(prev.isNotNull && prev =!= col("slang"), 1L).otherwise(0L))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sent"),
        countDistinct(col("slang")).as("n_langs"),
        sum(col("chg")).as("n_switch"))
    val dom = sent.groupBy(col(idCol), col("slang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(struct(col("c"), col("slang"))).as("b"))
      .select(col(idCol), col("b.slang").as("dom_lang"))
    perDoc.join(dom, Seq(idCol))
  }

  /** Strict positional k-grams as (id, p, gram) rows — the shared
    * building block of [[repeatedExtents]], [[winnowFingerprints]] and
    * [[alignSharedRuns]]: posexplode + lead window, doc-partitioned
    * codegen; a document shorter than k yields nothing. */
  def positionalGrams(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    val toks = df.select(col(idCol), posexplode(TA.tokens(col(textCol))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "t")
    val w = Window.partitionBy(col(idCol)).orderBy(asc("p"))
    val parts = (1 until k).map(j => lead(col("t"), j).over(w))
    toks.withColumn("gram", concat_ws(" ", (col("t") +: parts): _*))
      .withColumn("last_t", lead(col("t"), k - 1).over(w))
      .filter(col("last_t").isNotNull)
      .select(col(idCol), col("p"), col("gram"))
  }

  /** SHARED-RUN ALIGNMENT — the dedup EVIDENCE operator: for each
    * candidate pair, the longest contiguous token run the two
    * documents share, located in both (the "why are these near-dups"
    * a reviewer or a strip pass needs; pair detectors only score).
    * Classic seed-chain local alignment on the gram match matrix:
    * matched k-gram positions (pa, pb) lie on diagonal pa−pb;
    * consecutive anchors on one diagonal (pa step = 1) chain into a
    * run of length n_anchors + k − 1 tokens; the pair's best run is
    * the longest (ties → smallest start_a, then start_b).
    *
    * `pairs` carries (doc_a, doc_b) plus any extra columns, which are
    * preserved; `grams` is [[positionalGrams]] output over (at least)
    * the participating docs. Scale shape: the gram match is PAIR-KEYED
    * — pairs ⋈ grams(a) on doc_a, then one equi-join on (doc_b, gram)
    * — work ∝ Σ_pairs |matched grams| (docs bounded), never corpus²;
    * the run merge is a lag/cumsum window over anchors per (pair,
    * diagonal); the per-pair argmax is the lesson-17 max(struct)
    * partial aggregate, not a window over the anchor frame.
    */
  def alignSharedRuns(pairs: DataFrame, grams: DataFrame, idCol: String,
                      k: Int): DataFrame = {
    val carry = pairs.columns.filterNot(Set("doc_a", "doc_b")).toSeq
    val ga = grams.select(col(idCol).as("doc_a"), col("p").as("pa"), col("gram"))
    val gb = grams.select(col(idCol).as("doc_b"), col("p").as("pb"), col("gram"))
    val m = pairs.join(ga, "doc_a").join(gb, Seq("doc_b", "gram"))
      .select((Seq(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag")) ++ carry.map(col)): _*)
    val wd = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(asc("pa"))
    val ext = m
      .withColumn("brk",
        when(col("pa") - lag(col("pa"), 1).over(wd) === 1, 0L).otherwise(1L))
      .withColumn("run", sum(col("brk")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy((Seq(col("doc_a"), col("doc_b"), col("diag"), col("run"))
        ++ carry.map(col)): _*)
      .agg(min(col("pa")).cast("long").as("sa"),
        min(col("pb")).cast("long").as("sb"),
        (count(lit(1)) + lit(k - 1)).as("len"))
    ext.groupBy((Seq(col("doc_a"), col("doc_b")) ++ carry.map(col)): _*)
      .agg(max(struct(col("len"), (-col("sa")).as("nsa"),
        (-col("sb")).as("nsb"))).as("best"))
      .select((Seq(col("doc_a"), col("doc_b")) ++ carry.map(col) ++ Seq(
        col("best.len").as("len_tokens"),
        (-col("best.nsa")).as("start_a"),
        (-col("best.nsb")).as("start_b"))): _*)
  }

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS local document fingerprinting algorithm):
    * over each document's k-gram hash sequence, every window of w
    * consecutive grams selects its minimum hash (rightmost occurrence
    * on ties); the distinct selected (position, hash) pairs are the
    * document's fingerprints. The winnowing guarantee: any shared
    * substring of ≥ w+k−1 tokens yields at least one shared
    * fingerprint, at an expected density of 2/(w+1) — position-robust
    * sub-linear fingerprints, where [[TextAnalysis]]'s q29 fingerprint
    * is whole-doc and MinHash (q31) is set-based (order-blind).
    *
    * Portability: gram hash = first 10 hex chars of md5 (40 bits), so
    * the (hash asc, position desc) argmin packs into ONE int64 window
    * key — key = h·2²² + (2²²−1−p) — and a plain MIN over the rows
    * frame [p, p+w−1] replays bit-identically in any engine (the same
    * trick as q125's 60-bit KMV hash, narrowed to leave room for the
    * 22-bit position; docs are bounded ≪ 4M tokens). Trailing
    * positions (p > n_grams − w) open no window, matching the classic
    * formulation; a doc with fewer than w grams keeps one whole-doc
    * window at p = 0 so every document fingerprints (the "at least
    * one" convention). Scale shape: posexplode + lead + two doc-keyed
    * windows — all doc-partitioned codegen, no joins, no corpus-wide
    * state; the (id, token) shuffle is the ngramRows shape.
    *
    * Returns (id, fp_pos, fp, n_grams) — one row per distinct
    * fingerprint.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    val toks = df.select(col(idCol), posexplode(TA.tokens(col(textCol))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "t")
    val wd = Window.partitionBy(col(idCol)).orderBy(asc("p"))
    val parts = (1 until k).map(j => lead(col("t"), j).over(wd))
    val grams = toks
      .withColumn("gram", concat_ws(" ", (col("t") +: parts): _*))
      .withColumn("last_t", lead(col("t"), k - 1).over(wd))
      .filter(col("last_t").isNotNull)
      .select(col(idCol), col("p"), col("gram"))
    val h = conv(substring(md5(col("gram").cast("binary")), 1, 10), 16, 10)
      .cast("long")
    val wf = Window.partitionBy(col(idCol)).orderBy(asc("p"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("key", h * lit(4194304L) + (lit(4194303L) - col("p")))
      .withColumn("sel", min(col("key")).over(wf))
      .withColumn("n_grams",
        count(lit(1)).over(Window.partitionBy(col(idCol))))
      .filter(col("p") <= col("n_grams") - w ||
        (col("p") === 0 && col("n_grams") < w))
      .select(col(idCol),
        (lit(4194303L) - pmod(col("sel"), lit(4194304L))).as("fp_pos"),
        expr("sel div 4194304").as("fp"),
        col("n_grams"))
      .distinct()
  }

  /** APPLY pass for [[repeatedExtents]] (keepFirst semantics — the
    * faithful Lee et al. dedup: each repeated passage keeps exactly
    * its first occurrence): strip every extent's tokens and account
    * per document. Returns (id, n_before, n_after, n_stripped,
    * clean_md5) where clean_md5 fingerprints the post-strip token
    * splice — externally replayable, so an oracle catches a wrong
    * boundary, a double-stripped token, or a broken splice order.
    *
    * Scale shape: the anti range-join runs per doc (equi on id,
    * extent bounds as residual) against the doc's FEW disjoint
    * extents; the splice re-order is one per-doc sort of kept tokens
    * (bounded docs). The only interpreted HOF (the struct→token
    * transform) runs once per kept token on the OUTPUT path, not in
    * any candidate hot loop. */
  def stripRepeatedExtents(df: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame = {
    val ext = repeatedExtents(df, idCol, textCol, k, keepFirst = true)
      .select(col(idCol).as("xid"), col("start_tok"), col("end_tok"))
    val toks = df.select(col(idCol), posexplode(TA.tokens(col(textCol))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "t")
    // extents are disjoint per doc (maximal runs), so each token
    // matches at most one extent; anti join keeps the survivors
    val kept = toks.join(ext,
      col(idCol) === col("xid") &&
        col("p") >= col("start_tok") && col("p") <= col("end_tok"),
      "left_anti")
    val cleaned = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_after"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("t")))),
            x => x.getField("t")))).as("clean_md5"))
    df.select(col(idCol), TA.tokenCount(col(textCol)).as("n_before"))
      .join(cleaned, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_stripped"),
        coalesce(col("clean_md5"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("clean_md5"))
  }

  /** Iterative BPE merge training (Sennrich et al. 2016) — the
    * tokenizer-training primitive the corpus-stats family (q176/q192/
    * q193) points at, run as deterministic synchronous rounds under
    * the graph family's fixed-round replay contract so an oracle can
    * unroll it in SQL.
    *
    * Classic word-TYPE formulation: the corpus collapses once into a
    * (word, count) type table — the only corpus-sized shuffle — and
    * every round runs on the vocab-bounded symbol frame (word ×
    * symbol-position rows). Per round: count adjacent symbol pairs
    * weighted by word count (overlapping occurrences count, as in
    * Sennrich's get_stats); pick the max pair (count desc, then
    * lexical); merge greedily left-to-right non-overlapping — within
    * each maximal run of consecutively-matched positions, exactly the
    * even offsets merge (for a≠b runs are length-1; for a=a runs this
    * reproduces the scan order). The 1-row best-pair collect per round
    * is a model collect (the merge table IS the trained artifact).
    *
    * Returns one row per executed round: (round, lhs, rhs, pair_count,
    * n_type_merges, n_merges_wt, n_symbols_after) — all exact int64 /
    * strings, bit-replayable. ASCII-safe char splitting (the corpus'
    * tokens; non-BMP codepoints would split differently across
    * engines).
    */
  def bpeMergeRounds(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mergeTrain(df, textCol, rounds, countPick, keepFinal = false)._1
      .map(bpeStats)
      .toDF("round", "lhs", "rhs", "pair_count",
        "n_type_merges", "n_merges_wt", "n_symbols_after")
  }

  /** One training run, BOTH artifacts: the per-round stats tuples
    * ([[bpeMergeRounds]]'s rows) and the corpus SEGMENTED by the
    * trained merges — the final (w, wc, p, s) symbol frame, each word
    * type's subword sequence, left persisted and materialized — so a
    * caller serving both consumers (the merge-round table AND the
    * final vocabulary) trains ONCE instead of twice (r13: q213+q216
    * ran the identical full-corpus chain back to back). */
  def bpeTrainFull(df: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Long, String, String, Long, Long, Long, Long)], DataFrame) = {
    val (stats, syms) = mergeTrain(df, textCol, rounds, countPick, keepFinal = true)
    (stats.map(bpeStats), syms.get)
  }

  /** The trained merge list alone — the (lhs, rhs) pairs in round
    * order, i.e. the tokenizer MODEL (what ships to the apply side). */
  def bpeTrainedMerges(df: DataFrame, textCol: String,
                       rounds: Int): Seq[(String, String)] =
    mergeTrain(df, textCol, rounds, countPick, keepFinal = false)._1
      .map(r => (r.lhs, r.rhs))

  private def bpeStats(r: MergeRound): (Long, String, String, Long, Long, Long, Long) =
    (r.round, r.lhs, r.rhs, r.cnt, r.nTypeMerges, r.nMergesWt, r.symbolsAfter)

  /** WordPiece merge trainer (Schuster & Nakajima 2012; the
    * likelihood-gain criterion BERT's tokenizer ships with) — the
    * THIRD tokenizer family next to BPE (count argmax) and unigram-LM
    * (EM prune): the same merge trainer as [[bpeMergeRounds]], but
    * the per-round pair pick ([[gainPick]]) maximizes
    * score(a,b) = cnt(ab) / (cnt(a)·cnt(b)) — the unigram-LM
    * likelihood gain of fusing the pair — instead of raw cnt(ab), so
    * a rare-but-exclusive bigram beats a frequent pair of
    * individually-frequent symbols.
    *
    * Output per round: (round, lhs, rhs, pair_count, ca, cb,
    * score_fx = floor(ln(cnt/(ca·cb))·1e6), n_symbols_after).
    */
  def wordpieceMergeRounds(df: DataFrame, textCol: String,
                           rounds: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mergeTrain(df, textCol, rounds, gainPick, keepFinal = false)._1
      .map { r =>
        val (ca, cb) = (r.pick.getLong(3), r.pick.getLong(4))
        // same libm ln the oracle's LN applies to the identical
        // exact-int ratio — the floor(ln·1e6) fixed-point convention
        val scoreFx = math.floor(
          math.log(r.cnt.toDouble / (ca.toDouble * cb.toDouble)) * 1e6).toLong
        (r.round, r.lhs, r.rhs, r.cnt, ca, cb, scoreFx, r.symbolsAfter)
      }
      .toDF("round", "lhs", "rhs", "pair_count", "ca", "cb",
        "score_fx", "n_symbols_after")
  }

  /** The trained WordPiece merge list alone — (lhs, rhs) in round
    * order, the frozen MODEL a held-out apply consumes. Segmentation
    * under a trained list is criterion-independent (the same greedy
    * island-parity replay as BPE), so [[bpeSegment]] applies it:
    * only the training pair pick distinguishes the families. */
  def wordpieceTrainedMerges(df: DataFrame, textCol: String,
                             rounds: Int): Seq[(String, String)] =
    mergeTrain(df, textCol, rounds, gainPick, keepFinal = false)._1
      .map(r => (r.lhs, r.rhs))

  /** One executed merge round: the pick's row (lhs, rhs, pair_count,
    * then any columns of the pick's own), the type-level and
    * corpus-weighted merge counts, and Σwc of the rebuilt frame. */
  private final case class MergeRound(round: Long, pick: Row, nTypeMerges: Long,
                                      nMergesWt: Long, symbolsAfter: Long) {
    def lhs: String = pick.getString(0)
    def rhs: String = pick.getString(1)
    def cnt: Long = pick.getLong(2)
  }

  /** A merge trainer's per-round pair pick: from the symbol frame and
    * its corpus-weighted adjacent-pair counts (s, s2, cnt), the 1-row
    * winning pair (s, s2, cnt, …) — all that BPE and WordPiece
    * training differ in. */
  private type PairPick = (DataFrame, DataFrame) => DataFrame

  /** BPE: the max pair count, ties broken lexically on (a, b). */
  private def countPick(syms: DataFrame, pairs: DataFrame): DataFrame =
    pairs.orderBy(desc("cnt"), asc("s"), asc("s2")).limit(1)

  /** WordPiece: the max likelihood gain cnt(ab) / (cnt(a)·cnt(b)),
    * ties broken lexically on (a, b); the row carries ca and cb. The
    * score comparison is one correctly-rounded IEEE division of exact
    * int64 counts (cnt ≤ 2^53, ca·cb ≤ 2^53 ⇒ both operands exact ⇒
    * both engines produce the identical double). */
  private def gainPick(syms: DataFrame, pairs: DataFrame): DataFrame = {
    val uni = syms.groupBy(col("s")).agg(sum(col("wc")).as("cu"))
    pairs
      .join(uni.select(col("s"), col("cu").as("ca")), "s")
      .join(uni.select(col("s").as("s2"), col("cu").as("cb")), "s2")
      .orderBy((col("cnt").cast("double") / (col("ca") * col("cb"))).desc,
        asc("s"), asc("s2"))
      .limit(1)
      .select(col("s"), col("s2"), col("cnt"), col("ca"), col("cb"))
  }

  /** The one merge trainer behind BPE and WordPiece: up to `rounds`
    * rounds of (pick a pair, merge it greedily) over the word-type
    * symbol frame, stopping early once no adjacent pair is left. Per
    * round the driver collects the 1-row pick and the merge counts.
    * Returns the executed rounds and, with `keepFinal`, the final
    * symbol frame, persisted and materialized; without it every frame
    * is released and the last one is never computed. */
  private def mergeTrain(df: DataFrame, textCol: String, rounds: Int,
      pick: PairPick, keepFinal: Boolean): (Seq[MergeRound], Option[DataFrame]) = {
    var syms = bpeSym0(df, textCol)
    val wWin = Window.partitionBy(col("w")).orderBy(asc("p"))
    val out = scala.collection.mutable.ArrayBuffer.empty[MergeRound]
    // running Σwc over the symbol frame: each executed merge start
    // removes exactly ONE (consumed) row of weight wc, so
    // Σwc(after) = Σwc(before) − n_merges_wt — exact int64 identity
    // (pinned by the planted CurationSpec fixtures). Replaces a full
    // aggregate JOB per round (r13, guide §1.2: don't compute what's
    // derivable). The unpersist of a round's input is DEFERRED until
    // the next round's pick job has materialized its output (the
    // removed aggregate used to provide exactly that ordering —
    // unpersisting earlier would silently re-derive the whole prefix
    // chain per round, the pre-r13 bpeSegment pathology).
    var total = -1L
    var prev: DataFrame = null
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val pairs = syms.withColumn("s2", lead(col("s"), 1).over(wWin))
        .filter(col("s2").isNotNull)
        .groupBy(col("s"), col("s2")).agg(sum(col("wc")).as("cnt"))
      val best = pick(syms, pairs).collect()
      // the pick job materialized `syms` — its parent is now free
      if (prev != null) { prev.unpersist(); prev = null }
      if (best.isEmpty) done = true
      else {
        if (total < 0L)
          total = syms.agg(sum(col("wc"))).collect()(0).getLong(0)
        val (rebuilt, nTypeMerges, nMergesWt) =
          bpeMergePair(syms, best(0).getString(0), best(0).getString(1))
        total -= nMergesWt
        out += MergeRound(r.toLong, best(0), nTypeMerges, nMergesWt, total)
        prev = syms
        syms = rebuilt
        r += 1
      }
    }
    if (keepFinal) {
      // materialize the final frame before releasing its parent, from
      // the parent's cache (the consumer — q216's vocabulary, through
      // the checkpointing memo — reads a materialized frame either way)
      if (prev != null) { syms.count(); prev.unpersist() }
      (out.toSeq, Some(syms))
    } else {
      // only the merge list is kept: nothing ever materializes the
      // last rebuilt frame, so both tail frames just release their
      // cache registrations
      if (prev != null) prev.unpersist()
      syms.unpersist()
      (out.toSeq, None)
    }
  }

  /** The initial character-level (w, wc, p, s) symbol frame of a
    * corpus' word-type table — BPE round 0. Split BETWEEN characters
    * only ("(?<=.)(?=.)"): Spark's split keeps trailing empty strings
    * (limit -1), so a plain "(?!^)" lookahead would append a phantom
    * "" symbol to every word. Persisted (each round reads it twice). */
  private def bpeSym0(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TA.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"),
        posexplode(split(col("w"), "(?<=.)(?=.)")))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "s")
      .persist()

  /** One GREEDY LEFT-TO-RIGHT merge of the adjacent symbol pair
    * (a, b) over a (w, wc, p, s) symbol frame — the island-parity
    * trick: within each maximal run of consecutive (a,b) matches,
    * only even offsets merge (aaa → (aa)a, never a(aa)). Returns the
    * rebuilt persisted frame + (type-level, corpus-weighted) merge
    * counts; the INPUT frame stays persisted — caller unpersists. A
    * pair with zero occurrences is a no-op (apply-side corpora may
    * lack a trained pair). */
  private def bpeMergePair(syms: DataFrame, a: String, b: String,
                           needCounts: Boolean = true)
      : (DataFrame, Long, Long) = {
    val wWin = Window.partitionBy(col("w")).orderBy(asc("p"))
    val paired = syms.withColumn("s2", lead(col("s"), 1).over(wWin))
    val starts = paired
      .filter(col("s") === lit(a) && col("s2") === lit(b))
      .withColumn("isl", col("p") - row_number().over(wWin))
      .withColumn("off", col("p") - min(col("p")).over(
        Window.partitionBy(col("w"), col("isl"))))
      .filter((col("off") % 2) === 0)
      .select(col("w"), col("wc"), col("p"), lit(1).as("start"))
    // the (type-level, corpus-weighted) merge counts are TRAINER
    // bookkeeping — the apply side (bpeSegment) discards them, and
    // skipping the aggregate job lets a whole frozen-merge replay
    // chain plan as ONE job whose per-round persists materialize
    // inline (r13, guide §1.2: don't compute what's thrown away)
    val cnts =
      if (needCounts)
        starts
          .agg(count(lit(1)).as("n"), coalesce(sum(col("wc")), lit(0L)).as("nw"))
          .collect().head
      else null
    val consumed = starts.select(col("w"), (col("p") + 1).as("p"),
      lit(1).as("gone"))
    val rebuilt = syms
      .join(starts.select(col("w"), col("p"), col("start")), Seq("w", "p"), "left_outer")
      .join(consumed, Seq("w", "p"), "left_outer")
      .filter(col("gone").isNull)
      .withColumn("s", when(col("start") === 1, lit(a + b)).otherwise(col("s")))
      .withColumn("np", row_number().over(wWin) - 1)
      .select(col("w"), col("wc"), col("np").as("p"), col("s"))
      .persist()
    if (needCounts) (rebuilt, cnts.getLong(0), cnts.getLong(1))
    else (rebuilt, -1L, -1L)
  }

  /** TOKENIZER APPLY — segment a (possibly different) corpus with an
    * ALREADY-TRAINED merge list: the real tokenizer workflow (train
    * on the training split, apply everywhere) and the piece
    * [[bpeTrainFull]]'s final frame — which retrains on its own input —
    * does not give you. Each trained pair replays the same deterministic
    * island-parity greedy merge; pairs absent from this corpus are
    * no-ops. The merge list is the MODEL (a few driver-side strings);
    * the corpus collapses to word types once, so each round is two
    * type-keyed windows + a broadcast-free self-equi-join — identical
    * cost shape to a training round minus the argmax.
    */
  def bpeSegment(df: DataFrame, textCol: String,
                 merges: Seq[(String, String)]): DataFrame = {
    // r13 rework (guide §1.2): the frozen replay needs NO per-round
    // driver action — needCounts = false skips the merge-count
    // aggregates (trainer bookkeeping the apply side discarded), the
    // whole chain builds lazily with every round's persist registered,
    // and ONE materializing job computes it end to end with each
    // intermediate cached exactly once (block-level getOrCompute
    // dedups the repeated subtree references). The old loop collected
    // counts per round but unpersisted each round's input BEFORE its
    // output ever materialized, so every later round silently
    // re-derived the whole prefix — the apply chain was quadratic in
    // rounds (isolated A/B: the 3-round sf0.1 apply dropped ~4.4 s →
    // ~1.6 s; r13 plan evidence in plans/r13).
    var syms = bpeSym0(df, textCol)
    val intermediates = scala.collection.mutable.ArrayBuffer(syms)
    merges.foreach { case (a, b) =>
      val (rebuilt, _, _) = bpeMergePair(syms, a, b, needCounts = false)
      intermediates += rebuilt
      syms = rebuilt
    }
    syms.count() // materialize once, all rounds cache as they compute
    intermediates.dropRight(1).foreach(_.unpersist())
    syms
  }

  /** UNIGRAM-LM-STYLE tokenizer training (the second tokenizer family
    * next to BPE): hard-EM rounds over a candidate-piece vocabulary
    * with deterministic pruning — the SentencePiece workflow
    * re-expressed under this repo's exact-replay contract. Round 0
    * seeds the vocabulary with the `vocabK` most frequent multi-char
    * substrings (length 2..`maxPieceLen`, corpus-weighted, tie-broken
    * (count desc, piece asc)) plus implicit single-char coverage.
    * Each EM round then (E) segments every WORD TYPE by greedy
    * longest-match under the current vocabulary — the deterministic
    * hard-assignment E-step (full soft-EM forward–backward needs
    * float log-prob DP whose argmax ties cannot be replayed
    * bit-exactly cross-engine; greedy longest-match has NO ties:
    * match length is unique, single chars guarantee coverage) — and
    * (M) re-estimates piece usage from the segmentation, pruning the
    * vocabulary to the `vocabK` most-used multi-char pieces. Unused
    * candidates die exactly like low-expected-count pieces in
    * SentencePiece's prune step.
    *
    * Scale shape (the q213 BPE discipline): the corpus collapses to
    * the word-TYPE frame once — the only corpus-sized shuffle.
    * Everything after is type-frame-sized: the candidate join is a
    * bounded explode (≤ maxPieceLen−1 rows/position) against a
    * broadcast model-sized vocab, and the greedy orbit (pos →
    * pos + matchlen, from 1) is materialized by POINTER DOUBLING —
    * ⌈log2 maxWordLen⌉ self-equi-joins on the (w, pos) frame instead
    * of a per-word sequential scan, so no driver loop over positions
    * and no interpreted lambda touches the hot path. Per round, only
    * the model (piece usage table, ≤ vocabK + alphabet rows) is
    * collected — the BPE 1-row-argmax pattern, widened to the vocab.
    *
    * Returns (round, rank, piece, use_wt): the `outK` most-used
    * pieces per EM round in (use_wt desc, piece asc) order — the
    * trained model's round-by-round trajectory, exactly replayable.
    */
  def unigramRounds(df: DataFrame, textCol: String, rounds: Int,
      vocabK: Int = 64, outK: Int = 40, maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    unigramCorpus(df, textCol) match {
      case None =>
        // empty / all-empty-token corpus: empty trajectory, no NPE
        Seq.empty[(Long, Long, String, Long)]
          .toDF("round", "rank", "piece", "use_wt")
      case Some(c) =>
        val (perRound, _) = unigramTrainRounds(c, rounds, vocabK, maxPieceLen)
        c.release()
        val rows = for {
          (usage, rd) <- perRound.zipWithIndex
          ((piece, wt), i) <- usage.take(outK).zipWithIndex
        } yield ((rd + 1).toLong, (i + 1).toLong, piece, wt)
        rows.toDF("round", "rank", "piece", "use_wt")
    }
  }

  /** The trained unigram model alone: final multi-char piece
    * vocabulary after `rounds` hard-EM rounds of [[unigramRounds]]'
    * seed/segment/prune schedule — the FROZEN artifact a held-out
    * apply consumes (the `bpeTrainedMerges` analog at the unigram
    * rung). Deterministic: same corpus, same vocab. */
  def unigramTrainedVocab(df: DataFrame, textCol: String, rounds: Int,
      vocabK: Int = 64, maxPieceLen: Int = 4): Seq[String] =
    unigramCorpus(df, textCol) match {
      case None => Seq.empty
      case Some(c) =>
        val (_, vocab) = unigramTrainRounds(c, rounds, vocabK, maxPieceLen)
        c.release()
        vocab
    }

  /** Word-type corpus shared by the unigram train/apply paths: the
    * (w, wc) type frame (the only corpus-sized shuffle), the
    * per-character-position frame, and the pointer-doubling fence.
    * None on an empty / all-empty-token corpus. Caller releases. */
  private case class UnigramCorpus(types: DataFrame, positions: DataFrame,
                                   maxLen: Int, levels: Int) {
    def release(): Unit = { types.unpersist(); positions.unpersist() }
  }

  private def unigramCorpus(df: DataFrame,
                            textCol: String): Option[UnigramCorpus] = {
    val types = df.select(explode(TA.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .persist()
    // (w, wc, len, pos) for every 1-based character position — the
    // BPE sym0 shape minus the symbol column; reused by every round.
    val positions = types
      .select(col("w"), col("wc"), length(col("w")).as("len"),
        posexplode(split(col("w"), "(?<=.)(?=.)")))
      .select(col("w"), col("wc"), col("len"), (col("pos") + 1).as("pos"))
      .persist()
    // fence: the orbit needs ⌈log2 maxLen⌉ doubling levels (each step
    // advances ≥ 1, so orbit index < maxLen) — a 1-row layout collect.
    // On an empty / all-empty-token corpus the max aggregate is NULL.
    val maxLenRow = positions.agg(max(col("len"))).collect()(0)
    if (maxLenRow.isNullAt(0)) {
      types.unpersist(); positions.unpersist()
      None
    } else {
      val maxLen = maxLenRow.getInt(0)
      var levels = 0
      while ((1L << levels) < maxLen) levels += 1
      Some(UnigramCorpus(types, positions, maxLen, levels))
    }
  }

  /** Hard-EM training loop over a prepared corpus: returns every
    * round's usage table plus the final pruned vocabulary. */
  private def unigramTrainRounds(c: UnigramCorpus, rounds: Int,
      vocabK: Int, maxPieceLen: Int): (Seq[Seq[(String, Long)]], Seq[String]) = {
    // Round-0 seed: raw substring frequencies (no segmentation yet).
    var vocab: Seq[String] = c.positions
      .select(col("w"), col("wc"), col("pos"), col("len"),
        explode(array((2 to maxPieceLen).map(l => lit(l)): _*)).as("l"))
      .filter(col("pos") + col("l") - 1 <= col("len"))
      .select(expr("substring(w, pos, l)").as("piece"), col("wc"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))
      .orderBy(desc("cnt"), asc("piece")).limit(vocabK)
      .collect().map(_.getString(0)).toSeq
    val perRound = (1 to rounds).map { _ =>
      val usage = unigramUsage(c, vocab, maxPieceLen)
      vocab = usage.collect { case (piece, _) if piece.length >= 2 => piece }
        .take(vocabK)
      usage
    }
    (perRound, vocab)
  }

  /** The greedy-longest-match VALID-START frame under a frozen
    * unigram vocabulary: one (w, wc, pos, mlen) row per piece start
    * of every word type's segmentation — the held-out APPLY step
    * (the `bpeSegment` analog: no seed, no argmax, no prune; the model
    * never sees this split). Each held-out consumer is one cheap fold
    * of it: usage (substring(w, pos, mlen) → Σwc, model-sized),
    * per-type piece counts (count per w — the terminal position
    * len+1 has no start row) and internal boundaries (pos > 1 →
    * b = pos − 1), so the three run off ONE materialized orbit
    * instead of three (r13: the orbit — hit join +
    * pointer doubling — is the dominant cost of every apply-side
    * query; the folds are cheap aggregates). Eagerly checkpointed by
    * [[unigramOrbit]]; empty-corpus → empty frame with the same
    * schema. */
  def unigramStarts(df: DataFrame, textCol: String,
      vocab: Seq[String], maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    unigramCorpus(df, textCol) match {
      case None =>
        Seq.empty[(String, Long, Int, Int)].toDF("w", "wc", "pos", "mlen")
      case Some(c) =>
        val starts = unigramOrbit(c, vocab, maxPieceLen) { (r, ml) =>
          r.join(ml, Seq("w", "pos"))
            .select(col("w"), col("wc"), col("pos"), col("mlen"))
        }
        c.release()
        starts
    }
  }

  /** Greedy-longest-match usage table under a driver-held vocab,
    * collected (model-sized: ≤ vocabK + alphabet rows) in
    * (use_wt desc, piece asc) order. */
  private def unigramUsage(c: UnigramCorpus, vocab: Seq[String],
                           maxPieceLen: Int): Seq[(String, Long)] = {
    val out = unigramOrbit(c, vocab, maxPieceLen) { (r, ml) =>
      r.join(ml, Seq("w", "pos"))
        .select(expr("substring(w, pos, mlen)").as("piece"), col("wc"))
        .groupBy(col("piece")).agg(sum(col("wc")).as("use_wt"))
        .orderBy(desc("use_wt"), asc("piece"))
    }.collect()
    out.map(x => (x.getString(0), x.getLong(1))).toSeq
  }

  /** The greedy-longest-match orbit under a frozen vocab — the shared
    * segmentation kernel: builds the (w, pos, mlen) match-length
    * frame and the pointer-doubled orbit-position frame r, hands both
    * to `fold`, and returns fold's result EAGERLY truncated
    * (localCheckpoint) so the internal match-length cache can be
    * unpersisted before the caller consumes it. */
  private def unigramOrbit(c: UnigramCorpus, vocab: Seq[String],
      maxPieceLen: Int)(fold: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = c.types.sparkSession
    import spark.implicits._
    val vdf = vocab.toDF("sub")
    val hit = c.positions
      .select(col("w"), col("pos"), col("len"),
        explode(array((2 to maxPieceLen).map(l => lit(l)): _*)).as("l"))
      .filter(col("pos") + col("l") - 1 <= col("len"))
      .select(col("w"), col("pos"), col("l"),
        expr("substring(w, pos, l)").as("sub"))
      .join(broadcast(vdf), Seq("sub"))
      .groupBy(col("w"), col("pos")).agg(max(col("l")).as("mml"))
    val ml = c.positions.join(hit, Seq("w", "pos"), "left_outer")
      .select(col("w"), col("wc"), col("pos"),
        coalesce(col("mml"), lit(1)).as("mlen"))
      .persist()
    var n = ml.select(col("w"), col("pos"), (col("pos") + col("mlen")).as("next"))
    var r = c.types.select(col("w"), lit(1).as("pos"))
    (0 until c.levels).foreach { lvl =>
      r = r.union(
        r.join(n, Seq("w", "pos")).select(col("w"), col("next").as("pos")))
        .localCheckpoint()
      // both r (union tree) and n (self-join tree) double in plan
      // size per level, so truncate lineage EVERY level (r14): the
      // frames are type-frame-sized while the untruncated plan tree
      // costs Catalyst exponential analysis/codegen — measured at
      // sf0.1 (levels = 4) the whole q262 train chain was
      // plan-overhead-bound: 13.1 -> 6.1 s fused fresh (q263
      // 10.7 -> 5.0) with per-level truncation, output hashes
      // identical (historical: a deleted one-off probe). The LAST
      // level's doubled n is
      // never read — skip it (one job per orbit).
      if (lvl < c.levels - 1)
        n = n.as("a").join(n.as("b"),
            col("a.w") === col("b.w") && col("a.next") === col("b.pos"))
          .select(col("a.w").as("w"), col("a.pos").as("pos"),
            col("b.next").as("next"))
          .localCheckpoint()
    }
    val out = fold(r, ml).localCheckpoint(true)
    ml.unpersist()
    out
  }

  /** Benchmark decontamination: find training documents sharing ≥ 1
    * word n-gram with any document of the (small) eval set — the
    * standard n-gram-overlap contamination check run before training.
    *
    * Shape for 100 TB: the eval side is tiny by construction (a
    * benchmark suite), so its distinct n-gram set is broadcast; the
    * training side explodes to (doc, gram) rows and hash-joins against
    * the broadcast — a map-side join, no shuffle of the corpus, and
    * the per-doc overlap count is a partial-aggregated groupBy on
    * doc_id alone. Returns (id, n_overlap, n_grams, overlap_frac) for
    * contaminated docs only.
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val evalGrams = ngramRows(evalDocs, idCol, textCol, n)
      .select(col("gram")).distinct()
    val trainGrams = ngramRows(train, idCol, textCol, n)
      .distinct() // gram SET per doc
      .withColumn("n_grams", count(lit(1)).over(Window.partitionBy(col(idCol))))
    trainGrams
      .join(broadcast(evalGrams), "gram")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(col(idCol), col("n_overlap"), col("n_grams"),
        (col("n_overlap").cast("double") / col("n_grams")).as("overlap_frac"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much it resembles a TARGET distribution (here a
    * row predicate — e.g. lang = 'en', or a curated seed set) under a
    * bag-of-tokens multinomial over a bounded feature space. Weight =
    * Σ_tok log p_target(bucket) − log p_raw(bucket), summed over token
    * OCCURRENCES; buckets are the top-`vocabN` corpus tokens (count
    * desc, token asc — deterministic) plus one OOV bucket, with +1
    * Laplace smoothing over the observed bucket count. Downstream,
    * resampling-by-weight is [[graft.operators.Sampling]]'s job — this
    * operator owns the scoring pass.
    *
    * Shape for 100 TB: two token passes (vocab count, then bucket
    * counts) — both partial-aggregated map-side; the vocab and the
    * per-bucket log-ratio table are MODEL-sized (vocabN+1 rows) and
    * broadcast; the only data-sized shuffle carries (doc, bucket,
    * count) triples. No window, no driver collect.
    *
    * Returns (id, n_toks, weight) for every document. Double-sum
    * tolerance is the caller's oracle concern (the log-ratio table is
    * exact-integer-derived; only the final per-doc sum is order-
    * sensitive, at ~1e-12 relative).
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, vocabN: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"), isTarget.cast("boolean").as("tgt"),
      explode(TA.tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(vocabN)
      .select(col("tok"), lit(true).as("in_vocab"))
    // tokens are whitespace-split, so a bucket name CONTAINING a space
    // can never collide with a real token
    val bucketed = toks.join(broadcast(vocab), Seq("tok"), "left_outer")
      .select(col("id"), col("tgt"),
        when(col("in_vocab"), col("tok")).otherwise(lit(" OOV ")).as("b"))
    val stats = bucketed.groupBy(col("b")).agg(
      count(lit(1)).as("n_r"),
      sum(col("tgt").cast("long")).as("n_t"))
    val tot = stats.agg(sum(col("n_r")).as("tr"), sum(col("n_t")).as("tt"),
      count(lit(1)).as("nb"))
    val ratios = stats.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("n_t") + 1).cast("double") / (col("tt") + col("nb")).cast("double"))
          - log((col("n_r") + 1).cast("double") / (col("tr") + col("nb")).cast("double"))).as("lr"))
    bucketed.groupBy(col("id"), col("b")).agg(count(lit(1)).as("c"))
      .join(broadcast(ratios), Seq("b"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_toks"), sum(col("c") * col("lr")).as("weight"))
  }

  /** [[decontaminate]] with a Bloom pre-filter: the eval gram set is
    * first folded into a ~numBits-bit Bloom filter ([[graft.functions
    * .BloomAgg]]) and broadcast as ONE scalar; every training gram
    * probes it map-side (codegen'd `bloom_might_contain` on
    * `xxhash64(gram)`) and only the survivors — true overlaps plus the
    * filter's ~(1-e^(-kn/m))^k false positives — reach the exact
    * confirm join. Output is IDENTICAL to [[decontaminate]] (the
    * confirm join removes false positives; Bloom filters have no false
    * negatives), so the same DuckDB oracle gates both.
    *
    * Why this matters at 100 TB: the exact join broadcasts the eval
    * grams as a hash relation (~50+ bytes/key); the Bloom costs ~10
    * bits/key and its probe is a handful of ALU ops — so the corpus-
    * side explode stream is pre-thinned at scan speed, and the hash
    * relation only sees the tiny survivor set. Same pattern serves
    * blocklists and yesterday's-fingerprint incremental dedup.
    */
  def decontaminateBloom(train: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, n: Int, numBits: Int = 1 << 20,
      numHashes: Int = 7): DataFrame = {
    import graft.functions.SketchFunctions.{bloom_agg, bloom_might_contain}
    val evalGrams = ngramRows(evalDocs, idCol, textCol, n)
      .select(col("gram")).distinct().persist()
    // The built filter is a MODEL (numBits/8 bytes, independent of key
    // count) — collect it and probe against a LITERAL. Shipping it as a
    // joined column instead costs a per-row UnsafeRow.getBinary COPY of
    // the whole filter on every probe (measured 25 s vs 1.5 s at sf0.1
    // for a 128 KB filter × 10^5 grams).
    val bloomBytes = try evalGrams.agg(
        bloom_agg(xxhash64(col("gram")), numBits, numHashes).as("b"))
      .collect()(0).getAs[Array[Byte]](0)
    // unpersist immediately: the confirm join below recomputes the
    // (tiny) eval gram set once rather than pinning cached partitions
    // for the lifetime of a 100-query session JVM
    finally evalGrams.unpersist()
    val trainGrams = ngramRows(train, idCol, textCol, n)
      .distinct() // gram SET per doc
      .withColumn("n_grams", count(lit(1)).over(Window.partitionBy(col(idCol))))
    trainGrams
      .filter(bloom_might_contain(lit(bloomBytes), xxhash64(col("gram")), numHashes))
      .join(broadcast(evalGrams), "gram") // exact confirm: kills false positives
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(col(idCol), col("n_overlap"), col("n_grams"),
        (col("n_overlap").cast("double") / col("n_grams")).as("overlap_frac"))
  }

  /** [[decontaminateBloom]] with the filter assembled from a
    * per-snapshot Bloom sketch TABLE (`bloom_agg` per snapshot →
    * `bloom_union_agg`): the index-MAINTENANCE shape — when a new eval
    * benchmark lands, only ITS grams are hashed and its filter OR-merges
    * into the standing index; history is never re-hashed (q110's
    * incremental-stats pattern for the membership family). OR is
    * associative and idempotent, so the unioned filter is BYTE-IDENTICAL
    * to one built over the combined gram set (SketchSpec pins this), and
    * the output is identical to [[decontaminate]]'s exact overlap —
    * the union preserves the no-false-negative guarantee and the exact
    * confirm join kills false positives.
    */
  def decontaminateBloomUnion(train: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int, numSnapshots: Int = 4,
      numBits: Int = 1 << 20, numHashes: Int = 7): DataFrame = {
    import graft.functions.SketchFunctions.{bloom_agg, bloom_union_agg, bloom_might_contain}
    val evalGrams = ngramRows(evalDocs, idCol, textCol, n)
      .select(col(idCol), col("gram")).persist()
    val bloomBytes = try evalGrams
        .select(pmod(col(idCol), lit(numSnapshots.toLong)).as("snap"), col("gram"))
        .distinct()
        .groupBy(col("snap"))
        .agg(bloom_agg(xxhash64(col("gram")), numBits, numHashes).as("b"))
        // ^ the persisted per-snapshot sketch table; v the index union
        .agg(bloom_union_agg(col("b"), numBits).as("u"))
        .collect()(0).getAs[Array[Byte]](0)
      finally evalGrams.unpersist()
    val evalSet = ngramRows(evalDocs, idCol, textCol, n)
      .select(col("gram")).distinct()
    val trainGrams = ngramRows(train, idCol, textCol, n)
      .distinct()
      .withColumn("n_grams", count(lit(1)).over(Window.partitionBy(col(idCol))))
    trainGrams
      .filter(bloom_might_contain(lit(bloomBytes), xxhash64(col("gram")), numHashes))
      .join(broadcast(evalSet), "gram")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(col(idCol), col("n_overlap"), col("n_grams"),
        (col("n_overlap").cast("double") / col("n_grams")).as("overlap_frac"))
  }

  /** Fuzzy (near-duplicate) decontamination: flag training documents
    * whose shingle-set Jaccard against ANY eval document clears
    * `threshold` — the contamination mode exact n-gram overlap misses
    * (light paraphrase, whitespace/punctuation drift, truncation).
    * Completes the decontamination ladder: [[decontaminate]] (exact
    * grams) → [[decontaminateBloom]] (exact, Bloom-prefiltered) → this
    * (near-dup).
    *
    * Mechanism: MinHash-LSH banding on BOTH corpora (the same map-only
    * native kernel as [[graft.operators.Dedup.minhashLshPairs]]), then
    * an equi-join on (band, band_sig) with the eval side BROADCAST —
    * an eval suite is tiny by construction, so the 100 TB training
    * corpus never shuffles: banding is scan parallelism, the candidate
    * join is map-side, and only surviving (train_id, eval_id)
    * candidates (bounded by true contamination + S-curve false
    * positives) reach the exact-Jaccard verify, which re-attaches
    * shingle sets via one narrow join on the train side and a second
    * broadcast on the eval side. No self-join ⇒ no O(m²) bucket
    * blowup, so no bucket cap is needed here (an exact-dup cluster in
    * TRAIN costs |cluster|×|eval-bucket| rows, linear in the cluster).
    *
    * Returns (train_id, eval_id, jaccard) for every cross pair the
    * banding surfaces with jaccard ≥ threshold. Deterministic: minhash
    * banding is seeded xxhash64, fixed at build time.
    */
  def fuzzyDecontaminate(train: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, k: Int = 3, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextHashFunctions.{minhash_band_sigs, shingle_hash_set}
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    def banded(df: DataFrame, as: String) = df
      .select(col(idCol).as(as),
        posexplode(minhash_band_sigs(col(textCol), k, numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_sig")
    val cand = banded(train, "train_id")
      .join(broadcast(banded(evalDocs, "eval_id")), Seq("band", "band_sig"))
      .select(col("train_id"), col("eval_id"))
      .distinct()
    val trainSets = train.select(col(idCol).as("train_id"),
      shingle_hash_set(col(textCol), k).as("sh_t"))
    val evalSets = evalDocs.select(col(idCol).as("eval_id"),
      shingle_hash_set(col(textCol), k).as("sh_e"))
    cand
      .join(trainSets, "train_id")
      .join(broadcast(evalSets), "eval_id")
      .withColumn("n_inter", size(array_intersect(col("sh_t"), col("sh_e"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_t")) + size(col("sh_e")) - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= lit(threshold))
      .select(col("train_id"), col("eval_id"), col("jaccard"))
  }

  /** Gopher-style repetition metrics per document:
    *   - dup_token_frac: 1 − distinct/total tokens (pure expression)
    *   - top_bigram_frac: occurrences of the most frequent bigram /
    *     total bigrams
    *   - dup_bigram_frac: fraction of bigram occurrences whose bigram
    *     appears more than once
    * The bigram stats explode to (doc, bigram) and aggregate twice on
    * keys that include the doc id — partial aggregation applies and
    * no single reducer ever sees more than one document's grams.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = ngramRows(df, idCol, textCol, 2) // one row per occurrence
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(max(col("cnt")).as("top_cnt"),
        sum(col("cnt")).as("total_bg"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).as("dup_bg"))
    df.select(col(idCol),
        (lit(1.0) - TA.uniqueTokenCount(col(textCol)).cast("double")
          / TA.tokenCount(col(textCol))).as("dup_token_frac"))
      .join(counts, idCol)
      .select(col(idCol), col("dup_token_frac"),
        (col("top_cnt").cast("double") / col("total_bg")).as("top_bigram_frac"),
        (col("dup_bg").cast("double") / col("total_bg")).as("dup_bigram_frac"))
  }

  /** PER-DOMAIN quantile-normalized filtering — the domain-fair
    * quality gate (the FineWeb/CCNet recipe step a single global
    * threshold gets wrong: verbose domains crowd out terse ones, so
    * each domain keeps its own top mass instead). The fence is the
    * domain's exact q-quantile (q = qNum/qDen), computed over the
    * DISTINCT-VALUE frame: groupBy (domain, score) partial-aggregates
    * corpus-sized input down to value-bounded counts, the cumulative
    * window runs over distinct scores per domain — never data-sized
    * (the q173 equi-height discipline) — and the per-domain fence
    * table (|domains| rows) broadcasts back for a map-only filter.
    * Scores must be integral so ties are exact: fence = smallest
    * score whose cumulative count reaches ceil(q·n_d); kept = score
    * ≥ fence (fence ties survive — deterministic, SQL-replayable).
    * Output keeps the input columns plus the domain's `fence`.
    */
  def domainQuantileFilter(df: DataFrame, domainCol: String,
                           scoreCol: String, qNum: Int, qDen: Int): DataFrame = {
    val counts = df
      .groupBy(col(domainCol).as("__dom"), col(scoreCol).as("__sc"))
      .agg(count(lit(1)).as("__c"))
    val cumW = Window.partitionBy(col("__dom")).orderBy(asc("__sc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(col("__dom"))
    val fences = counts
      .withColumn("__cum", sum(col("__c")).over(cumW))
      .withColumn("__n", sum(col("__c")).over(totW))
      .filter(col("__cum") >= expr(s"(__n * $qNum + ${qDen - 1}) div $qDen"))
      .groupBy(col("__dom")).agg(min(col("__sc")).as("fence"))
    df.join(broadcast(fences), df(domainCol) === col("__dom"))
      .filter(col(scoreCol) >= col("fence"))
      .drop("__dom")
  }

  /** Greedy-by-bucket sequence packing: assign documents to
    * fixed-token-budget training sequences. Documents are spread over
    * `buckets` independent packing streams by portable hash, then
    * packed in id order within each stream by running token count —
    * bin = floor(exclusive-cumsum / budget). This is the distributed
    * form of greedy packing: each bucket packs independently (one
    * window per bucket, fully parallel), at the cost of at most one
    * under-filled sequence per bucket.
    *
    * Returns one row per (bucket, bin): n_docs and n_tokens packed.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: Column,
      budget: Long, buckets: Int, seed: Long): DataFrame = {
    val bucket = pmod(portableHash(col(idCol), seed), lit(buckets.toLong))
    val w = Window.partitionBy(col("bucket")).orderBy(col(idCol))
    df.select(col(idCol), tokensCol.as("n_tok"), bucket.as("bucket"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")).cast("double") / lit(budget.toDouble)).cast("long"))
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** Token-frequency GINI concentration per stratum — the one-number
    * "is this source a few boilerplate strings stamped out, or a real
    * vocabulary?" health check (Gini 0 = perfectly flat frequencies,
    * →1 = all mass on one token; natural corpora sit high because of
    * Zipf — a source whose Gini DIVERGES from its peers is the
    * anomaly). Discrete Gini over per-type counts c_1 ≤ … ≤ c_n
    * (ranked ascending, token tie-break — a total order):
    *   G = (2·Σ i·c_i − (n+1)·Σc) / (n·Σc)
    * kept in int64 fixed point (×1e6) end to end, so the oracle
    * replays it bit-for-bit. Bound: the numerator (2·t − (n+1)·Σc) is
    * scaled ×1e6 BEFORE the div, so the true overflow envelope is
    * 2·n·Σc·1e6 < 2^63, i.e. n·Σc ≲ 4.6·10^12 — e.g. a 1M-type
    * vocabulary over ~4.6M tokens per stratum, or 10k types over
    * ~460M tokens. Past that Spark wraps int64 SILENTLY (wrong Gini,
    * no error) while DuckDB raises, so the engines diverge exactly at
    * the edge: shard the stratum (or drop to the ×1e3 scale) before
    * n·Σc approaches 4.6e12 — NOT the old 9e18 figure, which ignored
    * the pre-div scaling. The envelope is ENFORCED at runtime: a
    * stratum with n·Σc past the bound raises (matching the oracle's
    * loud failure) instead of returning a silently-wrapped Gini.
    *
    * Scale shape: one (stratum, token) count shuffle, then a rank
    * window over the VOCABULARY-sized frame (distinct types per
    * stratum — the q173 bounded-window discipline, not a data-sized
    * sort), then a partial-agged fold to one row per stratum.
    */
  def tokenGiniFx(df: DataFrame, strataCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(col(strataCol).as("s"), explode(TA.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("s"), col("tok")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("s")).orderBy(asc("c"), asc("tok"))
    counts.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_toks"),
        sum(col("i") * col("c")).as("t"))
      .select(col("s"), col("n_types"), col("n_toks"),
        // runtime envelope guard: double compare is exact here
        // (4.6e12 << 2^53) and avoids overflowing the check itself
        when(col("n_types").cast("double") * col("n_toks").cast("double")
            <= lit(4.6e12),
          expr("(2L * t - (n_types + 1L) * n_toks) * 1000000L div (n_types * n_toks)"))
        .otherwise(raise_error(concat(
          lit("tokenGiniFx: n_types*n_toks exceeds the int64 fixed-point "),
          lit("envelope (4.6e12) for stratum "), col("s").cast("string"),
          lit(" - shard the stratum or drop to x1e3 scale"))).cast("long"))
        .as("gini_fx"))
  }

  /** Per-stratum KL divergence from the corpus unigram distribution —
    * the domain-shift table data-selection recipes read (how far is
    * each source from the mixture it feeds?): KL(P_s ‖ P_corpus) over
    * the top-`vocabN` corpus tokens + one OOV bucket, +1 Laplace
    * smoothed (the [[dsirWeights]] feature space — DSIR's per-doc
    * log-ratio weight is this same geometry read per-document).
    *
    * Exactness: each bucket's term floor(1e9 · p·ln(p/q)) is ONE
    * fixed-shape double expression over exact integer counts — both
    * engines compute the identical term, and the per-stratum sum is
    * then an associative int64 fold (the q71 fixed-point-logprob
    * discipline), so the gate is an exact hash compare, no tolerance.
    * Zero-count buckets contribute their smoothed term too (the grid
    * is completed by a bounded cross join), or the KL would be a
    * partial sum that depends on which buckets a stratum happens to
    * touch.
    *
    * Scale shape: two token passes (vocab, bucket counts), both
    * partial-aggregated; the bucket table is LIMIT-bounded (vocabN+1
    * rows) and broadcast as the build side of the grid cross join —
    * strata × buckets is model-sized; nothing else shuffles.
    */
  def unigramKlFp(df: DataFrame, strataCol: String, textCol: String,
                  vocabN: Int): DataFrame = {
    val toks = df
      .select(col(strataCol).as("s"), explode(TA.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(vocabN)
      .select(col("tok"), lit(true).as("in_vocab"))
    val bucketed = toks.join(broadcast(vocab), Seq("tok"), "left_outer")
      .select(col("s"),
        when(col("in_vocab"), col("tok")).otherwise(lit(" OOV ")).as("b"))
    val sb = bucketed.groupBy(col("s"), col("b")).agg(count(lit(1)).as("c_sb"))
    // the bucket domain is vocabN+1 by construction (top-vocabN tokens
    // + the OOV sink) — the limit NEVER binds; it exists to encode
    // that bound structurally so PlanLint's recursive bounded() can
    // prove the grid's broadcast build side without an allowlist entry
    val cb = sb.groupBy(col("b")).agg(sum(col("c_sb")).as("c_b"))
      .limit(vocabN + 1)
    val ns = sb.groupBy(col("s")).agg(sum(col("c_sb")).as("n_s"))
    val tot = cb.agg(sum(col("c_b")).as("n_tot"), count(lit(1)).as("n_b"))
    val grid = ns.crossJoin(broadcast(cb.crossJoin(broadcast(tot))))
    val full = grid.join(sb, Seq("s", "b"), "left_outer")
      .withColumn("c", coalesce(col("c_sb"), lit(0L)))
    val pd = (col("c") + 1).cast("double") / (col("n_s") + col("n_b")).cast("double")
    val qd = (col("c_b") + 1).cast("double") / (col("n_tot") + col("n_b")).cast("double")
    val term = floor((lit(1000000000.0) * pd) * log(pd / qd)).cast("long")
    full.select(col("s"), col("n_s"), term.as("t"))
      .groupBy(col("s"), col("n_s"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("t")).as("kl_fp"))
      .select(col("s"), col("n_s").as("n_toks"), col("n_buckets"), col("kl_fp"))
  }

  /** Length-bucketed deterministic batch formation — the padding-
    * efficiency prep every trainer with fixed-shape batches runs
    * (HF `group_by_length`, fairseq bucketing): docs bucket by
    * `len div bucketWidth`, order WITHIN a bucket by a portable hash
    * (a stable "shuffle" — re-runs form identical batches), chunk
    * into `batchSize`-row batches, and each batch pads to its own max
    * length. Emits one row per (bucket, shard, batch) with real vs
    * padded token counts — the table that shows how much compute
    * padding burns at each bucket width.
    *
    * Scale shape: batch formation needs a total order, which is the
    * one thing that can't partial-aggregate — so the order is scoped
    * to (bucket, shard) sub-frames (`shards` hash shards per bucket;
    * batches never straddle shards, so each window sorts ~n/(buckets·
    * shards) rows and shards fill independently — the q60 packing
    * discipline). All downstream folds are partial-agged int64.
    */
  def lengthBucketBatches(df: DataFrame, idCol: String, lenCol: Column,
      bucketWidth: Int, batchSize: Int, shards: Int, seed: Long): DataFrame = {
    val base = df.select(col(idCol).as("id"), lenCol.cast("long").as("len"))
      .withColumn("bucket", expr(s"len div $bucketWidth"))
      .withColumn("shard", pmod(portableHash(col("id"), seed), lit(shards.toLong)))
      .withColumn("h", portableHash(col("id"), seed + 1))
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(asc("h"), asc("id"))
    base.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("batch", expr(s"(rn - 1) div $batchSize"))
      .groupBy(col("bucket"), col("shard"), col("batch"))
      .agg(count(lit(1)).as("n_rows"), max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
  }

  /** TF-IDF top-k terms per document, integer-exact: score =
    * tf · floor(ln((N+1)/(df+1))·1e6). Fixed-point idf means the score
    * and the ranking are engine-independent (no float-sum ordering
    * anywhere). Shuffles on (doc, term) then (term); N is a one-row
    * broadcast; the final top-k is a per-doc window — every stage
    * partial-aggregates, so the shape holds at corpus scale.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = df.select(col(idCol), explode(TA.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        (col("tf") * floor(log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) * lit(1000000.0))
          .cast("long")).as("score_fixed"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(desc("score_fixed"), asc("term"))).cast("long"))
      .filter(col("rk") <= k)
  }

  /** BM25 document ranking for a fixed query term set, integer-exact.
    *
    * Okapi BM25 (Robertson et al., TREC-3) with k1 = 6/5 and b = 3/4
    * — rational constants chosen so the whole score clears to int64:
    *   idf_fx  = floor(ln((2N+2)/(2df+1)) · 1e6)     (Lucene's
    *             ln(1 + (N−df+.5)/(df+.5)) with the .5s cleared)
    *   score   = Σ_t (idf_fx·44·tf·T) div (20·tf·T + 6·T + 18·dl·N)
    * where dl = doc length, T = total corpus tokens, N = doc count —
    * substituting avgdl = T/N and multiplying through by 20T turns
    * the tf-saturation fraction into one integral division. Besides
    * determinism this keeps ranking engine-independent: no float-sum
    * order anywhere (same discipline as [[tfidfTopK]]). Bound:
    * idf_fx·44·tf·T < 2^63 holds to T ≈ 3·10^8 tokens per corpus
    * shard at tf ≤ 50; shard-and-merge beyond (scores are per-doc
    * sums, so shards merge by add).
    *
    * Scale shape: tokens explode → filter to query terms BEFORE any
    * shuffle (the per-(doc,term) aggregate only sees query-term hits);
    * dl is a map-only expression; df and (N, T) are partial-aggregated
    * with the 1-row totals broadcast. Top-k plans as TakeOrdered.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val withDl = df.select(col(idCol), TA.tokenCount(col(textCol)).as("dl"),
      explode(TA.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    val tf = withDl.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = df.agg(count(lit(1)).as("n"),
      sum(TA.tokenCount(col(textCol))).as("t_tok"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(totals))
      .select(col(idCol), col("term"), col("tf"), col("dl"),
        (floor(log((lit(2) * col("n") + lit(2)).cast("double") /
            (lit(2) * col("df") + lit(1)).cast("double")) * lit(1000000.0)).cast("long"))
          .as("idf_fx"),
        col("n"), col("t_tok"))
      .select(col(idCol),
        expr("(idf_fx * 44 * tf * t_tok) div (20 * tf * t_tok + 6 * t_tok + 18 * dl * n)")
          .as("term_score"))
    scored.groupBy(col(idCol))
      .agg(sum(col("term_score")).as("bm25_fx"))
      .orderBy(desc("bm25_fx"), asc(idCol))
      .limit(k)
  }

  /** BATCH BM25: top-k docs for EVERY query in one pass — the serving
    * shape for retrieval eval sets. The token stream is scanned once,
    * filtered to the union of all query terms; per-(doc,term) tf and
    * per-term df aggregate once (query-independent), and the tiny
    * (query_id, term) map joins in BROADCAST to fan scores out to
    * queries — thousands of queries cost one extra broadcast join, not
    * one extra corpus scan each. Same all-int64 scoring as
    * [[bm25TopK]] (bit-replayable); per-query top-k is one window over
    * the (query, doc) aggregate, partitioned by query_id (bounded
    * cardinality — no hot reducer).
    */
  def bm25BatchTopK(df: DataFrame, idCol: String, textCol: String,
                    queries: Seq[(String, Seq[String])], k: Int): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val spark = df.sparkSession
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val qdf = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val withDl = df.select(col(idCol), TA.tokenCount(col(textCol)).as("dl"),
      explode(TA.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(allTerms: _*))
    val tf = withDl.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = df.agg(count(lit(1)).as("n"),
      sum(TA.tokenCount(col(textCol))).as("t_tok"))
    val scored = tf.join(dfreq, "term")
      .join(broadcast(qdf), "term")
      .crossJoin(broadcast(totals))
      .select(col("query_id"), col(idCol),
        (floor(log((lit(2) * col("n") + lit(2)).cast("double") /
            (lit(2) * col("df") + lit(1)).cast("double")) * lit(1000000.0)).cast("long"))
          .as("idf_fx"),
        col("tf"), col("dl"), col("n"), col("t_tok"))
      .select(col("query_id"), col(idCol),
        expr("(idf_fx * 44 * tf * t_tok) div (20 * tf * t_tok + 6 * t_tok + 18 * dl * n)")
          .as("term_score"))
    val byQuery = scored.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("term_score")).as("bm25_fx"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("bm25_fx"), asc(idCol))
    byQuery.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Deterministic STRIDE-SCHEDULED mixture interleave — the trainer
    * data-loader order: source s emits its i-th item at virtual time
    * i/w_s (Waldspurger & Weihl's stride scheduling), so ANY prefix of
    * the schedule holds each source in ≈ w_s/W proportion with O(1)
    * per-source error — deterministic curriculum mixing without a
    * random number stream. Key is exact int64 (i·W·1e6 div w_s), the
    * per-source arrival order is the portable-hash shuffle (q59/q63's
    * determinism contract), and ties break on (source, id): the whole
    * schedule replays bit-for-bit cross-engine.
    *
    * Scale shape: one per-source window (hash-ordered row_number), a
    * 1-row broadcast of ΣW, one map-only key expression. The total
    * ORDER over the key is the schedule itself — consumed as a sorted
    * scan (the distributed range sort), exactly like [[orderShuffle]].
    *
    * CONTRACT: `weightCol` must be functionally dependent on
    * `sourceCol` (one weight per source — it is the source's mixture
    * weight, not a row property). ΣW aggregates max(wt) per source so
    * a violating row-level expression cannot skew the total, but the
    * per-row stride key still reads the row's own wt: a non-constant
    * weight within a source produces a schedule with no stride
    * semantics.
    */
  def strideSchedule(df: DataFrame, idCol: String, sourceCol: String,
                     weightCol: Column, seed: Long = 42L): DataFrame = {
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(portableHash(col(idCol), seed), col(idCol))
    val d = df.select(col(idCol), col(sourceCol), weightCol.cast("long").as("wt"))
    // one weight PER SOURCE: aggregate as max so a non-constant
    // weightCol (a row-level expression) cannot contribute multiple
    // rows to ΣW and silently skew every stride — the per-row keys
    // still use the row's own wt, so weightCol SHOULD be functionally
    // dependent on sourceCol (documented contract); max makes the
    // ΣW side of that contract enforcement-free
    val wTot = d.groupBy(col(sourceCol)).agg(max(col("wt")).as("wt"))
      .agg(sum(col("wt")).as("w_total"))
    d.withColumn("i", row_number().over(w).cast("long"))
      .crossJoin(broadcast(wTot))
      .select(col(idCol), col(sourceCol),
        expr("(i * w_total * 1000000L) div wt").as("key_fx"))
  }

  /** Out-of-vocabulary statistics against the corpus' own top-N
    * vocabulary — the tokenizer-coverage audit (how much of each doc a
    * fixed vocab fails to cover drives fertility/UNK-rate decisions).
    * Vocab = top `vocabSize` tokens by (count desc, token asc) — a
    * deterministic cutoff both engines replay; per doc: token count,
    * OOV token count (with multiplicity), and the fixed-point OOV
    * rate (n_oov·1e6 div n_tok) — all-int64, bit-replayable.
    *
    * Scale shape: one token explode feeding BOTH the vocab aggregate
    * (partial-agged counts, top-N as TakeOrdered) and the per-doc
    * aggregate; the vocab (≤ vocabSize rows) joins BROADCAST, so no
    * data-sized shuffle carries text. A real-vocab variant (SentencePiece
    * file etc.) is the same join with the vocab frame read from disk.
    */
  def oovStats(df: DataFrame, idCol: String, textCol: String,
               vocabSize: Int): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val toks = df.select(col(idCol), explode(TA.tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(idCol), col("n_tok"), col("n_oov"),
        expr("(n_oov * 1000000L) div n_tok").as("oov_fx"))
  }

  /** Query-term density ranking: score = (Σ_t∈Q tf_t · 1e9) div dl —
    * the length-normalized term-frequency retriever (a smoothing-free
    * query-likelihood LM). Deliberately idf-free: it ranks by how
    * *concentrated* the query vocabulary is in the document, which
    * makes it a complementary signal to [[bm25TopK]] for rank fusion
    * ([[rrfFuse]]). All-int64 (one integral division per doc), so
    * score and rank replay bit-for-bit in an oracle. Same scale shape
    * as BM25: explode → filter to query terms BEFORE any shuffle, one
    * per-doc partial aggregate, top-k as TakeOrdered.
    */
  def tfDensityTopK(df: DataFrame, idCol: String, textCol: String,
                    queryTerms: Seq[String], k: Int): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    df.select(col(idCol), TA.tokenCount(col(textCol)).as("dl"),
        explode(TA.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("tf_sum"), first(col("dl")).as("dl"))
      .select(col(idCol),
        expr("(tf_sum * 1000000000L) div dl").as("dens_fx"))
      .orderBy(desc("dens_fx"), asc(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * fused(d) = Σ_lists 1/(k0 + rank_list(d)), here in fixed-point —
    * 1e12 div (k0 + rank) — so the fused score is an exact int64 sum
    * and the hybrid ranking replays bit-for-bit cross-engine. RRF is
    * THE standard lexical+dense hybrid-retrieval combiner precisely
    * because it needs no score calibration: only ranks cross lists,
    * so a BM25 int64 score and a cosine float score fuse without a
    * normalization model.
    *
    * Inputs are per-list (id, rank) frames (rank 1-based, ties already
    * broken deterministically upstream). Scale shape: each list is
    * top-k-sized (not corpus-sized) by construction; the union carries
    * (id, long) only, one partial-agged sum, final top-k as
    * TakeOrdered. Docs missing from a list contribute nothing — the
    * standard RRF treatment.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              k0: Int = 60, topK: Int = 20): DataFrame = {
    require(rankings.nonEmpty && k0 >= 1)
    // `div`, not `/`: Column./ on integers is IEEE double division
    val parts = rankings.map(_.select(col(idCol),
      expr(s"1000000000000L div (${k0}L + CAST(`$rankCol` AS BIGINT))")
        .as("rrf_part")))
    parts.reduce(_.union(_))
      .groupBy(col(idCol))
      .agg(sum(col("rrf_part")).as("rrf_fx"), count(lit(1)).as("n_lists"))
      .orderBy(desc("rrf_fx"), asc(idCol))
      .limit(topK)
  }

  // PII patterns — kept to syntax shared by Java regex and RE2
  // (no lookarounds, no backrefs), so Spark and the DuckDB oracle
  // redact identically.
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Count of email-shaped substrings. */
  def emailCount(text: Column): Column = regexp_count(text, lit(emailRe))

  /** Count of IPv4-shaped substrings (after email removal, so an IP
    * inside an email host doesn't double-count). */
  def ipCount(text: Column): Column =
    regexp_count(regexp_replace(text, emailRe, "<EMAIL>"), lit(ipv4Re))

  /** Redact emails then IPs — order matters (emails may contain
    * dotted-quad-shaped hosts). Map-only expression work. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"), ipv4Re, "<IP>")

  /** Deterministic global training-order shuffle: total order by
    * (portableHash(id), id). At scale this is exactly a total-order
    * sort — Spark range-partitions on the hash key, so the "shuffle"
    * is one balanced exchange and the order is reproducible from the
    * seed alone, independent of input partitioning.
    */
  def orderShuffle(df: DataFrame, idCol: String, seed: Long): DataFrame = {
    val h = portableHash(col(idCol), seed)
    df.select(col(idCol), h.as("shuffle_key"))
      .orderBy(col("shuffle_key"), col(idCol))
    // No global row_number here: a position column would force a
    // single-partition window. Callers that need positions should
    // `limit(k)` first (tiny set) or zip per range-partition.
  }

  /** Bigram occurrences as (id, w1, w2) rows — posexplode + window
    * `lead`, the codegen shape (see [[ngramRows]]). Documents shorter
    * than two tokens produce no rows.
    */
  def bigramRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), posexplode(TA.tokens(col(textCol))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "w1")
    toks
      .withColumn("w2",
        lead(col("w1"), 1).over(Window.partitionBy(col(idCol)).orderBy(asc("p"))))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("w1"), col("w2"))
  }

  /** Statistical-LM quality scoring (the CCNet-style curation filter):
    * train an add-one-smoothed bigram language model on the corpus
    * itself, then score every document by its total bigram
    * log-probability — outlier (low-probability) documents are
    * boilerplate, gibberish, or wrong-language and get filtered.
    *
    *   P(w2 | w1) = (B(w1,w2) + 1) / (U(w1) + V)
    *
    * with B/U corpus bigram/unigram occurrence counts and V the
    * unigram vocabulary size. Scores are fixed-point
    * Σ floor(1e6·ln P) (PERF.md lesson 7): integer sums are
    * associative, so shuffle order can't drift the result and the
    * DuckDB oracle compares exactly.
    *
    * Shape for 100 TB: counts are partial-aggregated explodes (the
    * shuffle carries (gram, count), never documents); scoring joins
    * each bigram occurrence to the two count tables by key. Both are
    * plain hash joins; for a production corpus, cap the LM to the
    * top-V grams by count and `broadcast` it — the scoring pass then
    * becomes map-only. Returns (id, n_bigrams, sum_fp_logprob).
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = bigramRows(df, idCol, textCol)
    val tokens = df.select(explode(TA.tokens(col(textCol))).as("w"))
    val uni = tokens.groupBy(col("w")).agg(count(lit(1)).as("u_cnt"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("b_cnt"))
    bg
      .join(big, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        floor(lit(1e6) * log(
          (col("b_cnt") + lit(1L)).cast("double") /
            (col("u_cnt") + col("v")).cast("double"))).as("fp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("fp")).as("sum_fp_logprob"))
  }

  /** The 100 TB shape of [[bigramLmScore]]: cap the LM to the
    * `maxVocab` highest-count bigrams (heavy tail truncates to the
    * add-one floor — every out-of-model bigram scores as B = 0, i.e.
    * ln(1/(U+V)), which only needs the much smaller unigram table),
    * then BROADCAST both model tables. Scoring becomes two map-side
    * joins — the corpus text is scanned once and never shuffled; only
    * the capped model crosses the cluster.
    *
    * When `maxVocab` exceeds the true bigram vocabulary the cap never
    * binds and the scores equal [[bigramLmScore]] exactly (spec-
    * checked); under pressure the score is a lower bound (missing
    * bigrams floor at B = 0).
    */
  def bigramLmScoreBroadcast(df: DataFrame, idCol: String, textCol: String,
                             maxVocab: Int): DataFrame = {
    val bg = bigramRows(df, idCol, textCol)
    val tokens = df.select(explode(TA.tokens(col(textCol))).as("w"))
    val uni = tokens.groupBy(col("w")).agg(count(lit(1)).as("u_cnt"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("b_cnt"))
      .orderBy(desc("b_cnt"), asc("w1"), asc("w2")) // deterministic cap
      .limit(maxVocab)
    bg
      .join(broadcast(big), Seq("w1", "w2"), "left_outer")
      .join(broadcast(uni.withColumnRenamed("w", "w1")), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        floor(lit(1e6) * log(
          (coalesce(col("b_cnt"), lit(0L)) + lit(1L)).cast("double") /
            (col("u_cnt") + col("v")).cast("double"))).as("fp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("fp")).as("sum_fp_logprob"))
  }

  /** CROSS-SPLIT LM quality filter — the actual CCNet recipe, which
    * [[bigramLmScore]] (self-trained) and [[bigramLmScoreBroadcast]]
    * (self-trained, capped) stop short of: the model trains on a
    * CLEAN reference slice (`train` — e.g. the lang-verified or
    * curated subset) and then scores EVERY document of `score` with
    * the frozen counts. Out-of-model bigrams floor at B = 0 and
    * out-of-model unigrams at U = 0 (add-one smoothing handles both),
    * so gibberish and wrong-language text score low exactly because
    * the MODEL never saw it — the property the self-trained variants
    * cannot have.
    *
    * Same fixed-point Σ floor(1e6·ln P) integer sums (associative —
    * exact cross-engine compare), same scale shape as the broadcast
    * variant: both model tables (capped bigrams, unigrams) broadcast,
    * the scored corpus is scanned once and never shuffled except the
    * per-doc count aggregate.
    */
  def bigramLmScoreCross(score: DataFrame, train: DataFrame,
                         idCol: String, textCol: String,
                         maxVocab: Int): DataFrame = {
    val bg = bigramRows(score, idCol, textCol)
    val uni = train.select(explode(TA.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("u_cnt"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = bigramRows(train, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("b_cnt"))
      .orderBy(desc("b_cnt"), asc("w1"), asc("w2")) // deterministic cap
      .limit(maxVocab)
    bg
      .join(broadcast(big), Seq("w1", "w2"), "left_outer")
      .join(broadcast(uni.withColumnRenamed("w", "w1")), Seq("w1"), "left_outer")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        floor(lit(1e6) * log(
          (coalesce(col("b_cnt"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("u_cnt"), lit(0L)) + col("v")).cast("double"))).as("fp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("fp")).as("sum_fp_logprob"))
  }

  /** Cross-document boilerplate detection: per document, the fraction
    * of its distinct word n-grams that appear in ≥ `minDocs` distinct
    * documents. Repeated-everywhere n-grams are boilerplate (headers,
    * footers, license blocks, navigation chrome) — a high fraction
    * marks a templated page; the gram list itself drives strip rules.
    *
    * Shape for 100 TB: the per-doc distinct gram-hash SET comes out of
    * the native `shingle_hash_set` kernel — one map-only pass, no
    * tokenize/window/distinct shuffles — so grams travel as 8-byte
    * hashes from birth and the counts never touch text (same
    * fingerprint convention as exact dedup; the ngramRows+distinct
    * formulation measured 10.8 s vs 4.4 s at 50 k docs). Both
    * aggregates partial-combine; no broadcast assumption on the
    * boilerplate set (a templated corpus can have a huge one).
    */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
                       n: Int, minDocs: Int): DataFrame = {
    val grams = df.select(col(idCol), explode(
      graft.functions.TextHashFunctions.shingle_hash_set(col(textCol), n))
      .as("gram"))
    val docCounts = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs")) // per-doc sets → distinct doc count
    grams
      .join(docCounts, Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("n_docs") >= lit(minDocs)).cast("long")).as("n_boiler"))
      .select(col(idCol), col("n_grams"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_grams")).as("boiler_frac"))
  }

  /** Sub-document (chunk / "paragraph") exact deduplication: split
    * each document into consecutive `chunkTokens`-token chunks, keep
    * the FIRST occurrence of every distinct chunk corpus-wide (first =
    * lowest (doc, chunk_idx)), and reassemble each document from its
    * surviving chunks. The standard pipeline stage for boilerplate
    * paragraphs repeated across pages — doc-level dedup misses them,
    * span-level removal catches them.
    *
    * Shape for 100 TB: tokens explode once (posexplode — never
    * re-tokenized per chunk, the q57/q58 projection-collapse lesson);
    * chunks form by partial-aggregated groupBy (doc, chunk_idx); the
    * keep-first decision is `min(struct(doc, idx))` per chunk — also
    * partial-aggregated, so a boilerplate chunk with 10^6 copies
    * combines map-side instead of flooding one reducer (a window
    * PARTITION BY chunk would). Winner rows already carry their text:
    * no join back, and dropped chunks never shuffle again.
    */
  /** Sliding-window document chunker with overlap — the
    * context-window preparation step (RAG indexing / long-document
    * pretraining): token windows of `chunkTokens`, advancing by
    * `stride` (< chunkTokens ⇒ consecutive chunks overlap by
    * chunkTokens − stride tokens, so no boundary-straddling span is
    * ever split without a copy that contains it whole). Chunk starts
    * are 0, stride, 2·stride, … while start < n_tokens, so every
    * document yields ≥ 1 chunk and every token lands in ≥ 1 chunk.
    *
    * Map-only: tokens → `sequence` of starts → posexplode → `slice` —
    * pure scan parallelism, no shuffle; at 100 TB the chunk stream
    * feeds packing (packSequences) or dedup (chunkDedup) directly.
    * Output: (id, chunk_id, n_tokens, chunk_text), one row per chunk.
    */
  def chunkSliding(df: DataFrame, idCol: String, textCol: String,
                   chunkTokens: Int, stride: Int): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      s"need 1 <= stride ($stride) <= chunkTokens ($chunkTokens): " +
        "a stride above the chunk size would silently drop tokens")
    df
      .select(col(idCol), TA.tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        posexplode(sequence(lit(0),
          greatest(size(col("toks")) - 1, lit(0)), lit(stride))))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        slice(col("toks"), col("col") + 1, lit(chunkTokens)).as("chunk"))
      .select(col(idCol), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    val chunks = df
      .select(col(idCol), posexplode(TA.tokens(col(textCol))))
      .withColumn("chunk_idx", (col("pos") / lit(chunkTokens)).cast("long"))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("col")))),
        s => s.getField("col")), " ").as("chunk"))
    val winners = chunks
      .groupBy(col("chunk"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("w"))
      .select(col("w").getField(idCol).as(idCol),
        col("w").getField("chunk_idx").as("chunk_idx"), col("chunk"))
    val perDoc = chunks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"))
    winners
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("text_dedup"))
      .join(perDoc, Seq(idCol), "right_outer")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** k-anonymity generalization depth (Sweeney 2002; the Mondrian/
    * Incognito question asked per RECORD): given a quasi-identifier
    * generalization ladder `ladder(0)` (finest) → `ladder(last)`
    * (coarsest), the minimal ladder level at which each record's
    * equivalence class reaches size ≥ `kMin` — the privacy audit a
    * training corpus with user-derived attributes needs before
    * release (how much must each row be coarsened until it hides in
    * a crowd of k?). Level `ladder.size` means even the coarsest
    * class is under k (suppress the record).
    *
    * Output: (idCol, k0, level, k_eff) — the finest class size, the
    * chosen level, and the class size at that level (0 when
    * suppressed at every listed level).
    *
    * Scale shape: one partial-aggregated groupBy per ladder level
    * (class-size frames are bounded by the QID domain, far below the
    * record count) hash-joined back on the QID columns — the record
    * stream is scanned once and never shuffles its payload, only the
    * QID key columns. No windows, no collects.
    */
  def generalizationDepth(df: DataFrame, idCol: String,
                          ladder: Seq[Seq[String]], kMin: Int): DataFrame = {
    require(ladder.nonEmpty, "ladder must have at least one level")
    val sized = ladder.zipWithIndex.foldLeft(df) { case (acc, (cols, i)) =>
      val classes = df.groupBy(cols.map(col): _*)
        .agg(count(lit(1)).as(s"k$i"))
      acc.join(classes, cols)
    }
    // first (finest) level whose class clears kMin wins
    val level = ladder.indices.foldRight(lit(ladder.size)) { (i, acc) =>
      when(col(s"k$i") >= kMin, lit(i)).otherwise(acc)
    }
    val kEff = ladder.indices.foldRight(lit(0L)) { (i, acc) =>
      when(col(s"k$i") >= kMin, col(s"k$i")).otherwise(acc)
    }
    sized.select(col(idCol), col("k0"), level.cast("int").as("level"),
      kEff.cast("long").as("k_eff"))
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — the privacy
    * rung ABOVE [[generalizationDepth]]'s k-anonymity: a class of k
    * identical quasi-identifiers still leaks the sensitive attribute
    * if all k rows share one sensitive value (the homogeneity
    * attack). Per equivalence class at a FIXED generalization level:
    * the class size, the number of DISTINCT sensitive values
    * (distinct l-diversity), the modal sensitive value's row count,
    * and its share of the class in exact parts-per-million
    * (`top_cnt · 1e6 div class_n` — integer algebra, no float), plus
    * the pass flag `n_sensitive >= lMin`.
    *
    * Scale shape: two stacked partial-aggregated groupBys — records →
    * (QID, sensitive) counts → per-QID rollup (count of rows = class
    * size via sum, count of rows in the first frame = distinct
    * sensitive, max = modal count). The second groupBy's input is
    * already domain-bounded (QID × sensitive cells), and the record
    * stream shuffles only its key columns once. No windows, no
    * `countDistinct` expansion: distinctness falls out of the
    * two-level rollup for free.
    *
    * Output: (qidCols…, class_n, n_sensitive, top_cnt, top_share_fx,
    * diverse).
    */
  def lDiversityAudit(df: DataFrame, qidCols: Seq[String], sensCol: String,
                      lMin: Int): DataFrame = {
    require(qidCols.nonEmpty, "need at least one quasi-identifier column")
    val cells = df.groupBy((qidCols :+ sensCol).map(col): _*)
      .agg(count(lit(1)).as("cell_n"))
    cells.groupBy(qidCols.map(col): _*)
      .agg(sum(col("cell_n")).cast("long").as("class_n"),
        count(lit(1)).as("n_sensitive"),
        max(col("cell_n")).cast("long").as("top_cnt"))
      .select((qidCols.map(col) ++ Seq(
        col("class_n"),
        col("n_sensitive").cast("long").as("n_sensitive"),
        col("top_cnt"),
        expr("(top_cnt * 1000000L) div class_n").as("top_share_fx"),
        (col("n_sensitive") >= lMin).as("diverse"))): _*)
  }

  /** PAIRWISE Jensen-Shannon divergence between strata token
    * distributions — the source-REDUNDANCY matrix a mixture designer
    * reads next to [[unigramKlFp]]'s source-vs-corpus column: two
    * sources with near-zero JSD are interchangeable (dedup the feeds,
    * don't double-weight them); a high-JSD pair adds genuine
    * diversity. Same replay conventions as unigramKlFp: top-`vocabN`
    * vocabulary + one OOV bucket, add-one smoothing (every p, q > 0 —
    * no zero branches), per-term floor(10^9·½·p·ln(2p/(p+q))) then an
    * EXACT integer sum (never a float sum — term order must not
    * matter), identical operand order in the SQL twin. JSD is
    * symmetric and bounded by ln 2, so jsd_fp ∈ [0, ~6.93·10^8].
    *
    * Scale shape: one corpus-sized token explode feeds the same
    * partial-agged (s, b) counts as unigramKlFp; everything pairwise
    * runs on the (strata × strata × buckets) grid — domain-sized
    * (#s²·(vocabN+1)/2 rows), an audit table, never corpus-sized.
    */
  def pairwiseJsdFp(df: DataFrame, strataCol: String, textCol: String,
                    vocabN: Int): DataFrame = {
    val toks = df
      .select(col(strataCol).as("s"), explode(TA.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(vocabN)
      .select(col("tok"), lit(true).as("in_vocab"))
    val bucketed = toks.join(broadcast(vocab), Seq("tok"), "left_outer")
      .select(col("s"),
        when(col("in_vocab"), col("tok")).otherwise(lit(" OOV ")).as("b"))
    val sb = bucketed.groupBy(col("s"), col("b")).agg(count(lit(1)).as("c_sb"))
    // never-binding limit (r13): buckets are vocab tokens (≤ vocabN by
    // the vocab GlobalLimit) plus the single OOV bucket, so vocabN+1
    // distinct values is a THEOREM — the limit cannot bind, it only
    // makes the bucket-domain bound structural for PlanLint's
    // recursive bounded() (the q245 trick)
    val cb = sb.groupBy(col("b")).agg(count(lit(1)).as("_u")).select(col("b"))
      .limit(vocabN + 1)
    val ns = sb.groupBy(col("s")).agg(sum(col("c_sb")).as("n_s"))
    val nb = cb.agg(count(lit(1)).as("n_b"))
    // the per-strata totals as a LocalRelation (r13): strata-DOMAIN-
    // bounded — structurally bounded for PlanLint (retires q301's
    // allowlist entry) with a loud cap guard; ONE execution of the
    // token-count lineage now serves both pair sides
    val nsL = DomainFrame.materialize(ns, cap = 1000,
      s"pairwise-JSD strata domain ($strataCol)")
    val pairs = nsL.select(col("s").as("sa"), col("n_s").as("na"))
      .crossJoin(broadcast(nsL.select(col("s").as("sb"), col("n_s").as("nb"))))
      .filter(col("sa") < col("sb"))
    val grid = pairs.crossJoin(broadcast(cb.crossJoin(broadcast(nb))))
      .join(sb.select(col("s").as("sa"), col("b"), col("c_sb").as("ca")),
        Seq("sa", "b"), "left_outer")
      .join(sb.select(col("s").as("sb"), col("b"), col("c_sb").as("cbn")),
        Seq("sb", "b"), "left_outer")
    val p = (coalesce(col("ca"), lit(0L)) + 1).cast("double") /
      (col("na") + col("n_b")).cast("double")
    val q = (coalesce(col("cbn"), lit(0L)) + 1).cast("double") /
      (col("nb") + col("n_b")).cast("double")
    val termA = floor((lit(500000000.0) * p) * log((p + p) / (p + q))).cast("long")
    val termB = floor((lit(500000000.0) * q) * log((q + q) / (p + q))).cast("long")
    grid.select(col("sa"), col("sb"), col("na"), col("nb"),
        (termA + termB).as("t"))
      .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
      .agg(sum(col("t")).as("jsd_fp"))
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        col("na").as("n_a"), col("nb").as("n_b"), col("jsd_fp"))
  }

  /** t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007) — the third
    * rung of the privacy ladder (k-anonymity bounds class SIZE,
    * l-diversity bounds sensitive-value COUNT; t-closeness bounds the
    * DISTANCE between each class's sensitive distribution and the
    * global one, the defense against skewness/similarity attacks that
    * survive both lower rungs). For an ORDERED sensitive attribute
    * the distance is the ordered-EMD: with global values v_1<…<v_m,
    * class distribution p and global q,
    *   EMD = (1/(m−1)) · Σ_{i<m} |Σ_{j≤i} (p_j − q_j)|.
    * Exact integral form: cum_i = cumC_i·N − cumG_i·n_c over the
    * common denominator n_c·N, so
    *   emd_fx = (Σ_i |cum_i| · 10^6) div ((m−1) · n_c · N)
    * — all int64 (|cum| ≤ n_c·N; envelope m·N² ≲ 9·10^12·class_n⁻¹…
    * in practice N ≤ ~3·10^6 clears it; audit per stratum or through
    * DECIMAL past that).
    *
    * Scale shape: two partial-aggregated groupBys (cells, classes) —
    * the only record-sized passes; the global value frame is
    * sensitive-DOMAIN-bounded (its rank/cum window is the q153 kind);
    * the dense class×value grid is a crossJoin against that BROADCAST
    * domain frame — an audit table (QID-domain × value-domain), never
    * record-sized — and the per-class cum window partitions by class
    * with ≤ m rows each. Output one row per class:
    * (qid…, class_n, m, emd_num, emd_fx, tclose = emd_fx ≤ tFx).
    */
  def tClosenessAudit(df: DataFrame, qidCols: Seq[String], sensCol: String,
                      tFx: Long = 200000L): DataFrame = {
    require(qidCols.nonEmpty, "need at least one quasi-identifier column")
    val cells = df.groupBy((qidCols :+ sensCol).map(col): _*)
      .agg(count(lit(1)).as("cc"))
    val classes = cells.groupBy(qidCols.map(col): _*)
      .agg(sum(col("cc")).cast("long").as("class_n"))
    val g = cells.groupBy(col(sensCol)).agg(sum(col("cc")).cast("long").as("gc"))
    val wv = Window.orderBy(asc(sensCol)).rowsBetween(Long.MinValue, 0L)
    // the sensitive-value DOMAIN frame as a LocalRelation (r13):
    // value-domain-bounded by the audit's own premise (an ordered-EMD
    // over an unbounded sensitive domain is the wrong tool) —
    // structurally bounded for PlanLint (retires q289's allowlist
    // entry) with a loud cap guard; `tot` then derives from the local
    // frame for free instead of re-running the cells lineage
    val gv = DomainFrame.materialize(
      g.select(col(sensCol),
        row_number().over(Window.orderBy(asc(sensCol))).cast("long").as("gi"),
        sum(col("gc")).over(wv).as("cum_g")),
      cap = 100000, s"t-closeness sensitive-value domain ($sensCol)")
    val tot = gv.groupBy().agg(max(col("gi")).as("m"), max(col("cum_g")).as("n_tot"))
    val wc = Window.partitionBy(qidCols.map(col): _*).orderBy(asc("gi"))
      .rowsBetween(Long.MinValue, 0L)
    classes.crossJoin(broadcast(gv)).crossJoin(broadcast(tot))
      .join(cells, qidCols :+ sensCol, "left_outer")
      .withColumn("cum_c", sum(coalesce(col("cc"), lit(0L))).over(wc))
      .withColumn("d", abs(col("cum_c") * col("n_tot") - col("cum_g") * col("class_n")))
      .groupBy((qidCols.map(col) ++ Seq(col("class_n"), col("m"), col("n_tot"))): _*)
      .agg(sum(col("d")).as("emd_num"))
      .select((qidCols.map(col) ++ Seq(
        col("class_n"), col("m"),
        col("emd_num"),
        when(col("m") > 1L,
          expr("emd_num * 1000000L div ((m - 1) * class_n * n_tot)"))
          .otherwise(lit(0L)).as("emd_fx"))): _*)
      .withColumn("tclose", col("emd_fx") <= tFx)
  }

  /** Water-filling budget allocation (the classic max-min fair
    * allocator, run here on token supplies): spread an integer budget
    * `B = floor(total · budgetNum / budgetDen)` across groups so that
    * every group with supply ≤ the water level L is fully funded and
    * every larger group is capped at L, where L is the unique integer
    * level exhausting the budget; the `B mod` remainder goes +1 to
    * the first capped groups in key order. The data-mixing question
    * this answers: "I can afford half my tokens — how much of each
    * source do I take without letting the big sources crowd out the
    * small ones?" (contrast q244's temperature weights, which
    * RESCALE; water-filling CAPS).
    *
    * Exact integer algebra end-to-end: a group at ascending-supply
    * rank j (n groups, prefix sum P) is fully funded iff
    * P_{j−1} + s_j·(n−j+1) ≤ B (monotone in j, so funded groups are
    * a prefix); L = (B − ΣfundedSupply) div n_capped and the
    * remainder r = (…) mod n_capped give every capped group L plus
    * one extra for the r first capped keys.
    *
    * Scale shape: the supply frame is GROUP-sized (domain-bounded —
    * sources, languages, shards), so the single-partition windows
    * here are the lesson-17 sanctioned kind; the corpus itself was
    * already reduced by the caller's partial-aggregated count.
    * Output: (keyCol, supply, alloc, capped), Σ alloc = B exactly.
    */
  def waterFillAlloc(supplies: DataFrame, keyCol: String, supplyCol: String,
                     budgetNum: Long, budgetDen: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0 && budgetNum <= budgetDen,
      s"budget fraction $budgetNum/$budgetDen must sit in [0, 1]")
    val wAsc = Window.orderBy(asc(supplyCol), asc(keyCol))
    val ranked = supplies
      .select(col(keyCol), col(supplyCol).cast("long").as("supply"))
      .withColumn("j", row_number().over(wAsc))
      .withColumn("cum", sum(col("supply")).over(wAsc))
    val tot = ranked.agg(count(lit(1)).cast("long").as("n"),
      sum(col("supply")).as("total"))
      .select(col("n"), col("total"),
        expr(s"(total * ${budgetNum}L) div ${budgetDen}L").as("b"))
    val flagged = ranked.crossJoin(broadcast(tot))
      .withColumn("funded",
        (col("cum") - col("supply")) +
          col("supply") * (col("n") - col("j") + 1) <= col("b"))
    val fundedAgg = flagged.agg(
      sum(when(col("funded"), col("supply")).otherwise(0L)).as("p_funded"),
      sum(when(col("funded"), 0L).otherwise(1L)).as("n_capped"))
    val wCap = Window.partitionBy(col("funded")).orderBy(asc(keyCol))
    flagged.crossJoin(broadcast(fundedAgg))
      .withColumn("rem", col("b") - col("p_funded"))
      .withColumn("lvl",
        when(col("n_capped") > 0, expr("rem div n_capped")).otherwise(0L))
      .withColumn("extra",
        when(col("n_capped") > 0, col("rem") % col("n_capped")).otherwise(0L))
      .withColumn("rcap", row_number().over(wCap))
      .select(col(keyCol), col("supply"),
        when(col("funded"), col("supply"))
          .otherwise(col("lvl") +
            when(col("rcap") <= col("extra"), 1L).otherwise(0L))
          .cast("long").as("alloc"),
        (!col("funded")).as("capped"))
  }
}
