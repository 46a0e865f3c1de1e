package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up stress: replicates the documents table N× (with distinct
  * ids and salted near-duplicate variants) and times the dedup ladder,
  * to observe how each operator's cost curves toward the 100 TB
  * design point. Results land in PERF.md.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.SparkEntry.localSession()

    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    // replicate with distinct ids; every 7th copy perturbs the text
    // (planted near-dups for the LSH paths to find). Materialized to
    // parquet — NOT .cache(): the columnar memory cache of wide string
    // columns reads slower than the parquet vectorized reader.
    val stressPath = "/tmp/graft_stress_docs"
    base
      .crossJoin(spark.range(factor).toDF("rep"))
      .select(
        (col("doc_id") + col("rep") * lit(1000000L)).as("doc_id"),
        when(pmod(col("rep"), lit(7)) === 1,
          concat(col("text"), lit(" perturbed tail token")))
          .otherwise(col("text")).as("text"),
        col("source"))
      .repartition(32)
      .write.mode("overwrite").parquet(stressPath)
    val docs: DataFrame = spark.read.parquet(stressPath)
    val total = docs.count()
    println(s"[stress] base=$n x$factor -> $total docs")

    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[stress] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s ($rows rows)")
    }

    timed("exact dedup")(
      graft.operators.Dedup.exact(docs, "doc_id", "text").count())
    // force the signature computation: a bare count() would let the
    // optimizer prune the sig column and time only the scan
    timed("minhash signatures")(
      docs.select(element_at(graft.functions.TextHashFunctions
          .minhash_sig(col("text"), 3, 32), 1).as("s1"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(s1)"))
        .collect()(0).getLong(0))
    // the raw (no exact-dedup-first) LSH line exists to MEASURE the
    // anti-pattern; above ~20× replication its cost is O(copies²) per
    // exact-dup cluster by construction — skip it and let the
    // pipeline-ordered line below carry the number
    if (factor <= 20)
      timed("minhash LSH pairs (raw)")(
        graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 32, 8, 0.5).count())
    else
      println(s"[stress] minhash LSH pairs (raw): skipped at $factor× " +
        "(O(copies²) anti-pattern — exact-dedup-first is the prescribed order)")
    // the realistic pipeline order: exact dedup FIRST, then near-dup
    // LSH over the survivors — exact-dup clusters otherwise flood the
    // candidate space with trivial pairs
    timed("minhash LSH pairs (after exact dedup)") {
      val keep = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = docs.join(keep, "doc_id")
      graft.operators.Dedup.minhashLshPairs(survivors, "doc_id", "text", 3, 32, 8, 0.5).count()
    }
    // full near-dup pipeline tail: pairs → clusters. The replicated
    // corpus has huge exact-dup components, so this also stresses the
    // label-propagation rounds on wide stars.
    timed("connected components (exact-dup + LSH pairs)") {
      val pairs = graft.operators.Dedup
        .minhashLshPairs(
          {
            val keep = graft.operators.Dedup.exact(docs, "doc_id", "text")
              .select(col("keep_id").as("doc_id"))
            docs.join(keep, "doc_id")
          }, "doc_id", "text", 3, 32, 8, 0.5)
        .select(col("id_a"), col("id_b"))
      graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b").count()
    }
    timed("simhash signatures")(
      graft.operators.Dedup.simhashSignatures(docs, "doc_id", "text")
        .agg(count(lit(1)).as("n"), expr("bit_xor(sig)"))
        .collect()(0).getLong(0))
    timed("simhash pairs (cap 500)")(
      graft.operators.Dedup.simhashPairs(docs, "doc_id", "text", 3, 500).count())
    timed("text stats scan") {
      // collect the sum itself — count() over the aggregate lets the
      // optimizer prune the quality expression away
      docs.select(graft.operators.TextAnalysis.qualityScore(col("text")).as("q"))
        .agg(sum("q")).collect()
      docs.count()
    }
    timed("chunk dedup (10-token chunks, keep-first)")(
      graft.operators.Curation.chunkDedup(docs, "doc_id", "text", 10).count())
    timed("boilerplate stats (5-grams in >= 3 docs)")(
      graft.operators.Curation.boilerplateStats(docs, "doc_id", "text", 5, 3).count())
    // round-8 additions: gram-anchored extent dedup is gram-keyed work
    // (the repeat-set semi-join bounds the window stage to anchors, not
    // the corpus); BPE rounds run on the TYPE table (vocab-bounded —
    // replication leaves the type count unchanged, only weights grow);
    // phash pairing follows the exact-dedup-first discipline (identical
    // payloads belong to q205's fingerprint pass, not the Hamming one).
    timed("repeated-substring extents (k=5, gram-anchored)")(
      graft.operators.Curation.repeatedExtents(docs, "doc_id", "text", 5).count())
    timed("bpe merge rounds (3 rounds on the type table)")(
      graft.operators.Curation.bpeMergeRounds(docs, "text", 3).count())
    timed("phash pairs (after exact dedup, Hamming<=3)") {
      import spark.implicits._
      val keep = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val media = docs.join(keep, "doc_id")
        .select(col("doc_id").as("media_id"), lit("image").as("media_type"),
          encode(col("text"), "UTF-8").as("payload"),
          lit(64).as("width"), lit(64).as("height"), lit(0).as("sample_rate"))
        .as[graft.operators.Multimodal.MediaRow]
      val sigs = graft.operators.Multimodal.phashTable(media).toDF()
        .select(col("media_id"), col("dhash").as("sig"))
      graft.operators.Dedup.signaturePairs(sigs, "media_id", 3, 2000).count()
    }
    timed("bloom decontaminate (vs doc_id % 97 eval split)")(
      graft.operators.Curation.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5).count())
    // round-4 additions: the new operators' ×N scale shapes
    timed("fuzzy decontaminate (LSH vs % 97 eval split, eval broadcast)")(
      graft.operators.Curation.fuzzyDecontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", threshold = 0.5).count())
    timed("snapshot diff (v2 = drop %5==0, revise %7==0)")(
      graft.operators.Dedup.snapshotDiff(
        docs,
        docs.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text"))),
        "doc_id", "text").count())
    // exact all-pairs (q164 shape) at ×N. The signature stage (postings
    // → df counts → per-doc canonical arrays) runs over the RAW corpus
    // — forced through bit_xor so Catalyst can't prune the arrays (the
    // lesson-11 trap). The pair join follows the prescribed exact-
    // dedup-first order: replicated exact-dup clusters would otherwise
    // make candidate generation O(copies²) by construction, same as
    // the raw-LSH anti-pattern above.
    timed("allpairs prefix-filter: signature stage (raw corpus)") {
      val (arrs, _) = graft.operators.Dedup
        .prefixFilterCandidates(docs, "doc_id", "text", 3, 0.5)
      arrs.agg(sum(col("n")), expr("bit_xor(element_at(arr, 1))"))
        .collect()(0).getLong(0)
    }
    timed("allpairs prefix-filter pairs tau=0.5 (after exact dedup)") {
      val keep = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      graft.operators.Dedup.prefixFilterPairs(
        docs.join(keep, "doc_id"), "doc_id", "text", 3, 0.5).count()
    }
    timed("pagerank (3 iters over the near-dup pair graph)") {
      val keep = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val pairs = graft.operators.Dedup.minhashLshPairs(
        docs.join(keep, "doc_id"), "doc_id", "text", 3, 32, 8, 0.5)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.operators.Graph.pageRankFixed(edges, "src", "dst", iters = 3).count()
    }
    // triangle counting at ×N: an 8-edges-per-vertex hashed graph with
    // PLANTED SKEW — edge 0 of every vertex targets one of 1024 hub
    // ids, giving hubs ~n/1024 degree (≈500 at 100×) while the other 7
    // edges spread uniformly. Degree-ordered orientation must keep
    // wedge work O(m^1.5) with no hot reducer: a hub's edges all point
    // INTO it, so its adjacency never fans out a wedge set.
    val hashedEdges = docs.select(col("doc_id").as("src"),
      explode(array((0 until 8).map(i =>
        pmod(xxhash64(col("doc_id"), lit(i)),
          lit(if (i == 0) 1024L else total))): _*)).as("dst"))
    timed(s"triangle counts (${8 * total} hashed edges, 1k hubs)") {
      graft.operators.Graph.triangleCounts(hashedEdges, "src", "dst")
        .agg(sum(col("n_tri")), count(lit(1)))
        .collect()(0).getLong(1)
    }
    // graph-iteration phases (round 6): BFS + k-core over the SAME
    // skewed hashed graph. Per-round exchanges carry (id, long) pairs
    // only; the 1k hot hubs are reached in round 1 and their huge
    // in-degree must not serialize the next frontier expansion (the
    // frontier is id-distinct before the edge join).
    timed(s"bfs levels (1-in-4096 seeds, maxHops=3, ${8 * total} edges)") {
      val seeds = docs.select(col("doc_id").as("id"))
        .filter(pmod(col("doc_id"), lit(4096L)) === 0)
      graft.operators.Graph.bfsLevels(hashedEdges, seeds, "src", "dst", "id",
        maxHops = 3).count()
    }
    timed("k-core peel (k=8, 4 rounds)")(
      graft.operators.Graph.kCorePeel(hashedEdges, "src", "dst",
        k = 8, rounds = 4).count())

    // round-6 graph family at LARGE edge factors (round-7 verdict
    // item): label propagation + weighted pagerank get their own
    // denser graph — 80 hashed edges/vertex at 100× = 40 M directed
    // edges (8/vertex at smoke factors), same 1k-hub planted skew.
    // Pins the per-round cost curve the way triangles/BFS/k-core are
    // pinned above: all exchanges carry long pairs/triples, lineage
    // truncated between rounds, no data-proportional driver traffic.
    val edgesPerV = if (factor >= 100) 80 else 8
    val denseEdges = docs.select(col("doc_id").as("src"),
      explode(array((0 until edgesPerV).map(i =>
        pmod(xxhash64(col("doc_id"), lit(i + 100)),
          lit(if (i == 0) 1024L else total))): _*)).as("dst"))
    timed(s"label propagation (2 rounds, ${edgesPerV * total} edges)")(
      graft.operators.Graph.labelPropagation(denseEdges, "src", "dst",
        rounds = 2).count())
    timed(s"weighted pagerank (3 iters, ${edgesPerV * total} edges)")(
      graft.operators.Graph.pageRankWeightedFixed(
        denseEdges.withColumn("w",
          pmod(xxhash64(col("src"), col("dst")), lit(1000L)) + 1),
        "src", "dst", "w", iters = 3).count())

    // vector path at factor× scale: replicate embeddings with
    // deterministic per-replica jitter (vec_id-seeded hash noise) so
    // replicas are near- but not exact-duplicates — the SemDeDup shape.
    val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    // sf-dir layout ($dir/embeddings.parquet) so the round-11 phases
    // can drive the Pipeline queries directly against the ×N corpus
    val embDir = "/tmp/graft_stress_emb_dir"
    val embPath = s"$embDir/embeddings.parquet"
    // vector stress targets ~200k vectors (100× of the 2k base) — the
    // SemDeDup pair join is quadratic in cell occupancy, so the cell
    // count below scales with the corpus, not the other way round
    val embFactor = factor
    embBase.crossJoin(spark.range(embFactor).toDF("rep"))
      .select(
        (col("vec_id") + col("rep") * lit(1000000L)).as("vec_id"),
        transform(col("embedding"), x =>
          x + (pmod(xxhash64(col("vec_id"), col("rep")), lit(1000L)).cast("double")
            - lit(500.0)) / lit(50000.0)).as("embedding"))
      .repartition(32)
      .write.mode("overwrite").parquet(embPath)
    val emb = spark.read.parquet(embPath)
    val nVec = emb.count()
    // quantizer granularity follows the corpus: ~2000 vectors/cell
    // keeps the within-cell pair join linear-ish in corpus size (the
    // operator's own guidance: over-full cells = quantizer too coarse)
    val cells = math.max(16, (nVec / 2000L).toInt)
    println(s"[stress] embeddings x$embFactor -> $nVec vectors, $cells cells")
    var trained: Array[Array[Double]] = null
    timed(s"k-means training ($cells cells, 2 iters)")(
      { trained = graft.operators.Similarity.trainCentroids(emb, "embedding", cells, 2, 64); 0L })
    // r13 (q328's operator): the maintenance pass a serving index runs
    // per ingest — ONE assign+aggregate over the corpus, model-sized
    // driver traffic — vs the full retrain timed above (2 passes + 2
    // model collects). The %5 pseudo-delta is id-uniform, so drift is
    // all-or-nothing here; the row count reports the drifted-cell
    // count (the retrain fraction — never silent).
    timed(s"incremental IVF refresh (delta = %5, drift > 30%, $cells cells)") {
      val (_, audit) = graft.operators.Similarity.incrementalRetrain(
        emb.withColumn("is_new", pmod(col("vec_id"), lit(5)) === 0),
        "embedding", "is_new", trained, dim = 64, driftNum = 3L, driftDen = 10L)
      audit.count(_._4).toLong
    }
    // no explicit numCells: the operator's auto-scale default derives
    // max(16, n/2000) itself — the cells-follow-corpus contract is now
    // the default path, not a manual dial
    timed("semantic dedup (SemDeDup, th=0.995, auto cells)")(
      graft.operators.Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.995, iters = 2, dim = 64)
        .filter(!col("keep")).count())
    timed("IVF top-5 (trained quantizer, 100 queries)")(
      graft.operators.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 100), emb, "vec_id", "vec_id",
        "embedding", "embedding", k = 5, numCells = cells, nProbe = math.max(4, cells / 8),
        dim = 64).count())

    // streaming phase (round 6): the q64/q133/q56 shapes at ×N event
    // volume, now that their sinks are distributed parquet writes —
    // this is the measured proof that the drain is executor-bound, not
    // driver-bound: user_ids are shifted per replica so state keys,
    // joined-pair volume, AND the surviving dedup set all scale ×N,
    // which the former memory sinks would have pulled onto the driver.
    // Timestamps are kept verbatim so watermark behavior is unchanged.
    val evBase = graft.sources.Events.ev(spark, "/root/testdata/sf0.1")
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"), col("value"))
    val evPath = "/tmp/graft_stress_events"
    evBase.crossJoin(spark.range(factor).toDF("rep"))
      .select(
        (col("user_id") + col("rep") * lit(10000000L)).as("user_id"),
        col("event_type"), col("ts"),
        (col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
        col("value"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$evPath/events.parquet")
    val nEv = spark.read.parquet(s"$evPath/events.parquet").count()
    println(s"[stress] events x$factor -> $nEv rows")
    timed(s"stream-stream inner join (q64 shape, $factor x events)")(
      graft.streaming.EventStreams.clickPurchaseAttribution(spark, evPath).count())
    timed(s"stream-stream left-outer join (q133 shape, $factor x events)")(
      graft.streaming.EventStreams.clickPurchaseLeftOuter(spark, evPath).count())
    timed(s"streaming dedup (q56 shape, $factor x events)")(
      graft.streaming.EventStreams.streamingDedup(spark, evPath).count())
    // t-digest in the state store at ×N: per-(window, type) sketch
    // state is CONSTANT in event volume (~3 KB), so this line should
    // scale with scan+shuffle, not with state
    timed(s"streaming t-digest quantiles (q167 shape, $factor x events)")(
      graft.streaming.EventStreams.streamingQuantilesBatchDriven(spark, evPath).count())
    // Misra-Gries in the state store at ×N: 150k users/window at 100×
    // EXCEEDS the 32768 capacity — deliberately: state must stay
    // capacity-bounded (the sketch regime) while event volume scales,
    // which is exactly the bounded-memory contract of the aggregate
    timed(s"streaming heavy hitters (q175 shape, $factor x events)")(
      graft.streaming.EventStreams.streamingHeavyHittersBatchDriven(spark, evPath).count())
    // streaming as-of enrich at ×N: flatMapGroupsWithState custom
    // state — the click buffer compacts to its argmax at the watermark,
    // so per-user state must stay O(in-flight window) while event
    // volume scales; emission is timeout-driven (no data needed)
    timed(s"streaming as-of enrich (q203 shape, $factor x events)")(
      graft.streaming.EventStreams.streamingAsofEnrich(spark, evPath).count())
    // PCA covariance pass at ×N vectors: one scan, d(d+1)/2 longs per
    // task — driver work is constant
    timed(s"pca top component (${nVec} vectors)")(
      { graft.operators.Similarity.pcaTopComponent(emb, "embedding", 64); 0L })

    // round-8 phases — the new surface at ×N. The two embedding ops
    // must stay broadcast+one-scan (eval slice / anchor set is
    // model-sized by construction); the modality explodes are map-only
    // flatMaps whose cost must track corpus BYTES; DSIR is two
    // partial-agged token passes + a model-sized ratio broadcast.
    timed(s"semantic decontamination ($nVec train vs ~${nVec / 997} eval)")(
      graft.operators.Similarity.semanticDecontaminate(
        emb.filter(pmod(col("vec_id"), lit(997)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(997)) === 0),
        "vec_id", "vec_id", "embedding", "embedding", tau = 0.30).count())
    timed("hard negatives (100 anchors, banded top-5 over full corpus)")(
      graft.operators.Similarity.hardNegativeTopK(
        emb.filter(col("vec_id") < 100), emb, "vec_id", "vec_id",
        "embedding", "embedding", k = 5, maxCos = 0.8).count())
    timed(s"cross-split LM scoring ($total docs vs capped frozen model)")(
      graft.operators.Curation.bigramLmScoreCross(
          docs, docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", "text", maxVocab = 50000)
        .agg(count(lit(1)).as("n"), sum(col("sum_fp_logprob")))
        .collect()(0).getLong(0))
    timed(s"incremental semantic probe (~${nVec / 10} probes vs $nVec index)")(
      graft.operators.Similarity.semanticIncrementalPairs(
        emb,
        emb.filter(pmod(col("vec_id"), lit(10)) === 0)
          .select((col("vec_id") + lit(100000000L)).as("vec_id"), col("embedding")),
        "vec_id", "vec_id", "embedding", "embedding",
        threshold = 0.99, numCells = 128, dim = 64).count())
    // kNN graph at ×N: init pair volume is cell-bounded (~500/cell
    // here — the dial trades init recall for join width), each descent
    // round is ≤ (2k)² candidates per node — corpus-LINEAR; the
    // whole-graph edge count must land at nVec × k exactly (coverage).
    // lazily checkpointed so the round-11 hubness fold below reuses the
    // SAME materialized graph (the q323 contract: hubness costs one
    // groupBy on an already-needed structure, never a rebuild)
    val knnG = graft.operators.Similarity.knnGraphDescent(emb, "vec_id",
        "embedding", k = 10, numCells = math.max(16, (nVec / 500L).toInt),
        dim = 64, grids = 2, rounds = 1)
      .localCheckpoint(eager = false)
    timed(s"kNN graph via NN-descent ($nVec nodes, k=10, 2 grids + 1 round)")(
      knnG.count())
    timed(s"dsir weights ($total docs, top-512 vocab + OOV)")(
      graft.operators.Curation.dsirWeights(docs, "doc_id", "text",
          isTarget = pmod(col("doc_id"), lit(5)) === 0, vocabN = 512)
        .agg(count(lit(1)).as("n"), sum(col("n_toks")))
        .collect()(0).getLong(0))
    locally {
      import spark.implicits._
      val media = docs.select(col("doc_id").as("media_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
          encode(col("text"), "UTF-8").as("payload"),
          lit(0).as("width"), lit(0).as("height"), lit(0).as("sample_rate"))
        .as[graft.operators.Multimodal.MediaRow]
      // force the frame/window payload work through an aggregate —
      // a bare count would let the planner prune the computed columns
      timed(s"video frame explode (~${total / 3} videos)")(
        graft.operators.Multimodal.frameSamples(media, 64, 2).toDF()
          .agg(count(lit(1)).as("n"), sum(length(col("frame"))))
          .collect()(0).getLong(0))
      timed(s"audio window energies (~${total / 3} clips)")(
        graft.operators.Multimodal.audioWindows(media, 32).toDF()
          .agg(count(lit(1)).as("n"), expr("bit_xor(ss)"))
          .collect()(0).getLong(0))
      // utterance merge on top: only the ACTIVE (ss ≥ threshold)
      // windows reach the lag/cumsum window — anchors, not the grid
      timed(s"audio utterance segmentation (~${total / 3} clips)")(
        graft.operators.Multimodal.audioUtterances(media, 32, 40000L, 1)
          .agg(count(lit(1)).as("n"), expr("bit_xor(energy)"))
          .collect()(0).getLong(0))
    }

    // q189 collocation candidate volume under PLANTED LONG DOCUMENTS
    // (the round-6 verdict's scale-killer scenario): 20k docs, each
    // with 150 doc-unique junk tokens (df=1) + 30 tokens from a
    // 60-token common pool. The UNPRUNED per-doc self-join would emit
    // Σ_doc C(~180, 2) ≈ 3.2e8 candidate rows; the df ≥ 10 semi-join
    // (provably output-identical — n_ab ≤ min(df_a, df_b)) drops every
    // junk token first, so candidates collapse to Σ_doc C(≤30, 2) —
    // LINEAR in corpus size at fixed vocab, not quadratic in doc
    // length. Both counts printed so the ratio is pinned.
    timed("q189 collocation candidates (planted long docs, df-pruned)") {
      val junk = (0 until 150).map(j =>
        concat(lit("junk"), (col("id") * 150 + j).cast("string")))
      val common = (0 until 30).map(j =>
        concat(lit("common"),
          pmod(col("id") * 31 + lit(j * 7), lit(60)).cast("string")))
      val longDocs = spark.range(20000)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (junk ++ common): _*).as("text"))
        .repartition(32).localCheckpoint(true)
      val dt = longDocs
        .select(col("doc_id"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
        .distinct()
      val unprunedBound = dt.groupBy(col("doc_id")).agg(count(lit(1)).as("v"))
        .agg(expr("sum(v * (v - 1) div 2)")).collect()(0).getLong(0)
      val marg = dt.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val vocab = marg.filter(col("n") >= 10)
        .orderBy(desc("n"), asc("tok")).limit(20000).select(col("tok"))
      val dtk = dt.join(broadcast(vocab), Seq("tok"), "left_semi")
      val pruned = dtk.select(col("doc_id"), col("tok").as("tok_a"))
        .join(dtk.select(col("doc_id"), col("tok").as("tok_b")), "doc_id")
        .filter(col("tok_a") < col("tok_b")).count()
      println(f"[stress]   unpruned candidate bound: $unprunedBound%,d; " +
        f"df-pruned candidates: $pruned%,d " +
        f"(${unprunedBound.toDouble / pruned}%.0fx reduction)")
      pruned
    }

    // round-8-continuation phases: sharding/mix/audit surface at ×N.
    // Rendezvous is 17 codegen'd hash expressions riding one scan —
    // its time must track corpus rows, nothing else (bit_xor forces
    // both shard columns through the fold; rule 11).
    timed(s"rendezvous sharding 8->9 ($total docs, map-only)")(
      docs.select(
          graft.operators.Sampling.rendezvousShard(col("doc_id"), 8, 500L).as("s8"),
          graft.operators.Sampling.rendezvousShard(col("doc_id"), 9, 500L).as("s9"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(s8 * 64 + s9)"))
        .collect()(0).getLong(0))
    // KL is two partial-agged token passes + a LIMIT-bounded grid —
    // same scale contract as DSIR above
    timed(s"per-source KL divergence ($total docs, top-512 vocab + OOV)")(
      graft.operators.Curation.unigramKlFp(docs, "source", "text", 512)
        .agg(count(lit(1)).as("n"), expr("bit_xor(kl_fp)"))
        .collect()(0).getLong(0))
    // batch formation: the one total-order op — scoped to
    // (bucket, shard) sub-frames, so the sort is n/(buckets·shards)
    // per window and must scale near-linearly, not like a global sort
    timed(s"length-bucket batch formation ($total docs, 8 shards/bucket)")(
      graft.operators.Curation.lengthBucketBatches(docs, "doc_id",
          org.apache.spark.sql.functions.size(
            graft.operators.TextAnalysis.tokens(col("text"))).cast("long"),
          bucketWidth = 16, batchSize = 32, shards = 8, seed = 77L)
        .agg(count(lit(1)).as("n"), expr("bit_xor(max_len * n_rows)"))
        .collect()(0).getLong(0))
    // streaming quota at ×N events: per-key state is two scalars + the
    // in-flight buffer; the drain must stay executor-bound like the
    // other streaming shapes (state keys scale ×N with the shifted
    // user ids)
    timed(s"streaming quota (q253 shape, $factor x events)")(
      graft.streaming.EventStreams.streamingQuota(spark, evPath).count())

    // round-10 phases: the new surface at ×N.
    // Katz rides the same dense hashed graph as LPA/weighted-pagerank:
    // per round one edges⋈x join + one partial-agged groupBy(dst) —
    // pageRank's cost curve minus the degree frame. The 1k planted
    // hubs bound d_max ≈ total/1024 per the graph construction; the
    // default alphaDen=1000 clears the int64 envelope documented on
    // the operator through 100× (d_max·x_max ≈ 5·10^8 ≪ 2^63).
    timed(s"katz centrality (3 iters, ${edgesPerV * total} edges)")(
      graft.operators.Graph.katzFixed(denseEdges, "src", "dst", iters = 3)
        .agg(count(lit(1)).as("n"), expr("bit_xor(katz_fx)"))
        .collect()(0).getLong(0))
    // incremental CC: history contributes ONLY its label table — the
    // iterative part must track the DELTA-touched components, not the
    // graph, so this line's growth must follow the standing-CC line
    // above (the base labeling it recomputes), never exceed it.
    timed("incremental CC (standing 4/5 + delta 1/5 of LSH pairs)") {
      val keep = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val pairs = graft.operators.Dedup
        .minhashLshPairs(docs.join(keep, "doc_id"), "doc_id", "text", 3, 32, 8, 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      graft.operators.Dedup.incrementalConnectedComponents(
        pairs.filter((col("id_a") + col("id_b")) % 5 =!= 0),
        pairs.filter((col("id_a") + col("id_b")) % 5 === 0),
        "id_a", "id_b").count()
    }
    // shot boundaries: the whole detector runs inside the scan pass —
    // cost must track payload bytes like the frame-explode line.
    locally {
      import spark.implicits._
      val media = docs.select(col("doc_id").as("media_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
          encode(col("text"), "UTF-8").as("payload"),
          lit(0).as("width"), lit(0).as("height"), lit(0).as("sample_rate"))
        .as[graft.operators.Multimodal.MediaRow]
      timed(s"shot boundaries (~${total / 3} videos, map-only)")(
        graft.operators.Multimodal.shotBoundaries(media, 64, 32L).toDF()
          .agg(count(lit(1)).as("n"), expr("bit_xor(max_d * n_frames)"))
          .collect()(0).getLong(0))
    }
    // t-closeness: two record-sized partial-agg groupBys; the grid is
    // (QID domain × sensitive domain) — must stay flat as records grow.
    timed(s"t-closeness audit ($total records, QID=source×len-bucket)")(
      graft.operators.Curation.tClosenessAudit(
        docs.select(col("source"),
          (length(col("text")) / lit(256)).cast("long").as("len_b"),
          (size(graft.operators.TextAnalysis.tokens(col("text"))) / lit(8))
            .cast("long").as("sv")),
        Seq("source", "len_b"), "sv")
        .agg(count(lit(1)).as("n"), expr("bit_xor(emd_fx)"))
        .collect()(0).getLong(0))
    // burstiness: one explode + two partial-agg groupBys + TakeOrdered.
    timed(s"token burstiness ($total docs, top-64)") {
      val dt = docs.select(col("doc_id"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("x"))
      dt.groupBy(col("t"))
        .agg(sum(col("x")).as("total"), sum(col("x") * col("x")).as("sxx"))
        .orderBy(desc("total"), asc("t")).limit(64)
        .agg(count(lit(1)).as("n"), expr("bit_xor(sxx)"))
        .collect()(0).getLong(0)
    }

    // round-11 phases: the scale-safe embedding-audit twins (q321/q322/
    // q323) plus the bounded brute-force baselines. The verdict-r10
    // failure mode these certify against: the old q297/q314/q290
    // broadcast a constant corpus FRACTION and paid O(n²/16) pairs —
    // at ×100 that is a >8 GB broadcast and ~4×10⁸ dot pairs. Each
    // line below must track the corpus LINEARLY (cells and subset
    // moduli follow the count).
    // q322 shape: cell-blocked density roles over the FULL ×N corpus —
    // pair volume ≈ E[cell]·n (500·n), training model-only.
    timed(s"dbscan cell roles ($nVec vectors, auto cells, full corpus)")(
      graft.operators.Similarity.dbscanCellRoles(emb, "vec_id", "embedding",
          thetaFx = 250000000000L, minPts = math.max(3L, nVec / 80L),
          // census line printed even at zero — the ×100 harness is
          // where a hot cell would first trip the maxCell guard
          onCensus = (g, c, r) => println(
            s"[dbscan-census] grid=$g dropped_cells=$c dropped_rows=$r"))
        .groupBy(col("role")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n"), sum(col("n")))
        .collect()(0).getLong(0))
    // q323 shape: hubness fold on the ALREADY-BUILT kNN graph (the
    // checkpoint above) — one partial-agged groupBy + TakeOrdered(20);
    // its time must be graph-read + shuffle of (dst, count) pairs only.
    timed(s"hubness top-20 from kNN graph ($nVec nodes, reused graph)")(
      knnG.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
        .orderBy(desc("indeg"), asc("dst")).limit(20)
        .agg(count(lit(1)).as("n"), expr("bit_xor(indeg)"))
        .collect()(0).getLong(0))
    // q321 shape: IVF-routed conformal gate — reference (n/2) is
    // cell-assigned and EQUI-joined (never broadcast); calibration is
    // the count-derived ~500-row sample; the test stream is a corpus
    // fraction (n/4) whose per-item cost is ~nProbe·E[cell] dots, flat.
    timed(s"conformal OOD gate, IVF-routed (${nVec / 2} ref, ${nVec / 4} test)")(
      graft.queries.Pipeline.q321ConformalIvf(spark, embDir)
        .agg(count(lit(1)).as("n"),
          sum(col("flagged").cast("long")))
        .collect()(0).getLong(0))
    // bounded brute-force baselines (q290/q314/q297 after the round-11
    // count-derived moduli): subset ≈ 500-1000 rows REGARDLESS of ×N,
    // so these lines must be flat-cost — they certify the bounding.
    timed(s"hubness brute baseline (q290 shape, % max(4, n/500) subset)")(
      graft.queries.Pipeline.q290Hubness(spark, embDir)
        .agg(count(lit(1)).as("n"), sum(col("n_points")))
        .collect()(0).getLong(0))
    timed(s"dbscan brute baseline (q314 shape, % max(4, n/500) subset)")(
      graft.queries.Pipeline.q314DbscanCore(spark, embDir)
        .groupBy(col("role")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n"), sum(col("n")))
        .collect()(0).getLong(0))
    timed(s"conformal brute baseline (q297 shape, count-derived splits)")(
      graft.queries.Pipeline.q297ConformalOod(spark, embDir)
        .agg(count(lit(1)).as("n"), sum(col("flagged").cast("long")))
        .collect()(0).getLong(0))
    spark.stop()
  }
}
