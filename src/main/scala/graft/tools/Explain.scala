package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for selected queries to EXPLAINS.md —
  * the plan-shape evidence (pushed filters, pruned schemas, broadcast
  * choices, codegen spans) referenced from the README.
  */
object Explain {
  /** Pinned queries: name → what to look for in the dumped plan.
    * INVARIANT (gated by ExplainPinSpec + the startup require below):
    * pinned ∪ excluded == the registered query set, disjoint — every
    * new query must make a CONSCIOUS pin-or-exclude choice, so the
    * pin set can never silently drift from the registry again (the
    * round-8 q260 miss). */
  val pinned: Seq[(String, String)] = Seq(
      "q01_tpch_q1" -> "scan→filter→project→hash-agg (partial+final)→sort; filter and column pruning pushed to parquet",
      "q03_filter_chain" -> "chained filters collapse into one scan predicate (CombineFilters + PushedFilters)",
      "q08_join_broadcast_agg" -> "explicit dimension broadcast: fact table never shuffles",
      "q16_window_rank" -> "single shuffle on user_id feeds all three window functions",
      "q30_dedup_exact" -> "only (fingerprint, id) reach the exchange — text stays in the scan",
      "q34_cosine_topk" -> "broadcast-nested-loop over VecDot (codegen'd), then window top-k",
      "q40_asof_join" -> "as-of via union + single window pass (no inequality join)",
      "q31_minhash_lsh" -> "exact-dedup reps → banded sigs (ids+8-byte band_sig only in the exchange) → capped-bucket equi self-join → jaccard verify; no text in any shuffle",
      "q45_set_ops" -> "one distinct per side + single left-outer join (was intersect+except = 2× lineitem key shuffle)",
      "q52_ann_ivf" -> "trained IVF: cell assignment is a map-only greatest-of-structs over VecDot; probe lists explode to a hash equi-join on cell id; exact rerank only within probed cells",
      "q57_decontaminate" -> "codegen n-gram rows (posexplode + window lead, no interpreted HOF); tiny eval-gram set broadcast — the corpus never shuffles its text",
      "q60_pack_sequences" -> "packing = one window per hash bucket (parallel) + partial-aggregated groupBy; no global sort",
      "q65_tfidf" -> "(doc,term) and (term) hash-aggregates + one-row N broadcast; per-doc top-k window — every stage partial-aggregates",
      "q67_centroids" -> "posexplode to (label,dim) with map-side partial aggregation — 640 groups regardless of corpus size",
      "q32_simhash" -> "native simhash64 kernel computed ONCE into an eager localCheckpoint of 16 bytes/row (a LogicalRDD scan here; per-branch pushed filters defeat exchange reuse: 6 corpus scans without it; the checkpoint dies with the result, where a persisted frame stayed in the session's cache); window-count bucket cap, ids-only candidate pairs",
      "q69_stratified_sample" -> "per-stratum rate CASE + one hash compare, pushed into the scan — membership is map-only, zero shuffle",
      "q70_group_cap" -> "two-phase salted top-n: window per (group, salt) then window per group over <= salts*n survivors — identical to the single-window rank, no hot-group reducer",
      "q71_bigram_lm" -> "bigram/unigram counts partial-aggregate before their shuffles; scoring is two hash joins + a 1-row vocab broadcast; fixed-point integer sums end-to-end",
      "q74_heavy_hitters" -> "ObjectHashAggregate over mergeable Misra-Gries states: capacity-bounded summaries cross the shuffle, never the key universe",
      "q83_bloom_decontaminate" -> "bloom filter embedded as a LITERAL (not a join column — per-row getBinary copies cost 15×): the probe is a map-side codegen'd filter on the gram stream, ahead of the exact-confirm broadcast join",
      "q84_zorder_curve" -> "interleave_bits is one codegen'd node in the project — no shiftleft/bitwiseOR tree, no shuffle before the top-k sort",
      "q85_boilerplate" -> "distinct (doc,gram) → gram doc-count: both hash-aggregates partial-combine; the count join is a plain shuffle join (no broadcast assumption on the boilerplate set)",
      "q86_chunk_dedup" -> "keep-first = min(struct(doc,idx)) hash-aggregate — partial-combines map-side where a chunk-partitioned window would single-reducer every hot boilerplate chunk",
      "q75_semantic_dedup" -> "cell assignment via native VecMatArgmax over the trained centroid matrix (one expression node, not 16×64 literals); within-cell self-join guarded by cell-size cap; CC rounds shuffle (id,label) only",
      "q92_resample" -> "the dense grid is GENERATED (sequence+explode over a 1-row bounds aggregate) and cross-joined with the type dimension, a capped-collect LocalRelation since r13 (structurally bounded, one events scan fewer); the event table is pre-aggregated before the fill join — two small frames join regardless of data scale",
      "q96_fuzzy_key_pairs" -> "equi-join on the 8-char prefix block (hash join), levenshtein verified as a post-join filter — never a nested-loop condition; degenerate blocks capped by a window count",
      "q98_window_topk" -> "Partial WindowGroupLimit BELOW the exchange: every map partition forwards ≤ k rows per group before the shuffle — the builtin skew bound (PERF.md lesson 11)",
      "q100_rolling_window" -> "single shuffle on user_id; RANGE frame over unix-micros order — one running-window pass, no self-join against the trailing hour",
      "q109_bucketed_join" -> "bucketed layout satisfies the SortMergeJoin AND the bucket-key aggregate: no hashpartitioning Exchange anywhere — the only shuffle is the final deterministic ORDER BY (the pay-layout-once fact-fact join at 100 TB)",
      "q110_sketch_union" -> "two-level sketch aggregation: per-snapshot HLL partials merge via hll_union_agg — sketch BYTES cross the second shuffle, never token streams; adding a snapshot never rescans history",
      "q111_quality_quantile" -> "adaptive per-source threshold in ONE window pass (percent_rank partitioned by source) — no collected stats, no global sort; the count aggregate reuses the window's partitioning",
      "q117_dedup_pipeline" -> "the composed dedup pipeline: exact-rep semi-join (8-byte fingerprints in the exchange) feeds 64-band LSH; keep-list maps back through a fingerprint join — text bytes never shuffle in ANY stage of the composition",
      "q120_fuzzy_decontaminate" -> "cross-corpus LSH: both sides band map-only; the eval side is BROADCAST at candidate AND verify joins — the training corpus never shuffles toward the eval suite; jaccard is a residual filter on the equi-join, never a nested-loop condition",
      "q121_snapshot_diff" -> "md5 fingerprints computed map-side in both scans: the full-outer join exchanges (key, 32-char fp) only — payloads never shuffle; output is the churn, not the corpus",
      "q122_cms_freq" -> "ObjectHashAggregate over mergeable 64 KB CMS buffers (partial-combines map-side); estimates probe the collected sketch as a plan LITERAL via codegen'd cms_estimate — no second corpus aggregation",
      "q123_pagerank" -> "per-round: edges⋈ranks hash join + partial-aggregated groupBy(dst) — only (id, long) pairs in every exchange; integral div/sum end-to-end (no IEEE order-dependence), lineage truncated per round",
      "q127_triangles" -> "degree-ordered orientation from a persisted 24-byte/edge frame; wedge self-join on src (struct residual stays a hash join) probes the BROADCAST closing edge set — the O(m^1.5) wedge stream never shuffles at this size, and past the broadcast gate it hash-partitions on (v,w) without ever needing to fit in memory",
      "q128_priority_sample" -> "weighted top-k as TakeOrderedAndProject: per-partition heaps forward k rows each — priority is one map-side division, no sort, no shuffle of the data",
      "q129_bm25" -> "query terms filter the token stream BEFORE the (doc,term) aggregate; df and the 1-row (N,T) totals broadcast back; the score is one integral-division project and the top-k is TakeOrdered — all-int64 BM25",
      "q130_outliers" -> "one partial-agged moments pass, 5-row broadcast back over the fact stream, verdicts as map-side DECIMAL comparisons (no sqrt, no division), final partial-agged counts",
      "q131_tpch_q8" -> "the widest join in the registry: part prunes the fact scan map-side before any exchange; every dimension broadcasts (at this sf the filtered orders side broadcasts too, so the 8-table join has ZERO shuffle joins — at cluster scale orders becomes the one shuffle join and the fact table still streams once); the only Exchanges are the 2-group aggregate and the final sort",
      "q132_boolean_search" -> "conjunctive search as posting-COUNT intersection: isin filter inside the scan, distinct (doc,term) partial-aggregates, count==|Q| — no k-way posting join, no term-skew reducer",
      "q146_interval_overlap" -> "pair join pre-clustered by u1 with a PINNED partition count (an AQE-coalescible repartition of the ~1 MB probe side collapsed to 1 partition and serialized the 30M-row pair stage — lesson 16); the pair aggregation runs exchange-free above the broadcast day join",
      "q149_dynamic_pruning" -> "dynamicpruning#N subquery in the fact scan's PartitionFilters: the Monday day-set is computed at runtime from the dim side and only qualifying directories are read",
      "q150_bloom_join" -> "InjectRuntimeFilter: bloom_filter_agg over the selective orders side, BloomFilterMightContain probe pushed into the lineitem scan — ~80% of fact rows drop before the shuffle join. NOTE: the registered query materializes inside its conf window (thresholds must not leak into other plans), so the plan dumped BELOW is only the scratch-read tail; the injected-filter assertion lives in ScaleSpec (\"runtime bloom filter\"), which checks bloom_filter_agg in the optimized join plan",
      "q152_jl_projection" -> "map-only JL projection: ONE codegen'd VecJLProject node per row (signs regenerated in-register from the (i,j) hash — no matrix literal, no broadcast, no shuffle); the posexplode is display-format only",
      "q153_ks_test" -> "per-value counts partial-aggregate (the only data-sized shuffle); the global cumsum window runs over the DISTINCT-value frame — metadata-sized, not data-sized",
      "q155_incremental_join" -> "delta-sized joins only: ΔO⋈C and O⋈ΔC (both with pushed modulo filters) union into a keyed aggregate merge — the standing fact table is never rescanned for the refresh",
      "q163_pq_ann" -> "PQ-ADC: encode is 8 map-side augmented-argmax nodes over plan-literal codebooks (48-bit codes replace the vector in the scoring scan); the broadcast query tables score via a codegen'd element_at chain; only the ADC top-100 shortlist joins back to full vectors (id equi-join) for exact rerank — payload vectors never ride the scoring scan",
      "q164_allpairs_exact" -> "exact all-pairs via prefix filtering: df counts and per-doc canonical arrays partial-aggregate; the candidate join indexes only prefix shingles (8-byte keys + two ints) with the length AND positional bounds as join-residual filters; the array-carrying verification join touches only surviving candidate ids — never the shared-shingle universe",
      "q165_pca_power" -> "ONE scan: count + VecFixedSum + VecOuterFixedSum as mergeable ObjectHashAggregate partials — d(d+1)/2 longs per task cross the exchange; everything after the 1-row collect is driver-side on the 64x64 matrix (the output frame is a 64-row literal)",
      "q166_tdigest_quantiles" -> "grouped ObjectHashAggregate over mergeable t-digest states: ~3 KB of centroids per (event_type) partial crosses the shuffle, never the value stream; quantile evaluation happens once per group at eval",
      "q167_stream_quantiles" -> "batch-driven runner: the plan below is only the distributed-sink READ-BACK tail (same convention as q150) — the streaming plan itself is q166's t-digest agg wrapped in StateStoreRestore/Save with watermark eviction; evidence in StreamingSpec and the x100 stress line",
      "q168_asof_native" -> "native AsOfJoinExec: per-child ClusteredDistribution(user_id) + intra-partition SortOrder feed a streaming merge — ONE exchange per side, no union re-shuffle, no window over the combined stream, O(1) carry state; compare q40's compose-and-window plan over the same semantics",
      "q170_bfs_levels" -> "level-synchronous BFS: each round joins only the CURRENT frontier against the edge list (visited ids left-anti'd out before the join), so exchanges carry (id, level) pairs ∝ frontier size, not graph size; lineage truncated per round — the plan is the final union of per-level frames",
      "q171_kcore" -> "iterated peel: each round is two semi-join-shaped hash joins (edge survival = both endpoints alive) + one partial-agged degree count — all exchanges carry long pairs; the alive set shrinks monotonically and no round ever rescans payloads",
      "q172_rrf_hybrid" -> "two retriever branches (BM25 int64, term-density int64) each end in TakeOrdered top-50; the fusion union carries (id, rank-part long) pairs only — the single-partition rank windows run over 50-row POST-LIMIT frames, not the corpus",
      "q173_equiheight_bins" -> "decile fences from ONE percentile aggregate (value→count map, not a global sort), broadcast back as a 1-row frame; bin assignment is 9 codegen'd comparisons in the project (no HOF lambda) feeding a partial-agged integer aggregate",
      "q174_mad_outliers" -> "two percentile passes over cents integers with 5-row broadcast joins back; the k·MAD test is the all-integer 2·dev2 > k·mad4 comparison — map-only verdicts, one partial-agged count, no sqrt/division anywhere",
      "q175_stream_heavy_hitters" -> "batch-driven runner: the plan below is the distributed-sink READ-BACK tail — the streaming plan is the mergeable Misra-Gries ObjectHashAggregate (capacity-bounded state per open window) inside StateStoreRestore/Save with watermark eviction; exact-regime parity evidence in StreamingSpec",
      "q176_oov_coverage" -> "one token explode feeds BOTH the vocab top-N (TakeOrdered over partial-agged counts) and the per-doc aggregate; the 16-row vocab joins BROADCAST left-outer — no data-sized shuffle carries text, and the OOV rate is one integral division in the project",
      "q177_label_prop" -> "per round: one edges⋈labels hash join, a partial-agged (dst, label) count, and a window whose fan-in is bounded by vertex degree — exchanges carry long pairs/triples only; lineage truncated between rounds (plan shown is the final round over checkpointed inputs)",
      "q178_cusum_changepoint" -> "the ONLY data-sized stage is the (type, hour) count aggregate; every window (cumsum, totals, argmax rank) runs over the metadata-sized hourly frame partitioned by type — no global sort, all-int64 deviation arithmetic in the project",
      "q179_ivfpq_ann" -> "IVF-PQ: candidate encode is map-only (cell argmax + 8 code argmaxes over plan-literal models); the ADC scan is an EQUI-join on cell against the broadcast probe/LUT table — only probed cells' code rows are scored, where q163's pure PQ broadcasts against the whole corpus; full vectors touch only the rerank shortlist via id-equi-join",
      "q180_cluster_split" -> "CC rounds shuffle (id, long) pairs only (lineage-truncated); the split is ONE map-side hash expression over the cluster id after a single left join — leakage safety costs the cluster join and nothing else",
      "q181_tdigest_union" -> "two-level sketch aggregation (the q110 HLL-table shape for quantiles): per-snapshot tdigest_agg partials merge map-side into ~3 KB binaries; the union aggregate sees ONLY sketch bytes — the value stream is touched once, and adding a snapshot never rescans history",
      "q182_decayed_agg" -> "one scan + map-only weights: the decay is a codegen'd shift+div against the broadcast 1-row anchor (BroadcastNestedLoopJoin of a scalar — the legitimate attach-a-scalar pattern), products cleared to int64 per row, one partial-agged aggregate",
      "q184_weighted_pagerank" -> "q123's per-round shape with (id, long, long) weight triples: edges⋈ranks⋈wsum hash joins + partial-agged groupBy(dst) — integral (r·w) div W_u end-to-end, lineage truncated per interval; the weight aggregation collapses duplicate edges before the first round",
      "q185_stream_distinct" -> "batch-driven runner: the plan below is the distributed-sink READ-BACK tail — the streaming plan is the mergeable KMV ObjectHashAggregate (≤4096 8-byte hashes per open window) inside StateStoreRestore/Save with watermark eviction; exact-regime parity evidence in StreamingSpec",
      "q186_interleave_schedule" -> "one per-source window (hash-ordered row_number, partitioned by source — no global sort before the final schedule ORDER BY), a 1-row ΣW broadcast (scalar BNLJ), and a map-only int64 stride key; the output total order IS the deliverable",
      "q187_bloom_union_decontaminate" -> "two-level membership aggregation: per-snapshot bloom_agg partials (128 KB binaries) OR-merge via bloom_union_agg; the unioned filter probes as a plan LITERAL in a codegen'd map-side filter ahead of the exact-confirm broadcast join (q83's shape) — the gram stream is hashed once per snapshot, never re-hashed on index growth",
      "q188_seasonal_anomaly" -> "the hourly count aggregate is the only data-sized stage; the 168×types seasonal frame joins BROADCAST back, flags are cross-multiplied integer comparisons in the project, and the peak argmax is a bounded-fan-in window over the metadata-sized hourly frame",
      "q189_collocations" -> "df ≥ 10 top-vocab semi-join (broadcast) prunes the distinct (doc, token) frame BEFORE the per-doc pair self-join — the r6 quadratic-fan-out fix, provably output-identical (n_ab ≤ min(df_a, df_b)); marginals and the 1-row total broadcast back onto the surviving pairs",
      "q190_tdigest_bins" -> "fences from ONE mergeable t-digest aggregate (~3 KB of centroids at the final merge — the 100 TB replacement for exact percentile's single-reducer value map), broadcast as a 1-row frame; binning is 9 codegen comparisons in the project, then a partial-agged per-bin aggregate",
      "q191_ivfpq_residual" -> "classic IVFADC: residual encode is the native codegen'd VecSub against the plan-literal centroid table (map-only, no interpreted HOF, no lambda state); ADC adds the probe's q·c term to the LUT sum; same cell equi-join pruning as q179",
      "q193_heaps_law" -> "two-phase distributed prefix sum: token and first-occurrence counts partial-aggregate to ONE ROW PER 20-DOC BLOCK before the cumulative window — the single-partition window touches only the block frame (n_docs/20 rows), never tokens",
      "q194_canonical_dedup" -> "CC rounds shuffle (id, long) pairs; the canonical pick is one per-cluster window over (id, cluster, len) triples — fan-in bounded by cluster size; the corpus joins the cluster frame once, left-outer",
      "q195_embedding_outliers" -> "one VecFixedSum pass (64 longs/task) builds the exact centroid; scoring is map-only native VecSub+VecDot against the 512-byte centroid literal; top-50 via TakeOrdered — nothing data-sized shuffles",
      "q196_ngram_novelty" -> "one distinct (doc, gram) frame feeds BOTH the min-aggregate (first_doc) and the count-back join — gram-keyed exchanges only, partial-aggregated; per-doc novelty is one integral division in the project",
      "q197_link_prediction" -> "strongest-edge postings (top-20 per supplier window) bound the wedge self-join at C(20,2) per supplier; co-counts partial-aggregate on the pair key; full-degree frame joins back; top-100 as TakeOrdered",
      "q200_tpch_q15" -> "supplier-keyed revenue aggregate (map-side partials) feeds its own 1-row max broadcast back — the view-free Q15: exact decimal equality picks the winners, supplier dim joins broadcast",
      "q201_hits" -> "per HITS round: two long-pair hash joins + two partial-agged sums; each max-normalization is a 1-row broadcast; exchanges never carry more than (id, long) — the q123/q184 replay shape, bipartite edition",
      "q202_embedding_drift" -> "two VecFixedSum aggregates (64 longs/task per snapshot) are the ONLY data-sized stages; the 64-row drift frame is driver-assembled model output — embedding bytes are scanned once, shuffled never",
      "q204_naive_bayes" -> "the NB model is two broadcast aggregates (class-term counts, class totals); scoring fans each exploded token across the 20-class broadcast (a domain-bounded BNLJ, structurally proven since r13 by the never-binding limit(1000) under the existing class-count require), partial-aggregates per (doc, class), and picks argmax in a C-row-fan-in window",
      "q205_media_dedup" -> "q30's dedup shape over the binary payload: only (16-byte md5, id, type) cross the exchange — blobs stay in the scan; keeper mapping is one fingerprint-keyed min-aggregate + join",
      "q206_asof_tolerance" -> "q40's union + single window carry with ONE added predicate (gap ≤ tolerance nulls stale payloads) — the tolerance costs zero extra scans or shuffles",
      "q207_skipgram_pairs" -> "sequence pairs WITHOUT a self-join: two codegen'd lead offsets in one per-doc window emit ≤2 rows per token; pair counts partial-aggregate; top-100 is a TakeOrdered — contrast with q189's incidence-pair prune, which this shape never needs",
      "q208_sssp" -> "per Bellman-Ford round: one edges⋈dist hash join + a partial-agged min per dst + a union-min fold — (id, long) pairs in every exchange, lineage truncated between rounds (q170's BFS shape with weights)",
      "q209_report_card" -> "two grouped aggregates (doc-level metrics with map-side partials; one token explode for vocab) joined on the source dimension — nothing beyond (source, long) and (source, md5) crosses a shuffle; the report is metadata-sized",
      "q210_image_phash" -> "map-only perceptual hashing: the mapPartitions decode→grid→dHash pass is a single SerializeFromObject span over the scan — only (id, 72-long grid, 8-byte hash) exist after it; the lone Exchange is the output sort",
      "q211_phash_neardup" -> "the 8-byte dHash frame persists once and feeds the 16-bit-chunk posexplode → bucket-capped equi self-join → Hamming verify (signaturePairs, shared with q32); neighbor counts partial-aggregate; payload blobs never appear past the scan",
      "q212_repeated_extents" -> "positional 5-grams stay codegen'd (posexplode + lead windows, doc-partitioned); the repeat set is one gram-keyed HAVING>=2 aggregate semi-joined back, so the lag/cumsum run-merge windows run over ANCHORS only — the repeated minority, not the corpus",
      "q214_stream_neardup" -> "the batch tail of the streaming near-dup: drained (band,id,id) candidates distinct-ed, then exact-Jaccard verified via two shingle-set joins — the stream side shuffled only 24-byte band rows into the state store, text touches nothing but the map-side kernels",
      "q215_extent_strip" -> "the q212 chain (gram windows, non-first anchors via min(struct) per gram, run merge) feeds a per-doc ANTI range-join (equi on id, extent bounds residual) — each token tests against its doc's few disjoint extents; the splice md5 is one per-doc sorted aggregate",
      "q217_phash_incremental" -> "index↔probe chunk equi-join (signatureMatches): both sides explode to 16-bit chunks, the INDEX side carries the bucket cap, candidates distinct before the Hamming verify — the standing index is probed, never cross-joined",
      "q218_semantic_decontam" -> "the eval slice (pmod-subset filter, recognized bounded) broadcasts into one BNLJ over the streaming train scan; the per-train argmax is max(struct(cos,−id)) — a two-phase aggregate with map-side partials (SortAggregate for the struct type), so the exchange carries one row per train id, never per pair; no window anywhere",
      "q219_dsir_weights" -> "two explode passes over the corpus (vocab count, bucket count), both map-side partial-aggregated; the top-512 vocab and the log-ratio table are model-sized broadcasts (TakeOrdered + 1-row totals cross); the only data-sized exchange carries (doc, bucket, count) triples",
      "q220_frame_sample" -> "one SerializeFromObject span: scan → typed filter → flatMap frames → project (len, md5 of hex) — all map-only, zero Exchange except the output sort; frame payloads are born and fingerprinted in the scan partition and never shuffle",
      "q221_modularity" -> "the LPA label frame joins the distinct edge list twice (long-pair hash joins), per-label counts partial-aggregate, and the 1-row directed-edge total broadcasts back — nothing wider than (long, long) in any exchange; modularity itself is row-local arithmetic",
      "q222_audio_energy" -> "one SerializeFromObject span again: scan → typed filter → flatMap 32-byte windows with in-loop integer energy → per-clip hash aggregate; the exchange carries (media_id, 4 longs) summaries, the payload bytes never leave the scan partition",
      "q223_hard_negatives" -> "anchors broadcast into the BNLJ over the candidate scan; the band filter (cos < 0.8) runs BEFORE the per-anchor rank window, so the sort sees only in-band rows; at corpus scale the pooled variant (ivfTopK k·4 then band-filter) replaces the exact scan",
      "q224_bpe_heldout" -> "train rounds = per-round (argmax collect + island windows + two type-keyed anti/left joins) on the TRAIN split's word-type table; apply rounds replay the same shape on the eval types with the pair as a LITERAL — no eval argmax; everything is (word-type, pos) keyed, the corpus collapsed to types before round 1",
      "q225_lm_filter" -> "both frozen model tables broadcast (top-50k bigrams via TakeOrdered, unigrams, 1-row V) — the scored corpus's bigram stream is map-only through three broadcast joins into a per-doc partial-agged integer sum; no data-sized shuffle except the final doc aggregate",
      "q226_incremental_semdedup" -> "both sides map-only assign to the static VecMatArgmax cell grid (no training, so the standing index's cells never drift); probes⋈index is a cell EQUI-join with the index side bucket-capped by a cell-count window; exact cosine verifies after — never a similarity join condition",
      "q229_personalized_pagerank" -> "per PPR round: one edges⋈rank hash join + partial-agged sums; the teleport mass re-enters as row-local arithmetic against the broadcast seed set — (id, long) exchanges only, lineage cut per round",
      "q234_knn_graph" -> "init pairs come from cell/hash-bucket equi-joins (never all-pairs); each NN-descent round joins the ≤k neighbor lists to themselves per node — candidate volume is nodes×(2k)², corpus-LINEAR; exact VecDot rescoring rides codegen",
      "q240_signbit_ann" -> "sign codes are two generated int64 sums computed IN the scan project (whole-stage codegen, no HOF); the Hamming scan is a broadcast of 40 query code-pairs over the 16-byte/row compressed frame; per-pair kernel = two bit_count(xor) — top-k via window over in-band rows",
      "q242_scd2_history" -> "all four windows (null-safe lag compress, version numbering, lead end-ts, is_current) share ONE (entity)-hash partitioning — a single exchange feeds the whole SCD2 chain; no global sort",
      "q243_rendezvous_shard" -> "17 fixed-shape integer hash+mix expressions ride the scan in one WholeStageCodegen span; the 8→9 argmax is GREATEST over packed keys — map-only, the lone exchange is the final (shard8, shard9) count aggregate",
      "q245_source_kl" -> "two explode passes (vocab TakeOrdered cap, bucket counts) both partial-aggregate; the (sources × 513) grid is a BNLJ whose BUILD side subtree carries the vocab LIMIT — bounded by construction (PlanLint-recognized); per-bucket terms fold as int64 partial sums",
      "q247_length_batches" -> "the one total-order op in the round: row_number windows scoped to (bucket, hash-shard) sub-frames — 8 shards per bucket cap every sort at n/(buckets·shards); batch stats then partial-aggregate twice (batch level, bucket level)",
      "q248_ivf_probe_curve" -> "three probe settings share ONE trained centroid model (driver-side k-means on VecFixedSum partials); each IVF pass is the q52 cell equi-join shape; the union feeds a single broadcast join against the exact top-10 frame",
      "q328_ivf_incremental" -> "the maintenance pass is ONE assign+aggregate over the corpus (argmax against the frozen model, per-cell base/delta counts + VecFixedSum — model-sized collect); three variant models then run the q52 cell equi-join shape over the same corpus and union into one broadcast join against the exact frame; untouched centroids are the frozen arrays themselves, so the only executor work the refresh adds is the single pass",
      "q249_eval_contamination" -> "q57's decontaminate shape with the aggregation flipped to the eval side: eval grams (1/97 of the corpus) broadcast, train grams stream map-side — only gram MATCHES reach the (eval, train) distinct-count aggregate",
      "q252_source_dup_matrix" -> "q164's prefix-filtered exact pair join (posting equi-join, length+prefix pruned) feeds two match-sized id-equi joins for source labels; the matrix fold is a partial-agged groupBy over ≤ sources² keys",
      "q253_stream_quota" -> "flatMapGroupsWithState keyed by user: state = two scalars + the in-flight buffer; adjudication is timeout-driven at the watermark, so emission needs no further data; the drained sink aggregates nothing — per-event rows flow straight to parquet",
      "q254_knn_label_audit" -> "the q34 brute-force scan (broadcast probes, codegen'd VecDot, per-query top-k window) feeds a label join and the lesson-17 max(struct) argmax vote — votes partial-aggregate, no second window",
      "q255_lsh_recall_audit" -> "q31's banded candidate machinery at threshold 0: persisted 24-byte band rows, window-capped buckets, ids-only candidate pairs, shingle-set verify joins — the audit adds zero new shuffle shapes, only keeps the FP rows q31 filters out",
      "q256_spectral_rank" -> "ONE data pass: count + VecFixedSum + VecOuterFixedSum as partial-agged fixed-point aggregates (2080 longs/task); the spectral fold (trace, Frobenius, participation ratio) is driver arithmetic on the collected model — embedding bytes are scanned once, shuffled never",
      "q257_minhash_incremental" -> "the standing index bands once (24-byte rows, bucket-cap window); probes band map-side and equi-join on (band, band_sig); candidates distinct before the two shingle-set verify joins — history is never re-banded, text never shuffles",
      "q258_dedup_impact" -> "q30's 16-byte fingerprint min-aggregate + one ids-only left join back to the corpus; the per-source fold partial-aggregates — dedup impact costs one fingerprint pass regardless of text size",
      "q259_quantile_normalize" -> "per-doc scores partial-aggregate to the DISTINCT (source, score) frame; both CDFs are value-bounded windows; the quantile lookup is the as-of union trick — corpus rows at integer cum positions, source rows at integer ceil-ranks, ONE forward first(ignoreNulls) window; no range join, no BNLJ anywhere",
      "q260_split_balance" -> "the token head is a TakeOrdered LIMIT 64; the (token × split) grid completes via a LITERAL 3-row crossJoin (LocalTableScan — PlanLint-bounded) left-joined to the partial-agged cell counts; χ² terms floor to int64 in the project and the final fold is a 64-row aggregate",
      "q261_phash_canonical" -> "exact-hash collapse FIRST (groupBy(dhash).min(media_id) — the round-10 fix): the 16-bit-chunk equi self-join runs over the DISTINCT-hash representative frame (never media-level on a self-similar corpus; 41.2→6.8 s at sf0.1); CC runs on the driver over the collected rep pairs (union-find, min id as root, capped by Q261MaxRepPairs — over the cap fails loudly) and enters the plan as a LocalTableScan of (id, cluster), so no CC round appears as a Spark job; hash→cluster joins back, and the canonical pick is ONE per-cluster window over (id, n_bytes) — q194's discipline at the media rung; payload bytes never leave the scan",
      "q329_cross_modal_canonical" -> "the joint-cluster decision table is pure equi-join algebra: text clusters re-read the PERSISTED q55/q82 pair frame (pairCache — no rebuild) through CC, media groups are one groupBy(dhash).min partial aggregate joined back, and the canonical pick is one window whose fan-in is the joint-cluster size; blobs never shuffle (phashTable ships id + hash; payload length is computed in the media scan)",
      "q262_unigram_rounds" -> "the corpus collapses to the word-type frame once (the only corpus-sized shuffle); candidate substrings equi-join the BROADCAST model vocab; the greedy orbit materializes via ⌈log2 maxWordLen⌉ pointer-doubling self-joins over (w, pos) pairs — no driver loop over positions, no interpreted HOF; only the model-sized usage table is collected per EM round",
      "q264_stream_phash_nd" -> "dHash computed MAP-SIDE on the stream (mapPartitions in the scan stage — blobs never shuffle); only 24-byte (chunk, chunk_val, ts, id) rows reach the state store; batch tail = distinct candidates → two 8-byte hash joins + bit_count verify → per-media partial-agged counts → 1:1 left join back; the grid re-encode rides the already-persisted narrow phash frame",
      "q266_audio_fingerprint" -> "landmark extraction is map-only over the blob scan (audioWindows flatMap) + two window passes over the PEAK frame (3 longs/active window); the lead columns materialize BEFORE the fanout Generate (lesson 12 — nothing re-evaluates per element); matching is a df≤50-capped inverted-index equi-join on the packed int64 fp (never all-pairs), offset votes partial-aggregate, and the per-pair best offset is the lesson-17 max(struct) argmax — no data-sized sort window",
      "q267_tokenizer_agreement" -> "both frozen models come from the memoized train chains (BPE merges + unigram vocab — a few driver strings each); both applies are type-frame-sized (the eval corpus collapses to word types once per family); boundary sets compare via a full-outer equi-join on (w, b) over type-sized frames, and the per-language fold joins occurrence counts on the type key — the corpus-sized pass is the two type collapses, everything after is vocabulary-scale",
      "q268_matryoshka_recall" -> "probes (1/50) broadcast, candidates stream map-side; ONE pair join computes all four fixed-point dots (codegen VecDot over pre-floored prefixes — truncations ride the same row, no second scan); per-dim ranks are probe-bounded windows over the persisted pair frame, the recall fold is a 3-row aggregate",
      "q269_randwalk_corpus" -> "adjacency indexed ONCE (per-src row_number over the distinct edge frame — the one data-sized sort) and persisted; each of the 6 steps broadcast-joins the tiny sampled walk frontier against the degree frame and then the persisted adjacency map-side — 6 broadcast probes of one cached frame, never 6 shuffles of it; the next-hop pick is pure int arithmetic (mix32) inside the projection",
      "q270_k_anonymity" -> "one partial-aggregated groupBy per ladder level (class frames bounded by the QID domain, not the record count) hash-joined back on QID keys — the record stream scans once, payload never shuffles; level pick is a map-side CASE chain",
      "q272_louvain_move" -> "edge frame distinct'd + persisted once; per round Σtot is a node-sized join + community-sized aggregate, k_{i,c} a partial-agged (src,lab) count, and the move pick is the lesson-17 max(struct) hash aggregate over the candidate frame — long tuples in every exchange, no edge-sized sort window, dd rides as a 1-row broadcast",
      "q276_sq8_audit" -> "one posexplode pass to (dim, fixed-point value) rows; per-dim min/max is a 64-group partial aggregate joined back (AQE broadcast), the quantize/error algebra is map-side integer projection, and the final per-dim stats partial-aggregate — nothing data-sized after the explode, no windows, no collect",
      "q273_walk_pmi" -> "the walk corpus is the per-JVM memoized localCheckpoint shared with q269 (generated once — the plan roots at an ExistingRDD scan, not a re-derivation); pairs are an equi self-join on walk_id (≤7 rows per key) with the ±2-step window a residual filter, both marginals partial-agg and hash-join back, the 1-row total broadcasts",
      "q277_l_diversity" -> "two stacked partial-aggregated groupBys (records → QID×sensitive cells → per-class rollup): distinctness falls out of the second rollup with no countDistinct expansion; the orders pre-count hash-joins customer, ppm share is map-side integer div",
      "q278_closeness" -> "all 4 pivot BFS trees in one (pivot,node)-keyed frontier loop: per round ONE edges hash join + left-anti visited check over localCheckpoint-truncated lineage; exchanges carry (long,long,int) triples; harmonic sum is a partial-agged groupBy over 1e6 div dist",
      "q279_skew_audit" -> "per audited key: partial-agged per-key count → count-of-counts histogram (bounded by the count domain); the only window runs on the HISTOGRAM, never a global sort of per-key counts; all percentile/salt algebra is integer projection on a 1-row frame",
      "q280_mmr_select" -> "dumped plan = the emitted 16-row literal frame + final sort (the greedy stage executes the pool eagerly inside the operator); the POOL plan — codegen'd VecDot against the 1-row broadcast query (GlobalLimit-bounded BNLJ) into TakeOrderedAndProject(64), partial top-k per partition, no global sort — is spec-asserted on Similarity.mmrPool (OperatorsSpec)",
      "q285_spearman" -> "rank-association audit with ZERO data-sized windows: both midrank frames are partial-agged DISTINCT-(source, value) aggregates with the cum window over the value domain (q153's discipline, partitioned by source); the doc stream hash-joins the two rank frames on (source, value) and folds in one partial-agged per-source aggregate — ρ is three casts + two sqrt + a division in the project",
      "q296_incremental_cc" -> "history contributes ONLY its label table: the delta batch hash-joins (id, cluster) twice (left_outer — unseen nodes self-label), the iterative CC runs on the delta-touched COMPONENT graph alone (metadata-sized edges after the ca≠cb filter), and the merge map joins back over labels — the standing EDGE set is never rescanned; same recursive-closure oracle as q55/q82, third algorithm under one gate",
      "q313_assoc_rules" -> "the basket pair join is the q127 discipline: distinct (order, part) partial-aggregates once, the self-join keys on the order id with basket size ≤ 7 bounding the fan-out, pair supports partial-aggregate into a TakeOrdered top-30 — only then do the two item-support joins and the 1-row total broadcast run, on 30 rows",
      "q310_stream_sample" -> "the sample IS a mergeable sketch: KmvAgg carries bottom-10 packed (hash, id) keys as ≤ 8k bytes of state per open window inside the watermarked append-mode aggregate — arrival-order-invariant because it is a set function, no reservoir RNG state; the drained tail explodes 10 rows per closed window and unpacks ids by mod 2^33",
      "q302_tpch_q2" -> "the correlated-MIN subquery decorrelated: per-(part,supplier) min-cents aggregate (partial-agged), dimension chain fully broadcast (region→nation→supplier and the filtered part list), per-part min as a second small aggregate joined back on (part, cost) — no correlated re-execution, no window over the fact table",
      "q308_tpch_q19" -> "the OR-of-ANDs classic: all three brand/size branches stay inside the broadcast part build side and the disjunct (incl. the l_quantity bounds) evaluates as ONE codegen'd filter above the broadcast hash join — the fact table streams once; the aggregate is a 1-row decimal dsum",
      "q301_source_jsd" -> "ONE corpus-sized token explode feeds the same partial-agged (s, b) counts as q245; the pairwise stage is entirely domain-sized — the per-source totals are a capped-collect LocalRelation (r13: one token-count pass serves both pair sides) crossJoined with the bucket domain, itself provably ≤ vocabN+1 rows via a never-binding limit, and the (pair × bucket) grid left-joins counts twice on (source, bucket); per-term fixed-point floors sum as exact integers in a partial-agged fold",
      "q290_hubness" -> "both sides of the pair join are the COUNT-DERIVED measurement subset (vec_id % max(4, n/500) = 0 — a fixed ~500-row sample, flat in corpus size, carrying a never-binding GlobalLimit(2001) so the bound is STRUCTURAL for PlanLint — no allowlist entry since round 12); dots are codegen'd VecDot over pre-floored exact fixed-point arrays, the top-10 window partitions by query id, and both in-degree folds partial-aggregate — the histogram is subset-sized, never corpus-sized; the corpus-scale path is the q323 graph twin",
      "q297_conformal_ood" -> "the brute-force conformal BASELINE, every split a COUNT-DERIVED fixed-size sample (ref % mRef = 0 with mRef = 2·max(1, n/2000) under a never-binding GlobalLimit(4001) — structural for PlanLint since round 12 — cal/test residues 1/3 of mCal = 2·mRef, provably disjoint at every n; formerly ref = HALF the corpus broadcast into a BNLJ): pair joins are sample × sample, the rank window runs over the ~500-row calibration frame, q̂ broadcasts as a GlobalLimit(1)-bounded 1-row frame; the corpus-scale path is the q321 IVF twin",
      "q314_dbscan_core" -> "brute-force density BASELINE over the COUNT-DERIVED % max(4, n/500) subset (round-11 bounding — formerly a quarter of the corpus; a never-binding GlobalLimit(2001) makes the bound structural for PlanLint since round 12): the pair BNLJ is sample × sample with codegen'd VecDot on floored normalized vectors, neighbor counts and roles fold in two partial-agged aggregates plus one semi-join, minPts derives from the subset count broadcast as a 1-row frame; the corpus-scale path is the q322 cell-blocked twin",
      "q321_conformal_ivf" -> "the production conformal shape: NOTHING corpus-sized is broadcast — the reference corpus is cell-assigned by the trained IVF quantizer (map-only vec_mat_argmax) and localCheckpointed once inside the memoized conformalScoresOf chain SHARED with q325 (trains once per session+dir), each query explodes to its top-4 probe cells (probe-bounded window) and EQUI-JOINS the reference on the cell id, in-cell rescoring is codegen'd VecDot with a per-query partial-agged max; only the ~500-row calibration frame sees the rank window and q̂ broadcasts as a GlobalLimit(1) 1-row frame — the test stream's path is scan → probe → hash join → aggregate, linear at any corpus size",
      "q322_dbscan_cells" -> "full-corpus density roles with the semanticDedup blocking discipline: quantizer cells follow the corpus (max(16, n/500) — pair volume ~500·n, corpus-linear), training is model-only driver traffic, assignment map-only, the pair stage an equi-join on the cell id with the maxCell census guard (drops REPORTED through the onCensus hook, never an O(m²) reducer); the plan shown is a projection of prefix 3 over the memoized all-prefix role fold (a LogicalRDD scan — the fold's count aggregate, border join and max-aggregate ran once at its build) and the final sort; every count is a certified lower bound — the one-sided role guarantees the oracle replays",
      "q323_hubness_graph" -> "hubness audit at graph cost: in-degrees come from the NN-descent kNN graph (q234's operator — ring-paired init, k-capped reverse edges, candidate-bounded descent, all corpus-linear), so the audit is ONE partial-agged groupBy(dst) + a TakeOrdered(20) on top of an already-needed structure; no all-pairs term exists in the plan",
      "q324_blocking_curve" -> "the grids-1/2/3 operating curve as ONE global aggregate over the memoized all-prefix role fold q322 also reads (a LogicalRDD scan): per prefix g a sum of n_nb_g and conditional core/noise counts, exploded to three rows — no per-row fold, no pair join, no cross-grid distinct (the grids are disjoint, first finder wins); monotonicity is a theorem of the nested candidate sets, asserted zero-slack by the oracle",
      "q325_conformal_curve" -> "ONE pair of score frames — the SAME checkpointed frames q321 reads, via the memoized conformalScoresOf chain (the α sweep is pure threshold algebra and the score function is shared by construction): per α the q̂ pick is a rank window over the ~500-row calibration frame fenced by GlobalLimit(1), and the three flag branches re-read the checkpointed test scores against broadcast 1-row q̂ frames; q̂/flag monotonicity across α is a shared-scores theorem the oracle asserts zero-slack",
      "q326_knn_rounds_curve" -> "the whole rounds-vs-recall curve costs ONE NN-descent build: the memoized knnCurveOf chain (shared with q234/q323) lazily checkpoints each round's graph as a natural byproduct of the descent loop, and the query is three projections over those checkpoints unioned — no extra join, no extra shuffle; per-round hit monotonicity is a nested-candidate-set theorem the oracle asserts zero-slack",
      "q327_knn_width_curve" -> "the init-volume dial published: widths 8/32 are INIT-ONLY builds (ring pairs + hash init → one topK window — no descent join anywhere in their plans, candidate pairs ≈ n·(2·grids·w + 8) linear in both n and w) and width 96 reuses the memoized knnCurveOf element 0 (q234's build — zero extra cost); nested ring-offset prefixes make per-width hits a zero-slack monotone theorem, and the published w=8 recall drop at sf0.1 (0.066 vs 0.221) is the scale lesson the table exists to show",
      "q319_rbo" -> "two retriever rankings share ONE corpus scan each (BM25 partial-agged postings vs embedding dot top-k against the broadcast query frame); the rank-biased overlap fold runs entirely on the two top-k frames (query × depth ≤ 10 rows each) — set-intersection via equi-join on (query, doc), the geometric-weight sum a bounded fold",
      "q320_winsorized" -> "the robust-mean family's scale shape: fences and the clamped sum both fold from the DISTINCT-value count frame (the cum window is value-DOMAIN-bounded, q153 discipline — no data-sized sort anywhere); the winsorized mean is exact int64 fixed-point with floor-correct signed division",
      "q288_zone_map" -> "the data is scanned exactly THRICE, each a partial-agged aggregate (predicate-tile assignment via map-side integer arithmetic against the broadcast 1-row domain frame — no 16× fan-out — plus two block-stat groupBys); every overlap join runs on METADATA-sized block-stat frames against the bounded 16-row predicate frame, so the audit costs three scans regardless of predicate count",
      "q289_t_closeness" -> "two partial-agged record-sized groupBys (cells, classes) are the only data passes; the sensitive-value frame's rank/cum window is value-DOMAIN-bounded (q153 discipline) and, since r13, a capped-collect LocalRelation broadcast into the class×value grid (a structurally bounded BNLJ — an audit table, QID domain × sensitive domain); the per-class cum window partitions by class with ≤ m rows each and the EMD fold partial-aggregates")

  /** Consciously unpinned: reference-parity single-operator queries
    * whose plans are trivial (scan+filter/agg/join shapes already
    * covered by a pinned sibling), TPC-H variants sharing a pinned
    * join shape, streaming read-back tails duplicating a pinned
    * runner, and format-roundtrip/API-facade checks with no plan
    * content. Adding a query to the registry without adding it to
    * `pinned` or here fails ExplainPinSpec and this tool's startup. */
  val excluded: Set[String] = Set(
    "q02_select_arith", "q04_orderby_multi", "q05_global_agg", "q06_group_agg",
    "q07_join_inner", "q09_take_limit", "q101_grouping_sets", "q102_stream_sliding",
    "q103_decontaminate_apply", "q104_grouped_heavy_hitters", "q105_salted_join", "q106_histogram",
    "q107_partitioned_roundtrip", "q108_truncate_tokens", "q10_count", "q112_csv_roundtrip",
    "q113_orc_roundtrip", "q114_inmemory", "q115_jsonl_roundtrip", "q116_drift_chi2",
    "q118_chunk_sliding", "q119_quantized_ann", "q11_union", "q124_schema_drift_union",
    "q125_kmv_overlap", "q126_stream_session", "q12_distinct", "q133_stream_left_outer",
    "q134_sliding_distinct", "q135_asof_forward", "q136_robust_stats", "q137_tpch_q17",
    "q138_tpch_q13", "q139_tpch_q18", "q13_topk_desc", "q140_tpch_q22",
    "q141_tpch_q21", "q142_group_linreg", "q143_concentration", "q144_time_weighted_avg",
    "q145_constraint_audit", "q147_markov_transitions", "q148_events_span", "q14_group_two_phase",
    "q151_stream_full_outer", "q154_token_budget", "q156_compaction", "q157_unpivot",
    "q158_token_entropy", "q159_containment", "q15_star_join", "q160_bm25_batch",
    "q161_cooccurrence_pmi", "q162_volume_corr", "q169_asof_native_forward", "q17_running_agg",
    "q183_leakage_audit", "q18_time_window", "q192_zipf_fit", "q198_tpch_q14",
    "q199_tpch_q7", "q19_sessionize", "q203_stream_asof", "q20_pivot",
    "q213_bpe_merges", "q216_bpe_vocab", "q274_wordpiece", "q21_rollup", "q227_winnow",
    "q281_wordpiece_heldout", "q282_wordpiece_fertility",
    "q283_katz", "q284_mann_whitney", "q286_acf_daily", "q287_shot_boundary",
    "q291_gini_stump", "q292_burstiness", "q293_theil_sen", "q294_benford",
    "q295_mw_mixture", "q298_ols_trend", "q299_dp_release",
    "q300_binary_seg", "q303_tpch_q4", "q304_tpch_q9", "q305_tpch_q11",
    "q306_tpch_q12", "q307_tpch_q16", "q309_tpch_q20", "q311_label_margin",
    "q312_markov_heldout", "q315_lm_interp_heldout",
    "q316_ccf_daily", "q317_hill_alpha", "q318_user_gini",
    "q263_unigram_heldout", "q265_unigram_fertility", "q271_water_fill", "q275_readability",
    "q228_winnow_pairs", "q22_semi_anti_join", "q230_kcenter", "q231_stream_drift",
    "q232_ra_link_prediction", "q233_pair_alignment", "q235_bpe_fertility", "q236_audio_utterances",
    "q237_clustering_coeff", "q238_code_switch", "q239_assortativity", "q23_outer_join_agg",
    "q241_domain_quality_filter", "q244_temperature_mix", "q246_token_gini", "q24_json_extract",
    "q250_mlm_mask", "q251_vocab_coverage", "q25_text_stats",
    "q26_token_freq", "q27_quality_score",
    "q28_lang_id", "q29_fingerprint", "q33_ngram_jaccard", "q35_ann_lsh",
    "q36_cosine_neardup", "q37_multimodal", "q38_stream_hourly", "q39_stream_stateful",
    "q41_range_join", "q42_percentiles", "q43_moment_stats", "q44_sliding_window",
    "q46_string_funcs", "q47_date_funcs", "q48_session_window", "q49_tpch_q6",
    "q50_tpch_q3", "q51_above_group_avg", "q53_graft_facade", "q54_approx_percentiles",
    "q55_neardup_clusters", "q56_stream_dedup", "q58_repetition", "q59_hash_split",
    "q61_pii_redact", "q62_curation_funnel", "q63_order_shuffle", "q64_stream_join",
    "q66_vocab", "q68_vocab_approx", "q72_window_nav", "q73_cube",
    "q76_tpch_q5", "q77_tpch_q10", "q78_stream_enrich", "q79_upsert_merge",
    "q80_incremental_agg", "q81_bpe_tokens", "q82_neardup_clusters_alt", "q87_stream_upsert",
    "q88_multimodal_transcode", "q89_event_funnel", "q90_column_profile", "q91_full_outer",
    "q93_cohort_retention", "q94_mixture_sample", "q95_incremental_dedup", "q97_sql_entry",
    "q99_null_safe_join")

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = args.headOption.getOrElse("EXPLAINS.md") // in the working directory
    val pinnedNames = pinned.map(_._1).toSet
    val registry = graft.SparkEntry.queries.keySet
    require(pinnedNames.intersect(excluded).isEmpty,
      s"pinned ∩ excluded: ${pinnedNames.intersect(excluded).mkString(",")}")
    require((pinnedNames ++ excluded) == registry,
      "pin set out of sync with the registry — unclaimed: " +
        (registry -- pinnedNames -- excluded).mkString(",") +
        "; stale: " + ((pinnedNames ++ excluded) -- registry).mkString(","))
    // a fixed 4 cores on every host, so the plans stay comparable
    val spark = graft.SparkEntry.localSession(4, "ERROR")

    val interesting = pinned

    val sb = new StringBuilder
    sb.append("# EXPLAINS — physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.tools.Explain` at `$dir`. ")
    sb.append("What to look for per plan is noted above each.\n")
    interesting.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
