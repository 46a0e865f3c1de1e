package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication operators for training-data pipelines — the full
  * ladder from exact to semantic near-dup. The reference engine has no
  * dedup surface at all; these are beyond-reference, designed
  * shuffle-minimal for 100 TB:
  *
  *  - exact: one hash-aggregate on a 64-bit fingerprint (never shuffles
  *    full text bytes — only the 8-byte hash + doc id).
  *  - MinHash+LSH: shingle → H minhashes → B banded signatures →
  *    bucket self-join. All joins are on 8-byte keys; candidate pairs
  *    are verified with exact Jaccard before emission.
  *  - SimHash: 64-bit weighted-bit signature; near-dup = small Hamming
  *    distance, blocked by 16-bit chunks (any pair within distance 3
  *    shares at least one of 4 chunks — pigeonhole).
  *  - n-gram Jaccard: exact all-pairs similarity for bounded blocks.
  *  - embedding cosine: see [[Similarity]] for the ANN machinery.
  */
object Dedup {

  /** Exact dedup: group on the whitespace-normalized fingerprint, keep
    * the lowest id. Output: one row per distinct content with its
    * duplicate count. Shuffles 16 bytes/row regardless of text size.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Docs filtered to one representative (lowest id) per distinct
    * content — the prescribed front-end of every near-dup pass on a
    * dup-heavy corpus (PERF.md lesson 5: exact-dedup FIRST; measured
    * 6× on ScaleStress). Shape: [[exact]]'s 16-byte/row aggregate,
    * then an ids-only semi-join back — text bytes shuffle only once,
    * keyed by id.
    */
  def exactRepresentatives(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(
      exact(docs, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Incremental (cross-snapshot) exact dedup — the daily-ingest
    * pattern: of a NEW batch, keep one representative (lowest id) per
    * distinct content that was NOT already present in the prior
    * corpus. Within-batch dedup is a fingerprint min-aggregate; the
    * against-prior check is an anti join on 8-byte fingerprints —
    * text never shuffles on either side. At 100 TB the prior side is
    * a persisted fingerprint table (not a rescan), optionally fronted
    * by a Bloom filter of yesterday's fingerprints (the
    * [[graft.functions.BloomAgg]] pattern) to thin the anti join's
    * probe side map-side.
    */
  /** Fuzzy-key near-dup pairs by bounded edit distance — the
    * title/URL/short-field matcher: block on a `blockPrefix`-char
    * prefix (equi-join — typo'd strings usually share a prefix; for
    * typo-in-prefix recall, union a second pass blocked on a suffix
    * or sorted-token key), cap degenerate blocks, and verify with the
    * codegen'd built-in `levenshtein` AFTER the equi-join (a distance
    * predicate must never be the join condition — PERF.md lesson 2).
    * O(k²) DP per surviving candidate pair is fine BECAUSE keys are
    * short fields, never documents.
    */
  def editDistancePairs(df: DataFrame, idCol: String, keyCol: String,
                        maxDist: Int, blockPrefix: Int = 8,
                        maxBucket: Int = 1000): DataFrame = {
    val keys = df
      .select(col(idCol).as("id"), col(keyCol).as("k"))
      .withColumn("bucket", substring(col("k"), 1, blockPrefix))
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))))
      .filter(col("bucket_n") <= lit(maxBucket))
      .drop("bucket_n")
    val l = keys.select(col("id").as("id_a"), col("k").as("k_a"), col("bucket"))
    val r = keys.select(col("id").as("id_b"), col("k").as("k_b"), col("bucket"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("k_a"), col("k_b")))
      .filter(col("dist") <= lit(maxDist))
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  def incrementalExact(newDocs: DataFrame, prior: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val priorFp = prior
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()
    newDocs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .join(priorFp, Seq("fp"), "left_anti")
      .select(col(idCol), col("n_copies"))
  }

  /** Snapshot diff (batch CDC): classify every key across two snapshot
    * versions as `added` / `removed` / `changed` by comparing md5
    * payload fingerprints; unchanged keys are dropped, so the output
    * is the change feed a downstream incremental consumer applies —
    * its size is the CHURN, not the corpus.
    *
    * Scale shape: fingerprints are computed map-side (md5 is the repo's
    * cross-engine hash — identical hex in every engine), so the
    * full-outer join shuffles only (key, 32-char fp) pairs — payloads
    * never shuffle. At 100 TB this is one co-partitionable shuffle of
    * ~48 B/row; with both snapshots bucketed on `key` (see
    * [[graft.operators.Scale.writeBucketed]]) it is exchange-free.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCol: String, payloadCol: String): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("key"),
      md5(col(payloadCol).cast("string")).as("old_fp"))
    val n = newSnap.select(col(keyCol).as("key"),
      md5(col(payloadCol).cast("string")).as("new_fp"))
    o.join(n, Seq("key"), "full_outer")
      .withColumn("change",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(col("key"), col("change"), col("old_fp"), col("new_fp"))
  }

  /** Exploded distinct k-word shingle hashes: one (id, sh) row per
    * distinct shingle — now a MAP-ONLY projection over the native
    * [[graft.functions.TextHash.shingleHashSet]] kernel (hash values
    * bit-identical to the xxhash64(concat_ws(...)) formulation, so
    * oracled consumers are unchanged). Two earlier formulations are
    * documented in PERF.md: the Column-HOF one (interpreted, 100×
    * slower at 50k docs) and the posexplode + window `lead` one
    * (codegen'd but paying a (doc, token) shuffle for the window).
    * This one shuffles nothing.
    */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.TextHashFunctions
        .shingle_hash_set(col(textCol), k)).as("sh"))

  /** LSH banding: split the H-wide signature into B bands of R rows;
    * band signature = hash of the band slice. Docs sharing ANY band
    * signature become candidate pairs (standard MinHash-LSH S-curve:
    * P(candidate) = 1-(1-s^R)^B). Candidates are verified with exact
    * shingle-set Jaccard; pairs ≥ threshold survive.
    *
    * Scale shape: explode to |docs|×B rows of (band_sig: i64, id),
    * self-join per bucket (skew-bounded: a bucket of m docs yields
    * m(m-1)/2 pairs — huge buckets mean near-identical content and are
    * exactly what we want to find), then one distinct on pairs.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands): " +
        "truncated trailing hashes would silently flatten the S-curve")
    // (1) banded signatures: map-only native kernel; only (id, band,
    // 8-byte band_sig) rows flow into the self-join — shingle sets and
    // text stay out of every shuffle. The frame is persisted: it is
    // 24 bytes/row (id, band, band_sig — narrow, so PERF.md lesson 4
    // about wide columnar caches does not apply) and is consumed by
    // three branches (bucket guard + both self-join sides); without
    // the cache each branch re-scans the full corpus and re-runs the
    // kernel, because per-branch pushed filters defeat exchange reuse
    // (observed: 6 parquet scans in one pair query).
    val banded = docs
      .select(col(idCol),
        posexplode(graft.functions.TextHashFunctions
          .minhash_band_sigs(col(textCol), k, numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_sig")
      .persist()
    // Degenerate-bucket guard (same cap as simhashPairs): a band
    // signature shared by > MinhashMaxBucket docs would put an O(m²) pair
    // explosion on one reducer — at 100 TB a single boilerplate-heavy
    // signature is enough. Such buckets are near-identical clusters
    // better handled by exact dedup first (see exactRepresentatives);
    // the cap is documented, not silent — count via
    // minhashOverfullBuckets. Window count = one pass over the
    // (band, band_sig) shuffle, no sizes-aggregate self-join.
    val bounded = banded
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_sig"))))
      .filter(col("bucket_n") <= lit(MinhashMaxBucket))
    // (2) candidate id pairs, deduped across bands BEFORE verification
    val l = bounded.select(col(idCol).as("id_a"), col("band"), col("band_sig"))
    val r = bounded.select(col(idCol).as("id_b"), col("band"), col("band_sig"))
    val cand = l.join(r, Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // (3) exact verification: attach each candidate's shingle set
    // (map-only native kernel — no explode/collect_set round-trip) and
    // intersect once per pair. Bounded by the candidate count — an
    // inverted-index count formulation was tried and regresses badly
    // when exact-dup clusters make most docs candidates (its posting
    // self-join materializes co-occurrence for all candidate-doc
    // pairs, not just candidate pairs). Run exact dedup FIRST on
    // dup-heavy corpora; see tools.ScaleStress.
    val sets = docs.select(col(idCol),
      graft.functions.TextHashFunctions.shingle_hash_set(col(textCol), k).as("sh"))
    cand
      .join(sets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= lit(threshold))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Band-bucket cap of [[minhashLshPairs]] and of both sides of
    * [[minhashIndexProbe]]: a bucket of more docs is dropped from
    * candidate generation ([[minhashOverfullBuckets]] counts them). */
  private val MinhashMaxBucket = 2000

  /** Count of band buckets excluded by [[minhashLshPairs]]' cap —
    * and the sizing instrument for BOTH of [[minhashIndexProbe]]'s
    * caps: run it on the standing index AND on each probe batch (a
    * capped bucket silently loses guaranteed candidacy, exact twins
    * included); a non-zero count means recall is not guaranteed.
    * Same banding kernel as the join paths. */
  def minhashOverfullBuckets(docs: DataFrame, idCol: String, textCol: String,
                             k: Int = 3, numHashes: Int = 32, bands: Int = 8,
                             maxBucket: Int = MinhashMaxBucket): Long =
    docs
      .select(col(idCol),
        posexplode(graft.functions.TextHashFunctions
          .minhash_band_sigs(col(textCol), k, numHashes, bands)))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("n"))
      .filter(col("n") > lit(maxBucket)).count()

  /** Connected components over a pair list — the step that turns
    * near-dup PAIRS into a doc→cluster assignment (keep one doc per
    * cluster). Distributed min-label propagation: each round every
    * node takes the minimum label in its neighborhood
    * (join edges→labels, min-aggregate, least with own label), PLUS a
    * pointer-jump each round (cluster ← min(cluster, cluster's
    * cluster) — labels ARE node ids, so one node-frame self-join
    * halves the remaining label-tree depth), until no label changes.
    * Rounds = O(log diameter) with the jump (round 10: q261's
    * chain-shaped distinct-dhash graph converged 13 → 5 rounds,
    * 6.5 → 2.8 s; clique/star near-dup graphs already converged in
    * ≤ 3 rounds and keep doing so). The jump preserves the fixpoint
    * exactly: it only assigns labels already present in the
    * component, labels stay monotone non-increasing and bounded below
    * by the component min, and the stop condition (no change from
    * EITHER step) is the same fixpoint — final labels are identical
    * to pure min-label propagation. Alternative for adversarial
    * shapes: [[connectedComponentsAlternating]].
    *
    * Termination: the loop runs until no label changes, with no round
    * cap. Labels are node ids and never increase; after r rounds each
    * node's label is at most the minimum id within r hops (the jump
    * only lowers it further, never below the component min), so after
    * diameter ≤ |V| − 1 rounds every label is its component min and
    * the next round changes nothing — the loop ends within |V| rounds
    * and always returns the fixpoint.
    *
    * Scale shape: per round one shuffle of (8-byte id, 8-byte label)
    * edges + one hash aggregate + one node-frame self-join; lineage
    * truncated per round (`localCheckpoint`) so plans stay flat; only
    * the per-round change COUNT is collected. Output: (id, cluster)
    * for every id present in `pairs`, cluster = min id of the
    * component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // LAZY local checkpoint: the round's change count is then the job
    // that materializes the snapshot — one job per round instead of two
    // (eager materialize + count), which halves the per-round
    // scheduling floor on small graphs
    val cut: DataFrame => DataFrame = _.localCheckpoint(false)
    val edges = cut(pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct())
    // round-0 init folded into the edge scan: label = min(self, all
    // neighbors) — exactly the first propagation round, one agg
    // cheaper than the join form (edges carry every node as a src
    // because the edge set is symmetrized above)
    var labels = cut(edges.groupBy(col("src")).agg(min(col("dst")).as("nd"))
      .select(col("src").as("id"), least(col("src"), col("nd")).as("cluster")))
    var changed = 1L
    while (changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("nbr")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("nbr")).as("nbr_min"))
      val hop = labels
        .join(nbrMin.select(col("src").as("id"), col("nbr_min")), Seq("id"), "left_outer")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"),
          (col("nbr_min") < col("cluster")).as("ch"))
      // pointer-jump: every cluster value is itself a node id, so
      // label(label) is one self-join over the node frame — halves
      // the remaining label-tree depth per round (a second jump per
      // round measured net-negative: the extra join costs more than
      // the rounds it saves at the gate's job-latency floor)
      val next = cut(hop
        .join(hop.select(col("id").as("cluster"), col("cluster").as("pc")),
          Seq("cluster"), "left_outer")
        .select(col("id"),
          least(col("cluster"), coalesce(col("pc"), col("cluster"))).as("cluster"),
          (col("ch") || (col("pc") < col("cluster"))).as("ch")))
      changed = next.filter(col("ch")).count()
      labels = next.select(col("id"), col("cluster"))
    }
    labels
  }

  /** Connected components of a SMALL pair list on the driver: the
    * pairs are collected through `limit(cap + 1)` (the
    * [[DomainFrame.materialize]] discipline — more than `cap` pairs
    * fail loudly with the count and the cap, never a silent fallback)
    * and folded by union-find whose root is always the smaller id, so
    * every root is its component's minimum id: the same fixpoint as
    * [[connectedComponents]]' min-label propagation, in one collect
    * job instead of one Spark job per propagation round. Output: a
    * LocalRelation (id, cluster) for every id present in `pairs`,
    * cluster = min id of the component. Ids must be non-null. */
  def localConnectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                               cap: Int): DataFrame = {
    val spark = pairs.sparkSession
    val rows = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"driver CC guard: ${rows.length} pairs exceed the cap of $cap — " +
        "the graph is no longer driver-sized; use connectedComponents")
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = parent.getOrElseUpdate(x, x)
      while (parent(root) != root) root = parent(root)
      var y = x
      while (y != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    rows.foreach { r =>
      val a = find(r.getLong(0))
      val b = find(r.getLong(1))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val labels = parent.keys.toSeq.sorted.map(id => Row(id, find(id)))
    spark.createDataFrame(labels.asJava, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cluster", LongType, nullable = false))))
  }

  /** INCREMENTAL connected components — fold a DELTA edge batch into a
    * standing labeling without rescanning the standing EDGE set (the
    * q95/q257/q226 incremental discipline at the graph rung): map the
    * delta's endpoints through the standing (id → cluster) table
    * (unseen nodes label themselves), run CC over the COMPONENT-level
    * graph those mapped edges induce — delta-sized, not graph-sized —
    * and broadcast the merge map back over the label table. Labels
    * stay the component-min node id: a standing label is the min of
    * its old component, the merged label is the min of the merged
    * label set, so the result is bit-identical to full CC over
    * standing ∪ delta (one recursive-closure oracle gates both paths).
    *
    * Scale: history contributes ONLY its label table (id, long) — two
    * hash joins against the delta and one relabel join; the iterative
    * part touches the delta-connected components alone. The standing
    * labeling is computed here from `standing`.
    */
  def incrementalConnectedComponents(standing: DataFrame, delta: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val base = connectedComponents(standing, aCol, bCol)
      .localCheckpoint(true) // two consumers below; also truncates CC lineage
    val d = delta.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val mapped = d
      .join(base.select(col("id").as("a"), col("cluster").as("ca")), Seq("a"), "left_outer")
      .join(base.select(col("id").as("b"), col("cluster").as("cb")), Seq("b"), "left_outer")
      .select(coalesce(col("ca"), col("a")).as("ca"),
        coalesce(col("cb"), col("b")).as("cb"))
    val merged = connectedComponents(
      mapped.filter(col("ca") =!= col("cb")), "ca", "cb")
      .select(col("id").as("cluster"), col("cluster").as("mc"))
    val newNodes = d.select(col("a").as("id")).union(d.select(col("b").as("id")))
      .distinct()
      .join(base.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    base.union(newNodes)
      .join(merged, Seq("cluster"), "left_outer")
      .select(col("id"), coalesce(col("mc"), col("cluster")).as("cluster"))
  }

  /** Connected components via alternating large-star / small-star
    * rounds (the MapReduce CC algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — converges in
    * O(log² n) rounds on ANY graph shape (their bound; ~log n in
    * practice), where [[connectedComponents]]' min-label propagation
    * needs diameter rounds (fine for clique/star near-dup clusters,
    * hopeless for path-shaped chains).
    *
    *  - large-star: every node links its strictly-greater neighbors to
    *    the minimum of its neighborhood (incl. itself).
    *  - small-star: every node links its ≤ neighbors and itself to the
    *    minimum of that parent set.
    *
    * Each half-round is one (center → neighbors) shuffle + a min
    * aggregate — same per-round cost shape as min-label propagation;
    * the win is the round COUNT. Converged when the edge set is a
    * fixpoint (every edge then points child → component root).
    *
    * Termination: the loop runs until that fixpoint, with no round
    * cap. Kiveris et al. prove the alternating rounds reach it on
    * every graph, and the set-equality test below is exact (both
    * sides are distinct, so equal counts plus containment is
    * equality), so the loop stops exactly there and always returns
    * converged labels.
    */
  def connectedComponentsAlternating(pairs: DataFrame, aCol: String,
                                     bCol: String): DataFrame = {
    val cut: DataFrame => DataFrame = _.localCheckpoint(true)
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val ids = cut(pairs
      .select(col(aCol).cast("long").as("id"))
      .union(pairs.select(col(bCol).cast("long").as("id")))
      .distinct())
    var edges = cut(canon(pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))))
    var edgeCount = edges.count()
    var done = false
    while (!done) {
      // large-star: centers see ALL neighbors; greater neighbors → min
      val bidir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        .toDF("c", "n")
      val mins = bidir.groupBy(col("c"))
        .agg(least(min(col("n")), first(col("c"))).as("m"))
      val ls = canon(bidir.join(mins, Seq("c"))
        .filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v")))
      // small-star: centers see ≤ neighbors; parents ∪ self → min
      val bidir2 = ls.union(ls.select(col("v").as("u"), col("u").as("v")))
        .toDF("c", "n")
      val parents = bidir2.filter(col("n") <= col("c"))
      val mins2 = parents.groupBy(col("c"))
        .agg(least(min(col("n")), first(col("c"))).as("m"))
      val ss = cut(canon(
        parents.join(mins2, Seq("c"))
          .select(col("n").as("u"), col("m").as("v"))
          .union(mins2.select(col("c").as("u"), col("m").as("v")))))
      // fixpoint = set equality; both sides are canon'd (distinct), so
      // |ss| == |edges| plus ss ⊆ edges suffices. One count over the
      // just-checkpointed ss (carried to the next round as edgeCount)
      // and one anti-join probe — not the two full counts + except()
      // of the earlier shape (halves the per-round fixpoint overhead).
      val ssCount = ss.count()
      done = ssCount == edgeCount &&
        ss.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = ss
      edgeCount = ssCount
    }
    // converged: every edge is (root, child); label children by root,
    // roots (and any node only ever seen as a root) by themselves
    val labels = edges.groupBy(col("v").as("id")).agg(min(col("u")).as("cluster"))
    ids.join(labels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Exact Jaccard similarity of two hashed-shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val ad = array_distinct(a)
    val bd = array_distinct(b)
    val inter = size(array_intersect(ad, bd))
    inter.cast("double") / (size(ad) + size(bd) - inter).cast("double")
  }

  /** 64-bit SimHash: per-token hash votes on each bit; the signature's
    * bit i is 1 iff the vote sum (+1 when bit set, −1 when clear) is
    * positive. Native single-pass kernel
    * ([[graft.functions.TextHash.simhash64]]) — bit-identical to the
    * earlier exploded 64-vote-sum hash-aggregate, without its
    * (id, token-hash) shuffle.
    */
  def simhash(text: Column): Column =
    graft.functions.TextHashFunctions.simhash64(text)

  /** Bulk SimHash signatures — a map-only projection of [[simhash]];
    * signature generation at 100 TB is pure scan parallelism. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), simhash(col(textCol)).as("sig"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on 4×16-bit chunks (pigeonhole: any
    * pair with Hamming distance ≤ 3 shares at least one exact chunk),
    * verify with full Hamming distance.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 2000): DataFrame =
    signaturePairs(simhashSignatures(docs, idCol, textCol),
      idCol, maxHamming, maxBucket)

  /** Pigeonhole near-dup pairing over ANY (id, 64-bit `sig`) signature
    * frame — the blocking+verification core of [[simhashPairs]], also
    * serving perceptual image hashes ([[Multimodal.phashTable]]'s
    * dHash, q211). Blocks on 4×16-bit chunks (any pair with Hamming
    * distance ≤ 3 shares at least one exact chunk), verifies with full
    * Hamming distance — candidate generation is equi-join only, never
    * all-pairs.
    */
  def signaturePairs(signatures: DataFrame, idCol: String,
                     maxHamming: Int = 3, maxBucket: Int = 2000): DataFrame = {
    // The signature frame is materialized once: 16 bytes/row (id, sig —
    // narrow, PERF.md lesson 4 is about wide columnar caches) and
    // consumed by four branches (chunk explode feeding the bucket guard
    // and both self-join sides, plus both verification joins). Without
    // it every branch re-scans the corpus and re-runs the kernel —
    // per-branch pushed filters (inferred isnotnull on join keys)
    // defeat exchange reuse, observed as 6 parquet scans per query. An
    // eager localCheckpoint, not persist(): the session's CacheManager
    // held a persisted frame until the session ended, while checkpoint
    // blocks are freed by the ContextCleaner once the result is gone.
    val sigs = signatures.localCheckpoint(eager = true)
    val chunked = sigs.select(col(idCol),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    // Degenerate-bucket guard: a chunk value shared by > maxBucket docs
    // would emit O(m²) candidates; such buckets are near-identical
    // clusters better served by exact dedup / cluster representatives,
    // so they are excluded here (documented cap, not a silent one —
    // count them via simhashOverfullBuckets). Window count = one pass
    // over the (chunk, chunk_val) shuffle, no sizes-aggregate join.
    val bounded = chunked
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk"), col("chunk_val"))))
      .filter(col("bucket_n") <= lit(maxBucket))
    // ids-only candidate pairs, deduped BEFORE touching signatures
    val l = bounded.select(col(idCol).as("id_a"), col("chunk"), col("chunk_val"))
    val r = bounded.select(col(idCol).as("id_b"), col("chunk"), col("chunk_val"))
    val cand = l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"), hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= lit(maxHamming))
  }

  /** Cross-frame pigeonhole matching: count, for every PROBE
    * signature, the INDEX signatures within `maxHamming` — the
    * incremental-ingest shape (yesterday's corpus is the standing
    * index; today's crawl probes it; q95/q187's pattern at the
    * perceptual-hash rung). Same 4×16-bit chunk blocking guarantee as
    * [[signaturePairs]], but an index↔probe equi-join instead of a
    * self-join: the index side (unbounded history) carries the
    * degenerate-bucket cap. Returns (idCol, n_known) for probes with
    * ≥1 match; absent probes are new content.
    */
  def signatureMatches(index: DataFrame, probes: DataFrame, idCol: String,
                       maxHamming: Int = 3, maxBucket: Int = 2000): DataFrame = {
    def chunked(df: DataFrame, idAs: String, sigAs: String) =
      df.select(col(idCol).as(idAs), col("sig").as(sigAs),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
        .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    val ci = chunked(index, "ix_id", "ix_sig")
    val bounded = ci
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk"), col("chunk_val"))))
      .filter(col("bucket_n") <= lit(maxBucket))
      .select(col("chunk"), col("chunk_val"), col("ix_id"), col("ix_sig"))
    val cp = chunked(probes, "p_id", "p_sig")
    cp.join(bounded, Seq("chunk", "chunk_val"))
      .select(col("p_id"), col("ix_id"), col("p_sig"), col("ix_sig"))
      .distinct() // a pair can collide in several chunks — count it once
      .filter(hamming(col("p_sig"), col("ix_sig")) <= lit(maxHamming))
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_known"))
      .withColumnRenamed("p_id", idCol)
  }

  /** Cross-frame MinHash-LSH index probe — [[minhashLshPairs]]'
    * incremental-ingest shape (the text rung of the q95/q187/q217
    * incremental family): yesterday's corpus is the STANDING band
    * index, today's crawl bands map-side and equi-joins it —
    * never re-banding history, never all-pairs. BOTH sides carry the
    * degenerate-bucket cap: the index side bounds unbounded history,
    * and the probe side bounds a boilerplate-heavy crawl batch (an
    * uncapped probe bucket would still join every surviving index
    * bucket at full width — probe_n × [[MinhashMaxBucket]] pairs per
    * band).
    * Candidates dedupe across bands, then the exact shingle-set
    * Jaccard verifies (same final stage as the self-join variant).
    * Returns (probe_id, index_id, jaccard) for pairs ≥ `threshold`.
    *
    * Cap/completeness interaction (the q257 gate reads this): if ANY
    * bucket exceeds [[MinhashMaxBucket]], its members lose guaranteed
    * candidacy in that band — including exact-duplicate twins, whose
    * bands ALL collide. q257's all-or-nothing completeness oracle
    * would then fail loudly (by design: a silent recall cliff is the
    * worse outcome). At gate scale no bucket approaches the cap; a
    * production run on a self-similar corpus runs
    * [[minhashOverfullBuckets]] on BOTH frames first (index and probe
    * batch) before trusting recall.
    */
  def minhashIndexProbe(index: DataFrame, probes: DataFrame,
      idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    def banded(df: DataFrame, idAs: String) = df
      .select(col(idCol).as(idAs),
        posexplode(graft.functions.TextHashFunctions
          .minhash_band_sigs(col(textCol), k, numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_sig")
    val ix = banded(index, "index_id")
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_sig"))))
      .filter(col("bucket_n") <= lit(MinhashMaxBucket))
      .select(col("index_id"), col("band"), col("band_sig"))
    val pr = banded(probes, "probe_id")
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_sig"))))
      .filter(col("bucket_n") <= lit(MinhashMaxBucket))
      .select(col("probe_id"), col("band"), col("band_sig"))
    val cand = pr.join(ix, Seq("band", "band_sig"))
      .select(col("probe_id"), col("index_id")).distinct()
    val iSets = index.select(col(idCol).as("index_id"),
      graft.functions.TextHashFunctions.shingle_hash_set(col(textCol), k).as("sh_i"))
    val pSets = probes.select(col(idCol).as("probe_id"),
      graft.functions.TextHashFunctions.shingle_hash_set(col(textCol), k).as("sh_p"))
    cand.join(pSets, "probe_id").join(iSets, "index_id")
      .withColumn("n_inter", size(array_intersect(col("sh_p"), col("sh_i"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_p")) + size(col("sh_i")) - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= lit(threshold))
      .select(col("probe_id"), col("index_id"), col("jaccard"))
  }

  /** Count of chunk buckets excluded by [[simhashPairs]]' cap. */
  def simhashOverfullBuckets(docs: DataFrame, idCol: String, textCol: String,
                             maxBucket: Int = 2000): Long =
    signatureOverfullBuckets(simhashSignatures(docs, idCol, textCol),
      idCol, maxBucket)

  /** Overfull 16-bit-chunk-bucket census over ANY (id, `sig`)
    * signature frame — the sizing instrument for [[signaturePairs]]'
    * `maxBucket` cap (and [[signatureMatches]]' index/probe caps): a
    * production run on a self-similar corpus reads this FIRST and
    * either raises the cap or collapses exact-duplicate signatures
    * before pairing (the q261 discipline). One shuffle over the
    * chunk-exploded frame; no joins.
    */
  def signatureOverfullBuckets(signatures: DataFrame, idCol: String,
                               maxBucket: Int = 2000): Long =
    signatures
      .select(col(idCol), posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("n"))
      .filter(col("n") > lit(maxBucket)).count()


  /** Exact all-pairs n-gram Jaccard within a bounded id range — the
    * ground-truth oracle for the probabilistic methods above.
    *
    * Inverted-index formulation: explode (id, shingle), equi-join on
    * shingle, count co-occurrences per pair (= intersection size),
    * then attach set sizes. All hash joins + hash aggregates — no
    * nested-loop join, no per-pair array intersects (a cross-join
    * array_intersect version was 60× slower and plan-unstable).
    * Pairs sharing zero shingles never materialize. This is also the
    * 100 TB shape: cap hot shingles' document frequency to bound the
    * posting-list self-join (stop-shingle removal) if needed.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double, maxId: Long): DataFrame = {
    val postings = shingleHashes(docs.filter(col(idCol) < lit(maxId)),
      idCol, textCol, k).withColumnRenamed("sh", "s")
    val sizes = postings.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = postings.select(col(idCol).as("id_a"), col("s"))
      .join(postings.select(col(idCol).as("id_b"), col("s")), "s")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= lit(threshold))
  }

  /** Asymmetric shingle CONTAINMENT c(src→dst) = |src∩dst| / |src| —
    * catches sub-document duplication (a quoted or excerpted doc inside
    * a larger one) that symmetric Jaccard dilutes below any usable
    * threshold: a 100-shingle doc fully contained in a 2000-shingle doc
    * has jaccard ≈ 0.05 but containment 1.0. Same inverted-index
    * postings equi-join as [[ngramJaccardPairs]] (never an all-pairs
    * similarity condition); the undirected intersection is computed
    * ONCE per a<b pair and both directed scores derive from it, so the
    * directed output costs no extra shuffle.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, threshold: Double, maxId: Long): DataFrame = {
    val postings = shingleHashes(docs.filter(col(idCol) < lit(maxId)),
      idCol, textCol, k).withColumnRenamed("sh", "s")
    val sizes = postings.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = postings.select(col(idCol).as("id_a"), col("s"))
      .join(postings.select(col(idCol).as("id_b"), col("s")), "s")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("n_b")), "id_b")
    val ab = inter.select(col("id_a").as("src"), col("id_b").as("dst"),
      (col("n_inter").cast("double") / col("n_a").cast("double")).as("containment"))
    val ba = inter.select(col("id_b").as("src"), col("id_a").as("dst"),
      (col("n_inter").cast("double") / col("n_b").cast("double")).as("containment"))
    ab.unionByName(ba).filter(col("containment") >= lit(threshold))
  }

  /** EXACT all-pairs similarity join over the FULL corpus via prefix
    * filtering (All-Pairs / PPJoin family, Bayardo et al. WWW'07;
    * Xiao et al. WWW'08) — the scale path for exact Jaccard that
    * [[ngramJaccardPairs]]'s bounded-block full posting join cannot
    * take: indexing EVERY shingle of every doc makes the candidate set
    * quadratic in cluster size, while indexing only each doc's
    * `n − ⌈τ·n⌉ + 1` globally-rarest shingles is complete for
    * threshold τ and near-linear in practice at τ ≥ 0.5.
    *
    * Completeness argument (why the prefix-prefix equi-join misses
    * nothing): for a qualifying pair, J ≥ τ ⇒ |A∩B| ≥ τ(|A|+|B|−|A∩B|)
    * ≥ τ·|A| (since |B| ≥ |A∩B|), so A shares ≥ ⌈τ·|A|⌉ shingles with
    * B. If the canonical-order minimum g of A∩B were outside A's
    * prefix, the whole intersection would sit in A's suffix of length
    * ⌈τ·|A|⌉ − 1 < ⌈τ·|A|⌉ — contradiction; symmetrically g is in B's
    * prefix, so the pair collides on g. Canonical order = ascending
    * global document-frequency (rarest first — maximally selective
    * prefixes), ties by hash.
    *
    * Scale shape: one df-count aggregate (8-byte keys), one per-doc
    * sort+slice (map-side after an id shuffle), an equi-join on prefix
    * shingles with the Jaccard LENGTH bound `min(n_a,n_b) ≥
    * τ·max(n_a,n_b)` applied inside the join, then ONE verification
    * join carrying the full hashed-shingle arrays only for surviving
    * candidate ids. No similarity predicate ever appears as a join
    * condition (rule: equi-join then filter); candidate verification is
    * a local `array_intersect` per pair.
    */
  /** The candidate-generation stage of [[prefixFilterPairs]], exposed
    * so the pruning ratio is testable: returns (per-doc sorted shingle
    * arrays, distinct candidate id pairs surviving the prefix + length
    * filters — NOT yet Jaccard-verified). */
  def prefixFilterCandidates(docs: DataFrame, idCol: String, textCol: String,
                             k: Int, threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    val post = shingleHashes(docs, idCol, textCol, k)
    val freq = post.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // canonical rarest-first order: (df asc, sh asc) via struct sort
    val arrs = post.join(freq, "sh")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"))
      .select(col(idCol).as("id"),
        col("ord").getField("sh").as("arr"),
        size(col("ord")).cast("long").as("n"))
    val prefixed = arrs.select(col("id"), col("n"),
      slice(col("arr"), lit(1),
        (col("n") - ceil(lit(threshold) * col("n")) + lit(1)).cast("int"))
        .as("prefix"))
    // positions ride along (PPJoin's POSITIONAL filter, Xiao et al.
    // WWW'08): for the globally-minimal shared shingle g of a
    // qualifying pair, every intersection element is ≥ g in canonical
    // order, so true |A∩B| ≤ min(n_a − pos_a, n_b − pos_b) (0-based
    // pos of g). J ≥ τ forces |A∩B| ≥ τ/(1+τ)·(n_a+n_b); join rows
    // whose positional bound can't reach that floor are pruned. The
    // minimal-g row of a true pair always passes, so completeness is
    // preserved (and gated by the q164 full-recompute oracle). The
    // −1e-6 keeps double rounding on the KEEP side. Measured at
    // sf0.1: 310k → 125k candidates (2.5×; the near-uniform doc
    // lengths blunt the length filter, so the positional bound does
    // the work) ahead of the verification join that carries full
    // arrays — vs the 1.13M-pair shared-shingle universe a plain
    // posting join would verify.
    val index = prefixed.select(col("id"), col("n"),
      posexplode(col("prefix")).as(Seq("pos", "g")))
    val floorI = lit(threshold / (1.0 + threshold)) *
      (col("n_a") + col("n_b")).cast("double") - lit(1e-6)
    val candidates = index.select(col("g"), col("id").as("id_a"),
        col("n").as("n_a"), col("pos").as("pos_a"))
      .join(index.select(col("g"), col("id").as("id_b"),
        col("n").as("n_b"), col("pos").as("pos_b")), "g")
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(threshold) * greatest(col("n_a"), col("n_b")).cast("double") &&
        least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b"))
          .cast("double") >= floorI)
      .select(col("id_a"), col("id_b")).distinct()
    (arrs, candidates)
  }

  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double): DataFrame = {
    val (arrs, candidates) =
      prefixFilterCandidates(docs, idCol, textCol, k, threshold)
    candidates
      .join(arrs.select(col("id").as("id_a"), col("arr").as("arr_a"),
        col("n").as("n_a")), "id_a")
      .join(arrs.select(col("id").as("id_b"), col("arr").as("arr_b"),
        col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long").as("ni"),
        col("n_a"), col("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") /
          (col("n_a") + col("n_b") - col("ni")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= lit(threshold))
  }
}
