package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, Multimodal, Similarity, TextAnalysis => TA}
import graft.util.SessionMemo

/** Training-data pipeline queries: text analysis, dedup, similarity
  * search, multimodal, streaming — the beyond-reference surface over
  * `documents` / `embeddings` / `events`. Oracle-paired where the
  * computation is portably expressible in DuckDB SQL; the
  * hash-dependent ops (MinHash/SimHash/LSH, xxhash64 fingerprints) are
  * either validated through hash-free invariants or registered
  * rows-only.
  */
object Pipeline {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  // q55 and q82 cluster the SAME deterministic exact-Jaccard pair set
  // through two CC algorithms — the pair frame is computed once per
  // (session, dir) and persisted, so the two gates time the CC
  // algorithms rather than each re-running the posting self-join.
  // Narrow (two longs per pair, bounded block), so the wide-cache
  // anti-rule (PERF.md lesson 4) does not apply.
  private val exactPairsMemo = SessionMemo.family[DataFrame]("boundedExactPairs")
  private def boundedExactPairs(spark: SparkSession, dir: String): DataFrame =
    exactPairsMemo(spark, dir) {
      Dedup.ngramJaccardPairs(docs(spark, dir), "doc_id", "text",
          k = 3, threshold = 0.05, maxId = 300L)
        .select(col("id_a"), col("id_b"))
        .persist()
    }

  // -------------------------------------------------------------------
  // q25: per-document token/char statistics
  // -------------------------------------------------------------------
  def q25TextStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TA.charCount(col("text")).as("n_chars_calc"),
      TA.tokenCount(col("text")).as("n_tokens"),
      TA.uniqueTokenCount(col("text")).as("n_uniq_tokens"),
      TA.avgTokenLen(col("text")).as("avg_token_len"),
      TA.tokenDiversity(col("text")).as("diversity"))
      .orderBy(asc("doc_id"))
  val q25Sql: String =
    """SELECT doc_id,
      |  LENGTH(text) AS n_chars_calc,
      |  LEN(string_split_regex(TRIM(text), '\s+')) AS n_tokens,
      |  LEN(list_distinct(string_split_regex(TRIM(text), '\s+'))) AS n_uniq_tokens,
      |  CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      |    / LEN(string_split_regex(TRIM(text), '\s+')) AS avg_token_len,
      |  CAST(LEN(list_distinct(string_split_regex(TRIM(text), '\s+'))) AS DOUBLE)
      |    / LEN(string_split_regex(TRIM(text), '\s+')) AS diversity
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q26: corpus-level token frequency (explode → count → top 20)
  // -------------------------------------------------------------------
  def q26TokenFreq(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(TA.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(20)
  val q26Sql: String =
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT UNNEST(string_split_regex(TRIM(text), '\s+')) AS token FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q27: quality scoring — identical double arithmetic on both engines
  // -------------------------------------------------------------------
  def q27Quality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TA.qualityScore(col("text")).as("quality"))
      .filter(col("quality") >= lit(0.5))
      .orderBy(asc("doc_id"))
  val q27Sql: String = {
    val en = TA.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(LENGTH(text) AS DOUBLE) AS n_chars,
       |    CAST(LEN(string_split_regex(TRIM(text), '\\s+')) AS DOUBLE) AS n_tokens,
       |    CAST(LEN(list_distinct(string_split_regex(TRIM(text), '\\s+'))) AS DOUBLE) AS n_uniq,
       |    CAST(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
       |      tk -> tk IN ($en))) AS DOUBLE) AS n_stop
       |  FROM documents
       |)
       |SELECT doc_id,
       |  0.4 * LEAST(1.0, n_chars / 500.0)
       |  + 0.3 * LEAST(1.0, (n_stop / n_tokens) * 3.0)
       |  + 0.3 * (n_uniq / n_tokens) AS quality
       |FROM t
       |WHERE 0.4 * LEAST(1.0, n_chars / 500.0)
       |  + 0.3 * LEAST(1.0, (n_stop / n_tokens) * 3.0)
       |  + 0.3 * (n_uniq / n_tokens) >= 0.5
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q28: heuristic language ID (stopword argmax, alphabetically-last
  // language wins ties; CJK override; 'und' when nothing fires)
  // -------------------------------------------------------------------
  def q28LangId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      TA.langId(col("text")).as("predicted_lang"))
      .orderBy(asc("doc_id"))
  val q28Sql: String = {
    def hits(lang: String) = {
      val ws = TA.stopwords(lang).map(w => s"'$w'").mkString(", ")
      s"LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), tk -> tk IN ($ws)))"
    }
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    ${hits("de")} AS h_de, ${hits("en")} AS h_en,
       |    ${hits("es")} AS h_es, ${hits("fr")} AS h_fr,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE)
       |      / LENGTH(text) AS cjk
       |  FROM documents
       |)
       |SELECT doc_id, lang AS labeled_lang,
       |  CASE WHEN cjk > 0.3 THEN 'zh'
       |       WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
       |       WHEN h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es THEN 'fr'
       |       WHEN h_es >= h_de AND h_es >= h_en THEN 'es'
       |       WHEN h_en >= h_de THEN 'en'
       |       ELSE 'de' END AS predicted_lang
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q29: fingerprint integrity — per-source distinct xxhash64
  // fingerprints must equal distinct normalized texts (hash-free
  // invariant of the fingerprint operator)
  // -------------------------------------------------------------------
  def q29Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), TA.fingerprint(col("text")).as("fp"))
      .groupBy(col("source"))
      .agg(countDistinct(col("fp")).as("n_uniq"), count(lit(1)).as("n_docs"))
      .orderBy(asc("source"))
  val q29Sql: String =
    """SELECT source,
      |  COUNT(DISTINCT regexp_replace(TRIM(text), '\s+', ' ', 'g')) AS n_uniq,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q30: exact dedup — keep lowest doc_id per distinct content
  // -------------------------------------------------------------------
  def q30DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir), "doc_id", "text")
      .select(col("keep_id"), col("n_copies"))
      .orderBy(asc("keep_id"))
  val q30Sql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY regexp_replace(TRIM(text), '\s+', ' ', 'g')
      |ORDER BY keep_id""".stripMargin

  // -------------------------------------------------------------------
  // q258: EXACT-DEDUP IMPACT REPORT — the number every dedup run gets
  // asked for: per source, how many docs survive GLOBAL exact dedup
  // (lowest-id keeper across the whole corpus, so a source that
  // copies another source's content shows its loss here — q29's
  // within-source distinct count can't see cross-source copying),
  // how many chars are removed, and the removed fraction in fixed
  // point. Shapes: q30's 16-byte fingerprint aggregate + one ids-only
  // left join; all folds partial-aggregate.
  // -------------------------------------------------------------------
  def q258DedupImpact(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val keep = Dedup.exact(d, "doc_id", "text")
      .select(col("keep_id").as("doc_id"), lit(true).as("is_keep"))
    d.join(keep, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("is_keep"), 0L).otherwise(col("n_chars")))
          .as("chars_removed"))
      .withColumn("n_removed", expr("n_docs - n_keep"))
      .withColumn("removed_fx", expr("(n_docs - n_keep) * 1000000L div n_docs"))
      .select(col("source"), col("n_docs"), col("n_keep"), col("n_removed"),
        col("chars_removed"), col("removed_fx"))
      .orderBy(asc("source"))
  }
  val q258Sql: String =
    """WITH k AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents
      |  GROUP BY regexp_replace(TRIM(text), '\s+', ' ', 'g')
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_keep,
      |  COUNT(*) - CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_removed,
      |  CAST(SUM(CASE WHEN k.doc_id IS NULL THEN n_chars ELSE 0 END)
      |    AS BIGINT) AS chars_removed,
      |  (COUNT(*) - CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT)) * 1000000 // COUNT(*) AS removed_fx
      |FROM documents d LEFT JOIN k ON k.doc_id = d.doc_id
      |GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q31: MinHash+LSH near-dup candidate pairs. Pipeline order matters
  // at scale: exact-dedup to cluster representatives FIRST, then band
  // only the representatives — exact-dup clusters otherwise flood the
  // band buckets with O(m²) identical pairs (PERF.md lesson 5;
  // ScaleStress measured 6×).
  //
  // CONTAINMENT ORACLE (was rows-only in r1/r2): which pairs LSH
  // surfaces depends on xxhash64 banding that DuckDB can't replay, but
  // every emitted pair is independently CHECKABLE — the oracle reads
  // the emitted parquet back and keeps only rows whose (id_a, id_b) are
  // exact-dedup representatives with string-shingle Jaccard exactly
  // equal to the emitted score and ≥ threshold. Emitted ⊆ ground truth
  // (with correct scores) ⇔ oracle output == Spark output ⇔ hash green;
  // one false positive or wrong score = row-count/hash FAIL.
  // -------------------------------------------------------------------
  def q31MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(
      Dedup.exactRepresentatives(docs(spark, dir), "doc_id", "text"),
      "doc_id", "text", k = 3, numHashes = 32, bands = 8, threshold = 0.2)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(asc("id_a"), asc("id_b"))
  val q31Sql: String =
    """WITH reps AS (
      |  SELECT MIN(doc_id) AS doc_id
      |  FROM documents GROUP BY regexp_replace(TRIM(text), '\s+', ' ', 'g')
      |), sh AS (
      |  SELECT t.doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents) t JOIN reps r ON t.doc_id = r.doc_id
      |)
      |SELECT e.id_a, e.id_b, e.jaccard_r
      |FROM read_parquet('__GRAFT_OUT__/q31_minhash_lsh/*.parquet') e
      |JOIN sh a ON a.doc_id = e.id_a
      |JOIN sh b ON b.doc_id = e.id_b
      |WHERE ROUND(CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))), 6) = e.jaccard_r
      |  AND e.jaccard_r >= 0.2 AND e.id_a < e.id_b
      |UNION ALL SELECT -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q31_minhash_lsh/*.parquet')) = 0
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q32: SimHash near-dup pairs, each verified by exact trigram-shingle
  // Jaccard. The hamming column is signature-level (not replayable
  // without xxhash64); the attached jaccard_r is the content-level
  // score the oracle independently recomputes per emitted pair — same
  // containment gate as q31 (bogus pair/score ⇒ FAIL).
  // -------------------------------------------------------------------
  def q32Simhash(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val sets = d.select(col("doc_id"), graft.functions.TextHashFunctions
      .shingle_hash_set(col("text"), 3).as("sh"))
    Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 8, maxBucket = 500)
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"), col("hamming"),
        round(col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("double"), 6)
          .as("jaccard_r"))
      .orderBy(asc("id_a"), asc("id_b"))
  }
  val q32Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents)
      |)
      |SELECT e.id_a, e.id_b, e.hamming, e.jaccard_r
      |FROM read_parquet('__GRAFT_OUT__/q32_simhash/*.parquet') e
      |JOIN sh a ON a.doc_id = e.id_a
      |JOIN sh b ON b.doc_id = e.id_b
      |WHERE ROUND(CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))), 6) = e.jaccard_r
      |  AND e.hamming BETWEEN 0 AND 8 AND e.id_a < e.id_b
      |UNION ALL SELECT -1, -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q32_simhash/*.parquet')) = 0
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q33: exact n-gram Jaccard pairs in a bounded block — ground truth
  // for the probabilistic dedup; oracle-paired (jaccard of hashed
  // shingle sets == jaccard of string shingle sets, collision-free)
  // -------------------------------------------------------------------
  def q33NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(spark, dir), "doc_id", "text",
      k = 3, threshold = 0.05, maxId = 300L)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(asc("id_a"), asc("id_b"))
  val q33Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents WHERE doc_id < 300)
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  ROUND(CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))), 6) AS jaccard_r
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.05
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q159: asymmetric shingle CONTAINMENT pairs — the sub-document
  // dedup signal symmetric Jaccard (q33) dilutes: an excerpt fully
  // inside a longer doc scores containment ~1.0 but jaccard ~|A|/|B|.
  // Directed output, both directions derived from ONE undirected
  // intersection join (no extra shuffle). Exact oracle: DuckDB
  // recomputes |A∩B|/|A| from string shingle sets over the same
  // bounded id range.
  // -------------------------------------------------------------------
  def q159Containment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(spark, dir), "doc_id", "text",
      k = 3, threshold = 0.2, maxId = 600L)
      .select(col("src"), col("dst"),
        round(col("containment"), 6).as("containment_r"))
      .orderBy(asc("src"), asc("dst"))
  val q159Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents WHERE doc_id < 600)
      |)
      |SELECT a.doc_id AS src, b.doc_id AS dst,
      |  ROUND(CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / LEN(a.s), 6) AS containment_r
      |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
      |WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) / LEN(a.s) >= 0.2
      |ORDER BY src, dst""".stripMargin

  // -------------------------------------------------------------------
  // q164: EXACT all-pairs Jaccard over the FULL corpus via prefix
  // filtering (All-Pairs/PPJoin) — the scale path q33's bounded block
  // avoids. τ=0.5 (the realistic near-dup bar; planted near-dups in
  // the corpus sit ≥0.8, background noise <0.1). The oracle is a full
  // independent recompute in DuckDB (unnest posting self-join — exact,
  // no prefix logic), so any over-pruning by the prefix/length filters
  // is a row-count FAIL, and any emitted pair with a wrong jaccard is
  // a hash FAIL. Hashed-shingle sets stand in for string-shingle sets
  // (collision-free at 64 bit — same acceptance as q33).
  // -------------------------------------------------------------------
  def q164AllpairsExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterPairs(docs(spark, dir), "doc_id", "text",
      k = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(asc("id_a"), asc("id_b"))
  val q164Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents)
      |), post AS (
      |  SELECT doc_id, UNNEST(s) AS g FROM sh
      |), sizes AS (
      |  SELECT doc_id, LEN(s) AS n FROM sh
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
      |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b,
      |  ROUND(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 6) AS jaccard_r
      |FROM inter
      |JOIN sizes na ON na.doc_id = id_a
      |JOIN sizes nb ON nb.doc_id = id_b
      |WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q252: CROSS-SOURCE DUPLICATION MATRIX — corpus forensics on top of
  // q164's exact all-pairs machinery: WHICH sources duplicate WHICH
  // (mirror sites, syndication, template reuse show up as off-diagonal
  // mass; within-source boilerplate as diagonal mass). Pairs at τ=0.5
  // from the prefix-filtered exact join, labeled by source through two
  // id-equi joins (the pair frame is match-sized, never all-pairs),
  // folded to an unordered (s1 ≤ s2) matrix with exact fixed-point
  // Jaccard mass. Oracle: full independent recompute (unnest posting
  // self-join + the identical floor(j·1e6)), no prefix logic — over-
  // pruning is a row-count FAIL, wrong mass a hash FAIL.
  // -------------------------------------------------------------------
  def q252SourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = Dedup.prefixFilterPairs(d, "doc_id", "text",
        k = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"),
        floor(col("jaccard") * lit(1000000.0)).cast("long").as("j_fx"))
    val src = d.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("s1"),
        greatest(col("src_a"), col("src_b")).as("s2"), col("j_fx"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j_fx")).as("sum_j_fx"))
      .orderBy(asc("s1"), asc("s2"))
  }
  val q252Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, source, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, source, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents)
      |), post AS (
      |  SELECT doc_id, UNNEST(s) AS g FROM sh
      |), sizes AS (
      |  SELECT doc_id, source, LEN(s) AS n FROM sh
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
      |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT LEAST(na.source, nb.source) AS s1,
      |    GREATEST(na.source, nb.source) AS s2,
      |    CAST(FLOOR((CAST(ni AS DOUBLE) / (na.n + nb.n - ni)) * 1000000.0)
      |      AS BIGINT) AS j_fx
      |  FROM inter
      |  JOIN sizes na ON na.doc_id = id_a
      |  JOIN sizes nb ON nb.doc_id = id_b
      |  WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= 0.5
      |)
      |SELECT s1, s2, COUNT(*) AS n_pairs, CAST(SUM(j_fx) AS BIGINT) AS sum_j_fx
      |FROM pairs GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin

  // -------------------------------------------------------------------
  // q254: kNN LABEL-CONSISTENCY AUDIT — the embedding-quality check a
  // team runs before trusting vectors for semantic dedup or retrieval:
  // classify every probe vector by the majority label of its EXACT
  // 10 nearest neighbors (leave-one-out) and report the per-query
  // verdict. Votes fold via the lesson-17 max(struct(count, −label))
  // hash-aggregate argmax (ties → smaller label); everything is
  // deterministic, so the oracle is a full EXACT recompute — top-10,
  // votes, tie-break, verdict — with no floors. Probe set = the
  // standard vec_id % 50 subset; the scan is the q34-oracled
  // brute-force path (broadcast probes, VecDot, per-query top-k).
  // MEASURED on this corpus: accuracy 0.10 at both scales — chance
  // level for 10 labels, i.e. the synthetic labels are NOT
  // cosine-neighborhood-consistent at k=10. That verdict is the
  // audit working as intended (it's the table that would stop a team
  // from shipping these vectors into label-aware semantic dedup);
  // the gate certifies the COMPUTATION, which is exact.
  // -------------------------------------------------------------------
  def q254KnnLabelAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val lbl = e.select(col("vec_id"), col("label").cast("long").as("label"))
    val nn = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
      "embedding", "embedding", 10)
    val votes = nn
      .join(lbl.select(col("vec_id").as("cand_id"), col("label").as("n_lab")),
        Seq("cand_id"))
      .groupBy(col("query_id"), col("n_lab")).agg(count(lit(1)).as("c"))
    val pred = votes.groupBy(col("query_id"))
      .agg(max(struct(col("c"), (-col("n_lab")).as("neg"))).as("m"))
      .select(col("query_id"), col("m.c").as("n_votes"),
        (-col("m.neg")).as("pred_label"))
    pred
      .join(lbl.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("n_votes"),
        (col("pred_label") === col("true_label")).as("correct"))
      .orderBy(asc("query_id"))
  }
  val q254Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), ex AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    CAST(c.label AS BIGINT) AS n_lab,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) DESC,
      |        c.vec_id) AS rk
      |  FROM nv q JOIN nv c ON q.vec_id % 50 = 0 AND q.vec_id != c.vec_id
      |), votes AS (
      |  SELECT query_id, n_lab, COUNT(*) AS c FROM ex WHERE rk <= 10
      |  GROUP BY 1, 2
      |), pred AS (
      |  SELECT query_id, c AS n_votes, n_lab AS pred_label FROM (
      |    SELECT query_id, n_lab, c, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY c DESC, n_lab) AS pr
      |    FROM votes) WHERE pr = 1
      |)
      |SELECT p.query_id, CAST(e.label AS BIGINT) AS true_label,
      |  p.pred_label, p.n_votes,
      |  (p.pred_label = CAST(e.label AS BIGINT)) AS correct
      |FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
      |ORDER BY query_id""".stripMargin

  // -------------------------------------------------------------------
  // q255: LSH RECALL/PRECISION AUDIT — the parameterization check for
  // the near-dup pipeline (8 bands × 4 hashes at τ=0.5 sits at the
  // S-curve's soft spot; this is the table that says what the banding
  // actually catches): EVERY LSH candidate pair (threshold 0 — no
  // verification cut) emitted with its exact Jaccard and an is_dup
  // verdict. The oracle re-derives each row's Jaccard and verdict from
  // string shingles (collision-free vs the 64-bit hashed sets — the
  // q33/q164 acceptance), recomputes the FULL exact τ≥0.5 pair set
  // (posting join, no LSH logic), and requires candidate recall ≥ 0.9
  // over it — measured 25/25 (sf0.01) and 256/256 (sf0.1) = 1.0:
  // planted dups sit ≥0.8 where the 4-hash band S-curve is ~0.97 —
  // plus the empty sentinel. FP accounting comes free: is_dup=false
  // rows ARE the S-curve's low-similarity collisions (1 at sf0.1).
  // -------------------------------------------------------------------
  def q255LshRecallAudit(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docs(spark, dir), "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.0)
      .select(col("id_a"), col("id_b"),
        floor(col("jaccard") * lit(1000000.0)).cast("long").as("j_fx"),
        (col("jaccard") >= lit(0.5)).as("is_dup"))
      .orderBy(asc("id_a"), asc("id_b"))
  val q255Sql: String = {
    val out = "read_parquet('__GRAFT_OUT__/q255_lsh_recall_audit/*.parquet')"
    s"""WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
      |        FROM documents)
      |), post AS (
      |  SELECT doc_id, UNNEST(s) AS g FROM sh
      |), sizes AS (
      |  SELECT doc_id, LEN(s) AS n FROM sh
      |), ex AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM (SELECT a.doc_id, b.doc_id AS b_id, COUNT(*) AS ni
      |        FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2) i(doc_id, b_id, ni)
      |  JOIN sizes a ON a.doc_id = i.doc_id
      |  JOIN sizes b ON b.doc_id = i.b_id
      |  WHERE CAST(ni AS DOUBLE) / (a.n + b.n - ni) >= 0.5
      |), tp AS (
      |  SELECT COUNT(*) AS c FROM $out e
      |  JOIN ex ON ex.id_a = e.id_a AND ex.id_b = e.id_b
      |  WHERE e.is_dup
      |)
      |SELECT e.id_a, e.id_b, e.j_fx, e.is_dup
      |FROM $out e
      |JOIN sh a ON a.doc_id = e.id_a
      |JOIN sh b ON b.doc_id = e.id_b
      |WHERE e.j_fx = CAST(FLOOR((CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))) * 1000000.0)
      |    AS BIGINT)
      |  AND e.is_dup = (CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.5)
      |  AND (SELECT c FROM tp) >= 0.9 * (SELECT COUNT(*) FROM ex)
      |UNION ALL SELECT -1, -1, -1, false WHERE (SELECT COUNT(*) FROM $out) = 0
      |ORDER BY id_a, id_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // q256: EMBEDDING SPECTRAL DIAGNOSTICS — the dimensional-collapse
  // check (Jing et al. 2022): the PARTICIPATION RATIO / effective rank
  // PR = (Σλ)²/Σλ² of the covariance spectrum, computed WITHOUT an
  // eigendecomposition via the trace identities Σλ = tr(C) and
  // Σλ² = ‖C‖²_F — both plain functions of the covariance entries. An
  // embedding model whose PR sinks far below d is collapsing onto a
  // few directions and its cosine geometry (dedup, ANN, clustering)
  // is degrading; this one-row table is the monitor. EXACT gate: the
  // inputs are the fixed-point VecFixedSum/VecOuterFixedSum int sums
  // over RAW float components (float→double is exact, so the per-row
  // floor(x·scale) ints are BIT-equal on both engines — normalization
  // would inject a 1-ulp norm divide and break int parity), and every
  // derived number is a fixed-shape double expression over those
  // ints, floored back to int64 per entry before the final
  // associative sums. One data pass; d(d+1)/2 longs per task; the
  // 2080-entry spectral fold runs on the driver (model-sized).
  // Overflow: |x| < 1 ⇒ per-row ≤ 1e12 (sums) / 1e9 (outer): ≥ 9.2 M
  // rows before Long.MAX — shard-and-merge beyond (sums are
  // mergeable).
  // -------------------------------------------------------------------
  def q256SpectralRank(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{vec_fixed_sum, vec_outer_fixed_sum}
    val r = emb(spark, dir).agg(count(lit(1)).as("n"),
        vec_fixed_sum(col("embedding"), 64).as("s"),
        vec_outer_fixed_sum(col("embedding"), 64).as("m2"))
      .collect()(0)
    val n = r.getLong(0)
    val s = r.getSeq[Long](1)
    val m2 = r.getSeq[Long](2)
    def m2at(i: Int, j: Int): Long = m2(i * 64 - i * (i - 1) / 2 - i + j)
    val nd = n.toDouble
    def mu(i: Int): Double = (s(i).toDouble / 1.0e12) / nd
    def cov(i: Int, j: Int): Double =
      (m2at(i, j).toDouble / 1.0e9) / nd - mu(i) * mu(j)
    var tFx = 0L
    var fFx = 0L
    for (i <- 0 until 64) tFx += math.floor(1.0e9 * cov(i, i)).toLong
    for (i <- 0 until 64; j <- i until 64) {
      val w = if (i == j) 1L else 2L
      val c = cov(i, j)
      fFx += w * math.floor(1.0e9 * (c * c)).toLong
    }
    // trace_fx is 1e9-scaled and frob_fx 1e9-scaled: t²/f carries a
    // residual 1e9 — divide it back out (same shape on both engines)
    val effR = BigDecimal(
        ((tFx.toDouble * tFx.toDouble) / fFx.toDouble) / 1.0e9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq((n, tFx, fFx, effR)).toDF("n", "trace_fx", "frob_fx", "eff_rank_r")
  }
  val q256Sql: String =
    """WITH x AS (
      |  SELECT vec_id, UNNEST(embedding) AS xv,
      |    generate_subscripts(embedding, 1) - 1 AS i
      |  FROM embeddings
      |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
      |s AS (
      |  SELECT i, CAST(SUM(CAST(FLOOR(CAST(xv AS DOUBLE)
      |    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS si
      |  FROM x GROUP BY i
      |), m2 AS (
      |  SELECT a.i AS i, b.i AS j,
      |    CAST(SUM(CAST(FLOOR((CAST(a.xv AS DOUBLE) * CAST(b.xv AS DOUBLE))
      |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS m2v
      |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2
      |), cv AS (
      |  SELECT m2.i, m2.j,
      |    (CAST(m2.m2v AS DOUBLE) / 1000000000.0) / n
      |      - ((CAST(sa.si AS DOUBLE) / 1000000000000.0) / n)
      |        * ((CAST(sb.si AS DOUBLE) / 1000000000000.0) / n) AS c
      |  FROM m2 CROSS JOIN nn
      |  JOIN s sa ON sa.i = m2.i JOIN s sb ON sb.i = m2.j
      |), agg AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN i = j
      |      THEN CAST(FLOOR(1000000000.0 * c) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS trace_fx,
      |    CAST(SUM((CASE WHEN i = j THEN 1 ELSE 2 END)
      |      * CAST(FLOOR(1000000000.0 * (c * c)) AS BIGINT))
      |      AS BIGINT) AS frob_fx
      |  FROM cv
      |)
      |SELECT (SELECT n FROM nn) AS n, trace_fx, frob_fx,
      |  ROUND(((CAST(trace_fx AS DOUBLE) * CAST(trace_fx AS DOUBLE))
      |    / CAST(frob_fx AS DOUBLE)) / 1000000000.0, 6) AS eff_rank_r
      |FROM agg""".stripMargin

  // -------------------------------------------------------------------
  // q165: top principal component of the embedding space — ONE
  // distributed pass (count + VecFixedSum Σx + VecOuterFixedSum Σx⊗x,
  // all exact fixed-point partial aggregates; d(d+1)/2 longs per task
  // is all that moves) then driver-side power iteration on the 64×64
  // covariance. Output: 64 rows (dim, loading, lambda). The oracle is
  // a self-certifying EIGENPAIR check, not a value echo: DuckDB
  // independently recomputes, from the raw embeddings and the emitted
  // v, the per-row centered projection s = (x−μ)·v, and requires
  //   (a) ‖v‖² = 1,            (b) λ = avg(s²)  (Rayleigh quotient),
  //   (c) (Cv)_d = λ·v_d per dim (residual ⇒ v IS an eigenvector),
  //   (d) all 64 dims emitted with one shared λ.
  // Residual tolerance 1e-3·λ: measured max residual after 1000
  // driver iterations is 1.6e-8·λ (sf0.01) / 1.8e-7·λ (sf0.1) — the
  // top eigengap of the labeled-cluster embeddings is wide, and the
  // slack only covers fixed-point covariance quantization and
  // DuckDB's double-sum μ. λ agreement measured ≤5e-9 relative.
  // -------------------------------------------------------------------
  def q165PcaPower(spark: SparkSession, dir: String): DataFrame = {
    val (v, lambda) = Similarity.pcaTopComponent(emb(spark, dir), "embedding", 64)
    import spark.implicits._
    v.zipWithIndex.toSeq
      .map { case (x, i) => (i.toLong, x, lambda) }
      .toDF("dim", "loading", "lambda")
      .orderBy(asc("dim"))
  }
  val q165Sql: String =
    """WITH e AS (
      |  SELECT dim, loading, lambda
      |  FROM read_parquet('__GRAFT_OUT__/q165_pca_power/*.parquet')
      |), ux AS (
      |  SELECT vec_id, UNNEST(range(1, LEN(embedding) + 1)) - 1 AS dim,
      |    CAST(UNNEST(embedding) AS DOUBLE) AS x
      |  FROM embeddings
      |), mu AS (
      |  SELECT dim, AVG(x) AS m FROM ux GROUP BY dim
      |), s AS (
      |  SELECT u.vec_id, SUM((u.x - mu.m) * e.loading) AS sc
      |  FROM ux u JOIN mu USING (dim) JOIN e USING (dim)
      |  GROUP BY u.vec_id
      |), lam AS (
      |  SELECT AVG(sc * sc) AS l FROM s
      |), cv AS (
      |  SELECT u.dim, AVG((u.x - mu.m) * s.sc) AS cvd
      |  FROM ux u JOIN mu USING (dim) JOIN s USING (vec_id)
      |  GROUP BY u.dim
      |), chk AS (
      |  SELECT SUM(loading * loading) AS nn, COUNT(*) AS cnt,
      |    MAX(lambda) AS lmax, MIN(lambda) AS lmin
      |  FROM e
      |)
      |SELECT e.dim, e.loading, e.lambda
      |FROM e JOIN cv USING (dim) CROSS JOIN lam CROSS JOIN chk
      |WHERE chk.cnt = 64 AND chk.lmax = chk.lmin
      |  AND ABS(chk.nn - 1.0) < 1e-9
      |  AND ABS(e.lambda - lam.l) < 1e-4 * GREATEST(lam.l, 1e-12)
      |  AND ABS(cv.cvd - e.lambda * e.loading) < 1e-3 * GREATEST(lam.l, 1e-12)
      |UNION ALL SELECT -1, -1.0, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q165_pca_power/*.parquet')) = 0
      |ORDER BY dim""".stripMargin

  // -------------------------------------------------------------------
  // q34: brute-force cosine top-k (rank output; queries = every 50th
  // vector). Exact baseline for ANN.
  // -------------------------------------------------------------------
  def q34CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", "embedding", 10)
      .select(col("query_id"), col("cand_id"), col("rank"))
      .orderBy(asc("query_id"), asc("rank"))
  }
  val q34Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) DESC,
      |        c.vec_id) AS rank
      |  FROM nv q JOIN nv c ON q.vec_id % 50 = 0 AND q.vec_id != c.vec_id
      |)
      |SELECT query_id, cand_id, rank FROM scored WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // q223: HARD-NEGATIVE mining — per anchor (every 50th vector, the
  // q34 convention), the 5 most similar candidates STRICTLY below
  // cosine 0.8: the contrastive-training band (in-band = informative
  // negative; above = probable unlabeled positive/near-dup; near 0 =
  // teaches nothing). Exact replay oracle like q34 — both engines sum
  // the normalized dot in index order, so the band predicate and the
  // rank are bit-identical; no tolerance anywhere.
  // -------------------------------------------------------------------
  def q223HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    Similarity.hardNegativeTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", k = 5, maxCos = 0.8)
      .select(col("query_id"), col("cand_id"), col("rank"))
      .orderBy(asc("query_id"), asc("rank"))
  }
  val q223Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), banded AS (
      |  SELECT query_id, cand_id, cos FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |      list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) AS cos
      |    FROM nv q JOIN nv c ON q.vec_id % 50 = 0 AND q.vec_id != c.vec_id)
      |  WHERE cos < 0.8
      |), ranked AS (
      |  SELECT query_id, cand_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, cand_id) AS rank
      |  FROM banded
      |)
      |SELECT query_id, cand_id, rank FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // q280: MMR DIVERSE SELECTION — greedy maximal-marginal-relevance
  // re-rank of the top-64 relevance pool for anchor vec 0 (k = 16,
  // weights 0.7/0.3): the retrieval shape that stops near-duplicates
  // crowding a context window. Rule-9 replay oracle: DuckDB rebuilds
  // the same pool, recomputes every candidate's marginal score at
  // every emitted step from the emitted prefix, and keeps an emitted
  // row only if it IS that step's argmax (score desc, id) with the
  // identical floor(1e6·score) — a wrong pick, wrong order, or wrong
  // score all fall out of the join. See operators/Similarity.mmrSelect
  // for the pool/greedy scale split and the 0.7/0.3 literal-weight
  // parity contract.
  // -------------------------------------------------------------------
  def q280MmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Similarity.mmrSelect(
        e.filter(col("vec_id") =!= 0), e.filter(col("vec_id") === 0),
        "vec_id", "embedding", "embedding", poolSize = 64, k = 16)
      .orderBy(asc("step"))
  }
  val q280Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), qv AS (SELECT v FROM nv WHERE vec_id = 0),
      |rel AS (
      |  SELECT c.vec_id,
      |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) AS rel
      |  FROM nv c CROSS JOIN qv q WHERE c.vec_id != 0
      |), pool AS (
      |  SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT 64
      |), e AS (
      |  SELECT step, vec_id
      |  FROM read_parquet('__GRAFT_OUT__/q280_mmr_select/*.parquet')
      |), picked AS (
      |  SELECT e.step, nv.v FROM e JOIN nv USING (vec_id)
      |), ms AS (
      |  SELECT s.step, p.vec_id,
      |    COALESCE(MAX(list_sum(list_transform(
      |      list_zip(cv.v, pk.v), pr -> pr[1] * pr[2]))), 0.0) AS maxsim
      |  FROM (SELECT DISTINCT step FROM e) s
      |  CROSS JOIN pool p
      |  JOIN nv cv ON cv.vec_id = p.vec_id
      |  LEFT JOIN picked pk ON pk.step < s.step
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT ms.step, ms.vec_id, 0.7 * p.rel - 0.3 * ms.maxsim AS score
      |  FROM ms JOIN pool p ON p.vec_id = ms.vec_id
      |  WHERE NOT EXISTS (SELECT 1 FROM e
      |    WHERE e.vec_id = ms.vec_id AND e.step < ms.step)
      |), best AS (
      |  SELECT step, vec_id, score,
      |    ROW_NUMBER() OVER (PARTITION BY step
      |      ORDER BY score DESC, vec_id) AS rk
      |  FROM scored
      |)
      |SELECT e.step, e.vec_id,
      |  CAST(FLOOR(1000000.0 * b.score) AS BIGINT) AS score_fx
      |FROM e JOIN best b ON b.step = e.step AND b.vec_id = e.vec_id
      |  AND b.rk = 1
      |UNION ALL SELECT CAST(-1 AS INTEGER), CAST(-1 AS BIGINT),
      |  CAST(-1 AS BIGINT) WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q280_mmr_select/*.parquet')) = 0
      |ORDER BY step""".stripMargin

  // -------------------------------------------------------------------
  // q35: LSH-bucketed approximate top-k, self-certifying (was rows-only
  // in r1/r2): every ANN result row carries `hit` = membership in the
  // EXACT top-10 (computed in-plan by the q34-oracled brute-force
  // path). The oracle recomputes exact top-10 in DuckDB, re-derives
  // `hit` per emitted row (independent per-row verification), and
  // additionally requires the total hit count to clear the recall
  // floor — a recall drop or a mislabeled row both FAIL the gate.
  // -------------------------------------------------------------------
  def q35AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val ann = Similarity.lshTopK(q, e, "vec_id", "vec_id", "embedding", "embedding",
        k = 10, numPlanes = 6, dim = 64, probeBits = 2)
      .select(col("query_id"), col("cand_id"), col("rank"))
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", 10)
      .select(col("query_id"), col("cand_id"), lit(true).as("hit"))
    ann.join(exact, Seq("query_id", "cand_id"), "left_outer")
      .select(col("query_id"), col("cand_id"), col("rank"),
        coalesce(col("hit"), lit(false)).as("hit"))
      .orderBy(asc("query_id"), asc("rank"))
  }

  /** Oracle for the self-certifying ANN gates (q35/q52). Three layers:
    *  1. per-row `hit` re-derivation — every emitted row's membership
    *     in the exact top-10 is recomputed from raw embeddings. Rows
    *     whose cosine sits within 1e-12 of the rank-10 BOUNDARY score
    *     accept the emitted label instead: a 1-ulp VecDot-vs-list_sum
    *     divergence at the boundary must not flip the gate (advisor
    *     item r3; q34 shows the engines agree in practice — this only
    *     de-flakes the razor edge). The join to `ex` is INNER, so a
    *     fabricated (query, cand) pair now falls out ⇒ row-count FAIL
    *     (stronger than the old LEFT JOIN, which passed bogus pairs
    *     labeled hit=false).
    *  2. recall floor over the strict exact top-10 (boundary rows move
    *     the count by ≤1 per query; floors carry ≥0.15 margin).
    *  3. empty-output guard: a regression that silently emits ZERO
    *     rows previously passed vacuously (0 == 0); now the oracle
    *     emits a sentinel row exactly when the output is empty, forcing
    *     a row-count mismatch.
    */
  private def annOracle(name: String, recallFloor: Double): String =
    s"""WITH nv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
       |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
       |  FROM embeddings
       |), ex AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) DESC,
       |        c.vec_id) AS rk
       |  FROM nv q JOIN nv c ON q.vec_id % 50 = 0 AND q.vec_id != c.vec_id
       |), topk AS (SELECT query_id, cand_id FROM ex WHERE rk <= 10
       |), bnd AS (SELECT query_id, MIN(cos) AS c10 FROM ex WHERE rk <= 10 GROUP BY query_id)
       |SELECT e.query_id, e.cand_id, e.rank,
       |  CASE WHEN ABS(x.cos - bnd.c10) <= 1e-12 THEN e.hit
       |       ELSE (x.rk <= 10) END AS hit
       |FROM read_parquet('__GRAFT_OUT__/$name/*.parquet') e
       |JOIN ex x ON x.query_id = e.query_id AND x.cand_id = e.cand_id
       |JOIN bnd ON bnd.query_id = e.query_id
       |WHERE (SELECT COUNT(*)
       |       FROM read_parquet('__GRAFT_OUT__/$name/*.parquet') e2
       |       JOIN topk t2 ON t2.query_id = e2.query_id AND t2.cand_id = e2.cand_id)
       |    >= $recallFloor * (SELECT COUNT(DISTINCT query_id) FROM topk) * 10
       |UNION ALL
       |SELECT -1, -1, -1, false WHERE (SELECT COUNT(*)
       |  FROM read_parquet('__GRAFT_OUT__/$name/*.parquet')) = 0
       |ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // q52: IVF approximate top-k, self-certifying like q35. The quantizer
  // is TRAINED on the candidate corpus: two distributed spherical-Lloyd
  // rounds (deterministic seeded init), model-only driver traffic.
  // nProbe=8/16 cells, exact VecDot rerank in-cell.
  // -------------------------------------------------------------------
  def q52AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val cents = Similarity.trainCentroids(e, "embedding",
      numCells = 16, iters = 2, dim = 64)
    val ann = Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding", "embedding",
        k = 10, numCells = 16, nProbe = 8, dim = 64, centroids = Some(cents))
      .select(col("query_id"), col("cand_id"), col("rank"))
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", 10)
      .select(col("query_id"), col("cand_id"), lit(true).as("hit"))
    ann.join(exact, Seq("query_id", "cand_id"), "left_outer")
      .select(col("query_id"), col("cand_id"), col("rank"),
        coalesce(col("hit"), lit(false)).as("hit"))
      .orderBy(asc("query_id"), asc("rank"))
  }

  // -------------------------------------------------------------------
  // q248: IVF OPERATING CURVE — recall@10 vs nProbe ∈ {1, 2, 8} on ONE
  // trained quantizer (the table an ANN user actually reads to pick
  // nprobe: each probe count scans nProbe/numCells of the corpus, and
  // this query certifies what that buys). Monotonicity is a THEOREM
  // under a shared tie-break order (a candidate displacing a true
  // top-10 hit from a superset pool precedes it in the exact order
  // too, so the displacer is itself a hit) — the oracle asserts it
  // (with ±2 slack for 1-ulp boundary ties) along with a per-probe
  // recall floor and the q35/q52 per-row hit re-derivation + sentinel.
  // Floors: measured recall@10 on this corpus (sf0.01/sf0.1):
  // nprobe=1 0.19/0.20, nprobe=2 0.35/0.33, nprobe=8 0.70/0.77 →
  // floored at ≈0.75× the binding (min-across-scales) figure per
  // CLAUDE.md rule 9: 0.14 / 0.25 / 0.52.
  // -------------------------------------------------------------------
  def q248IvfProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val cents = Similarity.trainCentroids(e, "embedding",
      numCells = 16, iters = 2, dim = 64)
    val runs = Seq(1, 2, 8).map { np =>
      Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding", "embedding",
          k = 10, numCells = 16, nProbe = np, dim = 64, centroids = Some(cents))
        .select(lit(np.toLong).as("nprobe"), col("query_id"), col("cand_id"),
          col("rank"))
    }
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", 10)
      .select(col("query_id"), col("cand_id"), lit(true).as("hit"))
    runs.reduce(_.unionAll(_))
      .join(exact, Seq("query_id", "cand_id"), "left_outer")
      .select(col("nprobe"), col("query_id"), col("cand_id"), col("rank"),
        coalesce(col("hit"), lit(false)).as("hit"))
      .orderBy(asc("nprobe"), asc("query_id"), asc("rank"))
  }

  /** q248's oracle: the [[annOracle]] layers, per probe count, plus
    * the recall-monotonicity assertion across the curve. */
  private def probeCurveSql(floors: Map[Int, Double]): String = {
    val out = "read_parquet('__GRAFT_OUT__/q248_ivf_probe_curve/*.parquet')"
    def hits(np: Int) =
      s"""(SELECT COUNT(*) FROM $out e2
         |     JOIN topk t2 ON t2.query_id = e2.query_id AND t2.cand_id = e2.cand_id
         |     WHERE e2.nprobe = $np)""".stripMargin
    val floorsSql = floors.map { case (np, f) =>
      s"${hits(np)} >= $f * (SELECT COUNT(DISTINCT query_id) FROM topk) * 10"
    }.mkString("\n       |  AND ")
    s"""WITH nv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
       |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
       |  FROM embeddings
       |), ex AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) DESC,
       |        c.vec_id) AS rk
       |  FROM nv q JOIN nv c ON q.vec_id % 50 = 0 AND q.vec_id != c.vec_id
       |), topk AS (SELECT query_id, cand_id FROM ex WHERE rk <= 10
       |), bnd AS (SELECT query_id, MIN(cos) AS c10 FROM ex WHERE rk <= 10 GROUP BY query_id)
       |SELECT e.nprobe, e.query_id, e.cand_id, e.rank,
       |  CASE WHEN ABS(x.cos - bnd.c10) <= 1e-12 THEN e.hit
       |       ELSE (x.rk <= 10) END AS hit
       |FROM $out e
       |JOIN ex x ON x.query_id = e.query_id AND x.cand_id = e.cand_id
       |JOIN bnd ON bnd.query_id = e.query_id
       |WHERE $floorsSql
       |  AND ${hits(8)} + 2 >= ${hits(2)}
       |  AND ${hits(2)} + 2 >= ${hits(1)}
       |UNION ALL
       |SELECT -1, -1, -1, -1, false WHERE (SELECT COUNT(*) FROM $out) = 0
       |ORDER BY nprobe, query_id, rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // q328: INCREMENTAL IVF INDEX MAINTENANCE — the index-freshness rung
  // of the incremental ladder (q95 dedup, q217 pHash, q226 SemDeDup,
  // q257 MinHash, q296 CC), and the maintenance move a 100 TB serving
  // index actually makes: a crawler ships a SKEWED delta (here a
  // half-space of the embedding geometry — a new mode the base
  // quantizer never saw, ~20% of the corpus), and instead of
  // re-clustering every cell, the frozen q52-style quantizer
  // re-centers ONLY the cells whose current mass is
  // > 25% new (Similarity.incrementalRetrain: one
  // assign+aggregate pass, exact integer drift rule, untouched
  // centroids shared BIT-IDENTICAL — the zero-slack invariant,
  // asserted on a planted fixture in OperatorsSpec). Published as the
  // recall-vs-retrain-fraction operating curve: variant a_stale
  // (frozen base model, 0 cells retrained), b_partial (drifted cells
  // only — retrained_cells published per row: 5 at sf0.01, 2 at
  // sf0.1), c_full (scratch retrain on the combined corpus, all 16).
  // Self-certifying like q52/q248: per-row hit re-derivation from
  // raw embeddings (INNER join — fabricated pairs fall out),
  // per-variant measured recall floors (rule 9 — measured at
  // sf0.01/sf0.1 with nProbe=4: stale 0.490/0.532, partial
  // 0.510/0.532, full 0.560/0.517 → floors 0.36/0.38/0.38 ≈ 0.75×
  // the binding figure), structural checks (exactly 3 variants,
  // retrained_cells 0 for stale / 16 for full / in [0, 16] for
  // partial), and the empty-output sentinel. nProbe = 4 of 16 so
  // quantizer quality — not probe volume — is what the curve
  // measures. Recall is NOT monotone in retrain fraction, by
  // construction or in fact (full reads BELOW stale at sf0.1:
  // re-clustering moves boundary vectors both ways, and this
  // near-isotropic corpus is init-dominated — the published lesson:
  // on weakly-clustered data, drift-retraining buys little, so the
  // threshold can stay high and retrains deferred; the gate asserts
  // floors, deliberately not an ordering).
  // -------------------------------------------------------------------
  def q328IvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // the delta is a HALF-SPACE of the embedding geometry (first
    // normalized component > 0.10, ~20% of the corpus) — a new MODE
    // the base quantizer never saw, which is what makes drift
    // detection non-degenerate: cells aligned with the ingest
    // direction exceed the threshold, opposite cells sit near zero
    // (historical: a deleted one-off probe measured per-cell delta
    // fractions 0.00-0.355 at
    // sf0.01 / 0.10-0.29 at sf0.1; a label-keyed delta read a flat
    // ~0.20 everywhere — labels don't cluster at 16-cell granularity)
    val isNew = Similarity.normalized(col("embedding")).getItem(0) > lit(0.10)
    val stale = Similarity.trainCentroids(e.filter(!isNew), "embedding",
      numCells = 16, iters = 2, dim = 64)
    val (partial, audit) = Similarity.incrementalRetrain(
      e.withColumn("is_new", isNew), "embedding", "is_new", stale,
      dim = 64, driftNum = 1L, driftDen = 4L)
    val full = Similarity.trainCentroids(e, "embedding",
      numCells = 16, iters = 2, dim = 64)
    val nDrift = audit.count(_._4).toLong
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    // variant names sort in retrain-fraction order — the curve reads
    // top-to-bottom as "what another slice of retraining buys"
    val runs = Seq(("a_stale", stale, 0L), ("b_partial", partial, nDrift),
      ("c_full", full, 16L)).map { case (name, m, rc) =>
      Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding", "embedding",
          k = 10, numCells = 16, nProbe = 4, dim = 64, centroids = Some(m))
        .select(lit(name).as("variant"), lit(rc).as("retrained_cells"),
          col("query_id"), col("cand_id"), col("rank"))
    }
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", 10)
      .select(col("query_id"), col("cand_id"), lit(true).as("hit"))
    runs.reduce(_.unionAll(_))
      .join(exact, Seq("query_id", "cand_id"), "left_outer")
      .select(col("variant"), col("retrained_cells"), col("query_id"),
        col("cand_id"), col("rank"), coalesce(col("hit"), lit(false)).as("hit"))
      .orderBy(asc("variant"), asc("query_id"), asc("rank"))
  }

  /** q328's oracle: the [[annOracle]] layers per variant plus the
    * structural retrained_cells checks. Floors measured per variant
    * (rule 9). */
  private def ivfIncrementalSql(floors: Map[String, Double]): String = {
    val out = "read_parquet('__GRAFT_OUT__/q328_ivf_incremental/*.parquet')"
    def hits(v: String) =
      s"""(SELECT COUNT(*) FROM $out e2
         |     JOIN topk t2 ON t2.query_id = e2.query_id AND t2.cand_id = e2.cand_id
         |     WHERE e2.variant = '$v')""".stripMargin
    val floorsSql = floors.map { case (v, f) =>
      s"${hits(v)} >= $f * (SELECT COUNT(DISTINCT query_id) FROM topk) * 10"
    }.mkString("\n       |  AND ")
    s"""WITH nv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
       |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
       |  FROM embeddings
       |), ex AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) DESC,
       |        c.vec_id) AS rk
       |  FROM nv q JOIN nv c ON q.vec_id % 50 = 0 AND q.vec_id != c.vec_id
       |), topk AS (SELECT query_id, cand_id FROM ex WHERE rk <= 10
       |), bnd AS (SELECT query_id, MIN(cos) AS c10 FROM ex WHERE rk <= 10 GROUP BY query_id)
       |SELECT e.variant, e.retrained_cells, e.query_id, e.cand_id, e.rank,
       |  CASE WHEN ABS(x.cos - bnd.c10) <= 1e-12 THEN e.hit
       |       ELSE (x.rk <= 10) END AS hit
       |FROM $out e
       |JOIN ex x ON x.query_id = e.query_id AND x.cand_id = e.cand_id
       |JOIN bnd ON bnd.query_id = e.query_id
       |WHERE $floorsSql
       |  AND (SELECT COUNT(DISTINCT variant) FROM $out) = 3
       |  AND (SELECT COUNT(*) FROM $out
       |       WHERE variant = 'a_stale' AND retrained_cells != 0) = 0
       |  AND (SELECT COUNT(*) FROM $out
       |       WHERE variant = 'c_full' AND retrained_cells != 16) = 0
       |  AND (SELECT COUNT(*) FROM $out WHERE variant = 'b_partial'
       |       AND (retrained_cells < 0 OR retrained_cells > 16)) = 0
       |UNION ALL
       |SELECT '', -1, -1, -1, -1, false WHERE (SELECT COUNT(*) FROM $out) = 0
       |ORDER BY variant, query_id, rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // q163: PRODUCT-QUANTIZATION top-k (ADC + exact rerank; Jégou et
  // al., TPAMI 2011) — the memory-bound ANN path the 100 TB design
  // wants next to q119's int8 (4×) compression: 8 subspaces × 64
  // Euclidean sub-centroids trained on the corpus (fixed-point
  // k-means, bit-stable) encode every vector as 8 CODES (48 bits vs
  // 2048 — ~42× scan compression); each query scores the compressed
  // scan via per-subspace lookup tables (codegen'd element_at chains,
  // no float math per pair), then exact-reranks its ADC top-100 (only
  // the shortlist's full vectors are ever fetched, by id-equi-join).
  // Measured recall@10: ADC-only degrades with corpus size (0.35 →
  // 0.165 from 2 k → 20 k vectors); with rerank=100: 0.98 @ sf0.01,
  // 0.79 @ sf0.1 → floor 0.6 (≈0.8× the binding sf0.1 figure).
  // Self-certifying exactly like q35/q52: per-row hit re-derivation +
  // recall floor + empty-output sentinel.
  // -------------------------------------------------------------------
  def q163PqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val ann = Similarity.pqTopK(q, e, "vec_id", "vec_id", "embedding", "embedding",
        k = 10, m = 8, ksub = 64, dim = 64, iters = 2, rerank = 100)
      .select(col("query_id"), col("cand_id"), col("rank"))
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", 10)
      .select(col("query_id"), col("cand_id"), lit(true).as("hit"))
    ann.join(exact, Seq("query_id", "cand_id"), "left_outer")
      .select(col("query_id"), col("cand_id"), col("rank"),
        coalesce(col("hit"), lit(false)).as("hit"))
      .orderBy(asc("query_id"), asc("rank"))
  }

  // -------------------------------------------------------------------
  // q179: IVF-PQ top-k — the q52 coarse quantizer COMPOSED with q163's
  // compressed-scan ADC (the FAISS IVFADC family): cell pruning cuts
  // the scan to nProbe/numCells of the corpus via an equi-join (pure
  // PQ scores everything), PQ codes shrink what it reads ~42×, and the
  // ADC top-100 exact-reranks through an id-equi-join. Raw-vector
  // (non-residual) codes — the documented simplification in
  // Similarity.ivfPqTopK. Self-certifying like q35/q52/q163: per-row
  // hit re-derivation + recall floor + empty-output sentinel.
  // Measured recall@10 (k=10, 16 cells, nProbe=8, 8×64 codes,
  // rerank=100): 0.69 @ sf0.01, 0.66 @ sf0.1 — vs q163's pure-PQ
  // 0.98/0.79 on the same corpus: probing half the cells costs ~0.13
  // recall because 64-d synthetic embeddings cluster weakly; at real
  // corpus scales the probe ratio is 1-5%, which is where the
  // scan-cut×compression product pays. DECISION RECORD: classic
  // residual encoding (ivfPqTopK residual=true) MEASURED WORSE here
  // (0.67/0.55) — on weakly-clustered unit vectors x·c ≈ 0.3, so
  // ‖x − c‖² ≈ 1.4 > 1 = ‖x‖²: residuals are BIGGER than the raw
  // vectors and the code budget buys less. RE-MEASURED round 7 after
  // the native VecSub encode (historical: a deleted one-off probe):
  // raw 0.69/0.6575,
  // residual 0.67/0.5525 at sf0.01/sf0.1 — bit-reproduces the r6
  // record, the physics holds. The gate keeps raw-vector codes;
  // residual=true is gated by ITS OWN oracle row (q191, floored for
  // the residual regime) so both shipped algorithms are certified.
  // -------------------------------------------------------------------
  def q179IvfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val ann = Similarity.ivfPqTopK(q, e, "vec_id", "vec_id", "embedding", "embedding",
        k = 10, numCells = 16, nProbe = 8, m = 8, ksub = 64, dim = 64,
        iters = 2, rerank = 100)
      .select(col("query_id"), col("cand_id"), col("rank"))
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", 10)
      .select(col("query_id"), col("cand_id"), lit(true).as("hit"))
    ann.join(exact, Seq("query_id", "cand_id"), "left_outer")
      .select(col("query_id"), col("cand_id"), col("rank"),
        coalesce(col("hit"), lit(false)).as("hit"))
      .orderBy(asc("query_id"), asc("rank"))
  }

  // -------------------------------------------------------------------
  // q191: RESIDUAL IVF-PQ (classic IVFADC, Jégou et al. 2011) — the
  // `residual = true` sibling of q179, gated by its OWN oracle row so
  // BOTH shipped codebook modes are certified (round-6 verdict: the
  // gate previously certified only the weaker-on-paper raw mode).
  // Codes quantize x − centroid(cell) via the native codegen'd VecSub
  // (round 7 — no interpreted HOF, no shared-lambda hazard), and the
  // ADC score re-uses the probe's q·c_cell term. On THIS corpus
  // residual measures BELOW raw (historical probe: 0.67/0.5525 vs
  // 0.69/0.6575 at sf0.01/sf0.1 — weak clusters make residuals
  // bigger than the vectors, PERF lesson 18); the floor 0.45 is set
  // for the residual regime (≈0.8× the binding sf0.1 figure), per
  // CLAUDE.md rule 9's measure-before-floor.
  // -------------------------------------------------------------------
  def q191IvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val ann = Similarity.ivfPqTopK(q, e, "vec_id", "vec_id", "embedding", "embedding",
        k = 10, numCells = 16, nProbe = 8, m = 8, ksub = 64, dim = 64,
        iters = 2, rerank = 100, residual = true)
      .select(col("query_id"), col("cand_id"), col("rank"))
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", 10)
      .select(col("query_id"), col("cand_id"), lit(true).as("hit"))
    ann.join(exact, Seq("query_id", "cand_id"), "left_outer")
      .select(col("query_id"), col("cand_id"), col("rank"),
        coalesce(col("hit"), lit(false)).as("hit"))
      .orderBy(asc("query_id"), asc("rank"))
  }

  // -------------------------------------------------------------------
  // q119: int8-QUANTIZED brute-force top-k — the bandwidth path for
  // exact search at 100 TB: symmetric per-vector quantization of the
  // unit vector (floor(x/max|x|·127) ∈ [-127,127]) shrinks every
  // embedding 4-8× before it is scanned/broadcast, and the rerank
  // becomes an integer dot product (SIMD-friendly; here the same
  // native VecDot over small-integer doubles — products ≤ 127², sums
  // ≪ 2^53, so every intermediate is EXACT). That exactness is the
  // gate's power: unlike float cosine, the full quantized ranking is
  // bit-replayable in DuckDB — rank-for-rank, score-for-score — no
  // containment weakening needed. Quantization loss vs float top-10 is
  // pinned by OperatorsSpec (recall ≥ 0.8 measured vs q34's exact).
  // -------------------------------------------------------------------
  // -------------------------------------------------------------------
  // q152: derandomized Johnson-Lindenstrauss projection — 64-dim float
  // embeddings → 32 exact fixed-point dims via the native codegen'd
  // VecJLProject (±1 signs are a pure int64 hash of (i,j): two
  // xor-fold + odd-multiply rounds, bit 40 — no matrix to broadcast,
  // every executor and the oracle REGENERATE the identical
  // projection; sign-column correlations measured at true-random
  // levels, see VecJLProject scaladoc). Map-only: at 100 TB this is
  // the shrink-before-ANN pass — 2× fewer embedding bytes scanned and
  // shuffled downstream, one scan, zero shuffle (the output explode
  // is display-format only). Fixed-point floor(v·1e6) accumulation in
  // int64 makes every output bit-replayable in DuckDB — an EXACT
  // oracle for a "random" projection. Distance preservation vs float
  // cosine is floored by OperatorsSpec.
  // -------------------------------------------------------------------
  def q152JlProjection(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_jl_project
    emb(spark, dir)
      .select(col("vec_id"),
        posexplode(vec_jl_project(col("embedding"), 32, 1e6)))
      .select(col("vec_id"), col("pos").cast("long").as("j"), col("col").as("p"))
      .orderBy(asc("vec_id"), asc("j"))
  }
  val q152Sql: String =
    """WITH elems AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS f
      |  FROM embeddings
      |), signs AS (
      |  SELECT i, j, CASE WHEN ((xor((h1 >> 24), (h1 % 16777216))
      |      * 2654435761) >> 40) % 2 = 0 THEN 1 ELSE -1 END AS sg
      |  FROM (
      |    SELECT i.range AS i, j.range AS j,
      |      xor(i.range * 65521 + j.range * 131071,
      |          (i.range * 65521 + j.range * 131071) >> 8) * 2654435761 AS h1
      |    FROM range(64) i CROSS JOIN range(32) j
      |  )
      |)
      |SELECT vec_id, CAST(s.j AS BIGINT) AS j,
      |  CAST(SUM(s.sg * e.f) AS BIGINT) AS p
      |FROM elems e JOIN signs s ON s.i = e.i
      |GROUP BY vec_id, s.j
      |ORDER BY vec_id, j""".stripMargin

  def q119QuantizedAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val nv = e.select(col("vec_id"),
      Similarity.normalized(col("embedding")).as("v"))
    // interpreted HOF is fine here: one map-only pass per vector, not
    // the per-pair hot path (that is VecDot below — PERF.md lesson 3)
    val qz = nv
      .withColumn("m", array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id"),
        // cast back to double: VecDot's input type, and integer values
        // up to 127 are exact in double anyway
        transform(col("v"),
          x => floor(x / col("m") * lit(127.0)).cast("double")).as("qv"))
    val q = qz.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("query_id"), col("qv"))
    val c = qz.select(col("vec_id").as("cand_id"), col("qv").as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.VectorFunctions.vec_dot(col("qv"), col("cv")).as("dot"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("dot"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= lit(10))
      .select(col("query_id"), col("cand_id"), col("rank"),
        col("dot").cast("long").as("dot_q"))
      .orderBy(asc("query_id"), asc("rank"))
  }
  val q119Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), qz AS (
      |  SELECT vec_id, list_transform(v,
      |    x -> FLOOR(x / list_max(list_transform(v, y -> ABS(y))) * 127)) AS q
      |  FROM nv
      |), scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
      |    CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS BIGINT) AS dot_q,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) DESC,
      |        b.vec_id) AS rank
      |  FROM qz a JOIN qz b ON a.vec_id % 50 = 0 AND a.vec_id != b.vec_id
      |)
      |SELECT query_id, cand_id, rank, dot_q FROM scored WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // q290: HUBNESS AUDIT — the k-occurrence (reverse-kNN in-degree)
  // histogram of the embedding space (Radovanović et al. 2010): in
  // high dimensions a few points become "hubs" that appear in
  // everyone's top-k while antihubs appear in nobody's, which skews
  // kNN-based dedup/retrieval/label-propagation long before recall
  // metrics show it. Exact top-10 per point within a deterministic
  // COUNT-DERIVED measurement subset — vec_id % max(4, n/500) = 0, a
  // FIXED-SIZE (~500-row) sample whose cost is flat in corpus size
  // (round-11 fix: the former constant-fraction % 4 subset broadcast
  // a quarter of the corpus and paid O(n²/16) pairs — correct at
  // sf0.1, dead at 100×; at the gate scales n ≤ 2000 so the formula
  // still evaluates to 4 and the output is bit-identical). Full-corpus
  // hubness at 100 TB runs on the q234 NN-descent graph instead —
  // that twin is q323. Pre-floored
  // fixed-point dots (floor(x·1e6): products ≤1e12, 64-term sums
  // ≤6.4e13 ≪ 2^53 — the q268 argument, so the codegen'd VecDot
  // double accumulation is exact), ties by cand_id. Output: in-degree
  // → point count histogram, zero-degree antihubs included.
  // -------------------------------------------------------------------
  def q290Hubness(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    import org.apache.spark.sql.expressions.Window
    // count-derived subset modulus: ~500-row sample at any corpus size
    val m = math.max(4L, emb(spark, dir).count() / 500L)
    // interpreted HOF: one map-only pass per vector, off the per-pair
    // hot path (q119/q268 precedent); floored values are exact in double
    val fl = emb(spark, dir).filter(pmod(col("vec_id"), lit(m)) === 0)
      // never-binding limit (the q245 trick): the residue-0 class of
      // m = max(4, n/500) holds ≤ ~630 rows at ANY n, so 2001 cannot
      // bind — it makes the sample bound STRUCTURAL for PlanLint's
      // recursive bounded(), retiring this query's allowlist entry.
      // ASSUMES vec_id is DENSE 0..n-1 (the testdata contract —
      // asserted against the embeddings source in OperatorsSpec): a
      // sparse or residue-skewed id space could overfill one residue
      // class, the limit would bind, and the sample would become a
      // nondeterministic subset (ADVICE r12 — the oracle would fail
      // loudly, but the structural proof rests on this contract)
      .limit(2001)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6)).cast("double")).as("v"))
    val q = fl.select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = fl.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        vec_dot(col("qv"), col("v")).as("dot"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("dot"), asc("cid"))
    val ind = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .groupBy(col("cid")).agg(count(lit(1)).as("ideg"))
    fl.select(col("vec_id").as("cid")).join(ind, Seq("cid"), "left_outer")
      .select(coalesce(col("ideg"), lit(0L)).as("indeg"))
      .groupBy(col("indeg")).agg(count(lit(1)).as("n_points"))
      .orderBy(asc("indeg"))
  }
  val q290Sql: String =
    """WITH fl AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> FLOOR(CAST(x AS DOUBLE) * 1000000)) AS v
      |  FROM embeddings
      |  WHERE vec_id % GREATEST(4, (SELECT COUNT(*) FROM embeddings) // 500) = 0
      |), scored AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS cid,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_sum(list_transform(list_zip(a.v, b.v),
      |        p -> p[1] * p[2])) DESC, b.vec_id) AS rank
      |  FROM fl a JOIN fl b ON a.vec_id != b.vec_id
      |), ind AS (
      |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS ideg
      |  FROM scored WHERE rank <= 10 GROUP BY 1
      |), pts AS (
      |  SELECT COALESCE(ind.ideg, 0) AS indeg
      |  FROM fl LEFT JOIN ind ON ind.cid = fl.vec_id
      |)
      |SELECT indeg, CAST(COUNT(*) AS BIGINT) AS n_points
      |FROM pts GROUP BY 1 ORDER BY indeg""".stripMargin

  // -------------------------------------------------------------------
  // q311: LABEL-MARGIN AUDIT — per-label centroid separation of the
  // embedding space (the label-quality check next to q254's kNN vote:
  // kNN audits LOCAL consistency, this audits GLOBAL geometry): for
  // every point, margin = mean-dot to its OWN label centroid minus
  // the best mean-dot to any OTHER centroid; a label whose points sit
  // closer to a foreign centroid than their own is mislabeled or
  // unlearnable. Exact: points floor to 1e3 fixed point and centroids
  // are the MATCHING VecFixedSum(·, 1e3) per-dim integer sums (no
  // division into the vector — mean-dot divides the scalar dot by n_c
  // in double, exact operands both engines); per-dim products ≤
  // 4e3·2e6·64 ≪ 2^53. Points contribute to their own centroid (an
  // audit of the labeling as-is, not a held-out classifier). The
  // score-every-label fan-out is the q204 PlanLint class (label-
  // domain build side).
  // -------------------------------------------------------------------
  def q311LabelMargin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{vec_dot, vec_fixed_sum}
    val e = emb(spark, dir)
    val fl = e.select(col("vec_id"), col("label").cast("long").as("plabel"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(1e3)).cast("double")).as("v"))
    // the per-label centroid frame as a LocalRelation (r13):
    // label-domain-bounded (~10 rows × 64 fixed-point sums) —
    // structurally bounded for PlanLint (retires this query's
    // allowlist entry) with a loud cap guard on label-domain drift
    val cent = graft.operators.DomainFrame.materialize(
      e.groupBy(col("label").cast("long").as("clabel"))
        .agg(vec_fixed_sum(col("embedding"), 64, 1e3).as("cs"),
          count(lit(1)).as("n_c"))
        .select(col("clabel"),
          transform(col("cs"), x => x.cast("double")).as("cs"), col("n_c")),
      cap = 1000, "q311 per-label centroid frame")
    val dots = fl.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("plabel"), col("clabel"),
        (vec_dot(col("v"), col("cs")) / col("n_c").cast("double")).as("md"))
    dots.groupBy(col("vec_id"), col("plabel"))
      .agg(max(when(col("clabel") === col("plabel"), col("md"))).as("own"),
        max(when(col("clabel") =!= col("plabel"), col("md"))).as("best"))
      .select(col("plabel").as("label"),
        floor((col("own") - col("best")) * 1000).cast("long").as("m"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("m") > 0, 1L).otherwise(0L)).as("n_separated"),
        min(col("m")).as("min_margin_fx"), max(col("m")).as("max_margin_fx"),
        sum(col("m")).as("sum_margin_fx"))
      .orderBy(asc("label"))
  }
  val q311Sql: String =
    """WITH fl AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS plabel,
      |    list_transform(embedding,
      |      x -> FLOOR(CAST(x AS DOUBLE) * 1000)) AS v
      |  FROM embeddings
      |), elems AS (
      |  SELECT CAST(label AS BIGINT) AS clabel,
      |    generate_subscripts(embedding, 1) AS i,
      |    FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000) AS x
      |  FROM embeddings
      |), cs AS (
      |  SELECT clabel, i, CAST(SUM(x) AS BIGINT) AS s
      |  FROM elems GROUP BY 1, 2
      |), cent AS (
      |  SELECT clabel, list(s ORDER BY i) AS cs FROM cs GROUP BY 1
      |), nc AS (
      |  SELECT CAST(label AS BIGINT) AS clabel, COUNT(*) AS n_c
      |  FROM embeddings GROUP BY 1
      |), dots AS (
      |  SELECT f.vec_id, f.plabel, c.clabel,
      |    CAST(list_sum(list_transform(list_zip(f.v, c.cs),
      |      p -> p[1] * p[2])) AS DOUBLE) / CAST(nc.n_c AS DOUBLE) AS md
      |  FROM fl f CROSS JOIN cent c JOIN nc ON nc.clabel = c.clabel
      |), pm AS (
      |  SELECT vec_id, plabel,
      |    MAX(CASE WHEN clabel = plabel THEN md END) AS own,
      |    MAX(CASE WHEN clabel <> plabel THEN md END) AS best
      |  FROM dots GROUP BY 1, 2
      |), m AS (
      |  SELECT plabel AS label,
      |    CAST(FLOOR((own - best) * 1000) AS BIGINT) AS mfx
      |  FROM pm
      |)
      |SELECT label, COUNT(*) AS n_points,
      |  CAST(SUM(CASE WHEN mfx > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_separated,
      |  MIN(mfx) AS min_margin_fx, MAX(mfx) AS max_margin_fx,
      |  CAST(SUM(mfx) AS BIGINT) AS sum_margin_fx
      |FROM m GROUP BY label ORDER BY label""".stripMargin

  // -------------------------------------------------------------------
  // q314: DBSCAN CORE/BORDER/NOISE — density-based structure audit of
  // the embedding space, the clustering family's third paradigm
  // (centroids q67, similarity-graph CC q75; density was absent):
  // over a COUNT-DERIVED measurement subset — vec_id % max(4, n/500)
  // = 0, a fixed-size ~500-row sample whose all-pairs cost is flat in
  // corpus size (round-11 fix: the constant-fraction % 4 subset was
  // O(n²/16) pairs + an n/4 broadcast — dead at 100×; at gate scales
  // the formula still evaluates to 4, output bit-identical; the
  // full-corpus density audit is the cell-blocked twin q322) — a
  // point is CORE iff ≥ minPts neighbors at cosine ≥ 0.25 (exact:
  // normalize → floor·1e6 → integer-exact dots ≈ cos·1e12, the q119
  // convention — the threshold compares FLOORED dots, a defined
  // quantity), BORDER iff non-core with a core neighbor, NOISE
  // otherwise. minPts scales with subset density (max(3, n div 40))
  // so the classification stays non-degenerate at every gate scale —
  // a fixed count would be all-core at 10× (rule 14's calibration
  // lesson, applied to a parameter instead of a sketch).
  // -------------------------------------------------------------------
  def q314DbscanCore(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    val theta = 250000000000L // 0.25 in the 1e12 dot scale
    val m = math.max(4L, emb(spark, dir).count() / 500L)
    val fl = emb(spark, dir).filter(pmod(col("vec_id"), lit(m)) === 0)
      // never-binding limit (the q245 trick): the residue-0 class of
      // m = max(4, n/500) holds ≤ ~630 rows at ANY n, so 2001 cannot
      // bind — it makes the sample bound STRUCTURAL for PlanLint's
      // recursive bounded(), retiring this query's allowlist entry.
      // ASSUMES vec_id is DENSE 0..n-1 (the testdata contract —
      // asserted against the embeddings source in OperatorsSpec): a
      // sparse or residue-skewed id space could overfill one residue
      // class, the limit would bind, and the sample would become a
      // nondeterministic subset (ADVICE r12 — the oracle would fail
      // loudly, but the structural proof rests on this contract)
      .limit(2001)
      .select(col("vec_id"),
        transform(Similarity.normalized(col("embedding")),
          x => floor(x.cast("double") * lit(1e6)).cast("double")).as("v"))
      // NOT checkpointed: the floor/normalize transform is a pure
      // deterministic function of the scan, so each consumer's
      // recompute is bit-identical — and keeping the limit + pmod
      // filter in the lineage is what lets PlanLint prove the
      // broadcast side bounded (a checkpoint roots the plan at an
      // ExistingRDD and hides it)
    val q = fl.select(col("vec_id").as("qid"), col("v").as("qv"))
    val nbPairs = fl.join(broadcast(q), col("vec_id") =!= col("qid"))
      .filter(vec_dot(col("v"), col("qv")) >= lit(theta.toDouble))
      .select(col("vec_id"), col("qid"))
    val nb = nbPairs.groupBy(col("vec_id")).agg(count(lit(1)).as("n_nb"))
    val npts = fl.groupBy().agg(count(lit(1)).as("n_pts"))
    val pts = fl.select(col("vec_id"))
      .join(nb, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), coalesce(col("n_nb"), lit(0L)).as("n_nb"))
      .crossJoin(broadcast(npts))
      .withColumn("is_core", col("n_nb") >= greatest(lit(3L), expr("n_pts div 40")))
    val coreSet = pts.filter(col("is_core")).select(col("vec_id").as("qid"))
    val hasCoreNb = nbPairs.join(coreSet, Seq("qid"), "left_semi")
      .select(col("vec_id")).distinct().withColumn("near_core", lit(true))
    pts.join(hasCoreNb, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("n_nb"),
        when(col("is_core"), "core")
          .when(coalesce(col("near_core"), lit(false)), "border")
          .otherwise("noise").as("role"))
      .orderBy(asc("vec_id"))
  }
  val q314Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> FLOOR(CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) * 1000000)) AS v
      |  FROM embeddings
      |  WHERE vec_id % GREATEST(4, (SELECT COUNT(*) FROM embeddings) // 500) = 0
      |), nbp AS (
      |  SELECT a.vec_id, b.vec_id AS qid
      |  FROM nv a JOIN nv b ON a.vec_id != b.vec_id
      |  WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
      |    >= 250000000000
      |), nb AS (
      |  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_nb FROM nbp GROUP BY 1
      |), np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pts FROM nv
      |), pts AS (
      |  SELECT nv.vec_id, COALESCE(nb.n_nb, 0) AS n_nb,
      |    COALESCE(nb.n_nb, 0) >=
      |      GREATEST(3, (SELECT n_pts FROM np) // 40) AS is_core
      |  FROM nv LEFT JOIN nb ON nb.vec_id = nv.vec_id
      |), nearc AS (
      |  SELECT DISTINCT nbp.vec_id FROM nbp
      |  JOIN pts c ON c.vec_id = nbp.qid AND c.is_core
      |)
      |SELECT p.vec_id, p.n_nb,
      |  CASE WHEN p.is_core THEN 'core'
      |       WHEN nearc.vec_id IS NOT NULL THEN 'border'
      |       ELSE 'noise' END AS role
      |FROM pts p LEFT JOIN nearc ON nearc.vec_id = p.vec_id
      |ORDER BY p.vec_id""".stripMargin

  // -------------------------------------------------------------------
  // q297: CONFORMAL OOD GATE — split-conformal novelty detection over
  // embeddings (Vovk et al.; the distribution-free acceptance gate an
  // ingest pipeline puts in front of a curated corpus): score = NN
  // similarity to the REFERENCE corpus; the CALIBRATION split sets
  // q̂ = the ⌈(n+1)(1−α)⌉-th largest calibration NN-dot (α = 0.1, so
  // ≤ ~10% of in-distribution items flag by construction — the
  // conformal guarantee); incoming items flag iff their NN-dot < q̂.
  // Every split is a COUNT-DERIVED fixed-size sample (round-11 fix:
  // the former % 2 reference BROADCAST HALF THE CORPUS into a BNLJ —
  // correct at sf0.1, over the 8 GB broadcast limit long before
  // 100× — now ref = % mRef = 0 with mRef = 2·max(1, n/2000) ≈ 1000
  // rows, cal/test = residues 1/3 of mCal = 2·mRef ≈ 500 rows each,
  // so the audit cost is flat in corpus size; at gate scales the
  // formulas evaluate to the old 2/4 and the output is bit-identical).
  // mRef EVEN and mCal = 2·mRef make the three splits provably
  // disjoint at EVERY n (ADVICE r11: the former independent
  // max(2, n/1000) / max(4, n/500) moduli aligned at in-between
  // corpus sizes — e.g. n ∈ [3000, 3500) gave mRef = 3, mCal = 6, and
  // the %6 = 3 test split was ENTIRELY inside the %3 = 0 reference, so
  // every test NN score was its own self-dot and the gate degenerated
  // to flag-rate ~0; now 1 and 3 are nonzero mod mRef by construction
  // — asserted for all n in OperatorsSpec). Exact:
  // pre-floored fixed-point dots (q268's argument), deterministic
  // rank pick (ties by point id — tied rows emit the same q̂). This
  // query is the brute-force measurement BASELINE; the production
  // 100 TB shape — corpus-scale reference served by the trained IVF
  // index, corpus-scale test stream, bounded calibration — is its
  // twin q321, whose conformal algebra is identical.
  // -------------------------------------------------------------------
  def q297ConformalOod(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    import org.apache.spark.sql.expressions.Window
    val nTot = emb(spark, dir).count()
    val mRef = 2L * math.max(1L, nTot / 2000L)
    val mCal = 2L * mRef
    val fl = emb(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(1e6)).cast("double")).as("v"))
    val ref = fl.filter(pmod(col("vec_id"), lit(mRef)) === 0)
      // never-binding limit (the q245 trick): the residue-0 class of
      // mRef = 2·max(1, n/2000) holds ≤ 2000 rows at ANY n (worst case
      // n = 3999, mRef = 2), so 4001 cannot bind — but it makes the
      // sample bound STRUCTURAL for PlanLint's recursive bounded(),
      // retiring this query's allowlist entry. ASSUMES vec_id is DENSE
      // 0..n-1 (the testdata contract — asserted against the
      // embeddings source in OperatorsSpec; ADVICE r12: a skewed id
      // space could overfill the class and make the limit bind)
      .limit(4001)
      .select(col("vec_id").as("rid"), col("v").as("rv"))
    def nn(points: DataFrame): DataFrame = points
      .join(broadcast(ref))
      .select(col("vec_id"), vec_dot(col("v"), col("rv")).as("dot"))
      .groupBy(col("vec_id")).agg(max(col("dot")).as("nn"))
    val cal = nn(fl.filter(pmod(col("vec_id"), lit(mCal)) === 1))
    val n = cal.groupBy().agg(count(lit(1)).as("n"))
    val w = Window.orderBy(desc("nn"), asc("vec_id"))
    val qhat = cal.crossJoin(broadcast(n))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") === expr("((n + 1) * 9 + 9) div 10"))
      .limit(1) // provably ≤1 row (the rank filter already is; this makes it structural for PlanLint)
      .select(col("nn").as("qhat"))
    nn(fl.filter(pmod(col("vec_id"), lit(mCal)) === 3))
      .crossJoin(broadcast(qhat))
      .select(col("vec_id"), col("nn").cast("long").as("nn_dot_q"),
        (col("nn") < col("qhat")).as("flagged"))
      .orderBy(asc("vec_id"))
  }
  val q297Sql: String =
    """WITH mods AS (
      |  SELECT 2 * GREATEST(1, COUNT(*) // 2000) AS m_ref,
      |    4 * GREATEST(1, COUNT(*) // 2000) AS m_cal
      |  FROM embeddings
      |), fl AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> FLOOR(CAST(x AS DOUBLE) * 1000000)) AS v
      |  FROM embeddings
      |), ref AS (SELECT vec_id AS rid, v AS rv FROM fl
      |  WHERE vec_id % (SELECT m_ref FROM mods) = 0
      |), caln AS (
      |  SELECT c.vec_id, MAX(list_sum(list_transform(list_zip(c.v, r.rv),
      |    p -> p[1] * p[2]))) AS nn
      |  FROM fl c JOIN ref r ON c.vec_id % (SELECT m_cal FROM mods) = 1
      |  GROUP BY 1
      |), k AS (
      |  SELECT ((CAST(COUNT(*) AS BIGINT) + 1) * 9 + 9) // 10 AS k FROM caln
      |), qh AS (
      |  SELECT nn AS qhat FROM (
      |    SELECT nn, ROW_NUMBER() OVER (ORDER BY nn DESC, vec_id) AS rn
      |    FROM caln)
      |  WHERE rn = (SELECT k FROM k)
      |), testn AS (
      |  SELECT t.vec_id, MAX(list_sum(list_transform(list_zip(t.v, r.rv),
      |    p -> p[1] * p[2]))) AS nn
      |  FROM fl t JOIN ref r ON t.vec_id % (SELECT m_cal FROM mods) = 3
      |  GROUP BY 1
      |)
      |SELECT vec_id, CAST(nn AS BIGINT) AS nn_dot_q,
      |  nn < (SELECT qhat FROM qh) AS flagged
      |FROM testn ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------
  // q321: CONFORMAL OOD GATE, IVF-ROUTED — q297's scale-safe twin and
  // the production 100 TB shape (the verdict-r10 missing rung): the
  // REFERENCE corpus (vec_id % 2 = 0, corpus-scale) is served by the
  // trained IVF coarse quantizer (q52's index — trainCentroids +
  // argmax cell assignment), so the NN score is an equi-join on the
  // cell id (shuffle-joinable at any scale, nothing corpus-sized is
  // ever broadcast) with each query probing its top-4 of 16 cells and
  // exact-rescoring ONLY in-cell candidates with the same pre-floored
  // fixed-point dots as q297. CALIBRATION is a count-derived
  // fixed-size sample (% (4·max(1, n/2000)) = 1 ≈ 500 rows — a labeled
  // holdout is model-sized by design, which is what keeps the
  // conformal rank window bounded; the modulus is always divisible by
  // 4, so the split is provably disjoint from both the %2 reference
  // and the %4=3 test stream at EVERY n — see conformalScoresOf); the
  // TEST stream is a constant
  // fraction (% 4 = 3) on purpose — incoming items are corpus-scale
  // in production and their path is linear (probe + in-cell rescore +
  // per-item max). The conformal algebra (q̂ = ⌈(n+1)(1−α)⌉-th
  // largest calibration score, α = 0.1) is IDENTICAL to q297 and
  // stays valid under approximate scores because cal and test use the
  // SAME score function (exchangeability is all the guarantee needs).
  // A query whose probed cells hold no reference vector scores the
  // -1e14 sentinel (maximally novel → flagged). Oracle: containment +
  // exact-bound (the q35/q52 discipline) — every emitted score is ≤
  // the exact NN dot AND a member of the query's true dot set, q̂ is
  // ≤ the exact conformal q̂ and a member of the calibration dot set,
  // flags replay from the emitted columns, coverage is exact, and an
  // NN-recall floor (emitted score = exact NN) certifies index
  // quality: measured 0.600 @ sf0.01 / 0.566 @ sf0.1 → floor 0.42
  // ≈ 0.75× the binding figure (rule 9; re-measure before changing
  // IVF params). Flag-rate sanity ≤ 25% + 2 (α = 10%; measured
  // 0.112 / 0.110 — approximate scores keep the guarantee because
  // cal and test share the score function).
  // -------------------------------------------------------------------
  def q321ConformalIvf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // quantizer training + cal/test scoring live in the memoized
    // conformalScoresOf chain, shared with q325 (round-12 dedup)
    val (cal, test) = conformalScoresOf(spark, dir)
    val n = cal.groupBy().agg(count(lit(1)).as("n"))
    val w = Window.orderBy(desc("nn"), asc("vec_id"))
    val qhat = cal.crossJoin(broadcast(n))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") === expr("((n + 1) * 9 + 9) div 10"))
      .limit(1) // ≤1 row by the rank filter; structural for PlanLint
      .select(col("nn").as("qhat"))
    test.crossJoin(broadcast(qhat))
      .select(col("vec_id"), col("nn").cast("long").as("nn_dot_q"),
        col("qhat").cast("long").as("qhat_q"),
        (col("nn") < col("qhat")).as("flagged"))
      .orderBy(asc("vec_id"))
  }
  val q321Sql: String =
    """WITH fl AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> FLOOR(CAST(x AS DOUBLE) * 1000000)) AS v
      |  FROM embeddings
      |), ref AS (SELECT vec_id AS rid, v AS rv FROM fl WHERE vec_id % 2 = 0
      |), mc AS (
      |  SELECT 4 * GREATEST(1, COUNT(*) // 2000) AS m FROM embeddings
      |), calp AS (
      |  SELECT c.vec_id, list_sum(list_transform(list_zip(c.v, r.rv),
      |    p -> p[1] * p[2])) AS d
      |  FROM fl c JOIN ref r ON c.vec_id % (SELECT m FROM mc) = 1
      |), caln AS (SELECT vec_id, MAX(d) AS nn FROM calp GROUP BY 1
      |), exk AS (
      |  SELECT ((CAST(COUNT(*) AS BIGINT) + 1) * 9 + 9) // 10 AS k FROM caln
      |), exq AS (
      |  SELECT nn AS qhat FROM (
      |    SELECT nn, ROW_NUMBER() OVER (ORDER BY nn DESC, vec_id) AS rn
      |    FROM caln)
      |  WHERE rn = (SELECT k FROM exk)
      |), tstp AS (
      |  SELECT t.vec_id, list_sum(list_transform(list_zip(t.v, r.rv),
      |    p -> p[1] * p[2])) AS d
      |  FROM fl t JOIN ref r ON t.vec_id % 4 = 3
      |), tstn AS (SELECT vec_id, MAX(d) AS nn FROM tstp GROUP BY 1
      |), g AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/q321_conformal_ivf/*.parquet')
      |)
      |SELECT g.vec_id, g.nn_dot_q, g.qhat_q, g.flagged
      |FROM g JOIN tstn x ON x.vec_id = g.vec_id
      |WHERE g.nn_dot_q <= x.nn
      |  AND (g.nn_dot_q = -100000000000000 OR EXISTS (
      |    SELECT 1 FROM tstp p WHERE p.vec_id = g.vec_id AND p.d = g.nn_dot_q))
      |  AND g.flagged = (g.nn_dot_q < g.qhat_q)
      |  AND g.qhat_q <= (SELECT qhat FROM exq)
      |  AND (g.qhat_q = -100000000000000 OR EXISTS (
      |    SELECT 1 FROM calp p WHERE p.d = g.qhat_q))
      |  AND (SELECT COUNT(*) FROM g) = (SELECT COUNT(*) FROM tstn)
      |  AND (SELECT COUNT(*) FROM g g2
      |       JOIN tstn t2 ON t2.vec_id = g2.vec_id AND g2.nn_dot_q = t2.nn)
      |    >= CAST(0.42 * (SELECT COUNT(*) FROM tstn) AS BIGINT)
      |  AND (SELECT COUNT(*) FROM g g3 WHERE g3.flagged)
      |    <= (SELECT COUNT(*) FROM g) // 4 + 2
      |UNION ALL SELECT -1, -1, -1, false WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q321_conformal_ivf/*.parquet')) = 0
      |ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------
  // q322: DBSCAN ROLES, CELL-BLOCKED — q314's scale-safe twin over the
  // FULL corpus: neighbor candidates come only from the trained
  // coarse-quantizer cell (Similarity.dbscanCellRoles — the
  // semanticDedup blocking discipline: cells follow the corpus at
  // max(16, n/500), so the pair volume is ~500·n, corpus-linear, and
  // an overfull cell is dropped by the maxCell census guard, never
  // handed to an O(m²) reducer; 3 seeded grids union their candidate
  // pairs — one grid keeps only ~0.18 of true ≥θ pairs on this
  // weakly-clustered corpus, three keep ~0.45). Same eps as q314
  // (floored-dot cosine ≥ 0.25); minPts = max(3, n/80), kept
  // IDENTICAL between the emitted and the exact-oracle side so the
  // one-sided theorems hold. Role mix measured non-degenerate at both
  // gate scales (sf0.01: 210 core / 260 border / 30 noise; sf0.1:
  // 216 / 1650 / 134). Oracle: exact full-n² ground truth in DuckDB —
  // every emitted count ≤ the exact count, role replay
  // (core ⟺ n_nb ≥ minPts from the emitted count), every emitted
  // border has a true core among its TRUE neighbors (one-sided role
  // soundness: approx-core ⊆ exact-core), coverage = n, and two
  // recall floors: pair mass ≥ 0.31× exact (measured 0.451/0.415 at
  // sf0.01/sf0.1 — rule 9's 0.75× on the binding scale) and emitted
  // cores ≥ 0.08× the exact cores at the same minPts (measured
  // 0.436/0.108 — low at sf0.1 because minPts=25 makes nearly every
  // point an exact core there while blocked counts run ~0.42× exact;
  // the floor still catches a collapsed-core regression).
  // -------------------------------------------------------------------
  def q322DbscanCells(spark: SparkSession, dir: String): DataFrame = {
    val minPts = math.max(3L, emb(spark, dir).count() / 80L)
    // the last (grids = 3) prefix of the memoized all-prefix role fold
    // over the memoized 3-grid disjoint pair build, both shared with
    // q324's operating curve
    dbscanRolesOf(spark, dir, minPts)
      .select(col("id").as("vec_id"), col("n_nb_3").as("n_nb"),
        col("role_3").as("role"))
      .orderBy(asc("vec_id"))
  }
  val q322Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> FLOOR(CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) * 1000000)) AS v
      |  FROM embeddings
      |), mp AS (
      |  SELECT GREATEST(3, COUNT(*) // 80) AS m, COUNT(*) AS n FROM embeddings
      |), exn AS (
      |  SELECT a.vec_id, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM nv a JOIN nv b ON a.vec_id != b.vec_id
      |  WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
      |    >= 250000000000
      |  GROUP BY 1
      |), pts AS (
      |  SELECT nv.vec_id, COALESCE(exn.c, 0) AS exc
      |  FROM nv LEFT JOIN exn ON exn.vec_id = nv.vec_id
      |), excore AS (
      |  SELECT vec_id FROM pts WHERE exc >= (SELECT m FROM mp)
      |), g AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/q322_dbscan_cells/*.parquet')
      |)
      |SELECT g.vec_id, g.n_nb, g.role
      |FROM g JOIN pts p ON p.vec_id = g.vec_id
      |WHERE g.n_nb <= p.exc
      |  AND (g.role = 'core') = (g.n_nb >= (SELECT m FROM mp))
      |  AND (g.role != 'border' OR EXISTS (
      |    SELECT 1 FROM nv a JOIN nv b ON a.vec_id = g.vec_id
      |      AND b.vec_id != a.vec_id
      |    JOIN excore c ON c.vec_id = b.vec_id
      |    WHERE list_sum(list_transform(list_zip(a.v, b.v),
      |      p -> p[1] * p[2])) >= 250000000000))
      |  AND (SELECT COUNT(*) FROM g) = (SELECT n FROM mp)
      |  AND (SELECT SUM(n_nb) FROM g)
      |    >= CAST(0.31 * (SELECT SUM(exc) FROM pts) AS BIGINT)
      |  AND (SELECT COUNT(*) FROM g g2 WHERE g2.role = 'core')
      |    >= CAST(0.08 * (SELECT COUNT(*) FROM excore) AS BIGINT)
      |UNION ALL SELECT -1, -1, 'none' WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q322_dbscan_cells/*.parquet')) = 0
      |ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------------
  // q323: HUBNESS TOP HUBS FROM THE kNN GRAPH — q290's scale-safe twin
  // over the FULL corpus: the reverse-kNN in-degree audit runs on the
  // NN-descent graph the pipeline already builds (q234's exact
  // operator and params — corpus-linear by construction: ring-paired
  // init, k-capped reverse edges, candidate-bounded descent), so
  // hubness costs one groupBy(dst) + a top-20 TakeOrdered on top of
  // the graph — no all-pairs term anywhere. Output: the top-20 hub
  // points by graph in-degree (ties by vec_id). Oracle (containment +
  // structure + overlap floor, the q234 discipline): exactly 20
  // distinct rows, ranks 1..20 consecutive with non-increasing
  // in-degree, every in-degree in [1, n], and ≥ 12 of the 20 emitted
  // hubs must lie in the EXACT TOP-DECILE-with-ties hub pool (the
  // n/10-th largest exact in-degree, ties included) recomputed by
  // full brute force in DuckDB. The pool is rank-PROPORTIONAL and
  // tie-widened because the in-degree domain is narrow (max exact
  // in-degree ≈ 20-21 at gate scales): a fixed top-60 pool measured
  // 19/20 at sf0.01 but 7/20 at sf0.1 purely from tie-band narrowing,
  // while the decile pool reads 16/20 at BOTH scales → floor 12 =
  // 0.75×, rule 9.
  // -------------------------------------------------------------------
  def q323HubnessGraph(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = knnGraphOf(spark, dir) // memoized — shared with q234
    g.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
      .orderBy(desc("indeg"), asc("dst")).limit(20)
      .withColumn("rank", row_number().over( // 20-row frame: bounded window
        Window.orderBy(desc("indeg"), asc("dst"))).cast("long"))
      .select(col("rank"), col("dst").as("vec_id"), col("indeg"))
      .orderBy(asc("rank"))
  }
  val q323Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), rk AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_sum(list_transform(list_zip(a.v, b.v),
      |        p -> p[1] * p[2])) DESC, b.vec_id) AS rnk
      |  FROM nv a JOIN nv b ON a.vec_id != b.vec_id
      |), ind AS (
      |  SELECT ib, CAST(COUNT(*) AS BIGINT) AS ideg
      |  FROM rk WHERE rnk <= 10 GROUP BY 1
      |), thr AS (
      |  SELECT ideg FROM (
      |    SELECT ideg, ROW_NUMBER() OVER (ORDER BY ideg DESC) AS rn FROM ind)
      |  WHERE rn = (SELECT COUNT(*) // 10 FROM embeddings)
      |), pool AS (
      |  SELECT ib FROM ind WHERE ideg >= (SELECT ideg FROM thr)
      |), g AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/q323_hubness_graph/*.parquet')
      |), chk AS (
      |  SELECT rank, vec_id, indeg,
      |    LAG(rank) OVER (ORDER BY rank) AS prank,
      |    LAG(indeg) OVER (ORDER BY rank) AS pind
      |  FROM g
      |)
      |SELECT c.rank, c.vec_id, c.indeg
      |FROM chk c
      |WHERE c.indeg >= 1 AND c.indeg <= (SELECT COUNT(*) FROM nv)
      |  AND (c.rank = 1 OR (c.prank = c.rank - 1 AND c.pind >= c.indeg))
      |  AND (SELECT COUNT(*) FROM g) = 20
      |  AND (SELECT COUNT(DISTINCT vec_id) FROM g) = 20
      |  AND (SELECT COUNT(*) FROM g gg JOIN pool ON pool.ib = gg.vec_id) >= 12
      |UNION ALL SELECT -1, -1, -1 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q323_hubness_graph/*.parquet')) = 0
      |ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // q326: kNN-GRAPH ROUNDS OPERATING CURVE — recall vs NN-descent
  // rounds for the q234 graph (the last index family without a
  // published cost-vs-recall table; verdict r11 item 6): element r of
  // the memoized knnCurveOf build is the graph after r descent rounds
  // (r = 0 is the scored multi-grid + hash init), so the whole curve
  // costs ONE build shared with q234/q323 — the intermediates are the
  // lazy per-round checkpoints the descent loop materializes anyway.
  // Monotonicity is a zero-slack THEOREM, not a floor: round r+1's
  // candidate set CONTAINS round r's selected edges (und ⊆ cand), and
  // a true-top-10 edge can never be displaced from a top-10 selection
  // (at most 9 candidates outrank it in ANY candidate superset, under
  // the same desc(cos), asc(dst) tie order the oracle replays), so
  // per-node — hence total — true-edge hits are non-decreasing in
  // rounds. The oracle asserts that with zero slack, plus q234's
  // per-row exactness (cosine within 1e-5 of the recomputed dot,
  // 1..10 rank chains), per-round full-corpus coverage, and measured
  // recall floors (rule 9): hits/true-edges read 0.471/0.482 at
  // rounds 0, 0.656/0.581 at rounds 1, 0.777/0.635 at rounds 2
  // (sf0.01/sf0.1) → floors 0.35 (init) and 0.47 (final, q234's own)
  // at 0.75× the binding scale — re-measure before changing
  // grids/width/rounds. The curve is the table a 100 TB pipeline reads to decide
  // whether another synchronous descent round (a full extra
  // candidate-join pass over the corpus) buys its recall delta.
  // -------------------------------------------------------------------
  def q326KnnRoundsCurve(spark: SparkSession, dir: String): DataFrame = {
    val curve = knnCurveOf(spark, dir) // memoized — shared with q234/q323
    curve.zipWithIndex.map { case (g, r) =>
      g.select(lit(r.toLong).as("rounds"), col("src"), col("dst"),
        col("rank"), round(col("cosine"), 6).as("cosine_r"))
    }.reduce(_.unionAll(_))
      .orderBy(asc("rounds"), asc("src"), asc("rank"))
  }
  val q326Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), g AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/q326_knn_rounds_curve/*.parquet')
      |), ex AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_sum(list_transform(list_zip(a.v, b.v),
      |        p -> p[1] * p[2])) DESC, b.vec_id) AS rnk
      |  FROM nv a JOIN nv b ON a.vec_id != b.vec_id
      |), tru AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ex WHERE rnk <= 10
      |), hit AS (
      |  SELECT gg.rounds, CAST(COUNT(*) AS BIGINT) AS h
      |  FROM g gg JOIN ex ON ex.src = gg.src AND ex.dst = gg.dst
      |    AND ex.rnk <= 10
      |  GROUP BY 1
      |), chk AS (
      |  SELECT rounds, src, dst, rank, cosine_r,
      |    LAG(rank) OVER (PARTITION BY rounds, src ORDER BY rank) AS prnk,
      |    LAG(cosine_r) OVER (PARTITION BY rounds, src ORDER BY rank) AS pc
      |  FROM g
      |)
      |SELECT c.rounds, c.src, c.dst, c.rank, c.cosine_r
      |FROM chk c
      |JOIN nv a ON a.vec_id = c.src
      |JOIN nv b ON b.vec_id = c.dst
      |WHERE ABS(list_sum(list_transform(list_zip(a.v, b.v),
      |        p -> p[1] * p[2])) - c.cosine_r) < 1e-5
      |  AND c.rank BETWEEN 1 AND 10
      |  AND (c.rank = 1 OR (c.prnk = c.rank - 1 AND c.pc >= c.cosine_r - 1e-5))
      |  AND (SELECT COUNT(DISTINCT rounds) FROM g) = 3
      |  AND (SELECT COUNT(*) FROM (SELECT DISTINCT rounds, src FROM g))
      |    = 3 * (SELECT COUNT(*) FROM nv)
      |  AND (SELECT h FROM hit WHERE rounds = 0)
      |    <= (SELECT h FROM hit WHERE rounds = 1)
      |  AND (SELECT h FROM hit WHERE rounds = 1)
      |    <= (SELECT h FROM hit WHERE rounds = 2)
      |  AND (SELECT h FROM hit WHERE rounds = 0)
      |    >= CAST(0.35 * (SELECT t FROM tru) AS BIGINT)
      |  AND (SELECT h FROM hit WHERE rounds = 2)
      |    >= CAST(0.47 * (SELECT t FROM tru) AS BIGINT)
      |UNION ALL SELECT -1, -1, -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q326_knn_rounds_curve/*.parquet')) = 0
      |ORDER BY rounds, src, rank""".stripMargin

  // -------------------------------------------------------------------
  // q327: kNN-GRAPH INIT-WIDTH OPERATING CURVE — the LAST dial of the
  // index family without a published cost-vs-recall table (nprobe is
  // q248, blocking grids q324, conformal α q325, descent rounds q326):
  // recall of the ROUND-0 graph as the ring init width sweeps
  // 8 → 32 → 96 (grids/seeds fixed at q234's 4). Width w's candidate
  // set per node CONTAINS width w′ < w's by construction — same grids,
  // same hash-ordered rings, ring offsets 1..w′ ⊆ 1..w, identical hash
  // init — so true-edge hits are NON-DECREASING in width with ZERO
  // slack (the q326 displacement argument on nested inits), and the
  // oracle asserts it as a theorem. Init volume is the 100 TB cost
  // dial: candidate pairs ≈ n·(2·grids·w + 8), linear in both n and w
  // (the operator default w = 8 is the corpus-scale setting; the gate
  // buys recall with width at ITS scale — PERF's width-sweep lesson,
  // now oracle-gated). Width 96 reuses the memoized knnCurveOf
  // element 0 (q234/q326's build); widths 8/32 are init-only builds
  // (rounds = 0 — cheap, no descent join). Measured hits/true-edges:
  // 0.221/0.066 at w=8, 0.461/0.226 at w=32, 0.471/0.482 at w=96
  // (sf0.01/sf0.1 — the w=8 recall DROPS with corpus size because a
  // fixed ring width covers a shrinking fraction of the growing
  // E[cell] = n/16; that scale sensitivity is exactly what the curve
  // publishes, and why the operator pairs the narrow production width
  // with descent rounds) → floors 0.045 (w=8, 0.75× the sf0.1
  // binding figure) and 0.35 (w=96, q326's rounds-0 floor) per
  // rule 9; re-measure before changing grids/k. The MONOTONICITY
  // theorem is the real gate — the floors only catch collapse.
  // The 8/32 init builds run inline: no other query reads them, so a
  // memo would only hold them.
  // Per-row exactness, rank chains, and per-width full coverage are
  // q234's oracle discipline.
  // -------------------------------------------------------------------
  def q327KnnWidthCurve(spark: SparkSession, dir: String): DataFrame = {
    def pub(g: DataFrame, w: Long): DataFrame =
      g.select(lit(w).as("width"), col("src"), col("dst"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
    val small = Seq(8, 32).map { w =>
      val init = Similarity.knnGraphDescentCurve(emb(spark, dir),
        "vec_id", "embedding", k = 10, numCells = 16, dim = 64,
        grids = 4, rounds = 0, initWidth = w).head
      pub(init, w.toLong)
    }
    val w96 = pub(knnCurveOf(spark, dir).head, 96L) // memoized — q234's build
    (small :+ w96).reduce(_.unionAll(_))
      .orderBy(asc("width"), asc("src"), asc("rank"))
  }
  val q327Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), g AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/q327_knn_width_curve/*.parquet')
      |), ex AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_sum(list_transform(list_zip(a.v, b.v),
      |        p -> p[1] * p[2])) DESC, b.vec_id) AS rnk
      |  FROM nv a JOIN nv b ON a.vec_id != b.vec_id
      |), tru AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ex WHERE rnk <= 10
      |), hit AS (
      |  SELECT gg.width, CAST(COUNT(*) AS BIGINT) AS h
      |  FROM g gg JOIN ex ON ex.src = gg.src AND ex.dst = gg.dst
      |    AND ex.rnk <= 10
      |  GROUP BY 1
      |), chk AS (
      |  SELECT width, src, dst, rank, cosine_r,
      |    LAG(rank) OVER (PARTITION BY width, src ORDER BY rank) AS prnk,
      |    LAG(cosine_r) OVER (PARTITION BY width, src ORDER BY rank) AS pc
      |  FROM g
      |)
      |SELECT c.width, c.src, c.dst, c.rank, c.cosine_r
      |FROM chk c
      |JOIN nv a ON a.vec_id = c.src
      |JOIN nv b ON b.vec_id = c.dst
      |WHERE ABS(list_sum(list_transform(list_zip(a.v, b.v),
      |        p -> p[1] * p[2])) - c.cosine_r) < 1e-5
      |  AND c.rank BETWEEN 1 AND 10
      |  AND (c.rank = 1 OR (c.prnk = c.rank - 1 AND c.pc >= c.cosine_r - 1e-5))
      |  AND (SELECT COUNT(DISTINCT width) FROM g) = 3
      |  AND (SELECT COUNT(*) FROM (SELECT DISTINCT width, src FROM g))
      |    = 3 * (SELECT COUNT(*) FROM nv)
      |  AND (SELECT h FROM hit WHERE width = 8)
      |    <= (SELECT h FROM hit WHERE width = 32)
      |  AND (SELECT h FROM hit WHERE width = 32)
      |    <= (SELECT h FROM hit WHERE width = 96)
      |  AND (SELECT h FROM hit WHERE width = 8)
      |    >= CAST(0.045 * (SELECT t FROM tru) AS BIGINT)
      |  AND (SELECT h FROM hit WHERE width = 96)
      |    >= CAST(0.35 * (SELECT t FROM tru) AS BIGINT)
      |UNION ALL SELECT -1, -1, -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q327_knn_width_curve/*.parquet')) = 0
      |ORDER BY width, src, rank""".stripMargin

  // -------------------------------------------------------------------
  // q324: BLOCKING OPERATING CURVE — pair-mass recall and role counts
  // of the cell-blocked density audit (q322's operator) as the grid
  // count sweeps 1 → 3: the table a pipeline reads to decide how many
  // seeded quantizer grids the candidate-generation budget buys (the
  // q248 recall-vs-nprobe discipline applied to blocking). Seeds are
  // a PREFIX chain (grids=g uses seeds 42, 49, …, 42+7(g−1)), so the
  // candidate sets are NESTED and three monotonicity claims are
  // THEOREMS the oracle asserts with zero slack: pair mass and core
  // count non-decreasing in grids, noise count non-increasing (more
  // found pairs ⇒ counts only grow ⇒ cores only appear ⇒ core
  // neighborhoods only grow). One-sided exact bounds per row (mass ≤
  // exact total, cores ≤ exact cores — the q322 theorems), plus
  // measured floors: single-grid mass ≥ 0.12× exact (measured
  // 0.180/0.164 at sf0.01/sf0.1 — 0.75× the binding figure), three-
  // grid ≥ 0.31× (q322's own floor, measured 0.451/0.415). The sf0.1
  // single-grid row legitimately reads n_core = 0 (blocked counts top
  // out below minPts=25) — the curve is the evidence that one grid is
  // not enough, which is the point of publishing it.
  // -------------------------------------------------------------------
  def q324BlockingCurve(spark: SparkSession, dir: String): DataFrame = {
    val minPts = math.max(3L, emb(spark, dir).count() / 80L)
    // the grids = g row aggregates prefix g of the memoized all-prefix
    // role fold (q322 pays for it): seeds are a prefix chain and
    // first-finder-wins emission makes the prefix-g pair union exactly
    // a grids = g run's survivor set, so the whole curve is one global
    // aggregate over the checkpointed fold
    val rows = Seq(1, 2, 3).map { g =>
      struct(lit(g.toLong).as("grids"),
        sum(col(s"n_nb_$g")).as("pair_mass"),
        sum(when(col(s"role_$g") === "core", 1L).otherwise(0L)).as("n_core"),
        sum(when(col(s"role_$g") === "noise", 1L).otherwise(0L)).as("n_noise"))
    }
    dbscanRolesOf(spark, dir, minPts)
      .agg(array(rows: _*).as("curve"))
      .select(explode(col("curve")).as("r"))
      .select(col("r.grids"), col("r.pair_mass"), col("r.n_core"),
        col("r.n_noise"))
      .orderBy(asc("grids"))
  }
  val q324Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> FLOOR(CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) * 1000000)) AS v
      |  FROM embeddings
      |), mp AS (
      |  SELECT GREATEST(3, COUNT(*) // 80) AS m FROM embeddings
      |), exn AS (
      |  SELECT a.vec_id, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM nv a JOIN nv b ON a.vec_id != b.vec_id
      |  WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
      |    >= 250000000000
      |  GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS mass,
      |    CAST(SUM(CASE WHEN c >= (SELECT m FROM mp) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_core
      |  FROM exn
      |), g AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/q324_blocking_curve/*.parquet')
      |), chk AS (
      |  SELECT grids, pair_mass, n_core, n_noise,
      |    LAG(pair_mass) OVER (ORDER BY grids) AS pm_prev,
      |    LAG(n_core) OVER (ORDER BY grids) AS nc_prev,
      |    LAG(n_noise) OVER (ORDER BY grids) AS nn_prev
      |  FROM g
      |)
      |SELECT c.grids, c.pair_mass, c.n_core, c.n_noise
      |FROM chk c
      |WHERE c.pair_mass <= (SELECT mass FROM tot)
      |  AND c.n_core <= (SELECT n_core FROM tot)
      |  AND (c.pm_prev IS NULL OR c.pm_prev <= c.pair_mass)
      |  AND (c.nc_prev IS NULL OR c.nc_prev <= c.n_core)
      |  AND (c.nn_prev IS NULL OR c.nn_prev >= c.n_noise)
      |  AND (SELECT COUNT(*) FROM g) = 3
      |  AND (SELECT pair_mass FROM g WHERE grids = 1)
      |    >= CAST(0.12 * (SELECT mass FROM tot) AS BIGINT)
      |  AND (SELECT pair_mass FROM g WHERE grids = 3)
      |    >= CAST(0.31 * (SELECT mass FROM tot) AS BIGINT)
      |UNION ALL SELECT -1, -1, -1, -1 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q324_blocking_curve/*.parquet')) = 0
      |ORDER BY grids""".stripMargin

  // -------------------------------------------------------------------
  // q325: CONFORMAL OPERATING CURVE — the q321 IVF-routed gate swept
  // over α ∈ {5%, 10%, 20%} on ONE set of scores (the q248 discipline
  // applied to the conformal dial: α is the advertised false-flag
  // budget, and this table certifies what each budget actually flags).
  // The calibration and test score frames are computed ONCE
  // (localCheckpointed — rule 16, and the α sweep is pure threshold
  // algebra on top); q̂_α = the ⌈(n+1)(1−α)⌉-th largest calibration
  // score per α. Because all three alphas share the SAME scores, two
  // monotonicity claims are THEOREMS asserted with zero slack:
  // q̂ non-decreasing in α (smaller rank index = larger order
  // statistic) and flag count non-decreasing in α. Per-row exactness
  // is q321's oracle verbatim, per α: score ≤ exact NN AND a member
  // of the true dot set, q̂_α ≤ the exact q̂_α, flags replay.
  // Flag-rate budget per α: ≤ 2.5α·n + 2 (measured 0.072/0.062 at
  // α=5%, 0.112/0.110 at 10%, 0.224/0.182 at 20% — every rate within
  // ~1.4× its advertised α, well inside the 2.5× budget).
  // -------------------------------------------------------------------
  def q325ConformalCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE score set, shared with q321 via the memoized chain (the
    // frames are eager checkpoints — the α sweep is pure threshold
    // algebra on top, and the two queries share the score function BY
    // CONSTRUCTION, so they cannot drift under param changes)
    val (cal, test) = conformalScoresOf(spark, dir)
    val n = cal.groupBy().agg(count(lit(1)).as("n"))
    val w = Window.orderBy(desc("nn"), asc("vec_id"))
    val alphas = Seq(
      (5L, "((n + 1) * 19 + 19) div 20"),
      (10L, "((n + 1) * 9 + 9) div 10"),
      (20L, "((n + 1) * 4 + 4) div 5"))
    alphas.map { case (aPct, kExpr) =>
      val qhat = cal.crossJoin(broadcast(n))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") === expr(kExpr))
        .limit(1) // ≤1 row by the rank filter; structural for PlanLint
        .select(col("nn").as("qhat"))
      test.crossJoin(broadcast(qhat))
        .select(lit(aPct).as("alpha_pct"), col("vec_id"),
          col("nn").cast("long").as("nn_dot_q"),
          col("qhat").cast("long").as("qhat_q"),
          (col("nn") < col("qhat")).as("flagged"))
    }.reduce(_.unionAll(_)).orderBy(asc("alpha_pct"), asc("vec_id"))
  }
  val q325Sql: String =
    """WITH fl AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> FLOOR(CAST(x AS DOUBLE) * 1000000)) AS v
      |  FROM embeddings
      |), ref AS (SELECT vec_id AS rid, v AS rv FROM fl WHERE vec_id % 2 = 0
      |), mc AS (
      |  SELECT 4 * GREATEST(1, COUNT(*) // 2000) AS m FROM embeddings
      |), calp AS (
      |  SELECT c.vec_id, list_sum(list_transform(list_zip(c.v, r.rv),
      |    p -> p[1] * p[2])) AS d
      |  FROM fl c JOIN ref r ON c.vec_id % (SELECT m FROM mc) = 1
      |), caln AS (SELECT vec_id, MAX(d) AS nn FROM calp GROUP BY 1
      |), calr AS (
      |  SELECT nn, ROW_NUMBER() OVER (ORDER BY nn DESC, vec_id) AS rn,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM caln) AS n
      |  FROM caln
      |), exq AS (
      |  SELECT 5 AS a, nn AS qh FROM calr WHERE rn = ((n + 1) * 19 + 19) // 20
      |  UNION ALL
      |  SELECT 10, nn FROM calr WHERE rn = ((n + 1) * 9 + 9) // 10
      |  UNION ALL
      |  SELECT 20, nn FROM calr WHERE rn = ((n + 1) * 4 + 4) // 5
      |), tstp AS (
      |  SELECT t.vec_id, list_sum(list_transform(list_zip(t.v, r.rv),
      |    p -> p[1] * p[2])) AS d
      |  FROM fl t JOIN ref r ON t.vec_id % 4 = 3
      |), tstn AS (SELECT vec_id, MAX(d) AS nn FROM tstp GROUP BY 1
      |), g AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/q325_conformal_curve/*.parquet')
      |), fa AS (
      |  SELECT alpha_pct, CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END)
      |    AS BIGINT) AS nf, MAX(qhat_q) AS qh
      |  FROM g GROUP BY 1
      |)
      |SELECT g.alpha_pct, g.vec_id, g.nn_dot_q, g.qhat_q, g.flagged
      |FROM g JOIN tstn x ON x.vec_id = g.vec_id
      |JOIN exq e ON e.a = g.alpha_pct
      |WHERE g.nn_dot_q <= x.nn
      |  AND (g.nn_dot_q = -100000000000000 OR EXISTS (
      |    SELECT 1 FROM tstp p WHERE p.vec_id = g.vec_id AND p.d = g.nn_dot_q))
      |  AND g.flagged = (g.nn_dot_q < g.qhat_q)
      |  AND g.qhat_q <= e.qh
      |  AND (g.qhat_q = -100000000000000 OR EXISTS (
      |    SELECT 1 FROM calp p WHERE p.d = g.qhat_q))
      |  AND (SELECT COUNT(*) FROM g) = 3 * (SELECT COUNT(*) FROM tstn)
      |  AND (SELECT COUNT(DISTINCT alpha_pct) FROM g) = 3
      |  AND (SELECT qh FROM fa WHERE alpha_pct = 5)
      |    <= (SELECT qh FROM fa WHERE alpha_pct = 10)
      |  AND (SELECT qh FROM fa WHERE alpha_pct = 10)
      |    <= (SELECT qh FROM fa WHERE alpha_pct = 20)
      |  AND (SELECT nf FROM fa WHERE alpha_pct = 5)
      |    <= (SELECT nf FROM fa WHERE alpha_pct = 10)
      |  AND (SELECT nf FROM fa WHERE alpha_pct = 10)
      |    <= (SELECT nf FROM fa WHERE alpha_pct = 20)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM fa WHERE nf * 1000
      |      > alpha_pct * 25 * (SELECT COUNT(*) FROM tstn) + 2000)
      |  AND (SELECT COUNT(*) FROM g g2
      |       JOIN tstn t2 ON t2.vec_id = g2.vec_id AND g2.nn_dot_q = t2.nn
      |       WHERE g2.alpha_pct = 10)
      |    >= CAST(0.42 * (SELECT COUNT(*) FROM tstn) AS BIGINT)
      |UNION ALL SELECT -1, -1, -1, -1, false WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q325_conformal_curve/*.parquet')) = 0
      |ORDER BY alpha_pct, vec_id""".stripMargin

  // -------------------------------------------------------------------
  // q268: MATRYOSHKA / DIMENSION-TRUNCATION RECALL — the dimension-
  // ablation table an embedding-storage decision reads (Kusupati et
  // al. 2022: if the first k dims retain recall, store/serve k dims
  // and cut index bytes proportionally — the same budget question the
  // JL q152 / int8 q119 / 1-bit q240 rungs answer for other axes):
  // exact top-10 cosine under the FULL 64 dims vs under prefix
  // truncations (8/16/32 dims), recall@10 per truncation. EXACT:
  // every element pre-floors to fixed point (floor(x·1e6) — int64 in
  // double, products ≤1e12, 64-term sums ≤6.4e13 ≪ 2^53, so the
  // codegen'd VecDot double accumulation is exact), ranking ties
  // break by cand_id — a total order both engines replay bit-for-bit.
  // Shape: probes (vec_id % 50 = 0) broadcast, candidates stream
  // map-side; ONE pair join computes all four dots (the truncated
  // prefixes ride the same row — no second scan, no second shuffle);
  // per-dim ranks are probe-bounded windows, the recall fold is a
  // 3-row aggregate.
  // -------------------------------------------------------------------
  def q268MatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    import org.apache.spark.sql.expressions.Window
    val fl = emb(spark, dir).select(col("vec_id"),
      // one map-only pass per vector (interpreted HOF off the per-pair
      // hot path, the q119 precedent); floored values are integers —
      // exact in double
      transform(col("embedding"),
        // floor returns long; back to double for the codegen VecDot
        // (integer values ≤1e6 are exact in double)
        x => floor(x.cast("double") * lit(1e6)).cast("double")).as("f"))
    val q = fl.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("query_id"), col("f").as("qf"))
    val pairs = fl.select(col("vec_id").as("cand_id"), col("f").as("cf"))
      .join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        vec_dot(col("qf"), col("cf")).cast("long").as("d64"),
        vec_dot(slice(col("qf"), 1, 32), slice(col("cf"), 1, 32))
          .cast("long").as("d32"),
        vec_dot(slice(col("qf"), 1, 16), slice(col("cf"), 1, 16))
          .cast("long").as("d16"),
        vec_dot(slice(col("qf"), 1, 8), slice(col("cf"), 1, 8))
          .cast("long").as("d8"))
      .persist()
    def top10(dcol: String) = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(desc(dcol), asc("cand_id"))
      pairs.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("cand_id"))
    }
    val full = top10("d64")
    val out = Seq(("d8", 8L), ("d16", 16L), ("d32", 32L)).map {
      case (dcol, dim) =>
        top10(dcol).join(full, Seq("query_id", "cand_id"))
          .agg(countDistinct(col("query_id")).as("n_queries_hit"),
            count(lit(1)).as("n_hits"))
          .select(lit(dim).as("trunc_dim"), col("n_queries_hit"),
            col("n_hits"))
    }.reduce(_ union _)
    val nq = q.count()
    val r = out
      .withColumn("n_queries", lit(nq))
      .withColumn("recall_fx",
        expr("(n_hits * 1000000L) div (n_queries * 10L)"))
      .select(col("trunc_dim"), col("n_queries"), col("n_queries_hit"),
        col("n_hits"), col("recall_fx"))
      .orderBy(asc("trunc_dim"))
      .localCheckpoint(true)
    pairs.unpersist()
    r
  }
  val q268Sql: String =
    """WITH fl AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> FLOOR(CAST(x AS DOUBLE) * 1000000)) AS f
      |  FROM embeddings
      |), pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    CAST(list_sum(list_transform(list_zip(q.f, c.f),
      |      p -> p[1] * p[2])) AS BIGINT) AS d64,
      |    CAST(list_sum(list_transform(list_zip(q.f[1:32], c.f[1:32]),
      |      p -> p[1] * p[2])) AS BIGINT) AS d32,
      |    CAST(list_sum(list_transform(list_zip(q.f[1:16], c.f[1:16]),
      |      p -> p[1] * p[2])) AS BIGINT) AS d16,
      |    CAST(list_sum(list_transform(list_zip(q.f[1:8], c.f[1:8]),
      |      p -> p[1] * p[2])) AS BIGINT) AS d8
      |  FROM fl q JOIN fl c ON q.vec_id % 50 = 0 AND q.vec_id != c.vec_id
      |), t64 AS (
      |  SELECT query_id, cand_id FROM (
      |    SELECT query_id, cand_id, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY d64 DESC, cand_id) AS rn FROM pairs) WHERE rn <= 10
      |), tt AS (
      |    SELECT 8 AS trunc_dim, t.query_id, t.cand_id,
      |      f.cand_id AS hit FROM (
      |      SELECT query_id, cand_id, ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY d8 DESC, cand_id) AS rn FROM pairs) t
      |      LEFT JOIN t64 f ON f.query_id = t.query_id AND f.cand_id = t.cand_id
      |      WHERE t.rn <= 10
      |    UNION ALL
      |    SELECT 16, t.query_id, t.cand_id, f.cand_id FROM (
      |      SELECT query_id, cand_id, ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY d16 DESC, cand_id) AS rn FROM pairs) t
      |      LEFT JOIN t64 f ON f.query_id = t.query_id AND f.cand_id = t.cand_id
      |      WHERE t.rn <= 10
      |    UNION ALL
      |    SELECT 32, t.query_id, t.cand_id, f.cand_id FROM (
      |      SELECT query_id, cand_id, ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY d32 DESC, cand_id) AS rn FROM pairs) t
      |      LEFT JOIN t64 f ON f.query_id = t.query_id AND f.cand_id = t.cand_id
      |      WHERE t.rn <= 10
      |), hits AS (
      |  SELECT trunc_dim,
      |    COUNT(DISTINCT CASE WHEN hit IS NOT NULL THEN query_id END)
      |      AS n_queries_hit,
      |    CAST(COUNT(hit) AS BIGINT) AS n_hits
      |  FROM tt GROUP BY trunc_dim
      |)
      |SELECT CAST(trunc_dim AS BIGINT) AS trunc_dim,
      |  (SELECT COUNT(*) FROM fl WHERE vec_id % 50 = 0) AS n_queries,
      |  n_queries_hit, n_hits,
      |  (n_hits * 1000000) //
      |    ((SELECT COUNT(*) FROM fl WHERE vec_id % 50 = 0) * 10) AS recall_fx
      |FROM hits
      |ORDER BY trunc_dim""".stripMargin

  // -------------------------------------------------------------------
  // q240: 1-BIT SIGN-QUANTIZED Hamming ANN — the cheapest rung of the
  // ladder (brute float q34 → int8 q119 → JL q152 → ... → this): each
  // dim contributes sign(v[i]) only, packed into two int64 halves, so
  // the full scan reads 16 bytes/vector — 16× less than float, 4× less
  // than int8 — and the per-pair kernel is two branch-free
  // bit_count(xor) ops. Sign is scale-invariant (no normalize pass)
  // and EXACT, so unlike float cosine the entire ranking — code,
  // distance, rank — is bit-replayable in DuckDB: the oracle
  // regenerates the identical 32-term distinct-power sums from the raw
  // embeddings and replays the (hamming asc, cand_id asc) total order.
  // Float-recall of the sign ranking is pinned by OperatorsSpec.
  // -------------------------------------------------------------------
  def q240SignBitAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    Similarity.hammingTopK(q, e, "vec_id", "vec_id",
        "embedding", "embedding", k = 10)
      .select(col("query_id"), col("cand_id"), col("rank"), col("hamming"))
      .orderBy(asc("query_id"), asc("rank"))
  }
  private def q240SignSum(lo: Int): String =
    (0 until 32).map(j =>
      s"CASE WHEN embedding[${lo + j + 1}] > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
  val q240Sql: String =
    s"""WITH codes AS (
      |  SELECT vec_id,
      |    CAST(${q240SignSum(0)} AS BIGINT) AS lo,
      |    CAST(${q240SignSum(32)} AS BIGINT) AS hi
      |  FROM embeddings
      |), scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS hamming,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)),
      |        c.vec_id) AS rank
      |  FROM codes q JOIN codes c ON q.vec_id % 50 = 0 AND q.vec_id != c.vec_id
      |)
      |SELECT query_id, cand_id, rank, hamming FROM scored WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // q36: embedding-space near-dup pairs. Containment oracle: LSH
  // bucketing isn't SQL-replayable, but cosine is — the oracle
  // recomputes each emitted pair's cosine from the raw embeddings
  // (identical normalize-then-dot formulation, sequential float sums on
  // both engines) and keeps rows within 1e-5 of the emitted score and
  // above threshold. False positive or wrong score ⇒ FAIL.
  // -------------------------------------------------------------------
  def q36CosineNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(emb(spark, dir), "vec_id", "embedding",
      threshold = 0.35, numPlanes = 4, dim = 64)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
      .orderBy(asc("id_a"), asc("id_b"))
  val q36Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |)
      |SELECT e.id_a, e.id_b, e.cosine_r
      |FROM read_parquet('__GRAFT_OUT__/q36_cosine_neardup/*.parquet') e
      |JOIN nv a ON a.vec_id = e.id_a
      |JOIN nv b ON b.vec_id = e.id_b
      |WHERE ABS(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
      |          - e.cosine_r) < 1e-5
      |  AND e.cosine_r >= 0.35 - 1e-5 AND e.id_a < e.id_b
      |UNION ALL SELECT -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q36_cosine_neardup/*.parquet')) = 0
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q218: SEMANTIC decontamination — the embedding rung of the
  // decontamination ladder (q57 exact / q83 Bloom / q120 fuzzy / q187
  // incremental catch verbatim leaks; this catches PARAPHRASED eval
  // material): every train vector whose max cosine against any eval
  // vector (the pmod-97 slice — eval suites are tiny) reaches 0.30,
  // with the argmax eval id as evidence. Eval side broadcasts (the
  // PlanLint pmod-subset bounded shape); per-train argmax is the
  // lesson-17 hash-aggregate max(struct(cos, −id)) — map-side partial,
  // no data-sized sort window. Oracle: containment + argmax + max —
  // each emitted row's cosine recomputed from raw embeddings within
  // 1e-5, certified to BE that train's max over eval, ≥ τ; plus a
  // completeness floor (#true-max ≥ τ+1e-5 ≤ #emitted) so silently
  // dropping a contaminated row fails the count guard.
  // -------------------------------------------------------------------
  def q218SemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.semanticDecontaminate(
        all.filter(pmod(col("vec_id"), lit(97)) =!= 0),
        all.filter(pmod(col("vec_id"), lit(97)) === 0),
        "vec_id", "vec_id", "embedding", "embedding", tau = 0.30)
      .select(col("train_id"), col("eval_id"),
        round(col("cosine"), 6).as("cosine_r"))
      .orderBy(asc("train_id"))
  }
  val q218Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), sc AS (
      |  SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
      |    list_sum(list_transform(list_zip(t.v, e.v), p -> p[1] * p[2])) AS c
      |  FROM nv t, nv e
      |  WHERE t.vec_id % 97 <> 0 AND e.vec_id % 97 = 0
      |), mx AS (
      |  SELECT train_id, MAX(c) AS mc FROM sc GROUP BY train_id
      |)
      |SELECT g.train_id, g.eval_id, g.cosine_r
      |FROM read_parquet('__GRAFT_OUT__/q218_semantic_decontam/*.parquet') g
      |JOIN sc ON sc.train_id = g.train_id AND sc.eval_id = g.eval_id
      |JOIN mx ON mx.train_id = g.train_id
      |WHERE ABS(sc.c - g.cosine_r) < 1e-5
      |  AND ABS(mx.mc - g.cosine_r) < 1e-5
      |  AND g.cosine_r >= 0.30 - 1e-5
      |  AND (SELECT COUNT(*) FROM mx WHERE mc >= 0.30 + 1e-5)
      |    <= (SELECT COUNT(*) FROM read_parquet('__GRAFT_OUT__/q218_semantic_decontam/*.parquet'))
      |UNION ALL SELECT -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q218_semantic_decontam/*.parquet')) = 0
      |ORDER BY train_id""".stripMargin

  // -------------------------------------------------------------------
  // q226: INCREMENTAL semantic dedup — the q95/q187/q217 ingest shape
  // at the embedding rung: "today's crawl" (a re-crawled copy of the
  // pmod-10 slice under new ids + genuinely-new content simulated as
  // the REVERSED pmod-5 vectors — max reversed cosine vs the corpus
  // measures 0.54, far under the 0.99 near-dup bar) probes the
  // standing index via the deterministic cell grid. Expected output
  // is fully pinned: EVERY re-crawl probe matches exactly its source
  // (cosine 1; next-nearest corpus pair is 0.53) and NO reversed
  // probe matches anything — the oracle checks containment (cosine
  // recomputed within 1e-5), identity (probe_id = index_id + 10M),
  // AND exact completeness (#emitted = #re-crawl probes).
  // -------------------------------------------------------------------
  def q226IncrementalSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val recrawl = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select((col("vec_id") + lit(10000000L)).as("vec_id"), col("embedding"))
    val fresh = e.filter(pmod(col("vec_id"), lit(10)) === 5)
      .select((col("vec_id") + lit(20000000L)).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    Similarity.semanticIncrementalPairs(e, recrawl.union(fresh),
        "vec_id", "vec_id", "embedding", "embedding",
        threshold = 0.99, numCells = 64, dim = 64)
      .select(col("probe_id"), col("index_id"),
        round(col("cosine"), 6).as("cosine_r"))
      .orderBy(asc("probe_id"), asc("index_id"))
  }
  val q226Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), pr AS (
      |  SELECT vec_id + 10000000 AS pid, v FROM nv WHERE vec_id % 10 = 0
      |  UNION ALL
      |  SELECT vec_id + 20000000 AS pid, list_reverse(v) AS v
      |  FROM nv WHERE vec_id % 10 = 5
      |)
      |SELECT g.probe_id, g.index_id, g.cosine_r
      |FROM read_parquet('__GRAFT_OUT__/q226_incremental_semdedup/*.parquet') g
      |JOIN pr p ON p.pid = g.probe_id
      |JOIN nv i ON i.vec_id = g.index_id
      |WHERE ABS(list_sum(list_transform(list_zip(p.v, i.v), q -> q[1] * q[2]))
      |          - g.cosine_r) < 1e-5
      |  AND g.cosine_r >= 0.99 - 1e-5
      |  AND g.probe_id = g.index_id + 10000000
      |  AND (SELECT COUNT(*)
      |       FROM read_parquet('__GRAFT_OUT__/q226_incremental_semdedup/*.parquet'))
      |    = (SELECT COUNT(*) FROM nv WHERE vec_id % 10 = 0)
      |UNION ALL SELECT -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q226_incremental_semdedup/*.parquet')) = 0
      |ORDER BY probe_id, index_id""".stripMargin

  // -------------------------------------------------------------------
  // q234: kNN GRAPH via one NN-descent round — the all-nodes neighbor
  // structure (every node's approximate 10 nearest by cosine) that
  // SemDeDup clustering and manifold analysis consume; the ANN ladder
  // only ever answers query→corpus probes. Init = within-cell pairs on
  // the deterministic seeded grid; descent = neighbors-of-neighbors
  // over the undirected graph, re-scored exactly, per-node top-k.
  // Oracle (containment + structure + FULL exact recall): every
  // emitted edge's cosine recomputed from raw embeddings within 1e-5;
  // ranks per src form a 1..n chain with non-increasing cosine; every
  // node appears as src (coverage — a cell-grid degeneracy fails
  // loudly); and the graph must hit ≥ the measured floor of the TRUE
  // top-10 edges, recomputed for ALL nodes by brute force in DuckDB.
  // Recall floor 0.47 ≈ 0.75× the binding figure: measured 0.777 at
  // sf0.01 / 0.635 at sf0.1 with grids=4, rounds=2, initWidth=96
  // after the round-8 bounded-init rework (ring-paired hash-ordered
  // cellmates + k-capped reverse edges — full within-cell pairing
  // measured THRASHING at ×100; see the operator header). Recall on
  // this weakly-clustered corpus is init-volume-driven (width sweep:
  // 8→0.22, 32→0.42, 64→0.58, 96→0.635 at sf0.1; historical, from a
  // deleted probe), so
  // the gate buys quality with width at ITS scale while the operator
  // default (8) is the 100 TB setting; re-measure before changing
  // params, rule 9/14.
  // -------------------------------------------------------------------
  // memoized perceptual-hash frame (r14): q210 (grid replay), q211
  // (near-dup pairs), q217 (incremental v1 side), q261 (canonical
  // keep-list) and q329 (cross-modal canonical) each re-ran the
  // mapPartitions decode chain — a per-row javax.imageio decode
  // attempt over every medium (historical probe: 4.3 s of q261's 6.1 s
  // fused fresh at sf0.1 is phase 1). The frame is media-sized
  // (media_id, decoded, grid[64], dhash); consumers project what they
  // need.
  private val phashMemo = SessionMemo.family[DataFrame]("phashOf")
  private def phashOf(spark: SparkSession, dir: String): DataFrame =
    phashMemo(spark, dir) {
      Multimodal.phashTable(Multimodal.mediaTable(spark, dir)).toDF()
        .localCheckpoint(eager = true)
    }

  // memoized all-prefix dbscan counts and roles
  // (Similarity.dbscanPrefixRoles: n_nb_g, role_g for grids g = 1…3),
  // checkpointed once: q322 projects prefix 3 and q324 aggregates
  // every prefix, so the count/role fold runs once per (dir, minPts).
  // Its input, built inline, is the per-grid DISJOINT survivor-pair
  // frames (r14): element g = the canonical (ia < ib, dot ≥ θ) pairs
  // grid g found FIRST (Similarity.dbscanGridPairs — first-finder-wins,
  // so any seed-prefix union is exactly that prefix's distinct
  // survivor set). ONE build (3 trainings, 3 in-stream pair joins,
  // zero cross-grid dedup shuffles) serves q322 (grids=3) and all
  // three rows of q324's grids-1/2/3 operating curve, which previously
  // ran the full operator 4× — 9 trainings, 9 pair joins, 4 distincts.
  // Params are the shared q322/q324 gate values.
  private val dbscanRolesMemo = SessionMemo.family[DataFrame]("dbscanRolesOf")
  private def dbscanRolesOf(spark: SparkSession, dir: String,
                            minPts: Long): DataFrame =
    dbscanRolesMemo(spark, s"$dir#minPts=$minPts") {
      // eager per-grid localCheckpoints (rule 16)
      val pairs = Similarity.dbscanGridPairs(emb(spark, dir), "vec_id",
        "embedding", thetaFx = 250000000000L, grids = 3, dim = 64)
      Similarity.dbscanPrefixRoles(emb(spark, dir), "vec_id", pairs, minPts)
        .localCheckpoint(eager = true)
    }
  // The kNN graph is built ONCE per (session, dir) and shared by q234
  // (edge gate), q323 (hubness audit) and q326 (rounds operating
  // curve) — the tokenizer-chain memoization pattern
  // (bpeHeldoutSegs97Of), and the production shape: a pipeline builds
  // its neighbor structure once and derives audits from it.
  // Element r of the curve = the graph after r descent rounds (r = 0
  // is the scored init). q234/q323 read .last; q326 publishes the
  // whole curve.
  private val knnCurveMemo = SessionMemo.family[Seq[DataFrame]]("knnCurveOf")
  private def knnCurveOf(spark: SparkSession, dir: String): Seq[DataFrame] =
    knnCurveMemo(spark, dir) {
      val curve = Similarity.knnGraphDescentCurve(emb(spark, dir),
        "vec_id", "embedding", k = 10, numCells = 16, dim = 64,
        grids = 4, rounds = 2, initWidth = 96)
      curve.foreach(_.count()) // materialize before sharing (rule 16)
      curve
    }
  private def knnGraphOf(spark: SparkSession, dir: String): DataFrame =
    knnCurveOf(spark, dir).last

  // -------------------------------------------------------------------
  // Conformal IVF scoring chain, built ONCE per (session, dir) and
  // shared by q321 (the α = 10% gate) and q325 (the α operating curve)
  // — the knnGraphOf memoization pattern (round-12: the two queries
  // previously trained the same quantizer and scored the same cal/test
  // frames twice — double k-means driver traffic and a drift hazard
  // the next time IVF params change under rule 9). Returns the
  // (calibration, test) NN-score frames, both EAGER localCheckpoints
  // (rule 16).
  //
  // mCal = 4·max(1, n/2000) — ALWAYS divisible by 4, which makes the
  // three splits provably disjoint at EVERY corpus size: the
  // calibration residue (1 mod mCal) is odd, so disjoint from the
  // %2 = 0 reference; the test residue (3 mod 4) differs from
  // 1 mod 4 = the calibration residue's class (4 | mCal). The former
  // max(4, n/500) was odd whenever ⌊n/500⌋ was (ADVICE r11: at
  // n ∈ [2500, 3000) an in-reference calibration point probes ITSELF,
  // its score becomes the self-dot, q̂ inflates, and the advertised
  // ≤ α false-flag guarantee silently breaks). The new formula
  // evaluates to the same 4 / 4 / 400 at n = 500 / 2000 / 200k, so
  // gate and ×100 outputs are bit-identical; disjointness over ALL n
  // is asserted in OperatorsSpec.
  // -------------------------------------------------------------------
  private val conformalMemo =
    SessionMemo.family[(DataFrame, DataFrame)]("conformalScoresOf")
  private[graft] def conformalCalModulus(nTot: Long): Long =
    4L * math.max(1L, nTot / 2000L)
  private def conformalScoresOf(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    conformalMemo(spark, dir) {
      import graft.functions.VectorFunctions.{vec_dot, vec_mat_argmax, vec_mat_dots}
      import org.apache.spark.sql.expressions.Window
      val e = emb(spark, dir)
      val nTot = e.count()
      val mCal = conformalCalModulus(nTot)
      val refRaw = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      // cells follow the reference corpus (E[cell] ≈ 500; 16 at gate
      // scales) with nProbe FIXED at 4, so the per-query candidate set
      // is ~2000 vectors flat in corpus size — the recall/cost dial of
      // the IVF family, not a constant corpus fraction
      val nCells = math.max(16L, nTot / 2L / 500L).toInt
      val cents = Similarity.trainCentroids(refRaw, "embedding",
        numCells = nCells, iters = 2, dim = 64)
      def floored(c: org.apache.spark.sql.Column) =
        transform(c, x => floor(x.cast("double") * lit(1e6)).cast("double"))
      val ref = refRaw.select(col("vec_id").as("rid"),
          vec_mat_argmax(Similarity.normalized(col("embedding")), cents).as("cell"),
          floored(col("embedding")).as("rv"))
        .localCheckpoint(eager = true) // shared by the cal and test branches
      def nnIvf(points: DataFrame): DataFrame = {
        val qb = points.select(col("vec_id"),
          Similarity.normalized(col("embedding")).as("nvq"),
          floored(col("embedding")).as("qv"))
        val probes = qb.select(col("vec_id"), col("qv"),
            posexplode(vec_mat_dots(col("nvq"), cents)).as(Seq("cell", "s")))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(desc("s"), asc("cell"))))
          .filter(col("rk") <= 4)
          .select(col("vec_id"), col("qv"), col("cell"))
        val agg = probes.join(ref, Seq("cell"))
          .select(col("vec_id"), vec_dot(col("qv"), col("rv")).as("dot"))
          .groupBy(col("vec_id")).agg(max(col("dot")).as("nn0"))
        qb.select(col("vec_id")).join(agg, Seq("vec_id"), "left_outer")
          .select(col("vec_id"), coalesce(col("nn0"), lit(-1e14)).as("nn"))
      }
      val cal = nnIvf(e.filter(pmod(col("vec_id"), lit(mCal)) === 1))
        .localCheckpoint(eager = true)
      val test = nnIvf(e.filter(pmod(col("vec_id"), lit(4)) === 3))
        .localCheckpoint(eager = true)
      (cal, test)
    }

  def q234KnnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphOf(spark, dir)
      .select(col("src"), col("dst"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
      .orderBy(asc("src"), asc("rank"))
  val q234Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), g AS (
      |  SELECT * FROM read_parquet('__GRAFT_OUT__/q234_knn_graph/*.parquet')
      |), ex AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_sum(list_transform(list_zip(a.v, b.v),
      |        p -> p[1] * p[2])) DESC, b.vec_id) AS rnk
      |  FROM nv a JOIN nv b ON a.vec_id != b.vec_id
      |), chk AS (
      |  SELECT src, dst, rank, cosine_r,
      |    LAG(rank) OVER (PARTITION BY src ORDER BY rank) AS prnk,
      |    LAG(cosine_r) OVER (PARTITION BY src ORDER BY rank) AS pc
      |  FROM g
      |)
      |SELECT c.src, c.dst, c.rank, c.cosine_r
      |FROM chk c
      |JOIN nv a ON a.vec_id = c.src
      |JOIN nv b ON b.vec_id = c.dst
      |WHERE ABS(list_sum(list_transform(list_zip(a.v, b.v),
      |        p -> p[1] * p[2])) - c.cosine_r) < 1e-5
      |  AND c.rank BETWEEN 1 AND 10
      |  AND (c.rank = 1 OR (c.prnk = c.rank - 1 AND c.pc >= c.cosine_r - 1e-5))
      |  AND (SELECT COUNT(DISTINCT src) FROM g)
      |    = (SELECT COUNT(*) FROM embeddings)
      |  AND (SELECT COUNT(*) FROM g gg
      |       JOIN ex ON ex.src = gg.src AND ex.dst = gg.dst AND ex.rnk <= 10)
      |    >= CAST(0.47 * (SELECT COUNT(*) FROM ex WHERE rnk <= 10) AS BIGINT)
      |UNION ALL SELECT -1, -1, -1, -1.0 WHERE (SELECT COUNT(*) FROM g) = 0
      |ORDER BY src, rank""".stripMargin

  // -------------------------------------------------------------------
  // q75: semantic dedup (SemDeDup) — k-means-cell-blocked embedding
  // near-dup groups, keep-lowest-id per group (the trained quantizer
  // isn't SQL-replayable; OperatorsSpec plants near-identical vectors
  // and checks the keep set). Summarized to kept/dropped counts per
  // cluster-size band so the output is tiny and stable. Invariant
  // oracle (was rows-only): exactly one kept doc per cluster, positive
  // band sizes, and MASS CONSERVATION — Σ sz·n_clusters must equal the
  // embeddings row count in DuckDB (no vector silently dropped by cell
  // caps or the CC join). Violation drops rows ⇒ FAIL.
  // -------------------------------------------------------------------
  def q75SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(emb(spark, dir), "vec_id", "embedding",
        threshold = 0.5, numCells = 16, iters = 2, dim = 64)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("sz"), sum(col("keep").cast("long")).as("n_keep"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("n_keep")).as("n_kept"))
      .orderBy(asc("sz"))
  val q75Sql: String =
    """SELECT e.sz, e.n_clusters, e.n_kept
      |FROM read_parquet('__GRAFT_OUT__/q75_semantic_dedup/*.parquet') e
      |WHERE e.n_kept = e.n_clusters AND e.sz >= 1 AND e.n_clusters >= 1
      |  AND (SELECT SUM(sz * n_clusters)
      |       FROM read_parquet('__GRAFT_OUT__/q75_semantic_dedup/*.parquet'))
      |    = (SELECT COUNT(*) FROM embeddings)
      |UNION ALL SELECT -1, -1, -1 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q75_semantic_dedup/*.parquet')) = 0
      |ORDER BY sz""".stripMargin

  // -------------------------------------------------------------------
  // q37: multimodal pipeline — binary payloads + typed metadata,
  // partition-wise (stub) decode, per-type stats. Oracle reproduces the
  // metadata/byte stats (the decode stub's inputs) in SQL.
  // -------------------------------------------------------------------
  def q37Multimodal(spark: SparkSession, dir: String): DataFrame =
    Multimodal.featureStats(spark, dir)
  val q37Sql: String =
    """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |            WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  COUNT(*) AS n_media,
      |  CAST(SUM(STRLEN(text)) AS BIGINT) AS total_bytes,
      |  MIN(STRLEN(text)) AS min_bytes,
      |  MAX(STRLEN(text)) AS max_bytes
      |FROM documents GROUP BY 1 ORDER BY media_type""".stripMargin

  // -------------------------------------------------------------------
  // q205: MEDIA payload dedup — exact dedup over the BINARY column
  // (q30's fingerprint shape, multimodal edition): identical payload
  // bytes cluster on a 16-byte md5, every medium maps to its cluster's
  // min-id keeper. At 100 TB of images/video this is the first pass of
  // any media pipeline (crawl mirrors re-fetch identical bytes), and
  // the scale property is q30's: only (fingerprint, id) pairs cross
  // the shuffle — payload BLOBS never move. Keep-rule ties to min id,
  // fully replayable (DuckDB md5 over the identical UTF-8 bytes).
  // -------------------------------------------------------------------
  def q205MediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val m = Multimodal.mediaTable(spark, dir).toDF()
    val fp = m.select(col("media_id"), col("media_type"),
      md5(col("payload")).as("fp"))
    val keep = fp.groupBy(col("fp")).agg(min(col("media_id")).as("keep_id"))
    fp.join(keep, "fp")
      .select(col("media_id"), col("media_type"), col("keep_id"),
        (col("media_id") =!= col("keep_id")).as("is_dup"))
      .orderBy(asc("media_id"))
  }
  val q205Sql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |         WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |    md5(text) AS fp
      |  FROM documents
      |), k AS (SELECT fp, MIN(media_id) AS keep_id FROM m GROUP BY 1)
      |SELECT media_id, media_type, keep_id, media_id != keep_id AS is_dup
      |FROM m JOIN k USING (fp) ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // q210: PERCEPTUAL IMAGE HASH (dHash) — the rung beyond q205's exact
  // byte dedup: a 9×8 luminance grid + 64-bit adjacent-brightness hash
  // per medium, map-only over the media scan (blobs never shuffle; only
  // id + 72 longs + 8-byte hash leave it). Real pixel path where the
  // payload decodes (planted-PNG fixtures in OperatorsSpec pin it);
  // deterministic token-histogram stub for the testdata's UTF-8
  // stand-ins. Oracle = grid→hash BIT-REPLAY (the q88 trick): DuckDB
  // recomputes the dHash from the emitted grid — bit b set iff
  // grid[r,c] > grid[r,c+1], bit 63 as the −2^63 literal (DuckDB errors
  // on 1<<63) — and any hash not matching its grid falls out of the
  // WHERE → row-count FAIL; 1:1 coverage is pinned by the count guard.
  // The grid is emitted as a SPACE-JOINED STRING (not array<bigint>):
  // the driver's pandas comparator cannot hash non-scalar cells (the
  // r8 red rows); DuckDB re-lists it via string_split + CAST.
  // -------------------------------------------------------------------
  def q210ImagePhash(spark: SparkSession, dir: String): DataFrame =
    phashOf(spark, dir)
      .select(col("media_id"),
        concat_ws(" ", col("grid")).as("grid"), col("dhash"))
      .orderBy(asc("media_id"))
  val q210Sql: String =
    """WITH e AS (SELECT media_id, grid, dhash,
      |    list_transform(string_split(grid, ' '),
      |                   x -> CAST(x AS BIGINT)) AS g
      |  FROM read_parquet('__GRAFT_OUT__/q210_image_phash/*.parquet'))
      |SELECT media_id, grid, dhash FROM e
      |WHERE len(g) = 72
      |  AND dhash = CAST(list_sum(list_transform(range(64), b ->
      |    CASE WHEN g[(b // 8) * 9 + (b % 8) + 1]
      |            > g[(b // 8) * 9 + (b % 8) + 2]
      |         THEN CASE WHEN b = 63 THEN -9223372036854775807 - 1
      |              ELSE (1::BIGINT << b) END
      |         ELSE 0 END)) AS BIGINT)
      |  AND (SELECT COUNT(*) FROM e) = (SELECT COUNT(*) FROM documents)
      |UNION ALL SELECT -1, '-1', CAST(-1 AS BIGINT)
      |  WHERE (SELECT COUNT(*) FROM e) = 0
      |ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // q211: PERCEPTUAL NEAR-DUP neighbor counts — q210's dHash paired via
  // the SimHash pigeonhole machinery (Dedup.signaturePairs: 4×16-bit
  // chunk equi-join guarantees every Hamming-≤3 pair is a candidate;
  // full-Hamming verify; never all-pairs). Emitted per-medium neighbor
  // counts are verified EXACTLY: DuckDB recomputes every medium's true
  // Hamming-≤3 neighbor count from the emitted hashes (xor + bit_count
  // all-pairs — affordable at oracle scale, which is precisely what the
  // blocking avoids at corpus scale), so both a missed pair (recall)
  // and a phantom pair (precision) break the count join → FAIL. Hash
  // provenance is q210's grid replay; real-image near-dup behavior is
  // pinned by the perturbed-PNG fixture in OperatorsSpec. maxBucket is
  // effectively off (1<<20) because the oracle demands exactness — a
  // production run on a self-similar corpus would cap + count overfull
  // buckets exactly like simhashPairs.
  // -------------------------------------------------------------------
  def q211PhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val ph = phashOf(spark, dir)
      .select(col("media_id"), col("dhash"))
    val pairs = Dedup.signaturePairs(
      ph.select(col("media_id"), col("dhash").as("sig")),
      "media_id", maxHamming = 3, maxBucket = 1 << 20)
    val touched = pairs.select(col("id_a").as("media_id"))
      .union(pairs.select(col("id_b").as("media_id")))
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_near"))
    ph.join(touched, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("dhash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy(asc("media_id"))
  }
  val q211Sql: String =
    """WITH e AS (SELECT media_id, dhash, n_near
      |  FROM read_parquet('__GRAFT_OUT__/q211_phash_neardup/*.parquet')),
      |truth AS (
      |  SELECT a.media_id, COUNT(b.media_id) AS n_true
      |  FROM e a LEFT JOIN e b
      |    ON b.media_id != a.media_id
      |   AND bit_count(xor(a.dhash, b.dhash)) <= 3
      |  GROUP BY 1)
      |SELECT e.media_id, e.dhash, e.n_near
      |FROM e JOIN truth t ON t.media_id = e.media_id AND t.n_true = e.n_near
      |WHERE (SELECT COUNT(*) FROM e) = (SELECT COUNT(*) FROM documents)
      |UNION ALL SELECT -1, -1, -1 WHERE (SELECT COUNT(*) FROM e) = 0
      |ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // q257: INCREMENTAL TEXT NEAR-DUP — the MinHash rung of the
  // q95/q187/q217/q226 incremental family (it existed for exact keys,
  // Bloom grams, perceptual hashes and embeddings, but NOT yet for
  // text LSH): today's crawl (v2 = every doc re-ingested, ids offset
  // by 1e6, doc_id % 7 == 0 texts perturbed with one extra token)
  // probes YESTERDAY's standing band index via
  // Dedup.minhashIndexProbe — history is never re-banded, BOTH sides
  // carry the degenerate-bucket cap (r9: the probe side too — an
  // uncapped boilerplate crawl batch would join every surviving index
  // bucket at full width), candidates equi-join on (band, band_sig).
  // Oracle: per-pair exact string-shingle Jaccard replay (q31's
  // containment acceptance) + an EXACT completeness predicate — every
  // UNPERTURBED v2 doc (identical text ⇒ identical band signatures ⇒
  // guaranteed candidate) must pair with its v1 twin, or the whole
  // result fails — + the empty sentinel. CAP INTERACTION: that
  // guarantee holds only while no bucket exceeds maxBucket (twins'
  // bands all collide, so a capped bucket drops them too) — if this
  // gate ever fails with missing twins, check the overfull-bucket
  // census before blaming the probe (see minhashIndexProbe scaladoc).
  // -------------------------------------------------------------------
  def q257MinhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val v1 = docs(spark, dir)
    val v2 = v1.select((col("doc_id") + lit(1000000L)).as("doc_id"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" perturbedtok"))).otherwise(col("text"))
        .as("text"))
    Dedup.minhashIndexProbe(v1, v2, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select(col("probe_id"), col("index_id"),
        round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(asc("probe_id"), asc("index_id"))
  }
  val q257Sql: String = {
    val out = "read_parquet('__GRAFT_OUT__/q257_minhash_incremental/*.parquet')"
    s"""WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
      |        FROM documents)
      |), v2 AS (
      |  SELECT doc_id + 1000000 AS probe_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' perturbedtok'
      |         ELSE text END AS text
      |  FROM documents
      |), shp AS (
      |  SELECT probe_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT probe_id, string_split_regex(TRIM(text), '\\s+') AS toks
      |        FROM v2)
      |)
      |SELECT e.probe_id, e.index_id, e.jaccard_r
      |FROM $out e
      |JOIN shp b ON b.probe_id = e.probe_id
      |JOIN sh a ON a.doc_id = e.index_id
      |WHERE ROUND(CAST(LEN(list_intersect(b.s, a.s)) AS DOUBLE)
      |    / (LEN(b.s) + LEN(a.s) - LEN(list_intersect(b.s, a.s))), 6)
      |    = e.jaccard_r
      |  AND e.jaccard_r >= 0.5
      |  AND NOT EXISTS (
      |    SELECT 1 FROM documents d
      |    WHERE d.doc_id % 7 <> 0 AND NOT EXISTS (
      |      SELECT 1 FROM $out e2
      |      WHERE e2.probe_id = d.doc_id + 1000000
      |        AND e2.index_id = d.doc_id))
      |UNION ALL SELECT -1, -1, -1.0 WHERE (SELECT COUNT(*) FROM $out) = 0
      |ORDER BY probe_id, index_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q217: INCREMENTAL PERCEPTUAL DEDUP — the ingest-time shape of
  // q211: today's crawl (v2 = the documents media with doc_id % 7 == 0
  // texts perturbed, ids offset) probes YESTERDAY's standing dHash
  // index (v1 = q210's hashes) via the cross-frame pigeonhole matcher
  // (Dedup.signatureMatches: index↔probe 16-bit-chunk equi-join,
  // never all-pairs; the index side carries the bucket cap). A probe
  // with n_known ≥ 1 is already-represented content the ingest pass
  // skips — the perceptual rung of the q95/q187 incremental family.
  // Self-contained oracle: BOTH sides' (grid, hash) rows are emitted;
  // DuckDB replays grid→hash for every row (q210's bit-replay), then
  // recomputes every v2 probe's true Hamming-≤3 index count from the
  // emitted hashes — wrong hash, missed match, or phantom match all
  // break a join → FAIL; count guards pin 1:1 coverage of both sides.
  // Like q210, the grid travels as a space-joined string (scalar
  // cells only — the driver's comparator constraint).
  // -------------------------------------------------------------------
  def q217PhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ph1 = phashOf(spark, dir)
      .select(col("media_id"),
        concat_ws(" ", col("grid")).as("grid"), col("dhash"))
    val v2media = spark.read.parquet(s"$dir/documents.parquet")
      .select((col("doc_id") + lit(1000000L)).as("media_id"),
        lit("image").as("media_type"),
        encode(when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" perturbedtok"))).otherwise(col("text")),
          "UTF-8").as("payload"),
        lit(64).as("width"), lit(64).as("height"), lit(0).as("sample_rate"))
      .as[Multimodal.MediaRow]
    val ph2 = Multimodal.phashTable(v2media).toDF()
      .select(col("media_id"),
        concat_ws(" ", col("grid")).as("grid"), col("dhash"))
    val known = Dedup.signatureMatches(
      ph1.select(col("media_id"), col("dhash").as("sig")),
      ph2.select(col("media_id"), col("dhash").as("sig")),
      "media_id", maxHamming = 3, maxBucket = 1 << 20)
    val v1rows = ph1.select(lit("v1").as("side"), col("media_id"),
      col("grid"), col("dhash"), lit(-1L).as("n_known"))
    val v2rows = ph2.join(known, Seq("media_id"), "left_outer")
      .select(lit("v2").as("side"), col("media_id"), col("grid"), col("dhash"),
        coalesce(col("n_known"), lit(0L)).as("n_known"))
    v1rows.union(v2rows).orderBy(asc("side"), asc("media_id"))
  }
  val q217Sql: String =
    """WITH e AS (SELECT side, media_id, grid, dhash, n_known,
      |    list_transform(string_split(grid, ' '),
      |                   x -> CAST(x AS BIGINT)) AS g
      |  FROM read_parquet('__GRAFT_OUT__/q217_phash_incremental/*.parquet')),
      |ok AS (
      |  SELECT * FROM e
      |  WHERE len(g) = 72
      |    AND dhash = CAST(list_sum(list_transform(range(64), b ->
      |      CASE WHEN g[(b // 8) * 9 + (b % 8) + 1]
      |              > g[(b // 8) * 9 + (b % 8) + 2]
      |           THEN CASE WHEN b = 63 THEN -9223372036854775807 - 1
      |                ELSE (1::BIGINT << b) END
      |           ELSE 0 END)) AS BIGINT)),
      |v1 AS (SELECT media_id, dhash FROM ok WHERE side = 'v1' AND n_known = -1),
      |truth AS (
      |  SELECT p.media_id, COUNT(x.media_id) AS n
      |  FROM (SELECT media_id, dhash FROM ok WHERE side = 'v2') p
      |  LEFT JOIN v1 x ON bit_count(xor(p.dhash, x.dhash)) <= 3
      |  GROUP BY 1),
      |sel AS (
      |  SELECT side, media_id, grid, dhash, n_known FROM ok
      |  WHERE side = 'v1' AND n_known = -1
      |  UNION ALL
      |  SELECT o.side, o.media_id, o.grid, o.dhash, o.n_known
      |  FROM ok o JOIN truth t
      |    ON t.media_id = o.media_id AND t.n = o.n_known
      |  WHERE o.side = 'v2')
      |SELECT side, media_id, grid, dhash, n_known FROM sel
      |WHERE (SELECT COUNT(*) FROM e WHERE side = 'v1')
      |        = (SELECT COUNT(*) FROM documents)
      |  AND (SELECT COUNT(*) FROM e WHERE side = 'v2')
      |        = (SELECT COUNT(*) FROM documents)
      |UNION ALL SELECT 'x', -1, '-1', CAST(-1 AS BIGINT),
      |  CAST(-1 AS BIGINT)
      |  WHERE (SELECT COUNT(*) FROM e) = 0
      |ORDER BY side, media_id""".stripMargin

  // -------------------------------------------------------------------
  // q261: PERCEPTUAL CANONICAL KEEP-LIST — completes the image rung to
  // parity with the text ladder (q55→q194): q211's verified Hamming-≤3
  // dHash pairs → connected components → one canonical per cluster by
  // a deterministic quality order (largest payload, then smallest
  // media_id — "keep the highest-fidelity copy"), applied back to
  // EVERY medium. The output IS the decision artifact an image-ingest
  // pipeline consumes: (media_id, cluster, keep_id, is_dup).
  // Singletons are their own canonical. Shape (round-10 plan fix):
  // identical dhashes are collapsed FIRST (the q117/q30 exact-dedup
  // discipline) — CC runs over the DISTINCT-hash representative
  // frame, because exact-duplicate hashes are free edges and the stub
  // dHash is degenerate on this corpus (sf0.01: 421/500 media in one
  // Hamming-≤3 component, only 357 distinct hashes; the pre-fix
  // media-level pairing was quadratic in the giant cluster — 41.2 s
  // isolated at sf0.1 vs ~1 s after, output bit-identical: the
  // component min over representatives equals the min media_id over
  // the whole component, since every member's exact-hash rep is ≤ it
  // and Hamming-0-connected to it). signaturePairs' pigeonhole
  // equi-join (never all-pairs) pairs the rep frame under the
  // PRODUCTION cap (census: max 16-bit chunk bucket over distinct
  // hashes = 140 @sf0.01 / 717 @sf0.1 — Dedup.signatureOverfullBuckets
  // is the sizing instrument; a corpus that overflows 4096 collapses
  // further or re-sizes, it does not silently drop) → CC on the
  // REP-pair frame, on the driver behind Q261MaxRepPairs (a collect
  // over the cap fails loudly with the count; on a graph this small
  // the distributed CC's one Spark job per round dominates) →
  // hash→cluster joined back (the CC result is a
  // LocalRelation; the media-sized hash frame is never collected) →
  // one per-cluster window (fan-in = cluster size, q194's
  // discipline). Oracle: the q117 pattern — recursive-CTE components
  // over the emitted hashes' true Hamming-≤3 pairs (all-pairs
  // affordable at oracle scale; exactly what the blocking avoids at
  // corpus scale) + independently recomputed n_bytes from documents +
  // the identical canonical window; any wrong cluster, keep_id,
  // n_bytes or flag falls out of the 5-way acceptance join → FAIL;
  // the count guard pins 1:1 coverage. Hash provenance is q210's grid
  // replay (same deterministic phashTable over the same media).
  // -------------------------------------------------------------------
  // Driver-CC cap for q261's representative pairs (id_a < id_b).
  // sf0.1's representative graph is 152k directed edges, i.e. 76,290
  // pairs; the cap leaves ~6.5× headroom while the collected rows stay
  // in the tens of MB on the driver. A corpus past it fails loudly,
  // naming the count and the cap: then q261 needs the distributed
  // Dedup.connectedComponents.
  private val Q261MaxRepPairs: Int = 500000
  def q261PhashCanonical(spark: SparkSession, dir: String): DataFrame = {
    // map-only projection of the memoized checkpointed phash frame —
    // the former persist() is net-negative now that the source is
    // already materialized (rule 18b)
    val ph = phashOf(spark, dir)
      .select(col("media_id"), col("dhash"))
    // exact-hash collapse: one representative (min media_id) per
    // distinct dhash — the frame CC actually runs over
    val reps = ph.groupBy(col("dhash")).agg(min(col("media_id")).as("rep"))
    val pairs = Dedup.signaturePairs(
        reps.select(col("rep").as("media_id"), col("dhash").as("sig")),
        "media_id", maxHamming = 3, maxBucket = 4096)
      .select(col("id_a"), col("id_b"))
    val cc = Dedup.localConnectedComponents(pairs, "id_a", "id_b",
      Q261MaxRepPairs)
    // hash → cluster map (singleton hash groups label as their rep =
    // their min media_id, identical to the pre-collapse Hamming-0 edge)
    val hashCluster = reps.join(cc, reps("rep") === cc("id"), "left_outer")
      .select(col("dhash"), coalesce(col("cluster"), col("rep")).as("cluster"))
    val sized = Multimodal.mediaTable(spark, dir).toDF()
      .select(col("media_id"), length(col("payload")).cast("long").as("n_bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(desc("n_bytes"), asc("media_id"))
    ph.join(hashCluster, Seq("dhash"))
      .join(sized, Seq("media_id"))
      .select(col("media_id"), col("dhash"), col("n_bytes"), col("cluster"))
      .withColumn("keep_id", first(col("media_id")).over(w))
      .select(col("media_id"), col("dhash"), col("n_bytes"), col("cluster"),
        col("keep_id"), (col("media_id") =!= col("keep_id")).as("is_dup"))
      .orderBy(asc("media_id"))
  }
  // q261 oracle CC: R unrolled rounds of (neighbor-min + pointer-
  // jump) over the DISTINCT-hash representative graph — the same
  // transparent collapse the Spark plan uses (Hamming(a,a)=0 makes
  // same-hash media one cluster; the component min over reps IS the
  // component min over media), recomputed INDEPENDENTLY from the
  // emitted hashes. Unrolled because DuckDB's recursive-UNION closure
  // (reach) is quadratic in component size — at sf0.1 the giant
  // stub-dHash near-clique makes that closure computationally
  // infeasible (the r9 sweep never finished it), while 8 label rounds
  // over the 152k-directed-edge rep graph are milliseconds. Soundness
  // does NOT rest on 8 being enough: the conv guard counts
  // label-inconsistent edges at round 8 and gates the WHOLE
  // acceptance select — a non-converged replay emits zero rows and
  // fails the row-count check loudly (rule-10 sentinel discipline).
  // Every chained CTE is AS MATERIALIZED: each round references its
  // predecessor twice (hop self-join), so DuckDB's default CTE
  // inlining is 2^rounds copies of the whole prefix — the bind phase
  // exhausts file handles on the read_parquet glob before executing.
  private def q261CcRoundSql(i: Int): String =
    s"""nbr$i AS MATERIALIZED (
      |  SELECT g.src AS id, MIN(l.lab) AS m
      |  FROM hedges g JOIN lab${i - 1} l ON l.id = g.dst GROUP BY 1),
      |hop$i AS MATERIALIZED (
      |  SELECT l.id, LEAST(l.lab, COALESCE(n.m, l.lab)) AS lab
      |  FROM lab${i - 1} l LEFT JOIN nbr$i n ON n.id = l.id),
      |lab$i AS MATERIALIZED (
      |  SELECT a.id, LEAST(a.lab, COALESCE(b.lab, a.lab)) AS lab
      |  FROM hop$i a LEFT JOIN hop$i b ON b.id = a.lab)""".stripMargin
  val q261Sql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT media_id, dhash, n_bytes, cluster, keep_id, is_dup
      |  FROM read_parquet('__GRAFT_OUT__/q261_phash_canonical/*.parquet')),
      |h AS MATERIALIZED (SELECT dhash, MIN(media_id) AS rep FROM e GROUP BY 1),
      |hpairs AS (
      |  SELECT a.rep AS id_a, b.rep AS id_b
      |  FROM h a JOIN h b ON a.rep < b.rep
      |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
      |hedges AS MATERIALIZED (
      |  SELECT id_a AS src, id_b AS dst FROM hpairs
      |  UNION SELECT id_b, id_a FROM hpairs),
      |lab0 AS MATERIALIZED (
      |  SELECT h.rep AS id, LEAST(h.rep, COALESCE(nm.m, h.rep)) AS lab
      |  FROM h LEFT JOIN (SELECT src, MIN(dst) AS m FROM hedges GROUP BY 1) nm
      |    ON nm.src = h.rep),
      |""".stripMargin +
      (1 to 8).map(q261CcRoundSql).mkString(",\n") + ",\n" +
      """conv AS (
      |  SELECT COUNT(*) AS bad FROM hedges g
      |  JOIN lab8 a ON a.id = g.src JOIN lab8 b ON b.id = g.dst
      |  WHERE a.lab != b.lab),
      |truth AS (
      |  SELECT x.media_id, CAST(strlen(d.text) AS BIGINT) AS n_bytes_t,
      |    l.lab AS cluster_t
      |  FROM e x JOIN documents d ON d.doc_id = x.media_id
      |  JOIN h hh ON hh.dhash = x.dhash
      |  JOIN lab8 l ON l.id = hh.rep),
      |sel AS (
      |  SELECT media_id, n_bytes_t, cluster_t,
      |    FIRST_VALUE(media_id) OVER (PARTITION BY cluster_t
      |      ORDER BY n_bytes_t DESC, media_id) AS keep_t
      |  FROM truth)
      |SELECT x.media_id, x.dhash, x.n_bytes, x.cluster, x.keep_id, x.is_dup
      |FROM e x JOIN sel s ON s.media_id = x.media_id
      |  AND x.n_bytes = s.n_bytes_t AND x.cluster = s.cluster_t
      |  AND x.keep_id = s.keep_t
      |  AND x.is_dup = (x.media_id != s.keep_t)
      |WHERE (SELECT COUNT(*) FROM e) = (SELECT COUNT(*) FROM documents)
      |  AND (SELECT bad FROM conv) = 0
      |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
      |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), FALSE
      |  WHERE (SELECT COUNT(*) FROM e) = 0
      |ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // q329: CROSS-MODAL CANONICAL SELECTION (r13) — the dedup decision a
  // MULTIMODAL corpus actually ships: a (text, media) record is
  // duplicate only when BOTH modalities agree, so the joint cluster
  // key is (text_cluster, media_cluster) — text near-dup alone (same
  // caption, different image) or media near-dup alone (same image,
  // different caption) must each survive. Text clusters come from the
  // q55/q82-verified exact-Jaccard pair frame (the SHARED pairCache —
  // this query re-reads the persisted pair set, it does not rebuild
  // it); docs with no text edge are their own singleton cluster.
  // Media groups are the identical-dHash collapse (the exact rung of
  // q261's ladder; Hamming-≤3 clustering and dHash grid provenance
  // are q261/q210's own gates). One canonical per joint cluster by
  // the q261 quality order (largest payload, then smallest id).
  // Scale shape: two partial-agged equi-joins + one window whose
  // fan-in is the joint-cluster size; blobs never shuffle (phashTable
  // emits id + hash); the LSH path (q31 pairs → CC) is the corpus-
  // scale text rung, separately gated. Oracle: FULL independent
  // replay — text closure via q55's recursive CTE over documents,
  // media groups recomputed from the EMITTED hashes, n_bytes from
  // strlen(text), the identical canonical window — any wrong cluster,
  // keep or flag falls out of the acceptance join → row-count FAIL;
  // plus the q75 invariant guards: mass conservation (one row per
  // document) and exactly one kept doc per joint cluster, both over
  // the emitted frame; empty-output sentinel.
  // -------------------------------------------------------------------
  def q329CrossModalCanonical(spark: SparkSession, dir: String): DataFrame = {
    val tc = Dedup.connectedComponents(boundedExactPairs(spark, dir),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster").as("tcl"))
    val ph = phashOf(spark, dir)
      .select(col("media_id").as("doc_id"), col("dhash"))
    val mc = ph.groupBy(col("dhash")).agg(min(col("doc_id")).as("mcl"))
    val sized = Multimodal.mediaTable(spark, dir).toDF()
      .select(col("media_id").as("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"))
    val joined = ph.join(mc, Seq("dhash"))
      .join(tc, Seq("doc_id"), "left_outer")
      .join(sized, Seq("doc_id"))
      .select(col("doc_id"), col("dhash"),
        coalesce(col("tcl"), col("doc_id")).as("text_cluster"),
        col("mcl").as("media_cluster"), col("n_bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("text_cluster"), col("media_cluster"))
      .orderBy(desc("n_bytes"), asc("doc_id"))
    joined.withColumn("keep_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("dhash"), col("text_cluster"),
        col("media_cluster"), col("n_bytes"), col("keep_id"),
        (col("doc_id") =!= col("keep_id")).as("is_dup"))
      .orderBy(asc("doc_id"))
  }
  val q329Sql: String =
    """WITH RECURSIVE e AS MATERIALIZED (
      |  SELECT doc_id, dhash, text_cluster, media_cluster, n_bytes,
      |    keep_id, is_dup
      |  FROM read_parquet('__GRAFT_OUT__/q329_cross_modal_canonical/*.parquet')
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents WHERE doc_id < 300)
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.05
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e2.src AS id, r.r FROM edges e2 JOIN reach r ON e2.dst = r.id
      |), tcl AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id
      |), mg AS (
      |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY dhash) AS mcl FROM e
      |), exp AS (
      |  SELECT d.doc_id, COALESCE(t.cluster, d.doc_id) AS tc, mg.mcl,
      |    CAST(STRLEN(d.text) AS BIGINT) AS nb
      |  FROM documents d
      |  JOIN mg ON mg.doc_id = d.doc_id
      |  LEFT JOIN tcl t ON t.doc_id = d.doc_id
      |), expk AS (
      |  SELECT doc_id, tc, mcl, nb,
      |    FIRST_VALUE(doc_id) OVER (PARTITION BY tc, mcl
      |      ORDER BY nb DESC, doc_id) AS keep
      |  FROM exp
      |)
      |SELECT x.doc_id, x.dhash, x.text_cluster, x.media_cluster,
      |  x.n_bytes, x.keep_id, x.is_dup
      |FROM e x
      |JOIN expk k ON k.doc_id = x.doc_id
      |  AND k.tc = x.text_cluster AND k.mcl = x.media_cluster
      |  AND k.nb = x.n_bytes AND k.keep = x.keep_id
      |  AND x.is_dup = (x.doc_id != k.keep)
      |WHERE (SELECT COUNT(*) FROM e) = (SELECT COUNT(*) FROM documents)
      |  AND (SELECT COUNT(DISTINCT doc_id) FROM e)
      |        = (SELECT COUNT(*) FROM documents)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM e GROUP BY text_cluster, media_cluster
      |    HAVING COUNT(DISTINCT keep_id) != 1
      |        OR SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) != 1)
      |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
      |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
      |  CAST(-1 AS BIGINT), FALSE
      |  WHERE (SELECT COUNT(*) FROM e) = 0
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q102: sliding-window STREAMING rollup — the streaming twin of the
  // batch sliding query q44; same oracle SQL (exact epoch arithmetic).
  // -------------------------------------------------------------------
  def q102StreamSliding(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.slidingRollupBatchDriven(spark, dir)

  // -------------------------------------------------------------------
  // q126: streaming SESSION windows — gap-based sessionization on the
  // real streaming engine (dynamic window extents, session-merge state
  // path), APPEND output: each session emits exactly once when the
  // watermark (max event time − 2h) passes its end (last event +
  // 30-min gap), to a distributed parquet sink — no driver-side
  // materialization, and state is evicted as sessions close (the
  // 100 TB-safe shape; Complete-mode memory sink was unbounded in
  // |users|). Oracle: the q48 lag/cumsum sessionization CTE filtered
  // by the SAME recomputed horizon; the held-back tail is asserted
  // non-empty in StreamingSpec.
  // -------------------------------------------------------------------
  def q126StreamSession(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessionRollupBatchDriven(spark, dir)
  val q126Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN LAG(ts) OVER w IS NULL THEN 0
      |         WHEN EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000 THEN 1
      |         ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessed AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE)
      |      AS session_value,
      |    MAX(EPOCH_US(ts)) + 1800000000 AS end_us
      |  FROM sessed GROUP BY user_id, session_idx
      |)
      |SELECT user_id, session_start, n_events, session_value
      |FROM sess
      |WHERE end_us <= (SELECT MAX(EPOCH_US(ts)) - 7200000000 FROM events)
      |ORDER BY user_id, session_start""".stripMargin

  // -------------------------------------------------------------------
  // q103: decontamination APPLY — the removal step: clean per-source
  // counts after anti-joining the contaminated ids out of the train
  // split. Composes q57's detection with the left-anti application.
  // -------------------------------------------------------------------
  def q103DecontaminateApply(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val train = d.filter(col("doc_id") % 97 =!= 0)
    val contaminated = graft.operators.Curation.decontaminate(
        train, d.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 5)
      .select(col("doc_id"))
    train.join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_clean"))
      .orderBy(asc("source"))
  }
  val q103Sql: String =
    raw"""WITH grams AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(t) - 4, 1) + 1),
      |    i -> array_to_string(t[i:i+4], ' '))) AS g
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t FROM documents)
      |), eval_g AS (
      |  SELECT DISTINCT UNNEST(g) AS gram FROM grams WHERE doc_id % 97 = 0
      |), train_g AS (
      |  SELECT doc_id, UNNEST(g) AS gram FROM grams WHERE doc_id % 97 <> 0
      |), contaminated AS (
      |  SELECT DISTINCT doc_id FROM train_g JOIN eval_g USING (gram)
      |)
      |SELECT d.source, COUNT(*) AS n_clean
      |FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
      |WHERE d.doc_id % 97 <> 0 AND c.doc_id IS NULL
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // -------------------------------------------------------------------
  // q95: incremental exact dedup — "yesterday" = even doc_ids,
  // "today's batch" = odd doc_ids; keep first-in-batch of each content
  // never seen before. Anti join on fingerprints; the oracle rebuilds
  // it from normalized text (hash-free, same q30 convention).
  // -------------------------------------------------------------------
  def q95IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.incrementalExact(
        d.filter(col("doc_id") % 2 === 1),
        d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
      .orderBy(asc("doc_id"))
  }
  val q95Sql: String =
    """WITH norm AS (
      |  SELECT doc_id, regexp_replace(TRIM(text), '\s+', ' ', 'g') AS nt
      |  FROM documents
      |), prior AS (
      |  SELECT DISTINCT nt FROM norm WHERE doc_id % 2 = 0
      |), batch AS (
      |  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies, nt
      |  FROM norm WHERE doc_id % 2 = 1 GROUP BY nt
      |)
      |SELECT b.doc_id, b.n_copies
      |FROM batch b LEFT JOIN prior p ON b.nt = p.nt
      |WHERE p.nt IS NULL
      |ORDER BY b.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q121: snapshot diff (batch CDC) — "v1" drops doc_id % 5 == 4, "v2"
  // drops % 5 == 0 and revises % 7 == 0 payloads, so all three change
  // classes occur: added (% 5 == 4), removed (% 5 == 0), changed
  // (% 7 == 0 in both). md5 fingerprints oracle exactly (identical hex
  // in both engines); unchanged keys — the 100 TB common case — never
  // appear.
  // -------------------------------------------------------------------
  def q121SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.snapshotDiff(
        d.filter(col("doc_id") % 5 =!= 4).select(col("doc_id"), col("text")),
        d.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text")
      .orderBy(asc("key"))
  }
  val q121Sql: String =
    """WITH o AS (
      |  SELECT doc_id AS key, md5(text) AS old_fp
      |  FROM documents WHERE doc_id % 5 <> 4
      |), n AS (
      |  SELECT doc_id AS key,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS new_fp
      |  FROM documents WHERE doc_id % 5 <> 0
      |)
      |SELECT COALESCE(o.key, n.key) AS key,
      |  CASE WHEN o.key IS NULL THEN 'added'
      |       WHEN n.key IS NULL THEN 'removed'
      |       WHEN o.old_fp <> n.new_fp THEN 'changed' END AS change,
      |  o.old_fp, n.new_fp
      |FROM o FULL OUTER JOIN n ON o.key = n.key
      |WHERE o.key IS NULL OR n.key IS NULL OR o.old_fp <> n.new_fp
      |ORDER BY key""".stripMargin

  // -------------------------------------------------------------------
  // q123: fixed-point PageRank over the customer↔supplier trade graph
  // (orders ⋈ lineitem; both directions, so no dangling mass; node ids
  // disambiguated as cust·2 / supp·2+1). Three power iterations in
  // exact BIGINT fixed-point — every add/div is integral, so the
  // DuckDB oracle UNROLLS the identical three rounds and compares
  // bit-for-bit. The graph-centrality sibling of the CC gates
  // (q55/q82): per-round (id, long) shuffles, truncated lineage.
  // -------------------------------------------------------------------
  def q123PageRank(spark: SparkSession, dir: String): DataFrame =
    // shared memoized trade edge build (set-identical input to the
    // operator's internal distinct — see tradeFwdOf)
    Graph.pageRankFixed(tradeEdges(spark, dir), "src", "dst", iters = 3)
      .orderBy(asc("id"))
  val q123Sql: String =
    """WITH fwd AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), e AS (
      |  SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
      |), nodes AS (
      |  SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e
      |), deg AS (
      |  SELECT src, COUNT(*) AS dg FROM e GROUP BY src
      |), params AS (
      |  SELECT COUNT(*) AS n, CAST(1000000000 AS BIGINT) // COUNT(*) AS r_init,
      |    (CAST(15 AS BIGINT) * CAST(1000000000 AS BIGINT))
      |      // (CAST(100 AS BIGINT) * COUNT(*)) AS base
      |  FROM nodes
      |), r0 AS (
      |  SELECT id, (SELECT r_init FROM params) AS r FROM nodes
      |), r1 AS (
      |  SELECT n.id, (SELECT base FROM params)
      |    + (85 * COALESCE(SUM(r0.r // d.dg), 0)) // 100 AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.id
      |  LEFT JOIN r0 ON r0.id = e.src
      |  LEFT JOIN deg d ON d.src = e.src
      |  GROUP BY n.id
      |), r2 AS (
      |  SELECT n.id, (SELECT base FROM params)
      |    + (85 * COALESCE(SUM(r1.r // d.dg), 0)) // 100 AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.id
      |  LEFT JOIN r1 ON r1.id = e.src
      |  LEFT JOIN deg d ON d.src = e.src
      |  GROUP BY n.id
      |), r3 AS (
      |  SELECT n.id, (SELECT base FROM params)
      |    + (85 * COALESCE(SUM(r2.r // d.dg), 0)) // 100 AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.id
      |  LEFT JOIN r2 ON r2.id = e.src
      |  LEFT JOIN deg d ON d.src = e.src
      |  GROUP BY n.id
      |)
      |SELECT id, CAST(r AS BIGINT) AS rank_fx FROM r3 ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q283: KATZ centrality over q123's trade graph — the attenuated
  // walk-count sibling of PageRank (no degree normalization: a
  // high-degree hub amplifies its neighbors instead of splitting its
  // mass). Three exact integral rounds x ← scale + Σ_in x div 1000;
  // the oracle UNROLLS the identical three rounds (q123's CTE shape
  // minus the degree frame) and compares bit-for-bit.
  // -------------------------------------------------------------------
  def q283Katz(spark: SparkSession, dir: String): DataFrame =
    Graph.katzFixed(tradeEdges(spark, dir), "src", "dst", iters = 3)
      .orderBy(asc("id"))
  val q283Sql: String =
    """WITH fwd AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), e AS (
      |  SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
      |), nodes AS (
      |  SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e
      |), x0 AS (
      |  SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes
      |), x1 AS (
      |  SELECT n.id, 1000000 + COALESCE(SUM(x0.r), 0) // 1000 AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.id
      |  LEFT JOIN x0 ON x0.id = e.src
      |  GROUP BY n.id
      |), x2 AS (
      |  SELECT n.id, 1000000 + COALESCE(SUM(x1.r), 0) // 1000 AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.id
      |  LEFT JOIN x1 ON x1.id = e.src
      |  GROUP BY n.id
      |), x3 AS (
      |  SELECT n.id, 1000000 + COALESCE(SUM(x2.r), 0) // 1000 AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.id
      |  LEFT JOIN x2 ON x2.id = e.src
      |  GROUP BY n.id
      |)
      |SELECT id, CAST(r AS BIGINT) AS katz_fx FROM x3 ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q127: per-part triangle counts over the high-quantity co-purchase
  // graph (parts sharing an order, lines with l_quantity > 35 — the
  // filter keeps the bench graph at ~109k edges / 44k triangles at
  // sf0.1 instead of 1.2M / 1.9M; the operator itself has no such
  // restriction). Spark runs degree-ordered orientation
  // (Graph.triangleCounts — O(m^1.5) wedge work, skew-immune); the
  // oracle runs the naive a<b-canonical 3-way join, valid because
  // per-vertex counts are orientation-independent. All-integer, so
  // the two decompositions agree bit-for-bit.
  // -------------------------------------------------------------------
  def q127Triangles(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 35)
      .select(col("l_orderkey"), col("l_partkey"))
    val e = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    Graph.triangleCounts(e, "src", "dst").orderBy(asc("id"))
  }
  val q127Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 35
      |), e AS (
      |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), t AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |), v AS (
      |  SELECT x AS id FROM t
      |  UNION ALL SELECT y FROM t
      |  UNION ALL SELECT z FROM t
      |)
      |SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri
      |FROM v GROUP BY id ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q237: LOCAL CLUSTERING COEFFICIENT per part over the q127
  // co-purchase graph — cohesion per NODE where q127 counts per-node
  // triangles and q221 scores the global partition: coeff_fx =
  // (2·n_tri·1e6) div (dg·(dg−1)), exact int64 (deg<2 pinned 0, the
  // networkx convention). EVERY graph node appears (left join +
  // coalesce — a triangle-free node at 0 is the signal, not noise).
  // Oracle: q127's naive 3-way-join triangle CTEs + a degree CTE +
  // the identical integer-div expression — bit-for-bit.
  // -------------------------------------------------------------------
  def q237ClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 35)
      .select(col("l_orderkey"), col("l_partkey"))
    val e = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    Graph.clusteringCoefficients(e, "src", "dst").orderBy(asc("id"))
  }
  val q237Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 35
      |), e AS (
      |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), t AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |), v AS (
      |  SELECT x AS id FROM t
      |  UNION ALL SELECT y FROM t
      |  UNION ALL SELECT z FROM t
      |), tri AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM v GROUP BY id
      |), deg AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS dg
      |  FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY id
      |)
      |SELECT d.id, d.dg, COALESCE(t.n_tri, 0) AS n_tri,
      |  CASE WHEN d.dg >= 2
      |    THEN (COALESCE(t.n_tri, 0) * 2000000) // (d.dg * (d.dg - 1))
      |    ELSE 0 END AS coeff_fx
      |FROM deg d LEFT JOIN tri t USING (id)
      |ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q239: DEGREE ASSORTATIVITY of the co-purchase graph — Newman's
  // one-number "hubs link to hubs?" check (the q127/q237 graph family
  // at global granularity; negative r = hub-and-spoke, the regime
  // where wedge counts and LSH buckets skew). Exact int64 edge sums
  // (m, S_jk, S_j, S_jj) + ONE fixed-shape IEEE expression rounded to
  // 6 (explicit x·x, no pow — the q221 tolerance-free discipline).
  // Oracle replays the identical degree join + expression.
  // -------------------------------------------------------------------
  def q239Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 35)
      .select(col("l_orderkey"), col("l_partkey"))
    val e = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    Graph.degreeAssortativity(e, "src", "dst")
  }
  val q239Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 35
      |), e AS (
      |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), deg AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS dg
      |  FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY id
      |), s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(da.dg * db.dg) AS BIGINT) AS s_jk,
      |    CAST(SUM(da.dg + db.dg) AS BIGINT) AS s_j,
      |    CAST(SUM(da.dg * da.dg + db.dg * db.dg) AS BIGINT) AS s_jj
      |  FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b
      |)
      |, nd AS (
      |  SELECT m, s_jk, s_j, s_jj,
      |    (CAST(s_jk AS DOUBLE) / CAST(m AS DOUBLE))
      |      - (CAST(s_j AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
      |        * (CAST(s_j AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) AS num,
      |    (CAST(s_jj AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
      |      - (CAST(s_j AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
      |        * (CAST(s_j AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) AS den
      |  FROM s
      |)
      |SELECT m, s_jk, s_j, s_jj,
      |  ROUND(num / NULLIF(den, 0.0), 6) AS r_round
      |FROM nd""".stripMargin

  // -------------------------------------------------------------------
  // q170: multi-source BFS hop distance over the trade graph (q123's
  // customer↔supplier bipartite graph, undirected) from the nation-7
  // customer seed set — the reachability/influence-propagation member
  // of the graph family (PageRank = centrality, CC = clustering,
  // triangles = cohesion, BFS = distance). Level-synchronous frontier
  // expansion: visited nodes never re-enter the join, (id, level)
  // longs are the only shuffle payload. The hop cap (6) makes the
  // result "min over walks of length ≤ 6", exactly what the bounded
  // recursive-CTE oracle computes — the two agree even if the graph
  // had unreached tails (here the trade graph closes within 2 hops:
  // seeds → their suppliers → those suppliers' customers).
  // -------------------------------------------------------------------
  def q170BfsLevels(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir) // shared memoized edge build
    val seeds = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_nationkey") === 7)
      .select((col("c_custkey") * 2).as("id"))
    Graph.bfsLevels(edges, seeds, "src", "dst", "id", maxHops = 6)
      .select(col("id"), col("dist").cast("long").as("dist"))
      .orderBy(asc("id"))
  }
  val q170Sql: String =
    """WITH RECURSIVE fwd AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), e AS (
      |  SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
      |), seeds AS (
      |  SELECT DISTINCT c_custkey * 2 AS id FROM customer WHERE c_nationkey = 7
      |), r(id, d) AS (
      |  SELECT id, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id WHERE r.d < 6
      |)
      |SELECT id, CAST(MIN(d) AS BIGINT) AS dist
      |FROM r GROUP BY id ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q278: PIVOT-SAMPLED HARMONIC CLOSENESS (Eppstein-Wang 2001) — the
  // centrality family's distance member next to PageRank (flow),
  // HITS (mutual endorsement) and k-core (cohesion): how NEAR a node
  // sits to the rest of the graph. Exact all-pairs closeness is
  // O(n·m); the estimator grows k pivot BFS trees and sums 1/d per
  // node — error O(1/√k) independent of graph size, so k stays fixed
  // at 100 TB. All k trees grow in ONE (pivot, node)-keyed frontier
  // loop (Graph.multiSourceBfs) sharing each round's edges join.
  // Graph = the urgent-order trade slice (bounded, same bipartite
  // encoding as q170); pivots = the 4 smallest urgent customers
  // (deterministic); harmonic mass in exact ppm integer algebra
  // (1e6 div d — no float). Hop-capped at 4 so the bounded
  // recursive-CTE oracle replays the exact same distances.
  // -------------------------------------------------------------------
  def q278Closeness(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val fwd = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val pivots = o.select(col("o_custkey")).distinct()
      .orderBy(asc("o_custkey")).limit(4)
      .select((col("o_custkey") * 2).as("id"))
    Graph.multiSourceBfs(edges, pivots, "src", "dst", "id", maxHops = 4)
      .filter(col("dist") >= 1)
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_reached"),
        sum(expr("1000000L div dist")).cast("long").as("harm_fx"))
      .orderBy(asc("id"))
  }
  val q278Sql: String =
    """WITH RECURSIVE fwd AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_orderpriority = '1-URGENT'
      |), e AS (
      |  SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
      |), p AS (
      |  SELECT DISTINCT o_custkey * 2 AS pv FROM orders
      |  WHERE o_orderpriority = '1-URGENT'
      |  ORDER BY 1 LIMIT 4
      |), r(pv, id, d) AS (
      |  SELECT pv, pv, 0 FROM p
      |  UNION
      |  SELECT r.pv, e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id
      |  WHERE r.d < 4
      |), md AS (
      |  SELECT pv, id, MIN(d) AS dist FROM r GROUP BY 1, 2
      |)
      |SELECT id, CAST(COUNT(*) AS BIGINT) AS n_reached,
      |  CAST(SUM(1000000 // dist) AS BIGINT) AS harm_fx
      |FROM md WHERE dist >= 1 GROUP BY id ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q184: WEIGHTED fixed-point PageRank — q123's trade graph with rank
  // mass split by TRADE VALUE (extendedprice cents per cust↔supp pair)
  // instead of edge count: the value-weighted-centrality variant every
  // entity-importance pipeline actually wants (who routes the money,
  // not who has the most counterparties). Same exact-int64 replay
  // contract: (r·w) div W_u per edge, 3 unrolled rounds in the oracle,
  // bit-for-bit. Weights ≤ ~2e7 cents at sf0.1, r ≤ 1e9, so r·w ≤
  // ~2e16 vs the 2^63 ≈ 9.2e18 bound — ~460× (2.7 orders) of weight
  // headroom; re-check this product before any weight-unit change
  // (pre-scale w div g for a common g if it ever tightens).
  // -------------------------------------------------------------------
  def q184WeightedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val fwd = tradeRelWOf(spark, dir)
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    Graph.pageRankWeightedFixed(edges, "src", "dst", "w", iters = 3)
      .orderBy(asc("id"))
  }
  val q184Sql: String =
    """WITH fwd AS (
      |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2
      |), e AS (
      |  SELECT src, dst, w FROM fwd
      |  UNION ALL SELECT dst, src, w FROM fwd
      |), nodes AS (
      |  SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e
      |), ws AS (
      |  SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM e GROUP BY src
      |), params AS (
      |  SELECT COUNT(*) AS n, CAST(1000000000 AS BIGINT) // COUNT(*) AS r_init,
      |    (CAST(15 AS BIGINT) * CAST(1000000000 AS BIGINT))
      |      // (CAST(100 AS BIGINT) * COUNT(*)) AS base
      |  FROM nodes
      |), r0 AS (
      |  SELECT id, (SELECT r_init FROM params) AS r FROM nodes
      |), r1 AS (
      |  SELECT n.id, (SELECT base FROM params)
      |    + (85 * COALESCE(SUM((r0.r * e.w) // ws.wsum), 0)) // 100 AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.id
      |  LEFT JOIN r0 ON r0.id = e.src
      |  LEFT JOIN ws ON ws.src = e.src
      |  GROUP BY n.id
      |), r2 AS (
      |  SELECT n.id, (SELECT base FROM params)
      |    + (85 * COALESCE(SUM((r1.r * e.w) // ws.wsum), 0)) // 100 AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.id
      |  LEFT JOIN r1 ON r1.id = e.src
      |  LEFT JOIN ws ON ws.src = e.src
      |  GROUP BY n.id
      |), r3 AS (
      |  SELECT n.id, (SELECT base FROM params)
      |    + (85 * COALESCE(SUM((r2.r * e.w) // ws.wsum), 0)) // 100 AS r
      |  FROM nodes n
      |  LEFT JOIN e ON e.dst = n.id
      |  LEFT JOIN r2 ON r2.id = e.src
      |  LEFT JOIN ws ON ws.src = e.src
      |  GROUP BY n.id
      |)
      |SELECT id, CAST(r AS BIGINT) AS rank_fx FROM r3 ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q229: PERSONALIZED PageRank — q123's trade graph, teleport mass
  // restricted to the nation-7 customer seed set (q170's BFS seeds):
  // relevance-to-the-seeds instead of global centrality — the
  // graph-based data-selection / related-entity primitive ("expand
  // this trusted set by trade proximity"). Same exact-int64
  // fixed-round replay contract as q123/q184: the oracle unrolls the
  // 3 seeded rounds bit-for-bit; mass never reaches nodes > 3 hops
  // from a seed, so both engines emit the same sparse support
  // (BFS q170's bounded-horizon semantics, carrying mass instead of
  // hop counts).
  // -------------------------------------------------------------------
  def q229PersonalizedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val seeds = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_nationkey") === 7)
      .select((col("c_custkey") * 2).as("id"))
    Graph.personalizedPageRankFixed(tradeEdges(spark, dir), seeds,
        "src", "dst", "id", iters = 3)
      .orderBy(asc("id"))
  }
  val q229Sql: String = {
    def round(i: Int): String =
      s"""r$i AS (
         |  SELECT n.id,
         |    (CASE WHEN sd.id IS NULL THEN 0
         |          ELSE (SELECT base FROM params) END)
         |    + (85 * COALESCE(SUM(r${i - 1}.r // d.dg), 0)) // 100 AS r
         |  FROM nodes n
         |  LEFT JOIN sd ON sd.id = n.id
         |  LEFT JOIN e ON e.dst = n.id
         |  LEFT JOIN r${i - 1} ON r${i - 1}.id = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY n.id, sd.id
         |), """.stripMargin
    """WITH fwd AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), e AS (
      |  SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
      |), nodes AS (
      |  SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e
      |), deg AS (
      |  SELECT src, COUNT(*) AS dg FROM e GROUP BY src
      |), sd AS (
      |  SELECT DISTINCT c_custkey * 2 AS id FROM customer WHERE c_nationkey = 7
      |  INTERSECT SELECT id FROM nodes
      |), params AS (
      |  SELECT COUNT(*) AS s, CAST(1000000000 AS BIGINT) // COUNT(*) AS r_init,
      |    (CAST(15 AS BIGINT) * CAST(1000000000 AS BIGINT))
      |      // (CAST(100 AS BIGINT) * COUNT(*)) AS base
      |  FROM sd
      |), r0 AS (
      |  SELECT n.id, CASE WHEN sd.id IS NULL THEN 0
      |    ELSE (SELECT r_init FROM params) END AS r
      |  FROM nodes n LEFT JOIN sd ON sd.id = n.id
      |), """.stripMargin +
      round(1) + round(2) +
      round(3).stripSuffix(", ") +
      """
        |SELECT id, CAST(r AS BIGINT) AS ppr_fx FROM r3 WHERE r > 0
        |ORDER BY id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q177: label-propagation community detection (2 synchronous rounds,
  // deterministic smallest-label tie-break) over the trade graph —
  // the community-structure member of the graph family (PageRank =
  // centrality, CC = reachability clusters, k-core = cohesion, LPA =
  // assortative communities; on a dedup graph LPA splits
  // transitively-chained clusters that CC merges). Fixed rounds +
  // deterministic ties = exact replay: the oracle unrolls the same 2
  // rounds of GROUP BY + window majority vote and compares (id,
  // label) bit-for-bit. Per round: one edges⋈labels join, one
  // partial-agged (dst, label) count, one bounded-fan-in window.
  // -------------------------------------------------------------------
  /** The DISTINCT forward bipartite trade frame (src = 2·custkey even,
    * dst = 2·suppkey+1 odd), memoized + eagerly checkpointed per
    * (session, dir) — r13: SEVEN queries (q123/q170/q177/q201/q221/
    * q229/q272, plus q269/q273's walk corpus) each re-derived the
    * identical orders⋈lineitem edge build before their own internal
    * distinct; now the join + distinct shuffle runs once per session
    * and every consumer starts from ~1 M materialized long pairs
    * (guide §2.4: remove repeated shuffles outright). Distinctness of
    * the symmetric closure is free: the two directions live in
    * disjoint parity classes, so distinct(fwd) ∪ mirror(distinct(fwd))
    * is exactly distinct(fwd ∪ mirror(fwd)) — consumers' internal
    * `.distinct()` sees a set-identical input and emits bit-identical
    * results. */
  // r14: the build now also carries the exact int64 trade VALUE per
  // pair (sum of l_extendedprice in cents) — q208's Bellman-Ford
  // needed the identical orders⋈lineitem aggregate keyed the same way
  // (historical probe: the rel build is ~5.6 s of q208's ~5 s fused fresh
  // at sf0.1), and groupBy(src, dst) emits exactly the distinct pair
  // set the unweighted consumers read, so ONE shuffle serves both.
  // q283 (Katz takes the distinct edges), q184 (weighted PageRank sums
  // duplicate pairs) and q197/q232 ((cust, supp, cents) through
  // tradeRelOf) read it as well instead of rebuilding the join.
  private val tradeRelWMemo = SessionMemo.family[DataFrame]("tradeRelWOf")
  private def tradeRelWOf(spark: SparkSession, dir: String): DataFrame =
    tradeRelWMemo(spark, dir) {
      import org.apache.spark.sql.types.DecimalType
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        .agg(sum((col("l_extendedprice").cast(DecimalType(12, 2)) * 100)
          .cast("long")).as("w"))
        .localCheckpoint(true)
    }
  /** [[tradeRelWOf]] keyed by the TPC-H ids: (cust, supp, cents). */
  private def tradeRelOf(spark: SparkSession, dir: String): DataFrame =
    tradeRelWOf(spark, dir).select(expr("src div 2").as("cust"),
      expr("dst div 2").as("supp"), col("w").as("cents"))
  private def tradeFwdOf(spark: SparkSession, dir: String): DataFrame =
    tradeRelWOf(spark, dir).select(col("src"), col("dst"))
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val fwd = tradeFwdOf(spark, dir)
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  // -------------------------------------------------------------------
  // q269: RANDOM-WALK CORPUS (DeepWalk / node2vec p=q=1, Perozzi et
  // al. 2014) — the graph→sequence artifact a graph-embedding
  // trainer consumes: from every sampled start node (id % 29 = 0, 2
  // walks each), 6 deterministic steps where the next hop is the
  // mix32-picked index into the SORTED adjacency list —
  // `idx = mix32((cur·69069 + walk_id·40503 + t·104729) mod 2³²)
  // mod deg(cur)` — so the "random" walk is a pure function of
  // (walk_id, t, cur) that any engine replays bit-for-bit (the q243
  // rendezvous discipline: ranking across seeds goes through mix32,
  // rule 19). Emitted as (walk_id, step, node) rows — the flat
  // skip-gram window input. Shape: adjacency indexed once (per-src
  // row_number over the distinct edge frame — the one data-sized
  // sort) and persisted; each step hash-joins the WALK frontier
  // (sampled, tiny — broadcast) against the degree and adjacency
  // frames map-side, so 6 steps cost 6 broadcast probes of the same
  // persisted adjacency, never 6 shuffles of it. All operands stay
  // < 2³² before mix32's bounded multipliers — no int64 overflow for
  // DuckDB to error on through id ~1e9.
  // -------------------------------------------------------------------
  /** The materialized walk corpus, memoized per (session, dir) — a
    * DISTRIBUTED shared artifact: the frame stays a localCheckpointed
    * Dataset (the corpus is sample-sized here but data-sized at
    * 100 TB — a driver collect would not scale, a shared checkpoint
    * does), so q269 (the corpus itself) and
    * q273 (the SPPMI matrix over it) pay the 6-step generation once per
    * session. */
  private val walkCorpusMemo = SessionMemo.family[DataFrame]("walkCorpusOf")
  private def walkCorpusOf(spark: SparkSession, dir: String): DataFrame =
    walkCorpusMemo(spark, dir)(buildWalkCorpus(spark, dir))

  def q269RandwalkCorpus(spark: SparkSession, dir: String): DataFrame =
    walkCorpusOf(spark, dir).orderBy(asc("walk_id"), asc("step"))

  private def buildWalkCorpus(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Sampling => S}
    import org.apache.spark.sql.expressions.Window
    // distinct BEFORE the symmetric union: the bipartite directions
    // (even→odd / odd→even) are disjoint by construction, so deduping
    // the forward half once is the same set at half the shuffle —
    // r13: the forward half is the shared memoized tradeFwdOf frame
    val fwd = tradeFwdOf(spark, dir)
    val e = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val wAdj = Window.partitionBy(col("src")).orderBy(asc("dst"))
    val adj = e.withColumn("idx", (row_number().over(wAdj) - 1).cast("long"))
      .persist()
    // degrees and each step's frontier are walk-sized — materialize
    // them eagerly (localCheckpoint) so every step's broadcast job
    // reads a tiny cut frame instead of replaying the whole lazy
    // chain (uncut, each of the 6 broadcast builds re-scanned the 2M
    // adjacency and rebuilt the degree aggregate: 23 s → ~3 s at
    // sf0.1)
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "cur").localCheckpoint(true)
    var frontier = adj.select(col("src").as("id")).distinct()
      .filter(pmod(col("id"), lit(29)) === 0)
      .select(col("id"), explode(array(lit(0L), lit(1L))).as("r"))
      .select((col("id") * 2 + col("r")).as("walk_id"), col("id").as("cur"))
      .localCheckpoint(true)
    val segs = scala.collection.mutable.ArrayBuffer[DataFrame](
      frontier.select(col("walk_id"), lit(0L).as("step"),
        col("cur").as("node")))
    (1 to 6).foreach { t =>
      val pick = S.mix32(pmod(
        col("cur") * lit(69069L) + col("walk_id") * lit(40503L)
          + lit(t.toLong * 104729L), lit(4294967296L)))
      val fr = frontier
        .join(broadcast(deg), Seq("cur"))
        .withColumn("nidx", pmod(pick, col("deg")))
        .select(col("walk_id"), col("cur"), col("nidx"))
      frontier = adj
        .select(col("src").as("cur"), col("idx").as("nidx"),
          col("dst").as("nxt"))
        .join(broadcast(fr), Seq("cur", "nidx"))
        .select(col("walk_id"), col("nxt").as("cur"))
        .localCheckpoint(true)
      segs += frontier.select(col("walk_id"), lit(t.toLong).as("step"),
        col("cur").as("node"))
    }
    val out = segs.reduce(_ union _).localCheckpoint(true)
    adj.unpersist()
    out
  }
  // One walk step's mix32 chase, staged as CTEs (the q243 pattern:
  // one CTE per xorshift round — inlining would copy the operand 32×).
  private def walkStepSql(t: Int): String = {
    val p = s"f${t - 1}"
    s"""s${t}a AS (
      |  SELECT walk_id, cur,
      |    (cur * 69069 + walk_id * 40503 + $t * 104729) % 4294967296 AS v
      |  FROM $p),
      |s${t}b AS (SELECT walk_id, cur, xor(v, v >> 16) AS v FROM s${t}a),
      |s${t}c AS (SELECT walk_id, cur, (v * 69069 + 12345) % 4294967296 AS v FROM s${t}b),
      |s${t}d AS (SELECT walk_id, cur, xor(v, v >> 13) AS v FROM s${t}c),
      |s${t}e AS (SELECT walk_id, cur, (v * 99991 + 1) % 4294967296 AS v FROM s${t}d),
      |s${t}f AS (SELECT walk_id, cur, xor(v, v >> 16) AS v FROM s${t}e),
      |f$t AS (
      |  SELECT t.walk_id, a.dst AS cur
      |  FROM s${t}f t
      |  JOIN deg d ON d.src = t.cur
      |  JOIN adj a ON a.src = t.cur AND a.idx = t.v % d.deg)""".stripMargin
  }
  // Shared CTE chain through the full 7-step corpus (the lpaPrefixSql
  // pattern): q269 gates the corpus itself, q273 the SPPMI matrix on
  // top — a drifted hop corrupts both gates.
  private val walkCtesSql: String =
    """WITH fwd AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), e AS (
      |  SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
      |), adj AS (
      |  SELECT src, dst,
      |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
      |  FROM e
      |), deg AS (
      |  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src
      |), f0 AS (
      |  SELECT id * 2 + r AS walk_id, id AS cur
      |  FROM (SELECT DISTINCT src AS id FROM e) n
      |  CROSS JOIN range(0, 2) t(r)
      |  WHERE id % 29 = 0
      |),
      |""".stripMargin +
      (1 to 6).map(walkStepSql).mkString(",\n") +
      ",\ncorpus AS MATERIALIZED (\n" +
      (0 to 6).map(t =>
        s"  SELECT walk_id, CAST($t AS BIGINT) AS step, cur AS node FROM f$t")
        .mkString("\n  UNION ALL\n") +
      "\n)"
  val q269Sql: String =
    walkCtesSql + "\nSELECT walk_id, step, node FROM corpus ORDER BY walk_id, step"

  // -------------------------------------------------------------------
  // q273: WALK-WINDOW SPPMI MATRIX (Levy & Goldberg 2014 — DeepWalk/
  // word2vec as implicit matrix factorization): the (node, context)
  // co-occurrence counts over q269's walk corpus with a ±2-step
  // window, folded to shifted-positive PMI in the floor(ln·1e6)
  // fixed-point convention (q161's discipline) — THE training matrix
  // a graph-embedding factorizer consumes. The corpus comes from the
  // per-JVM memoized walk frame (generated once, shared with q269 —
  // the production artifact shape); pairs are an equi self-join on
  // walk_id (≤ 7 rows per key — linear, never corpus²) with the step
  // window as a residual filter, marginals broadcast back.
  // -------------------------------------------------------------------
  def q273WalkPmi(spark: SparkSession, dir: String): DataFrame = {
    val corpus = walkCorpusOf(spark, dir)
    val a = corpus.select(col("walk_id"), col("step").as("sa"),
      col("node").as("w"))
    val b = corpus.select(col("walk_id"), col("step").as("sb"),
      col("node").as("c"))
    val pairs = a.join(b, Seq("walk_id"))
      .filter(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= 2)
      .groupBy(col("w"), col("c")).agg(count(lit(1)).as("n_wc"))
    val mw = pairs.groupBy(col("w")).agg(sum(col("n_wc")).as("n_w"))
    val mc = pairs.groupBy(col("c")).agg(sum(col("n_wc")).as("n_c"))
    val dt = pairs.agg(sum(col("n_wc")).as("d"))
    pairs.join(mw, "w").join(mc, "c").crossJoin(broadcast(dt))
      .select(col("w"), col("c"), col("n_wc"),
        greatest(lit(0L),
          floor(log((col("n_wc") * col("d")).cast("double") /
            (col("n_w") * col("n_c")).cast("double")) * lit(1000000.0))
            .cast("long")).as("sppmi_fx"))
      .orderBy(asc("w"), asc("c"))
  }
  val q273Sql: String =
    walkCtesSql +
      """, pairs AS MATERIALIZED (
      |  SELECT a.node AS w, b.node AS c, CAST(COUNT(*) AS BIGINT) AS n_wc
      |  FROM corpus a JOIN corpus b ON a.walk_id = b.walk_id
      |    AND a.step <> b.step AND ABS(a.step - b.step) <= 2
      |  GROUP BY 1, 2
      |), mw AS (
      |  SELECT w, CAST(SUM(n_wc) AS BIGINT) AS n_w FROM pairs GROUP BY 1
      |), mc AS (
      |  SELECT c, CAST(SUM(n_wc) AS BIGINT) AS n_c FROM pairs GROUP BY 1
      |), dt AS (SELECT CAST(SUM(n_wc) AS BIGINT) AS d FROM pairs)
      |SELECT p.w, p.c, p.n_wc,
      |  GREATEST(CAST(0 AS BIGINT),
      |    CAST(FLOOR(LN(CAST(p.n_wc * dt.d AS DOUBLE)
      |      / CAST(mw.n_w * mc.n_c AS DOUBLE)) * 1000000) AS BIGINT))
      |    AS sppmi_fx
      |FROM pairs p JOIN mw USING (w) JOIN mc USING (c) CROSS JOIN dt
      |ORDER BY w, c""".stripMargin

  /** The 2-round LPA label frame over the trade graph, memoized +
    * eagerly checkpointed per (session, dir) — q177 emits it and q221
    * scores its modularity: both previously ran the identical 2-round
    * vote chain (the oracle side already shares the CTE prefix —
    * lpaPrefixSql — for exactly this reason). Node-sized. */
  private val lpaLabelsMemo = SessionMemo.family[DataFrame]("lpaLabelsOf")
  private def lpaLabelsOf(spark: SparkSession, dir: String): DataFrame =
    lpaLabelsMemo(spark, dir) {
      Graph.labelPropagation(tradeEdges(spark, dir), "src", "dst", rounds = 2)
        .localCheckpoint(true)
    }

  def q177LabelProp(spark: SparkSession, dir: String): DataFrame =
    lpaLabelsOf(spark, dir).orderBy(asc("id"))
  // The unrolled 2-round LPA CTE chain — shared verbatim by q177 (the
  // labels themselves) and q221 (modularity OF those labels): one
  // drifted vote in either gate shows up in both.
  private val lpaPrefixSql: String =
    """WITH fwd AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), e AS (
      |  SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
      |), nodes AS (
      |  SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e
      |), l0 AS (
      |  SELECT id, id AS lab FROM nodes
      |), l1 AS (
      |  SELECT id, lab FROM (
      |    SELECT e.dst AS id, l0.lab,
      |      ROW_NUMBER() OVER (PARTITION BY e.dst
      |        ORDER BY COUNT(*) DESC, l0.lab) AS rk
      |    FROM e JOIN l0 ON l0.id = e.src
      |    GROUP BY e.dst, l0.lab)
      |  WHERE rk = 1
      |), l2 AS (
      |  SELECT id, lab FROM (
      |    SELECT e.dst AS id, l1.lab,
      |      ROW_NUMBER() OVER (PARTITION BY e.dst
      |        ORDER BY COUNT(*) DESC, l1.lab) AS rk
      |    FROM e JOIN l1 ON l1.id = e.src
      |    GROUP BY e.dst, l1.lab)
      |  WHERE rk = 1
      |)
      |""".stripMargin
  val q177Sql: String =
    lpaPrefixSql + "SELECT id, lab FROM l2 ORDER BY id"

  // -------------------------------------------------------------------
  // q221: MODULARITY of q177's LPA communities (Newman & Girvan 2004) —
  // the quality score that closes the community-detection loop: did
  // the partition find structure (Q_c > random) or noise? All-integer
  // pieces (per-community node/degree/internal-edge counts) + ONE
  // fixed-shape IEEE expression ⇒ bit-exact hash gate, no tolerance.
  // The oracle replays the full 2-round LPA chain (shared CTE prefix
  // with q177) and the modularity algebra on top — a drifted vote in
  // round 1 corrupts both gates.
  // -------------------------------------------------------------------
  def q221Modularity(spark: SparkSession, dir: String): DataFrame =
    // r13: both expensive halves are now session-shared — the edge
    // frame via tradeFwdOf (tradeEdges is its map-only symmetric
    // closure, distinct by parity) and the 2-round LPA labels via
    // lpaLabelsOf (bit-identical to q177's output). Modularity's own
    // internal distinct canonicalizes the already-distinct closure.
    Graph.modularity(tradeEdges(spark, dir), "src", "dst",
        lpaLabelsOf(spark, dir))
      .orderBy(asc("lab"))
  val q221Sql: String =
    lpaPrefixSql +
      """, tagged AS (
      |  SELECT e.src, e.dst, a.lab AS la, b.lab AS lb
      |  FROM e JOIN l2 a ON a.id = e.src JOIN l2 b ON b.id = e.dst
      |), tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS dd FROM tagged
      |), per AS (
      |  SELECT la AS lab, CAST(COUNT(*) AS BIGINT) AS deg_sum,
      |    CAST(COUNT(*) FILTER (la = lb) AS BIGINT) AS internal
      |  FROM tagged GROUP BY la
      |), nn AS (
      |  SELECT lab, COUNT(*) AS n_nodes FROM l2 GROUP BY lab
      |)
      |SELECT p.lab, nn.n_nodes, p.deg_sum, p.internal,
      |  CAST(p.internal AS DOUBLE) / t.dd
      |    - (CAST(p.deg_sum AS DOUBLE) / t.dd)
      |      * (CAST(p.deg_sum AS DOUBLE) / t.dd) AS q_term
      |FROM per p JOIN nn USING (lab), tot t
      |ORDER BY lab""".stripMargin

  // -------------------------------------------------------------------
  // q272: LOUVAIN MOVE ROUNDS (Blondel et al. 2008 local-move phase,
  // synchronous fixed-rounds contract) over the trade graph — the
  // modularity-GAIN community update next to q177's plain majority
  // vote: a vote into a heavy community is discounted by its Σtot
  // degree mass (score = dd·k_{i,c} − k_i·Σtot_{c∖i}, exact int64),
  // ties to the smaller label. Oracle unrolls both rounds: Σtot /
  // k_{i,c} / stay∪move candidates / the identical argmax as
  // row_number over (score desc, clab asc) ≡ max(struct(score, −c)).
  // -------------------------------------------------------------------
  def q272LouvainMove(spark: SparkSession, dir: String): DataFrame =
    Graph.louvainMoveRounds(tradeEdges(spark, dir), "src", "dst", rounds = 2)
      .orderBy(asc("id"))
  private def louvainRoundSql(r: Int): String = {
    val prev = s"lv${r - 1}"
    s"""tot$r AS (
       |  SELECT l.lab, CAST(SUM(d.k) AS BIGINT) AS sigma
       |  FROM $prev l JOIN deg d USING (id) GROUP BY l.lab
       |), kic$r AS (
       |  SELECT e.src AS id, lb.lab AS clab, CAST(COUNT(*) AS BIGINT) AS kic
       |  FROM e JOIN $prev lb ON lb.id = e.dst GROUP BY 1, 2
       |), cand$r AS (
       |  SELECT l.id, l.lab AS cur, l.lab AS clab, COALESCE(k2.kic, 0) AS kic
       |  FROM $prev l LEFT JOIN kic$r k2 ON k2.id = l.id AND k2.clab = l.lab
       |  UNION ALL
       |  SELECT k.id, l.lab AS cur, k.clab, k.kic
       |  FROM kic$r k JOIN $prev l ON l.id = k.id
       |  WHERE k.clab <> l.lab
       |), lv$r AS (
       |  SELECT id, clab AS lab FROM (
       |    SELECT c.id, c.clab,
       |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
       |        ddt.dd * c.kic - d.k *
       |          (t.sigma - CASE WHEN c.clab = c.cur THEN d.k ELSE 0 END)
       |        DESC, c.clab) AS rk
       |    FROM cand$r c JOIN deg d ON d.id = c.id
       |    JOIN tot$r t ON t.lab = c.clab CROSS JOIN ddt)
       |  WHERE rk = 1
       |)""".stripMargin
  }
  val q272Sql: String =
    """WITH fwd AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), e AS (
      |  SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
      |), deg AS (
      |  SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS k FROM e GROUP BY 1
      |), ddt AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS dd FROM e
      |), lv0 AS (
      |  SELECT id, id AS lab FROM (
      |    SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e)
      |),
      |""".stripMargin +
      (1 to 2).map(louvainRoundSql).mkString(",\n") +
      "\nSELECT id, lab FROM lv2 ORDER BY id"

  // -------------------------------------------------------------------
  // q171: iterated k-core peel (k=6, 4 synchronous rounds) over q127's
  // high-quantity co-purchase graph — the cohesive-subgraph extractor
  // (spam/boilerplate rings in a doc-similarity graph, dense
  // communities in an interaction graph). Fixed round count is the
  // deterministic-replay contract (q123's fixed-iterations
  // convention): the oracle unrolls the identical 4 rounds — degree
  // count among survivors, drop deg < 6 — and compares (id, deg)
  // bit-for-bit. At this k the peel converges by round ~5 at both
  // scales (1635 @ sf0.01 / 16818 @ sf0.1 survivors at fixpoint), so
  // round 4 is already within 1% of the true 6-core — and the GATE
  // tests the contract, not the fixpoint. All-integer, long-pair
  // shuffles only.
  // -------------------------------------------------------------------
  def q171KCore(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 35)
      .select(col("l_orderkey"), col("l_partkey"))
    val e = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    Graph.kCorePeel(e, "src", "dst", k = 6, rounds = 4).orderBy(asc("id"))
  }
  val q171Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 35
      |), e AS (
      |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), d1 AS (
      |  SELECT id, COUNT(*) AS deg FROM (
      |    SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id
      |), a1 AS (SELECT id FROM d1 WHERE deg >= 6
      |), d2 AS (
      |  SELECT id, COUNT(*) AS deg FROM (
      |    SELECT e.a AS id FROM e JOIN a1 x ON e.a = x.id JOIN a1 y ON e.b = y.id
      |    UNION ALL
      |    SELECT e.b FROM e JOIN a1 x ON e.a = x.id JOIN a1 y ON e.b = y.id)
      |  GROUP BY id
      |), a2 AS (SELECT id FROM d2 WHERE deg >= 6
      |), d3 AS (
      |  SELECT id, COUNT(*) AS deg FROM (
      |    SELECT e.a AS id FROM e JOIN a2 x ON e.a = x.id JOIN a2 y ON e.b = y.id
      |    UNION ALL
      |    SELECT e.b FROM e JOIN a2 x ON e.a = x.id JOIN a2 y ON e.b = y.id)
      |  GROUP BY id
      |), a3 AS (SELECT id FROM d3 WHERE deg >= 6
      |), d4 AS (
      |  SELECT id, COUNT(*) AS deg FROM (
      |    SELECT e.a AS id FROM e JOIN a3 x ON e.a = x.id JOIN a3 y ON e.b = y.id
      |    UNION ALL
      |    SELECT e.b FROM e JOIN a3 x ON e.a = x.id JOIN a3 y ON e.b = y.id)
      |  GROUP BY id
      |)
      |SELECT id, CAST(deg AS BIGINT) AS deg
      |FROM d4 WHERE deg >= 6 ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q96: fuzzy-key dedup — bounded edit distance over the 24-char
  // document prefix, blocked on the 8-char prefix. Both engines run
  // the classic Wagner-Fischer DP, so distances oracle exactly; the
  // bucket-cap window is mirrored in SQL.
  // -------------------------------------------------------------------
  def q96FuzzyKeyPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(
        docs(spark, dir).withColumn("key24", substring(col("text"), 1, 24)),
        "doc_id", "key24", maxDist = 3, blockPrefix = 8, maxBucket = 1000)
      .orderBy(asc("id_a"), asc("id_b"))
  val q96Sql: String =
    """WITH k AS (
      |  SELECT doc_id, SUBSTRING(text, 1, 24) AS kk,
      |    SUBSTRING(text, 1, 8) AS bucket FROM documents
      |), capped AS (
      |  SELECT * FROM k QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= 1000
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(a.kk, b.kk) AS INT) AS dist
      |FROM capped a JOIN capped b
      |  ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.kk, b.kk) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q88: multimodal transcode accounting — image resize / video
  // frame-sample / audio passthrough, bytes in/out per type. The stub
  // policies are pure functions of payload length, so DuckDB rebuilds
  // the exact byte math (incl. the every-2nd-64-byte-chunk sum) from
  // STRLEN(text): the gate proves dispatch + chunk arithmetic +
  // partition-wise plumbing, not the codec.
  // -------------------------------------------------------------------
  def q88MultimodalTranscode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.transcodeStats(spark, dir)
  val q88Sql: String =
    """WITH m AS (
      |  SELECT doc_id, STRLEN(text) AS nb,
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |         WHEN 1 THEN 'audio' ELSE 'video' END AS media_type
      |  FROM documents
      |), vid AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN i % 2 = 0 THEN LEAST(64, nb - 64 * i) ELSE 0 END) AS n_out
      |  FROM (SELECT doc_id, nb,
      |          UNNEST(range(0, CAST(CEIL(nb / 64.0) AS BIGINT))) AS i
      |        FROM m WHERE media_type = 'video')
      |  GROUP BY doc_id
      |), sized AS (
      |  SELECT m.media_type, m.nb,
      |    CASE m.media_type
      |      WHEN 'image' THEN LEAST(m.nb, 256)
      |      WHEN 'audio' THEN m.nb
      |      ELSE COALESCE(v.n_out, 0) END AS n_out
      |  FROM m LEFT JOIN vid v USING (doc_id)
      |)
      |SELECT media_type, COUNT(*) AS n_media,
      |  CAST(SUM(nb) AS BIGINT) AS bytes_in,
      |  CAST(SUM(n_out) AS BIGINT) AS bytes_out
      |FROM sized GROUP BY media_type ORDER BY media_type""".stripMargin

  // -------------------------------------------------------------------
  // q220: VIDEO FRAME SAMPLING — the per-frame explode q88 only
  // accounts in aggregate: every 2nd 64-byte "frame" of each video
  // payload becomes its own row (chunk_idx, byte offset, length,
  // fingerprint), the shape a per-frame decode/dedup/ANN stage
  // consumes. Map-only flatMap; frames never shuffle. Oracle = FULL
  // byte-exact replay, not containment: DuckDB rebuilds every frame
  // from hex(encode(text)) — chunk grid, offsets, lengths, and the
  // md5 over the SAME uppercase-hex rendering Spark emits — so a
  // wrong stride, a dropped tail frame, or a corrupted byte all
  // hash-mismatch.
  // -------------------------------------------------------------------
  def q220FrameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameSamples(Multimodal.mediaTable(spark, dir),
        chunk = 64, every = 2)
      .toDF()
      .select(col("media_id"), col("chunk_idx"), col("off"),
        length(col("frame")).cast("long").as("flen"),
        md5(encode(hex(col("frame")), "UTF-8")).as("fmd5"))
      .orderBy(asc("media_id"), asc("chunk_idx"))
  val q220Sql: String =
    """WITH v AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 3 = 2
      |), f AS (
      |  SELECT media_id, hx, n, UNNEST(range(0, (n-1)//64 + 1)) AS i FROM v
      |)
      |SELECT media_id, CAST(i AS BIGINT) AS chunk_idx,
      |  CAST(i*64 AS BIGINT) AS off,
      |  CAST(LEAST(64, n - i*64) AS BIGINT) AS flen,
      |  md5(substring(hx, CAST(i*64*2 + 1 AS BIGINT),
      |    CAST(LEAST(64, n - i*64)*2 AS BIGINT))) AS fmd5
      |FROM f WHERE i % 2 = 0
      |ORDER BY media_id, chunk_idx""".stripMargin

  // -------------------------------------------------------------------
  // q222: AUDIO ENERGY / SILENCE TRIM — the audio-modality
  // feature-extract (q220 is video's, q37/q210 image's): 32-byte
  // windows, exact integer energy Σ(b−128)², per-clip summary with
  // the silence-trim boundaries (first/last window ≥ 40000 — ~p10 of
  // the corpus energy distribution, so quiet windows really exist).
  // ALL-INTEGER output ⇒ exact hash gate: DuckDB rebuilds every byte
  // via a hex-pair→int cast over hex(encode(text)) and replays the
  // window grid, energies, threshold, and boundaries bit-for-bit.
  // -------------------------------------------------------------------
  def q222AudioEnergy(spark: SparkSession, dir: String): DataFrame = {
    val loud = col("ss") >= 40000L
    Multimodal.audioWindows(Multimodal.mediaTable(spark, dir), win = 32)
      .toDF()
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_win"),
        sum(loud.cast("long")).as("n_loud"),
        coalesce(min(when(loud, col("win_idx"))), lit(-1L)).as("first_loud"),
        coalesce(max(when(loud, col("win_idx"))), lit(-1L)).as("last_loud"),
        sum(col("ss")).as("total_ss"))
      .orderBy(asc("media_id"))
  }
  val q222Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 3 = 1
      |), b AS (
      |  SELECT media_id, UNNEST(range(0, n)) AS p, hx FROM a
      |), v AS (
      |  SELECT media_id, p // 32 AS w,
      |    (CAST(('0x' || substring(hx, CAST(p*2+1 AS BIGINT), 2)) AS INTEGER)
      |      - 128) AS s
      |  FROM b
      |), wn AS (
      |  SELECT media_id, w, CAST(SUM(s*s) AS BIGINT) AS ss
      |  FROM v GROUP BY media_id, w
      |)
      |SELECT media_id, COUNT(*) AS n_win,
      |  CAST(COUNT(*) FILTER (ss >= 40000) AS BIGINT) AS n_loud,
      |  COALESCE(MIN(w) FILTER (ss >= 40000), -1) AS first_loud,
      |  COALESCE(MAX(w) FILTER (ss >= 40000), -1) AS last_loud,
      |  CAST(SUM(ss) AS BIGINT) AS total_ss
      |FROM wn GROUP BY media_id ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // q236: AUDIO UTTERANCE SEGMENTATION — the VAD rung above q222's
  // window energies: active (ss ≥ 40000) windows merge into
  // utterances, bridging gaps of ≤ 1 silent window (gap=1); one row
  // per utterance with its window extent, active count and energy.
  // The lag/cumsum run merge runs over ACTIVE windows only (anchors,
  // never the full grid — the repeated-extents discipline). EXACT
  // all-int64 oracle: q222's byte-rebuild CTEs + the same gap-1
  // run-merge predicate replayed in SQL.
  // -------------------------------------------------------------------
  def q236AudioUtterances(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioUtterances(Multimodal.mediaTable(spark, dir),
        win = 32, threshold = 40000L, gap = 1)
      .orderBy(asc("media_id"), asc("utt"))
  val q236Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 3 = 1
      |), b AS (
      |  SELECT media_id, UNNEST(range(0, n)) AS p, hx FROM a
      |), v AS (
      |  SELECT media_id, p // 32 AS w,
      |    (CAST(('0x' || substring(hx, CAST(p*2+1 AS BIGINT), 2)) AS INTEGER)
      |      - 128) AS s
      |  FROM b
      |), wn AS (
      |  SELECT media_id, w, CAST(SUM(s*s) AS BIGINT) AS ss
      |  FROM v GROUP BY media_id, w
      |), act AS (
      |  SELECT media_id, w, ss,
      |    CASE WHEN w - LAG(w) OVER (PARTITION BY media_id ORDER BY w) <= 2
      |      THEN 0 ELSE 1 END AS brk
      |  FROM wn WHERE ss >= 40000
      |), runs AS (
      |  SELECT media_id, w, ss,
      |    SUM(brk) OVER (PARTITION BY media_id ORDER BY w
      |      ROWS UNBOUNDED PRECEDING) AS utt
      |  FROM act
      |)
      |SELECT media_id, CAST(utt AS BIGINT) AS utt,
      |  MIN(w) AS start_win, MAX(w) AS end_win,
      |  COUNT(*) AS n_active, CAST(SUM(ss) AS BIGINT) AS energy
      |FROM runs GROUP BY media_id, utt
      |ORDER BY media_id, utt""".stripMargin

  // -------------------------------------------------------------------
  // q287: VIDEO SHOT-BOUNDARY DETECTION — the temporal-segmentation
  // rung for the video modality (q220 explodes the frame grid; this
  // finds where scenes CHANGE): 16-bin high-nibble byte histograms
  // per 64-byte stub frame, a cut between consecutive frames iff the
  // L1 histogram distance ≥ 32 (measured ~12% of frame pairs on this
  // corpus — a non-trivial mix, not all-cut or no-cut). The whole
  // detector runs inside the scan pass (frames of one video are
  // consecutive local bytes — no shuffle, no window). EXACT all-int64
  // oracle: DuckDB rebuilds every byte via hex pairs, re-bins the
  // dense (frame × 16-bin) grid, re-derives distances via LEAD per
  // bin, and replays threshold/cut/first/max bit-for-bit.
  // -------------------------------------------------------------------
  def q287ShotBoundary(spark: SparkSession, dir: String): DataFrame =
    Multimodal.shotBoundaries(Multimodal.mediaTable(spark, dir),
        chunk = 64, threshold = 32L)
      .toDF()
      .orderBy(asc("media_id"))
  val q287Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 3 = 2
      |), b AS (
      |  SELECT media_id, UNNEST(range(0, n)) AS p, hx FROM a
      |), h AS (
      |  SELECT media_id, p // 64 AS w,
      |    CAST(('0x' || substring(hx, CAST(p*2+1 AS BIGINT), 2)) AS INTEGER)
      |      // 16 AS bin
      |  FROM b
      |), hc AS (
      |  SELECT media_id, w, bin, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM h GROUP BY 1, 2, 3
      |), nf AS (
      |  SELECT media_id, (n - 1) // 64 + 1 AS n_frames FROM a
      |), grid AS (
      |  SELECT media_id, w, bin
      |  FROM (SELECT media_id, UNNEST(range(0, n_frames)) AS w FROM nf)
      |  CROSS JOIN (SELECT UNNEST(range(0, 16)) AS bin)
      |), gc AS (
      |  SELECT g.media_id, g.w, g.bin, COALESCE(hc.c, 0) AS c
      |  FROM grid g LEFT JOIN hc
      |    ON hc.media_id = g.media_id AND hc.w = g.w AND hc.bin = g.bin
      |), dd AS (
      |  SELECT media_id, w, c,
      |    LEAD(c) OVER (PARTITION BY media_id, bin ORDER BY w) AS c2
      |  FROM gc
      |), dist AS (
      |  SELECT media_id, w, CAST(SUM(ABS(c - c2)) AS BIGINT) AS d
      |  FROM dd WHERE c2 IS NOT NULL GROUP BY 1, 2
      |), s AS (
      |  SELECT media_id,
      |    CAST(COUNT(*) FILTER (d >= 32) AS BIGINT) AS n_cuts,
      |    MIN(w + 1) FILTER (d >= 32) AS first_cut,
      |    MAX(d) AS max_d
      |  FROM dist GROUP BY 1
      |)
      |SELECT nf.media_id, CAST(nf.n_frames AS BIGINT) AS n_frames,
      |  COALESCE(s.n_cuts, 0) AS n_cuts,
      |  CAST(COALESCE(s.first_cut, -1) AS BIGINT) AS first_cut,
      |  CAST(COALESCE(s.max_d, 0) AS BIGINT) AS max_d
      |FROM nf LEFT JOIN s USING (media_id)
      |ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // q266: AUDIO FINGERPRINT MATCHING — the audio near-dup rung
  // (constellation landmarks, Wang 2003 adapted to the 1-D energy
  // grid): q222's window energies → strict local maxima (≥ 40000) →
  // 8-bit strength bands (ss >> 12) → fanout-3 landmark pairs within
  // 16 windows packed into one int64 fp → df≤50-capped inverted-index
  // join → per-pair offset-histogram vote, best offset by the
  // lesson-17 max(struct) argmax. ALL-INT64 ⇒ exact hash gate: DuckDB
  // rebuilds every byte (q222's hex-pair replay) and replays peaks,
  // bands, landmarks, the posting cap, and the vote bit-for-bit.
  // -------------------------------------------------------------------
  def q266AudioFingerprint(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprintMatches(Multimodal.mediaTable(spark, dir),
        win = 32, fanout = 3, maxDt = 16L, minVotes = 4L, maxDf = 50)
      .orderBy(asc("media_a"), asc("media_b"))
  val q266Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 3 = 1
      |), b AS (
      |  SELECT media_id, UNNEST(range(0, n)) AS p, hx FROM a
      |), v AS (
      |  SELECT media_id, p // 32 AS w,
      |    (CAST(('0x' || substring(hx, CAST(p*2+1 AS BIGINT), 2)) AS INTEGER)
      |      - 128) AS s
      |  FROM b
      |), wn AS (
      |  SELECT media_id, w, CAST(SUM(s*s) AS BIGINT) AS ss
      |  FROM v GROUP BY media_id, w
      |), pk AS (
      |  SELECT media_id, w AS t, LEAST(ss >> 12, 255) AS band FROM (
      |    SELECT media_id, w, ss,
      |      LAG(ss) OVER (PARTITION BY media_id ORDER BY w) AS pv,
      |      LEAD(ss) OVER (PARTITION BY media_id ORDER BY w) AS nx
      |    FROM wn)
      |  WHERE ss >= 40000 AND pv IS NOT NULL AND nx IS NOT NULL
      |    AND ss > pv AND ss > nx
      |), lm0 AS (
      |  SELECT media_id, t, band,
      |    LEAD(t, 1) OVER pw AS t2_1, LEAD(band, 1) OVER pw AS b2_1,
      |    LEAD(t, 2) OVER pw AS t2_2, LEAD(band, 2) OVER pw AS b2_2,
      |    LEAD(t, 3) OVER pw AS t2_3, LEAD(band, 3) OVER pw AS b2_3
      |  FROM pk WINDOW pw AS (PARTITION BY media_id ORDER BY t)
      |), lm AS (
      |  SELECT media_id, t, band*65536 + b2*256 + (t2 - t) AS fp FROM (
      |    SELECT media_id, t, band, t2_1 AS t2, b2_1 AS b2 FROM lm0
      |    UNION ALL SELECT media_id, t, band, t2_2, b2_2 FROM lm0
      |    UNION ALL SELECT media_id, t, band, t2_3, b2_3 FROM lm0)
      |  WHERE t2 IS NOT NULL AND t2 - t <= 16
      |), kept AS (
      |  SELECT lm.media_id, lm.t, lm.fp FROM lm JOIN (
      |    SELECT fp FROM (
      |      SELECT fp, COUNT(DISTINCT media_id) AS df FROM lm GROUP BY fp)
      |    WHERE df <= 50) d USING (fp)
      |), vo AS (
      |  SELECT x.media_id AS media_a, y.media_id AS media_b,
      |    x.t - y.t AS t_off, CAST(COUNT(*) AS BIGINT) AS votes
      |  FROM kept x JOIN kept y ON x.fp = y.fp AND x.media_id < y.media_id
      |  GROUP BY 1, 2, 3
      |), best AS (
      |  SELECT media_a, media_b, t_off, votes,
      |    CAST(SUM(votes) OVER (PARTITION BY media_a, media_b) AS BIGINT)
      |      AS n_shared,
      |    ROW_NUMBER() OVER (PARTITION BY media_a, media_b
      |      ORDER BY votes DESC, t_off ASC) AS rn
      |  FROM vo)
      |SELECT media_a, media_b, t_off, votes, n_shared
      |FROM best WHERE rn = 1 AND votes >= 4
      |ORDER BY media_a, media_b""".stripMargin

  // -------------------------------------------------------------------
  // q38: Structured Streaming hourly rollup (real streaming engine,
  // versioned foreachBatch parquet sink, drained synchronously) —
  // oracle is plain batch SQL
  // -------------------------------------------------------------------
  def q38StreamHourly(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.hourlyRollupBatchDriven(spark, dir)
  val q38Sql: String =
    """SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q167: STREAMING QUANTILES — the t-digest aggregate inside a
  // watermarked append-mode window aggregate (7-day windows ×
  // event_type, p50/p90/p99 of value): sketch state in the state
  // store, one emission per closed window, distributed parquet drain.
  // Oracle: rank-bracket containment per (window, type) group over the
  // SAME closed-window set (end ≤ max(ts) − 2h, the recomputed
  // watermark horizon — probed: 20 of 25 buckets close at sf0.01 with
  // no <=/<  boundary tie). Measured max rank error 0.67%·n (sf0.01,
  // group n 194-479) / 0.28%·n (sf0.1) vs the max(3, 2%·n) gate —
  // ≥3× margin. Plus a completeness clause pinning
  // 3 rows × |closed buckets| (partial emission, an unclosed window,
  // or a skipped group all zero the main branch → hard FAIL).
  // -------------------------------------------------------------------
  def q167StreamQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingQuantilesBatchDriven(spark, dir)
  val q167Sql: String =
    """WITH e AS (
      |  SELECT w_start, event_type, q, est
      |  FROM read_parquet('__GRAFT_OUT__/q167_stream_quantiles/*.parquet')
      |), ev AS (
      |  SELECT make_timestamp((EPOCH_US(CAST(ts AS TIMESTAMP)) // 604800000000)
      |           * 604800000000) AS w_start,
      |    event_type, value
      |  FROM events
      |), closed AS (
      |  SELECT w_start, event_type, COUNT(*) AS n FROM ev
      |  WHERE EPOCH_US(w_start) + 604800000000 <=
      |    (SELECT MAX(EPOCH_US(CAST(ts AS TIMESTAMP))) - 7200000000 FROM events)
      |  GROUP BY 1, 2
      |), r AS (
      |  SELECT e.w_start, e.event_type, e.q, e.est,
      |    SUM(CASE WHEN x.value < e.est THEN 1 ELSE 0 END) AS below,
      |    SUM(CASE WHEN x.value <= e.est THEN 1 ELSE 0 END) AS beloweq
      |  FROM e JOIN ev x ON x.w_start = e.w_start AND x.event_type = e.event_type
      |  GROUP BY 1, 2, 3, 4
      |)
      |SELECT r.w_start, r.event_type, r.q, r.est
      |FROM r JOIN closed c ON c.w_start = r.w_start AND c.event_type = r.event_type
      |WHERE r.below <= r.q * c.n + GREATEST(3, 0.02 * c.n)
      |  AND r.beloweq >= r.q * c.n - GREATEST(3, 0.02 * c.n)
      |  AND (SELECT COUNT(*) FROM e) = 3 * (SELECT COUNT(*) FROM closed)
      |UNION ALL SELECT TIMESTAMP '1970-01-01 00:00:00', '~', -1.0, -1.0
      |  WHERE (SELECT COUNT(*)
      |    FROM read_parquet('__GRAFT_OUT__/q167_stream_quantiles/*.parquet')) = 0
      |ORDER BY w_start, event_type, q""".stripMargin

  // -------------------------------------------------------------------
  // q175: STREAMING HEAVY HITTERS — the Misra-Gries aggregate inside a
  // watermarked append-mode window aggregate (7-day windows, top-10
  // users by event count): sketch state per open window in the state
  // store, one emission per closed window, distributed parquet drain.
  // capacity 32768 vs 150/1,500 users per window = EXACT regime at
  // both scales, so the oracle independently recomputes each closed
  // window's true top-10 (same closure horizon as q167: window end ≤
  // max(ts) − 2h) with the MG tie-break (n DESC, user_key VARCHAR
  // asc) and the comparison is bit-for-bit — no tolerance, no
  // containment needed.
  // -------------------------------------------------------------------
  def q175StreamHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingHeavyHittersBatchDriven(spark, dir)
  val q175Sql: String =
    """WITH ev AS (
      |  SELECT make_timestamp((EPOCH_US(CAST(ts AS TIMESTAMP)) // 604800000000)
      |           * 604800000000) AS w_start,
      |    CAST(user_id AS VARCHAR) AS user_key
      |  FROM events
      |), closed AS (
      |  SELECT DISTINCT w_start FROM ev
      |  WHERE EPOCH_US(w_start) + 604800000000 <=
      |    (SELECT MAX(EPOCH_US(CAST(ts AS TIMESTAMP))) - 7200000000 FROM events)
      |), truth AS (
      |  SELECT w_start, user_key, COUNT(*) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY w_start
      |      ORDER BY COUNT(*) DESC, user_key) AS rk
      |  FROM ev WHERE w_start IN (SELECT w_start FROM closed)
      |  GROUP BY w_start, user_key
      |)
      |SELECT w_start, user_key, n FROM truth WHERE rk <= 10
      |ORDER BY w_start, n DESC, user_key""".stripMargin

  // -------------------------------------------------------------------
  // q185: STREAMING DISTINCT COUNT — the KMV bottom-k sketch inside a
  // watermarked append-mode window aggregate (distinct users per
  // closed 7-day window), completing the streaming sketch trilogy
  // (q167 quantiles, q175 heavy hitters). k=4096 vs 150/1,500 users
  // per window = EXACT regime: the sketch holds every distinct
  // md5-60-bit hash, so |sketch| IS the distinct count and the oracle
  // recomputes the identical hash-distinct per closed window (same
  // closure horizon as q167/q175) — bit-for-bit, no tolerance.
  // -------------------------------------------------------------------
  // -------------------------------------------------------------------
  // q310: STREAMING DETERMINISTIC SAMPLE — fixed-size (k=10) uniform
  // sample per closed 7-day window, carried as a mergeable bottom-k-
  // by-hash sketch (KmvAgg over packed (mix32-hash, event_id) keys):
  // arrival-order-invariant by construction, ≤ 8k bytes of state per
  // open window, one emission per closed window. EXACT oracle: the
  // staged-mix hash + pack + per-closed-window ROW_NUMBER ≤ 10 replay
  // (q185's closed-window clause).
  // -------------------------------------------------------------------
  def q310StreamSample(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingSampleBatchDriven(spark, dir)
  val q310Sql: String =
    s"""WITH h0 AS (
      |  SELECT event_id,
      |    make_timestamp((EPOCH_US(CAST(ts AS TIMESTAMP)) // 604800000000)
      |      * 604800000000) AS w_start,
      |    ${graft.operators.Curation.portableHashSql("event_id", 91L)} AS v
      |  FROM events
      |), h1 AS (SELECT event_id, w_start, xor(v, v >> 16) AS v FROM h0
      |), h2 AS (SELECT event_id, w_start, (v * 69069 + 12345) % 4294967296 AS v FROM h1
      |), h3 AS (SELECT event_id, w_start, xor(v, v >> 13) AS v FROM h2
      |), h4 AS (SELECT event_id, w_start, (v * 99991 + 1) % 4294967296 AS v FROM h3
      |), h5 AS (SELECT event_id, w_start, xor(v, v >> 16) AS v FROM h4
      |), pk AS (
      |  SELECT w_start, event_id,
      |    (v % 1073741824) * 8589934592 + event_id AS packed
      |  FROM h5
      |), closed AS (
      |  SELECT DISTINCT w_start FROM pk
      |  WHERE EPOCH_US(w_start) + 604800000000 <=
      |    (SELECT MAX(EPOCH_US(CAST(ts AS TIMESTAMP))) - 7200000000 FROM events)
      |), rk AS (
      |  SELECT w_start, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY w_start ORDER BY packed) AS rank
      |  FROM pk WHERE w_start IN (SELECT w_start FROM closed)
      |)
      |SELECT w_start, CAST(rank AS BIGINT) AS rank, event_id
      |FROM rk WHERE rank <= 10
      |ORDER BY w_start, rank""".stripMargin

  // -------------------------------------------------------------------
  // q319: RANK-BIASED OVERLAP (Webber et al. 2010, p=0.9, truncated
  // at depth 50) between q172's two retriever rankings — the ranking-
  // agreement metric an IR/hybrid-retrieval change review reads
  // (RRF fuses the lists; RBO measures how much they AGREE, weighting
  // the top of the lists geometrically). Fully integral: a doc in
  // both lists enters the intersection at depth m = max(ra, rb), so
  // ov(d) folds from the 50-row m-histogram; the p^{d−1} weights are
  // HARDCODED floor(0.9^{d−1}·1e12) literals on both sides (the q294
  // Benford trick — no pow()); term = ov·w div d and the final
  // (1−p) factor is div 10 — rbo_fx lands in the 1e12 fixed point.
  // -------------------------------------------------------------------
  private val rboW: Seq[Long] = Seq(
    1000000000000L, 900000000000L, 810000000000L, 729000000000L, 656100000000L,
    590490000000L, 531441000000L, 478296900000L, 430467210000L, 387420489000L,
    348678440100L, 313810596090L, 282429536481L, 254186582832L, 228767924549L,
    205891132094L, 185302018885L, 166771816996L, 150094635296L, 135085171767L,
    121576654590L, 109418989131L, 98477090218L, 88629381196L, 79766443076L,
    71789798769L, 64610818892L, 58149737003L, 52334763302L, 47101286972L,
    42391158275L, 38152042447L, 34336838202L, 30903154382L, 27812838944L,
    25031555049L, 22528399544L, 20275559590L, 18248003631L, 16423203268L,
    14780882941L, 13302794647L, 11972515182L, 10775263664L, 9697737297L,
    8727963568L, 7855167211L, 7069650490L, 6362685441L, 5726416897L)
  def q319Rbo(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val terms = Seq("spark", "hash", "scan")
    val d = docs(spark, dir)
    val bm = graft.operators.Curation.bm25TopK(d, "doc_id", "text", terms, 50)
      .withColumn("ra",
        row_number().over(Window.orderBy(desc("bm25_fx"), asc("doc_id"))).cast("long"))
      .select(col("doc_id"), col("ra"))
    val dens = graft.operators.Curation.tfDensityTopK(d, "doc_id", "text", terms, 50)
      .withColumn("rb",
        row_number().over(Window.orderBy(desc("dens_fx"), asc("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rb"))
    val hist = bm.join(dens, "doc_id")
      .select(greatest(col("ra"), col("rb")).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("c"))
    val depths = rboW.zipWithIndex
      .map { case (w, i) => (i + 1L, w) }.toDF("dd", "w")
    depths.join(hist, col("m") <= col("dd"), "left_outer")
      .groupBy(col("dd"), col("w"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("ov"))
      .select(col("dd"), expr("(ov * w) div dd").as("term"), col("ov"))
      .groupBy()
      .agg(expr("sum(term) div 10").as("rbo_fx"),
        max(when(col("dd") === 50, col("ov"))).as("n_common"),
        max(when(col("dd") === 10, col("ov"))).as("overlap_at_10"))
  }
  val q319Sql: String = {
    val wRows = rboW.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
    raw"""WITH d AS (
      |  SELECT doc_id,
      |    ARRAY_LENGTH(string_split_regex(TRIM(text), '\s+')) AS dl,
      |    string_split_regex(TRIM(text), '\s+') AS toks
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, dl, UNNEST(toks) AS term FROM d
      |), hits AS (
      |  SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      |  FROM toks WHERE term IN ('spark', 'hash', 'scan')
      |  GROUP BY doc_id, term
      |), dfq AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS t_tok FROM d),
      |scored AS (
      |  SELECT h.doc_id,
      |    (CAST(FLOOR(LN(CAST(2 * n + 2 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))
      |        * 1000000) AS BIGINT) * 44 * tf * t_tok)
      |      // (20 * tf * t_tok + 6 * t_tok + 18 * dl * n) AS term_score
      |  FROM hits h JOIN dfq USING (term) CROSS JOIN tot
      |), bm AS (
      |  SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS s
      |  FROM scored GROUP BY doc_id
      |), bmr AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS ra FROM bm
      |), dens AS (
      |  SELECT doc_id, (COUNT(*) * 1000000000) // MIN(dl) AS s
      |  FROM toks WHERE term IN ('spark', 'hash', 'scan') GROUP BY doc_id
      |), densr AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rb FROM dens
      |), hist AS (
      |  SELECT GREATEST(a.ra, b.rb) AS m, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM bmr a JOIN densr b ON a.doc_id = b.doc_id
      |  WHERE a.ra <= 50 AND b.rb <= 50
      |  GROUP BY 1
      |), depths(dd, w) AS (VALUES $wRows),
      |ovd AS (
      |  SELECT dd, w, CAST(COALESCE(SUM(hist.c), 0) AS BIGINT) AS ov
      |  FROM depths LEFT JOIN hist ON hist.m <= depths.dd
      |  GROUP BY 1, 2
      |)
      |SELECT CAST(SUM((ov * w) // dd) AS BIGINT) // 10 AS rbo_fx,
      |  CAST(MAX(CASE WHEN dd = 50 THEN ov END) AS BIGINT) AS n_common,
      |  CAST(MAX(CASE WHEN dd = 10 THEN ov END) AS BIGINT) AS overlap_at_10
      |FROM ovd""".stripMargin
  }

  def q185StreamDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingDistinctBatchDriven(spark, dir)
  val q185Sql: String =
    """WITH ev AS (
      |  SELECT make_timestamp((EPOCH_US(CAST(ts AS TIMESTAMP)) // 604800000000)
      |           * 604800000000) AS w_start,
      |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM events
      |), closed AS (
      |  SELECT DISTINCT w_start FROM ev
      |  WHERE EPOCH_US(w_start) + 604800000000 <=
      |    (SELECT MAX(EPOCH_US(CAST(ts AS TIMESTAMP))) - 7200000000 FROM events)
      |)
      |SELECT w_start, COUNT(DISTINCT h) AS n_users
      |FROM ev WHERE w_start IN (SELECT w_start FROM closed)
      |GROUP BY w_start ORDER BY w_start""".stripMargin

  // -------------------------------------------------------------------
  // q231: STREAMING DRIFT MONITOR — per closed 7-day window, each
  // event type's χ² contribution vs the frozen corpus-wide reference
  // mix (the q116 drift algebra inside the q185 closed-window
  // machinery): the alerting rung of the streaming family — the
  // monitor that notices a type mix shifting long before totals move.
  // The oracle recomputes the closed-window set from the exact
  // watermark horizon (max ts − 2 h) and replays the identical fixed
  // IEEE χ² expression, ROUND(…, 6) — same gate shape as q116.
  // -------------------------------------------------------------------
  def q231StreamDrift(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingDriftBatchDriven(spark, dir)
      .orderBy(asc("w_start"), asc("event_type"))
  val q231Sql: String =
    """WITH ev AS (
      |  SELECT make_timestamp((EPOCH_US(CAST(ts AS TIMESTAMP)) // 604800000000)
      |           * 604800000000) AS w_start, event_type
      |  FROM events
      |), closed AS (
      |  SELECT DISTINCT w_start FROM ev
      |  WHERE EPOCH_US(w_start) + 604800000000 <=
      |    (SELECT MAX(EPOCH_US(CAST(ts AS TIMESTAMP))) - 7200000000 FROM events)
      |), c AS (
      |  SELECT w_start, event_type, COUNT(*) AS n FROM ev
      |  WHERE w_start IN (SELECT w_start FROM closed)
      |  GROUP BY 1, 2
      |), w AS (
      |  SELECT w_start, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1
      |), ref AS (
      |  SELECT event_type, COUNT(*) AS ref_n FROM events GROUP BY 1
      |), rt AS (SELECT CAST(SUM(ref_n) AS BIGINT) AS ref_t FROM ref)
      |SELECT c.w_start, c.event_type, c.n, ref.ref_n,
      |  ROUND((c.n - CAST(w.tot AS DOUBLE) * ref.ref_n / rt.ref_t)
      |    * (c.n - CAST(w.tot AS DOUBLE) * ref.ref_n / rt.ref_t)
      |    / (CAST(w.tot AS DOUBLE) * ref.ref_n / rt.ref_t), 6)
      |    AS chi2_contrib
      |FROM c JOIN w USING (w_start) JOIN ref USING (event_type)
      |CROSS JOIN rt
      |ORDER BY w_start, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q81: BPE-ish tokenization — the regex pre-tokenizer count next to
  // the whitespace count (word runs and punctuation runs split apart,
  // the shape a subword tokenizer's pre-tokenization pass produces).
  // Shared-regex design: `\w+|[^\w\s]+` means the same thing to Java
  // regex and RE2, so the oracle replays it exactly. Map-only.
  // -------------------------------------------------------------------
  def q81BpeTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TA.tokenCount(col("text")).as("n_ws_tokens"),
      size(TA.bpeishTokens(col("text"))).cast("long").as("n_bpeish_tokens"))
      .orderBy(asc("doc_id"))
  val q81Sql: String =
    raw"""SELECT doc_id,
      |  LEN(string_split_regex(TRIM(text), '\s+')) AS n_ws_tokens,
      |  LEN(regexp_extract_all(text, '[\w]+|[^\w\s]+')) AS n_bpeish_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q78: stream-static enrichment — events enriched with the customer
  // dimension inside the streaming engine (broadcast per micro-batch),
  // aggregated per (segment, type). Oracle is the identical batch join.
  // -------------------------------------------------------------------
  def q78StreamEnrich(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.enrichedSegmentRollup(spark, dir)
  val q78Sql: String =
    """SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q39: stateful streaming (mapGroupsWithState) — per-user event
  // counts; oracle is the batch equivalent
  // -------------------------------------------------------------------
  def q39StreamStateful(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.statefulUserCounts(spark, dir)
  val q39Sql: String =
    """SELECT user_id, COUNT(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q55: near-dup pairs → doc→cluster assignment (connected
  // components by min-label propagation) over the deterministic exact
  // n-gram Jaccard pairs of q33's bounded block. Oracle: DuckDB
  // recursive-CTE transitive closure over the identical pair set —
  // a REAL cross-engine check of the clustering, not rows-only.
  // -------------------------------------------------------------------
  def q55NeardupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      boundedExactPairs(spark, dir),
      "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster"))
      .orderBy(asc("doc_id"))

  // -------------------------------------------------------------------
  // q82: the SAME clustering through the alternating large-star /
  // small-star algorithm — component labels are algorithm-independent,
  // so the identical recursive-CTE oracle gates both implementations.
  // -------------------------------------------------------------------
  def q82NeardupClustersAlt(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponentsAlternating(
      boundedExactPairs(spark, dir),
      "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster"))
      .orderBy(asc("doc_id"))
  val q55Sql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents WHERE doc_id < 300)
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.05
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e.src AS id, r.r FROM edges e JOIN reach r ON e.dst = r.id
      |)
      |SELECT id AS doc_id, MIN(r) AS cluster
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q296: INCREMENTAL connected components — q55's clustering under
  // the incremental contract (q95/q257/q226's at the graph rung):
  // the deterministic pair set splits into a STANDING batch
  // ((id_a + id_b) % 5 ≠ 0) and a DELTA ((…) = 0); the delta folds in
  // through the standing label table + a CC over the delta-touched
  // COMPONENT graph only — the standing edge set is never rescanned.
  // Labels are component-min node ids on both paths, so the output is
  // bit-identical to full CC over all pairs and q55's recursive-
  // closure oracle gates this query UNCHANGED (a third algorithm
  // under the same oracle, after min-label q55 and star-contraction
  // q82).
  // -------------------------------------------------------------------
  def q296IncrementalCc(spark: SparkSession, dir: String): DataFrame = {
    val pairs = boundedExactPairs(spark, dir)
    val standing = pairs.filter((col("id_a") + col("id_b")) % 5 =!= 0)
    val delta = pairs.filter((col("id_a") + col("id_b")) % 5 === 0)
    Dedup.incrementalConnectedComponents(standing, delta, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster"))
      .orderBy(asc("doc_id"))
  }

  // -------------------------------------------------------------------
  // q180: CLUSTER-AWARE leakage-safe split — the composition that makes
  // q59's hash split actually leakage-safe in the presence of
  // near-duplicates: splitting per-doc can land two near-identical
  // docs in train AND test (the classic eval-contamination bug);
  // splitting by NEAR-DUP CLUSTER id keeps every cluster member in the
  // same split by construction. Pipeline: q55's deterministic
  // exact-Jaccard pairs → connected components → min-label cluster
  // (singletons = own id) → q59's portable hash on the CLUSTER id.
  // Every stage is deterministic and SQL-replayable, so the oracle
  // recomputes closure + hash bit-for-bit. Scale: the split is one
  // map-only expression after CC's (id, long) rounds — same cost as
  // the per-doc split plus the cluster join.
  // -------------------------------------------------------------------
  def q180ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.connectedComponents(
        boundedExactPairs(spark, dir), "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster"))
    docs(spark, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("split",
        graft.operators.Curation.splitAssign(col("cluster"), 42L, 80, 10))
      .orderBy(asc("doc_id"))
  }
  val q180Sql: String = {
    val h = graft.operators.Curation.portableHashSql("cluster", 42L)
    s"""WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
      |        FROM documents WHERE doc_id < 300)
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.05
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e.src AS id, r.r FROM edges e JOIN reach r ON e.dst = r.id
      |), cl AS (
      |  SELECT d.doc_id,
      |    COALESCE((SELECT MIN(r) FROM reach WHERE reach.id = d.doc_id),
      |      d.doc_id) AS cluster
      |  FROM documents d
      |)
      |SELECT doc_id, cluster,
      |  CASE WHEN $h % 100 < 80 THEN 'train'
      |       WHEN $h % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM cl ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q194: CANONICAL SELECTION per near-dup cluster — the step that
  // turns a clustering into a deduplicated corpus: every cluster keeps
  // exactly one representative, chosen by a deterministic quality
  // order (longest text, then smallest doc_id — the "keep the most
  // complete copy" rule), and every member maps to it. The output IS
  // the rewrite table a dedup pipeline applies (q117 keeps min-id;
  // this is the quality-aware upgrade). Singletons are their own
  // canonical. Shape: q55's clusters + ONE per-cluster window over
  // (len desc, doc_id asc) — (id, cluster, len) triples only; the
  // window fan-in is cluster size, never corpus size. Oracle: q180's
  // recursive closure + the identical window, bit-for-bit.
  // -------------------------------------------------------------------
  def q194CanonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.connectedComponents(
        boundedExactPairs(spark, dir), "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
      .orderBy(desc("n_chars"), asc("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), TA.charCount(col("text")).as("n_chars"))
      .join(clusters, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("canonical_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy(asc("doc_id"))
  }
  val q194Sql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents WHERE doc_id < 300)
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.05
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e.src AS id, r.r FROM edges e JOIN reach r ON e.dst = r.id
      |), cl AS (
      |  SELECT d.doc_id, LENGTH(d.text) AS n_chars,
      |    COALESCE((SELECT MIN(r) FROM reach WHERE reach.id = d.doc_id),
      |      d.doc_id) AS cluster
      |  FROM documents d
      |)
      |SELECT doc_id, cluster,
      |  FIRST_VALUE(doc_id) OVER (PARTITION BY cluster
      |    ORDER BY n_chars DESC, doc_id) AS canonical_id,
      |  doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY cluster
      |    ORDER BY n_chars DESC, doc_id) AS is_canonical
      |FROM cl ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q201: HITS hubs & authorities (Kleinberg) over the cust→supp trade
  // graph — the bipartite centrality pair PageRank cannot express:
  // hub customers (buy from the important suppliers) vs authority
  // suppliers (bought from by the important customers) emerge in the
  // SAME fixed point. 2 rounds, exact int64: max-normalization (rank-
  // preserving, monotone) instead of the classic L2 makes every round
  // an unrollable integer SQL expression — q123/q184's replay
  // contract, third member. Per round: two long-pair hash joins + two
  // partial-agged sums + 1-row max broadcasts.
  // -------------------------------------------------------------------
  def q201Hits(spark: SparkSession, dir: String): DataFrame =
    // HITS is directed: the forward bipartite half alone (memoized;
    // set-identical to the old inline build under hitsFixed's distinct)
    Graph.hitsFixed(tradeFwdOf(spark, dir), "src", "dst", rounds = 2)
      .orderBy(asc("id"))
  val q201Sql: String =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), nodes AS (
      |  SELECT src AS id FROM e UNION SELECT dst FROM e
      |), a1f AS (
      |  SELECT n.id, COALESCE(r.a, 0) AS a FROM nodes n LEFT JOIN
      |    (SELECT dst AS id, COUNT(*) AS a FROM e GROUP BY 1) r ON r.id = n.id
      |), a1 AS (
      |  SELECT id, (a * 1000000) // GREATEST((SELECT MAX(a) FROM a1f), 1) AS a
      |  FROM a1f
      |), h1f AS (
      |  SELECT n.id, COALESCE(r.h, 0) AS h FROM nodes n LEFT JOIN
      |    (SELECT e.src AS id, SUM(a1.a) AS h FROM e
      |     JOIN a1 ON a1.id = e.dst GROUP BY 1) r ON r.id = n.id
      |), h1 AS (
      |  SELECT id, (h * 1000000) // GREATEST((SELECT MAX(h) FROM h1f), 1) AS h
      |  FROM h1f
      |), a2f AS (
      |  SELECT n.id, COALESCE(r.a, 0) AS a FROM nodes n LEFT JOIN
      |    (SELECT e.dst AS id, SUM(h1.h) AS a FROM e
      |     JOIN h1 ON h1.id = e.src GROUP BY 1) r ON r.id = n.id
      |), a2 AS (
      |  SELECT id, (a * 1000000) // GREATEST((SELECT MAX(a) FROM a2f), 1) AS a
      |  FROM a2f
      |), h2f AS (
      |  SELECT n.id, COALESCE(r.h, 0) AS h FROM nodes n LEFT JOIN
      |    (SELECT e.src AS id, SUM(a2.a) AS h FROM e
      |     JOIN a2 ON a2.id = e.dst GROUP BY 1) r ON r.id = n.id
      |), h2 AS (
      |  SELECT id, (h * 1000000) // GREATEST((SELECT MAX(h) FROM h2f), 1) AS h
      |  FROM h2f
      |)
      |SELECT CAST(n.id AS BIGINT) AS id, CAST(h2.h AS BIGINT) AS hub_fx,
      |  CAST(a2.a AS BIGINT) AS auth_fx
      |FROM nodes n JOIN h2 ON h2.id = n.id JOIN a2 ON a2.id = n.id
      |ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q208: WEIGHTED shortest paths (Bellman-Ford, 3 fixed rounds) over
  // the trade-value graph — "cheapest trading route" distances from
  // every 50th customer, the weighted sibling of q170's BFS hop
  // levels under the same fixed-round exact-int64 replay contract
  // (min is associative ⇒ unrollable SQL, map-side partial mins).
  // After round 3 distances are exact over ≤3-hop paths — the same
  // bounded-horizon semantic every fixed-round graph gate here uses.
  // Per round: one edges⋈dist join + one partial-agged min + a
  // union-min fold; (id, long) pairs only.
  // -------------------------------------------------------------------
  def q208Sssp(spark: SparkSession, dir: String): DataFrame = {
    // r14: the weighted (src, dst, w) frame is the shared memoized
    // trade build (tradeRelWOf) — identical values/keys to the former
    // inline aggregate (w = exact int64 cents sum), already
    // checkpointed, so the dominant phase folds into the build the
    // graph family pays once per session.
    val rel = tradeRelWOf(spark, dir)
    val edges = rel.unionByName(
      rel.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val sources = rel.select(col("src").as("id")).distinct()
      .filter(expr("(id div 2) % 50 = 0"))
    Graph.ssspFixed(edges, "src", "dst", "w", sources, "id", rounds = 3)
      .orderBy(asc("id"))
  }
  val q208Sql: String =
    """WITH rel AS (
      |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2
      |), e AS (
      |  SELECT src, dst, MIN(w) AS w FROM (
      |    SELECT c AS src, s AS dst, w FROM rel
      |    UNION ALL SELECT s, c, w FROM rel)
      |  GROUP BY 1, 2
      |), d0 AS (
      |  SELECT DISTINCT c AS id, CAST(0 AS BIGINT) AS d FROM rel
      |  WHERE (c // 2) % 50 = 0
      |), r1 AS (
      |  SELECT id, MIN(d) AS d FROM (
      |    SELECT id, d FROM d0
      |    UNION ALL SELECT e.dst, d0.d + e.w FROM e JOIN d0 ON d0.id = e.src)
      |  GROUP BY 1
      |), r2 AS (
      |  SELECT id, MIN(d) AS d FROM (
      |    SELECT id, d FROM r1
      |    UNION ALL SELECT e.dst, r1.d + e.w FROM e JOIN r1 ON r1.id = e.src)
      |  GROUP BY 1
      |), r3 AS (
      |  SELECT id, MIN(d) AS d FROM (
      |    SELECT id, d FROM r2
      |    UNION ALL SELECT e.dst, r2.d + e.w FROM e JOIN r2 ON r2.id = e.src)
      |  GROUP BY 1
      |)
      |SELECT CAST(id AS BIGINT) AS id, CAST(d AS BIGINT) AS dist
      |FROM r3 ORDER BY id""".stripMargin

  // -------------------------------------------------------------------
  // q197: LINK PREDICTION by common-neighbor Jaccard — the graph-side
  // similarity primitive (recommendation, entity resolution, "which
  // customers behave alike"): customer pairs scored by the Jaccard of
  // their supplier neighborhoods on the cust–supp trade graph.
  // Co-occurrence counts come from STRONGEST-EDGE postings — each
  // supplier contributes its top-20 customers by spend (cents desc,
  // custkey asc; deterministic) — while denominators use FULL
  // distinct-supplier degrees, so scores are conservative (capped
  // co ≤ true co) and the wedge fan-out is BOUNDED at C(20,2) per
  // supplier regardless of hub degree: the q127 orientation lesson
  // applied to wedge enumeration (an uncapped hub supplier with 100k
  // customers would alone emit 5e9 wedges at scale). Top-100 pairs,
  // all-int64 fixed-point, bit-replayable.
  // -------------------------------------------------------------------
  def q197LinkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val rel = tradeRelOf(spark, dir)
    val deg = rel.groupBy(col("cust")).agg(count(lit(1)).as("deg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("supp")).orderBy(desc("cents"), asc("cust"))
    val post = rel.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20).select(col("supp"), col("cust"))
    val co = post.select(col("supp"), col("cust").as("ca"))
      .join(post.select(col("supp"), col("cust").as("cb")), "supp")
      .filter(col("ca") < col("cb"))
      .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("co"))
    val scored = co
      .join(deg.select(col("cust").as("ca"), col("deg").as("deg_a")), "ca")
      .join(deg.select(col("cust").as("cb"), col("deg").as("deg_b")), "cb")
      .select(col("ca"), col("cb"), col("co"), col("deg_a"), col("deg_b"),
        expr("(co * 1000000) div (deg_a + deg_b - co)").as("jaccard_fx"))
      .orderBy(desc("jaccard_fx"), asc("ca"), asc("cb")).limit(100)
    scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("jaccard_fx"), asc("ca"), asc("cb"))))
      .orderBy(asc("rank"))
  }
  val q197Sql: String =
    """WITH rel AS (
      |  SELECT o_custkey AS cust, l_suppkey AS supp,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2
      |), deg AS (
      |  SELECT cust, COUNT(*) AS deg FROM rel GROUP BY 1
      |), post AS (
      |  SELECT supp, cust FROM (
      |    SELECT supp, cust, ROW_NUMBER() OVER (PARTITION BY supp
      |      ORDER BY cents DESC, cust) AS rk FROM rel)
      |  WHERE rk <= 20
      |), co AS (
      |  SELECT a.cust AS ca, b.cust AS cb, COUNT(*) AS co
      |  FROM post a JOIN post b ON a.supp = b.supp AND a.cust < b.cust
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT ca, cb, CAST(co.co AS BIGINT) AS co,
      |    da.deg AS deg_a, db.deg AS deg_b,
      |    (CAST(co.co AS BIGINT) * 1000000) // (da.deg + db.deg - co.co)
      |      AS jaccard_fx
      |  FROM co JOIN deg da ON da.cust = co.ca
      |  JOIN deg db ON db.cust = co.cb
      |  ORDER BY jaccard_fx DESC, ca, cb LIMIT 100
      |)
      |SELECT ca, cb, co, CAST(deg_a AS BIGINT) AS deg_a,
      |  CAST(deg_b AS BIGINT) AS deg_b, jaccard_fx,
      |  ROW_NUMBER() OVER (ORDER BY jaccard_fx DESC, ca, cb) AS rank
      |FROM scored ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // q232: LINK PREDICTION by RESOURCE ALLOCATION (Zhou, Lü & Zhang
  // 2009) — the hub-discounting predictor next to q197's Jaccard:
  // each common supplier z contributes 1/deg(z), so a boutique shared
  // supplier signals far more than a sells-to-everyone hub (the
  // Adamic-Adar idea, with 1/deg in place of 1/ln·deg — integral, so
  // the score clears to EXACT fixed point: Σ 1e12 div deg(z), no libm
  // ln in any gated value). Same strongest-edge postings as q197
  // (top-20 customers per supplier by spend) bound wedge fan-out at
  // C(20,2) per supplier; supplier degrees stay FULL so hub discounts
  // are true. All-int64 bit-replay oracle, top-100.
  // -------------------------------------------------------------------
  def q232RaLinkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val rel = tradeRelOf(spark, dir)
    val sdeg = rel.groupBy(col("supp")).agg(count(lit(1)).as("sdeg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("supp")).orderBy(desc("cents"), asc("cust"))
    val post = rel.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20).select(col("supp"), col("cust"))
      .join(sdeg, "supp")
      .withColumn("rw", expr("1000000000000 div sdeg"))
    val scored = post.select(col("supp"), col("cust").as("ca"), col("rw"))
      .join(post.select(col("supp"), col("cust").as("cb")), "supp")
      .filter(col("ca") < col("cb"))
      .groupBy(col("ca"), col("cb"))
      .agg(count(lit(1)).as("co"), sum(col("rw")).as("ra_fx"))
      .orderBy(desc("ra_fx"), asc("ca"), asc("cb")).limit(100)
    scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("ra_fx"), asc("ca"), asc("cb"))))
      .select(col("rank"), col("ca"), col("cb"), col("co"), col("ra_fx"))
      .orderBy(asc("rank"))
  }
  val q232Sql: String =
    """WITH rel AS (
      |  SELECT o_custkey AS cust, l_suppkey AS supp,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2
      |), sdeg AS (
      |  SELECT supp, COUNT(*) AS sdeg FROM rel GROUP BY 1
      |), post AS (
      |  SELECT r.supp, r.cust, 1000000000000 // d.sdeg AS rw FROM (
      |    SELECT supp, cust, ROW_NUMBER() OVER (PARTITION BY supp
      |      ORDER BY cents DESC, cust) AS rk FROM rel) r
      |  JOIN sdeg d ON d.supp = r.supp
      |  WHERE r.rk <= 20
      |), scored AS (
      |  SELECT a.cust AS ca, b.cust AS cb, COUNT(*) AS co,
      |    CAST(SUM(a.rw) AS BIGINT) AS ra_fx
      |  FROM post a JOIN post b ON a.supp = b.supp AND a.cust < b.cust
      |  GROUP BY 1, 2
      |  ORDER BY ra_fx DESC, ca, cb LIMIT 100
      |)
      |SELECT ROW_NUMBER() OVER (ORDER BY ra_fx DESC, ca, cb) AS rank,
      |  ca, cb, co, ra_fx
      |FROM scored ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // q195: EMBEDDING-SPACE OUTLIERS — distance-to-centroid ranking over
  // int8-quantized unit vectors: the curation pass that surfaces
  // mis-embedded / off-distribution items (broken decoders, wrong-
  // language shards, adversarial content) before they reach training.
  // q119's exact quantization (floor(x/max|x|·127), ints exact in
  // double) makes the whole ranking BIT-REPLAYABLE: the centroid is
  // the integer-floored per-dimension mean of exact int sums, and
  // dist² = Σ(q_j − μ_j)² ≤ 64·254² ≈ 4.1e6 — exact at ANY corpus
  // size (the centering bounds the arithmetic; raw n·q − S sums would
  // leave int-exact double range at n ~ 1e9). The single FLOOR(S/n)
  // division is safe: S/n has denominator n, so its distance from an
  // integer is ≥ 1/n ≫ one ulp at magnitude ≤ 127.
  //
  // Scale: ONE pass computes n and the 64 exact sums (VecFixedSum —
  // 64 longs per task across the shuffle, model-sized driver
  // traffic); scoring is map-only through the native VecSub + VecDot
  // codegen kernels against the 512-byte centroid literal; top-50 is
  // a TakeOrdered. Nothing data-sized shuffles.
  // -------------------------------------------------------------------
  def q195EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{vec_fixed_sum, vec_sub, vec_dot}
    val qz = emb(spark, dir)
      .select(col("vec_id"), Similarity.normalized(col("embedding")).as("v"))
      .withColumn("m", array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id"),
        transform(col("v"),
          x => floor(x / col("m") * lit(127.0)).cast("double")).as("qv"))
    val st = qz.agg(count(lit(1)).as("n"),
      vec_fixed_sum(col("qv"), 64, 1.0).as("s")).collect()(0)
    val n = st.getLong(0)
    val mu = st.getSeq[Long](1).map(sj => math.floor(sj.toDouble / n))
    val muLit = array(mu.map(lit(_)): _*)
    val ranked = qz
      .select(col("vec_id"),
        vec_dot(vec_sub(col("qv"), muLit), vec_sub(col("qv"), muLit))
          .cast("long").as("dist2"))
      .orderBy(desc("dist2"), asc("vec_id")).limit(50)
    import org.apache.spark.sql.expressions.Window
    ranked.withColumn("rank",
        row_number().over(Window.orderBy(desc("dist2"), asc("vec_id"))))
      .orderBy(asc("rank"))
  }
  val q195Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), qz AS (
      |  SELECT vec_id, list_transform(v,
      |    x -> FLOOR(x / list_max(list_transform(v, y -> ABS(y))) * 127)) AS q
      |  FROM nv
      |), flat AS (
      |  SELECT vec_id, UNNEST(q) AS x, generate_subscripts(q, 1) AS j FROM qz
      |), mu AS (
      |  SELECT j, FLOOR(CAST(SUM(x) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM qz)) AS mu
      |  FROM flat GROUP BY j
      |), d AS (
      |  SELECT f.vec_id,
      |    CAST(SUM((f.x - m.mu) * (f.x - m.mu)) AS BIGINT) AS dist2
      |  FROM flat f JOIN mu m ON m.j = f.j GROUP BY 1
      |)
      |SELECT vec_id, dist2, rank FROM (
      |  SELECT vec_id, dist2,
      |    ROW_NUMBER() OVER (ORDER BY dist2 DESC, vec_id) AS rank
      |  FROM d)
      |WHERE rank <= 50 ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // q230: GREEDY k-CENTER coreset selection (Gonzalez 1985 farthest-
  // point traversal, the 2-approx to the k-center objective) — the
  // diversity-sampling rung of the embedding family: 8 points that
  // SPAN the space (q75 SemDeDup removes redundancy, q195 ranks
  // outliers from one centroid; this selects coverage — the coreset /
  // prototype-selection pass a curation pipeline seeds annotation or
  // few-shot pools with). q195's exact int8 quantization makes every
  // round's farthest-point argmax pure integer arithmetic, so the
  // oracle unrolls all 8 rounds (seed = min vec_id; argmax d², ties
  // to min id) and replays the selection AND its objective trace
  // (dist2 of pick r+1 = covering radius² after r centers)
  // bit-for-bit. Scale: one materialized quantized frame scanned k
  // times map-only against ≤ 8 broadcast 512-byte center literals +
  // 1-row TakeOrdereds — the model stays on the driver, the data
  // never re-shuffles.
  // -------------------------------------------------------------------
  def q230KCenter(spark: SparkSession, dir: String): DataFrame =
    Similarity.kCenterSelect(emb(spark, dir), "vec_id", "embedding", k = 8)
      .select(col("sel_rank"), col("id").as("vec_id"), col("dist2"))
      .orderBy(asc("sel_rank"))
  val q230Sql: String = {
    def round(i: Int): String =
      s""",
         |s$i AS (SELECT vec_id AS id, d FROM m${i - 1}
         |  ORDER BY d DESC, vec_id LIMIT 1),
         |d$i AS (SELECT f.vec_id,
         |    CAST(SUM((f.x - g.x) * (f.x - g.x)) AS BIGINT) AS d
         |  FROM flat f JOIN flat g
         |    ON g.j = f.j AND g.vec_id = (SELECT id FROM s$i)
         |  GROUP BY 1),
         |m$i AS (SELECT a.vec_id, LEAST(a.d, b.d) AS d
         |  FROM m${i - 1} a JOIN d$i b USING (vec_id))""".stripMargin
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), qz AS (
      |  SELECT vec_id, list_transform(v,
      |    x -> FLOOR(x / list_max(list_transform(v, y -> ABS(y))) * 127)) AS q
      |  FROM nv
      |), flat AS (
      |  SELECT vec_id, UNNEST(q) AS x, generate_subscripts(q, 1) AS j FROM qz
      |), s1 AS (SELECT MIN(vec_id) AS id FROM qz),
      |m1 AS (SELECT f.vec_id,
      |    CAST(SUM((f.x - g.x) * (f.x - g.x)) AS BIGINT) AS d
      |  FROM flat f JOIN flat g
      |    ON g.j = f.j AND g.vec_id = (SELECT id FROM s1)
      |  GROUP BY 1)""".stripMargin +
      (2 to 8).map(round).mkString +
      "\n" +
      (2 to 8).map(i =>
        s"UNION ALL SELECT CAST($i AS BIGINT), id, d FROM s$i").mkString(
        "SELECT CAST(1 AS BIGINT) AS sel_rank, (SELECT id FROM s1) AS vec_id," +
          " CAST(0 AS BIGINT) AS dist2\n", "\n", "\nORDER BY sel_rank")
  }

  // -------------------------------------------------------------------
  // q202: EMBEDDING SNAPSHOT DRIFT — per-dimension centroid shift
  // between two corpus snapshots (vec_id parity simulates crawl A/B):
  // the embedding-space complement of q116's token-distribution χ² —
  // a silent encoder change, preprocessing drift, or shard swap moves
  // the quantized centroid long before downstream metrics notice.
  // q195's exact int8 machinery makes it bit-replayable: per-snapshot
  // integer-floored per-dim means from exact VecFixedSum sums, drift
  // = |μ_a − μ_b| per dim, plus each dim's share of the L1 shift in
  // fixed point. Scale: TWO VecFixedSum passes (64 longs/task each) —
  // nothing else touches data; output is 64 rows.
  // -------------------------------------------------------------------
  def q202EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_fixed_sum
    val qz = emb(spark, dir)
      .select(col("vec_id"), Similarity.normalized(col("embedding")).as("v"))
      .withColumn("m", array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id"), pmod(col("vec_id"), lit(2)).as("snap"),
        transform(col("v"),
          x => floor(x / col("m") * lit(127.0)).cast("double")).as("qv"))
    val st = qz.groupBy(col("snap"))
      .agg(count(lit(1)).as("n"), vec_fixed_sum(col("qv"), 64, 1.0).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    val (na, sa) = st(0L); val (nb, sb) = st(1L)
    val mu = (0 until 64).map { j =>
      (j.toLong, math.floor(sa(j).toDouble / na).toLong,
        math.floor(sb(j).toDouble / nb).toLong)
    }
    val rows = mu.map { case (j, a, b) => (j, a, b, math.abs(a - b)) }
    val l1 = rows.map(_._4).sum.max(1L)
    import spark.implicits._
    rows.toDF("dim", "mu_a", "mu_b", "drift")
      .select(col("dim"), col("mu_a"), col("mu_b"), col("drift"),
        expr(s"(drift * 1000000) div $l1").as("share_fx"))
      .orderBy(asc("dim"))
  }
  val q202Sql: String =
    """WITH nv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
      |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
      |  FROM embeddings
      |), qz AS (
      |  SELECT vec_id, vec_id % 2 AS snap, list_transform(v,
      |    x -> FLOOR(x / list_max(list_transform(v, y -> ABS(y))) * 127)) AS q
      |  FROM nv
      |), flat AS (
      |  SELECT snap, UNNEST(q) AS x, generate_subscripts(q, 1) - 1 AS dim
      |  FROM qz
      |), mu AS (
      |  SELECT dim,
      |    FLOOR(CAST(SUM(CASE WHEN snap = 0 THEN x END) AS DOUBLE)
      |      / (SELECT COUNT(*) FROM qz WHERE snap = 0)) AS mu_a,
      |    FLOOR(CAST(SUM(CASE WHEN snap = 1 THEN x END) AS DOUBLE)
      |      / (SELECT COUNT(*) FROM qz WHERE snap = 1)) AS mu_b
      |  FROM flat GROUP BY dim
      |), d AS (
      |  SELECT dim, CAST(mu_a AS BIGINT) AS mu_a, CAST(mu_b AS BIGINT) AS mu_b,
      |    CAST(ABS(mu_a - mu_b) AS BIGINT) AS drift
      |  FROM mu
      |)
      |SELECT CAST(dim AS BIGINT) AS dim, mu_a, mu_b, drift,
      |  CAST((drift * 1000000) // CAST(GREATEST((SELECT SUM(drift) FROM d), 1)
      |    AS BIGINT) AS BIGINT) AS share_fx
      |FROM d ORDER BY dim""".stripMargin

  // -------------------------------------------------------------------
  // q183: split-leakage AUDIT — the measurement that PROVES q180's
  // guarantee: for each split mode, count near-dup pairs whose two
  // members landed in different splits. Per-doc hash split (q59's
  // mode) leaks by construction (asserted NON-ZERO at both scales —
  // the audit is non-vacuous); cluster-id split (q180's mode) must
  // leak EXACTLY ZERO — CC puts every pair in one cluster, and the
  // split is a function of the cluster id. Both counts replay in the
  // oracle from the same recursive closure + portable hash. Scale:
  // pair-sized joins against two map-only split expressions.
  // -------------------------------------------------------------------
  def q183LeakageAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation => C}
    val pairs = boundedExactPairs(spark, dir)
    val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster"))
    val splits = docs(spark, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        C.splitAssign(col("doc_id"), 42L, 80, 10).as("per_doc"),
        C.splitAssign(coalesce(col("cluster"), col("doc_id")), 42L, 80, 10)
          .as("per_cluster"))
    val joined = pairs
      .join(splits.select(col("doc_id").as("id_a"),
        col("per_doc").as("pd_a"), col("per_cluster").as("pc_a")), "id_a")
      .join(splits.select(col("doc_id").as("id_b"),
        col("per_doc").as("pd_b"), col("per_cluster").as("pc_b")), "id_b")
    joined.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("pd_a") =!= col("pd_b"), 1L).otherwise(0L))
        .as("leaks_per_doc"),
      sum(when(col("pc_a") =!= col("pc_b"), 1L).otherwise(0L))
        .as("leaks_per_cluster"))
  }
  val q183Sql: String = {
    val hDoc = graft.operators.Curation.portableHashSql("doc_id", 42L)
    val hCl = graft.operators.Curation.portableHashSql("cluster", 42L)
    s"""WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
      |        FROM documents WHERE doc_id < 300)
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.05
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e.src AS id, r.r FROM edges e JOIN reach r ON e.dst = r.id
      |), cl AS (
      |  SELECT d.doc_id,
      |    COALESCE((SELECT MIN(r) FROM reach WHERE reach.id = d.doc_id),
      |      d.doc_id) AS cluster
      |  FROM documents d
      |), sp AS (
      |  SELECT doc_id,
      |    CASE WHEN $hDoc % 100 < 80 THEN 'train'
      |         WHEN $hDoc % 100 < 90 THEN 'val' ELSE 'test' END AS per_doc,
      |    CASE WHEN $hCl % 100 < 80 THEN 'train'
      |         WHEN $hCl % 100 < 90 THEN 'val' ELSE 'test' END AS per_cluster
      |  FROM cl
      |)
      |SELECT COUNT(*) AS n_pairs,
      |  CAST(SUM(CASE WHEN a.per_doc <> b.per_doc THEN 1 ELSE 0 END)
      |    AS BIGINT) AS leaks_per_doc,
      |  CAST(SUM(CASE WHEN a.per_cluster <> b.per_cluster THEN 1 ELSE 0 END)
      |    AS BIGINT) AS leaks_per_cluster
      |FROM pairs p JOIN sp a ON a.doc_id = p.id_a
      |JOIN sp b ON b.doc_id = p.id_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // q117: the END-TO-END dedup pipeline a real user runs, as ONE gate —
  // corpus block → exact dedup to representatives → MinHash-LSH
  // near-dup pairs over the representatives → connected components →
  // keep-list applied back to EVERY doc (exact dups inherit their
  // representative's cluster). This gates the pipeline ORDER (exact
  // dedup FIRST — PERF.md lesson 5) and the keep-list application,
  // which the piecewise gates q30/q31/q55 never compose.
  //
  // Oracle: full DuckDB replay — reps from normalized text, exact
  // shingle-Jaccard pairs ≥ 0.2 among reps, recursive-CTE transitive
  // closure, rep cluster mapped back to every doc. That is an EXACT
  // cross-engine check of the whole composition, which requires the
  // LSH stage to have TOTAL recall here: bands=64 × rows-per-band=1
  // means a pair is a candidate iff ANY of 64 independent minhashes
  // collide — miss probability (1-s)^64 ≤ 0.8^64 ≈ 6e-7 per true pair
  // at the 0.2 threshold (and every candidate is exact-verified, so
  // false positives are impossible). Deterministic hashing ⇒ the
  // equality is a fixed property of the data, checked at both SFs.
  // -------------------------------------------------------------------
  def q117DedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(col("doc_id") < 300)
    // persisted: LSH consumes reps through two branches (band
    // signatures + exact-verify shingle sets), each of which would
    // otherwise re-run the fingerprint aggregate + semi-join
    val reps = Dedup.exactRepresentatives(d, "doc_id", "text").persist()
    val pairs = Dedup.minhashLshPairs(reps, "doc_id", "text",
        k = 3, numHashes = 64, bands = 64, threshold = 0.2)
      .select(col("id_a"), col("id_b"))
    val cc = Dedup.connectedComponentsAlternating(pairs, "id_a", "id_b")
    // doc → its exact representative (min doc_id per fingerprint)
    val fp = d.select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
    val repOf = fp.join(
        fp.groupBy(col("fp")).agg(min(col("doc_id")).as("rep")), Seq("fp"))
      .select(col("doc_id"), col("rep"))
    repOf.join(cc.select(col("id").as("rep"), col("cluster")), Seq("rep"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("rep")).as("cluster"))
      .withColumn("keep", col("doc_id") === col("cluster"))
      .orderBy(asc("doc_id"))
  }
  val q117Sql: String =
    """WITH RECURSIVE norm AS (
      |  SELECT doc_id, regexp_replace(TRIM(text), '\s+', ' ', 'g') AS nt,
      |         string_split_regex(TRIM(text), '\s+') AS toks
      |  FROM documents WHERE doc_id < 300
      |), repmap AS (
      |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY nt) AS rep FROM norm
      |), sh AS (
      |  SELECT n.doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(n.toks) - 2, 1) + 1),
      |    i -> array_to_string(n.toks[i:i+2], ' '))) AS s
      |  FROM norm n JOIN (SELECT DISTINCT rep FROM repmap) r ON n.doc_id = r.rep
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))) >= 0.2
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e.src AS id, r.r FROM edges e JOIN reach r ON e.dst = r.id
      |), clusters AS (
      |  SELECT id, MIN(r) AS cluster FROM reach GROUP BY id
      |)
      |SELECT m.doc_id,
      |  COALESCE(c.cluster, m.rep) AS cluster,
      |  (m.doc_id = COALESCE(c.cluster, m.rep)) AS keep
      |FROM repmap m LEFT JOIN clusters c ON m.rep = c.id
      |ORDER BY m.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q56: streaming deduplication (dropDuplicatesWithinWatermark) —
  // ingest-dedup on (user_id, event_type) with watermark-bounded
  // state; on the bounded stream the surviving set is exact DISTINCT,
  // so the oracle is batch COUNT(DISTINCT user_id) per type
  // -------------------------------------------------------------------
  def q56StreamDedup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingDedup(spark, dir)
  val q56Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_uniq
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q64: stream-stream join with watermarks — click→purchase
  // attribution within 30 minutes; oracle is the identical batch
  // self-join (see EventStreams.clickPurchaseAttribution).
  // -------------------------------------------------------------------
  def q64StreamJoin(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.clickPurchaseAttribution(spark, dir)
  val q64Sql: String =
    """SELECT c.user_id, COUNT(*) AS n_pairs,
      |  CAST(SUM(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_delay_us
      |FROM events c JOIN events p
      |  ON p.user_id = c.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  // -------------------------------------------------------------------
  // q214: STREAMING NEAR-DUP — MinHash-band stateful dedup over the
  // documents-as-a-stream (ts = 2024-01-01 + doc_id minutes):
  // flatMapGroupsWithState keyed by (band, band_sig) emits candidate
  // pairs exactly when the watermark passes strictly above the later
  // doc (arrival-invariant; boundary race killed by strictness —
  // StreamingSpec replays multi-batch splits), state bounded by the
  // 24 h pairing horizon (q203's compaction discipline). Candidates
  // are exact-Jaccard verified batch-side (q31's final stage).
  // CONTAINMENT ORACLE: banding isn't SQL-replayable, but every
  // emitted pair must satisfy three exact predicates — recomputed
  // trigram-shingle Jaccard = emitted score ≥ 0.2, the 24 h horizon
  // (id_b − id_a ≤ 1440 minutes), and the strict 2 h emission horizon
  // (id_b < max(doc_id) − 120) — a pair violating any falls out of
  // the join → FAIL. Stream-vs-batch-LSH pair-set equality over the
  // closed window is pinned in StreamingSpec.
  // -------------------------------------------------------------------
  def q214StreamNeardup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingNeardup(spark, dir)
  val q214Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(toks) - 2, 1) + 1),
      |    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |        FROM documents)
      |), mx AS (SELECT MAX(doc_id) AS m FROM documents)
      |SELECT e.id_a, e.id_b, e.jaccard_r
      |FROM read_parquet('__GRAFT_OUT__/q214_stream_neardup/*.parquet') e
      |JOIN sh a ON a.doc_id = e.id_a
      |JOIN sh b ON b.doc_id = e.id_b
      |WHERE ROUND(CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s))), 6)
      |    = e.jaccard_r
      |  AND e.jaccard_r >= 0.2 AND e.id_a < e.id_b
      |  AND e.id_b - e.id_a <= 1440
      |  AND e.id_b < (SELECT m FROM mx) - 120
      |UNION ALL SELECT -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q214_stream_neardup/*.parquet')) = 0
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // q264: STREAMING PERCEPTUAL NEAR-DUP — the image member of the
  // streaming near-dup matrix (q214's stateful banded shape with the
  // 4×16-bit dHash chunks as band keys; pigeonhole: Hamming ≤ 3 ⇒ one
  // identical chunk). dHash is computed MAP-SIDE on the stream (no
  // blob shuffle), candidates adjudicate under the strict watermark
  // (arrival-invariant), the batch tail full-Hamming verifies and
  // folds to per-media partner counts joined 1:1 back to every
  // medium. Oracle is fully EXACT (stronger than q214's containment):
  // q210's grid→dhash bit replay authenticates every hash, then the
  // true partner count under the two horizon predicates (id_b − id_a
  // ≤ 1440 event-minutes; id_b < max − 120, the 2 h adjudication
  // cut) is recomputed all-pairs from the emitted hashes — recall AND
  // precision per medium — plus the 1:1 count guard and rule-10
  // sentinel. Arrival invariance across batch splits is pinned in
  // StreamingSpec.
  // -------------------------------------------------------------------
  def q264StreamPhashNd(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingPhashNeardup(spark, dir)
  val q264Sql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT media_id, grid_s, dhash, n_nd,
      |    list_transform(string_split(grid_s, ' '),
      |                   x -> CAST(x AS BIGINT)) AS g
      |  FROM read_parquet('__GRAFT_OUT__/q264_stream_phash_nd/*.parquet')),
      |ok AS MATERIALIZED (
      |  SELECT media_id, grid_s, dhash, n_nd FROM e
      |  WHERE len(g) = 72
      |    AND dhash = CAST(list_sum(list_transform(range(64), b ->
      |      CASE WHEN g[(b // 8) * 9 + (b % 8) + 1]
      |              > g[(b // 8) * 9 + (b % 8) + 2]
      |           THEN CASE WHEN b = 63 THEN -9223372036854775807 - 1
      |                ELSE (1::BIGINT << b) END
      |           ELSE 0 END)) AS BIGINT)),
      |pairs AS MATERIALIZED (
      |  SELECT a.media_id AS ia, b.media_id AS ib
      |  FROM ok a JOIN ok b ON a.media_id < b.media_id
      |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
      |    AND b.media_id - a.media_id <= 1440
      |    AND b.media_id < (SELECT MAX(media_id) FROM ok) - 120),
      |tcnt AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT ia AS id FROM pairs UNION ALL SELECT ib FROM pairs)
      |  GROUP BY 1)
      |SELECT o.media_id, o.grid_s, o.dhash, o.n_nd
      |FROM ok o LEFT JOIN tcnt t ON t.id = o.media_id
      |WHERE o.n_nd = COALESCE(t.n, 0)
      |  AND (SELECT COUNT(*) FROM ok) = (SELECT COUNT(*) FROM documents)
      |UNION ALL SELECT CAST(-1 AS BIGINT), '-1', CAST(-1 AS BIGINT),
      |  CAST(-1 AS BIGINT)
      |  WHERE (SELECT COUNT(*) FROM e) = 0
      |ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // q253: STREAMING PER-KEY QUOTA — every event carries its event-time-
  // ordered running spend + over-budget flag (the rate-limit/billing-
  // cap row no windowed aggregate expresses, because a cumulative sum
  // needs a FINAL total order): adjudication waits until the watermark
  // passes strictly above the event (q214's strictness argument ⇒
  // arrival-invariant across batch splits, StreamingSpec-pinned), the
  // final 2 h hold back in state (q203's discipline, mirrored in the
  // oracle's watermark cutoff). Costs are exact micro-units through
  // DECIMAL (rule 1), the fold is int64 — the oracle replays the whole
  // table as ONE cumulative window, bit-exact.
  // -------------------------------------------------------------------
  def q253StreamQuota(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingQuota(spark, dir)
  val q253Sql: String =
    """WITH wm AS (
      |  SELECT ((epoch_us(MAX(ts)) // 1000) - 7200000) * 1000 AS w_us FROM events
      |), e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS cost_fx
      |  FROM events, wm WHERE epoch_us(ts) < w_us
      |), r AS (
      |  SELECT user_id, event_id, ts_us, cost_fx,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS seq,
      |    CAST(SUM(cost_fx) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_fx
      |  FROM e
      |)
      |SELECT user_id, CAST(seq AS BIGINT) AS seq, event_id, ts_us, cost_fx,
      |  run_fx, run_fx > 2000000000 AS over_budget
      |FROM r ORDER BY user_id, seq""".stripMargin

  // -------------------------------------------------------------------
  // q203: STREAMING EVENT-TIME AS-OF enrich — every purchase joined to
  // the latest click at-or-before it per user via custom
  // flatMapGroupsWithState state (the argmax-over-unbounded-past shape
  // no built-in stream-stream join expresses; streaming twin of
  // q40/q168). Emission horizon = Spark's own ms-floored watermark
  // ((max_ts_us div 1000) − 7.2e6)·1000, mirrored EXACTLY in the
  // oracle — purchases inside the final 2 h are held in state, not
  // emitted (q133's hold-back discipline, asserted non-vacuous in
  // StreamingSpec along with multi-batch arrival invariance).
  // -------------------------------------------------------------------
  def q203StreamAsof(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingAsofEnrich(spark, dir)
  val q203Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, ts, event_id FROM events
      |  WHERE event_type IN ('click', 'purchase')
      |), wm AS (
      |  SELECT ((epoch_us(MAX(ts)) // 1000) - 7200000) * 1000 AS w_us FROM ev
      |), p AS (
      |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_ts_us
      |  FROM ev, wm WHERE event_type = 'purchase' AND epoch_us(ts) <= w_us
      |), c AS (
      |  SELECT user_id, epoch_us(ts) AS c_ts_us, event_id FROM ev
      |  WHERE event_type = 'click'
      |), j AS (
      |  SELECT p.user_id, p.p_id, p.p_ts_us, c.c_ts_us,
      |    ROW_NUMBER() OVER (PARTITION BY p.user_id, p.p_id, p.p_ts_us
      |      ORDER BY c.c_ts_us DESC, c.event_id DESC) AS rk
      |  FROM p LEFT JOIN c
      |    ON c.user_id = p.user_id AND c.c_ts_us <= p.p_ts_us
      |)
      |SELECT user_id, p_id, p_ts_us,
      |  CAST(COALESCE(c_ts_us, -1) AS BIGINT) AS c_ts_us,
      |  CAST(CASE WHEN c_ts_us IS NULL THEN -1
      |    ELSE p_ts_us - c_ts_us END AS BIGINT) AS gap_us
      |FROM j WHERE rk = 1
      |ORDER BY user_id, p_ts_us, p_id""".stripMargin

  // -------------------------------------------------------------------
  // q133: LEFT OUTER stream-stream join — q64's attribution plus the
  // null-emission path: clicks with no purchase in-window surface only
  // after the watermark CLOSES their window (c_ts + 30min strictly
  // before min(max c_ts, max p_ts) − 1h); later clicks are held in
  // state, not emitted. The oracle recomputes that horizon exactly, so
  // the gate pins outer-join state-eviction semantics.
  // -------------------------------------------------------------------
  def q133StreamLeftOuter(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.clickPurchaseLeftOuter(spark, dir)

  // -------------------------------------------------------------------
  // q151: FULL OUTER stream-stream join — completes the watermarked
  // join matrix (inner q64, left outer q133). Unmatched clicks emit
  // when the watermark closes their 30-min window (same horizon as
  // q133); unmatched purchases emit when the watermark passes their
  // event time (p_ts strictly before the horizon — no earlier click
  // can still arrive, since clicks precede their purchases in the
  // join condition). Both eviction horizons are recomputed exactly in
  // the oracle; StreamingSpec asserts both outer paths fire AND both
  // hold-backs are non-vacuous. Sink is a distributed parquet write.
  // -------------------------------------------------------------------
  def q151StreamFullOuter(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.clickPurchaseFullOuter(spark, dir)
  val q151Sql: String =
    """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |wm AS (
      |  SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
      |    - INTERVAL 1 HOUR AS w
      |), m AS (
      |  SELECT c.user_id, COUNT(*) AS n FROM c JOIN p
      |    ON p.user_id = c.user_id
      |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |  GROUP BY c.user_id
      |), uc AS (
      |  SELECT user_id, COUNT(*) AS n FROM c
      |  WHERE NOT EXISTS (SELECT 1 FROM p
      |      WHERE p.user_id = c.user_id
      |      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
      |    AND c.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
      |  GROUP BY user_id
      |), up AS (
      |  SELECT user_id, COUNT(*) AS n FROM p
      |  WHERE NOT EXISTS (SELECT 1 FROM c
      |      WHERE c.user_id = p.user_id
      |      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
      |    AND p.ts < (SELECT w FROM wm)
      |  GROUP BY user_id
      |), u AS (
      |  SELECT user_id FROM m UNION SELECT user_id FROM uc
      |  UNION SELECT user_id FROM up
      |)
      |SELECT u.user_id,
      |  COALESCE(m.n, 0) AS n_matched,
      |  COALESCE(uc.n, 0) AS n_unmatched_clicks,
      |  COALESCE(up.n, 0) AS n_unmatched_purchases
      |FROM u
      |LEFT JOIN m ON m.user_id = u.user_id
      |LEFT JOIN uc ON uc.user_id = u.user_id
      |LEFT JOIN up ON up.user_id = u.user_id
      |ORDER BY u.user_id""".stripMargin
  val q133Sql: String =
    """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |wm AS (
      |  SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
      |    - INTERVAL 1 HOUR AS w
      |), j AS (
      |  SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts
      |  FROM c LEFT JOIN p
      |    ON p.user_id = c.user_id
      |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |), agg AS (
      |  SELECT user_id,
      |    COUNT(CASE WHEN p_ts IS NOT NULL THEN 1 END) AS n_matched,
      |    COUNT(CASE WHEN p_ts IS NULL
      |      AND c_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
      |      THEN 1 END) AS n_unmatched
      |  FROM j GROUP BY user_id
      |)
      |SELECT user_id, n_matched, n_unmatched FROM agg
      |WHERE n_matched > 0 OR n_unmatched > 0
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q87: streaming CDC upsert — foreachBatch merge sink, final state
  // = latest row per (user_id, event_type) by (ts, event_id). The
  // merge resolves by event time, so the result is batch-split
  // invariant and the plain batch window query below is an EXACT
  // oracle for the streaming pipeline's final table.
  // -------------------------------------------------------------------
  def q87StreamUpsert(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.streamingUpsert(spark, dir)
  val q87Sql: String =
    """SELECT user_id, event_type, event_id AS last_event_id,
      |  value AS last_value
      |FROM (SELECT user_id, event_type, event_id, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |          ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  // -------------------------------------------------------------------
  // q65: TF-IDF top-3 terms per document. Scores in fixed point
  // (floor(ln((N+1)/(df+1))·1e6) · tf) so the rank AND the score are
  // integer-exact across engines. Shuffle keys are (doc,term) and
  // (term) — partial-aggregated, no hot reducer at corpus scale; N is
  // a 1-row broadcast.
  // -------------------------------------------------------------------
  def q65Tfidf(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.tfidfTopK(docs(spark, dir), "doc_id", "text", k = 3)
      .orderBy(asc("doc_id"), asc("rk"))
  val q65Sql: String =
    raw"""WITH tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
      |        FROM documents)
      |  GROUP BY doc_id, term
      |), dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    tf * CAST(FLOOR(LN((n + 1.0) / (df + 1.0)) * 1000000) AS BIGINT) AS score_fixed
      |  FROM tf JOIN dfq USING (term) CROSS JOIN n
      |), ranked AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY score_fixed DESC, term) AS BIGINT) AS rk
      |  FROM scored
      |)
      |SELECT doc_id, term, tf, df, score_fixed, rk
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // -------------------------------------------------------------------
  // q129: BM25 retrieval — top-20 documents for the query
  // {spark, hash, scan}. Okapi BM25 with k1=6/5, b=3/4 cleared to
  // pure int64 arithmetic (Curation.bm25TopK): fixed-point idf ×
  // rational tf-saturation as one integral division, so score AND
  // rank replay bit-for-bit in the oracle. The retrieval-scoring
  // sibling of q65's TF-IDF.
  // -------------------------------------------------------------------
  def q129Bm25(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.bm25TopK(docs(spark, dir), "doc_id", "text",
        Seq("spark", "hash", "scan"), k = 20)
      .orderBy(desc("bm25_fx"), asc("doc_id"))
  val q129Sql: String =
    raw"""WITH d AS (
      |  SELECT doc_id,
      |    ARRAY_LENGTH(string_split_regex(TRIM(text), '\s+')) AS dl,
      |    string_split_regex(TRIM(text), '\s+') AS toks
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, dl, UNNEST(toks) AS term FROM d
      |), hits AS (
      |  SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      |  FROM toks WHERE term IN ('spark', 'hash', 'scan')
      |  GROUP BY doc_id, term
      |), dfq AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS t_tok FROM d),
      |scored AS (
      |  SELECT h.doc_id,
      |    (CAST(FLOOR(LN(CAST(2 * n + 2 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))
      |        * 1000000) AS BIGINT) * 44 * tf * t_tok)
      |      // (20 * tf * t_tok + 6 * t_tok + 18 * dl * n) AS term_score
      |  FROM hits h JOIN dfq USING (term) CROSS JOIN tot
      |)
      |SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS bm25_fx
      |FROM scored GROUP BY doc_id
      |ORDER BY bm25_fx DESC, doc_id LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q160: BATCH BM25 — top-10 docs for THREE queries in one corpus
  // pass (the retrieval-eval serving shape): tf/df aggregate once,
  // the (query, term) map broadcasts, per-query top-k is one window.
  // Same all-int64 scoring as q129, so score AND rank replay
  // bit-for-bit in the oracle; q_spark shares q129's terms as a
  // cross-check between the single- and batch-query paths.
  // -------------------------------------------------------------------
  def q160Bm25Batch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.bm25BatchTopK(docs(spark, dir), "doc_id", "text",
        Seq(
          "q_spark" -> Seq("spark", "hash", "scan"),
          "q_stream" -> Seq("stream", "window", "state"),
          "q_join" -> Seq("join", "merge", "shuffle")),
        k = 10)
      .orderBy(asc("query_id"), asc("rk"))
  val q160Sql: String =
    raw"""WITH q(query_id, term) AS (VALUES
      |  ('q_spark', 'spark'), ('q_spark', 'hash'), ('q_spark', 'scan'),
      |  ('q_stream', 'stream'), ('q_stream', 'window'), ('q_stream', 'state'),
      |  ('q_join', 'join'), ('q_join', 'merge'), ('q_join', 'shuffle')
      |), d AS (
      |  SELECT doc_id,
      |    ARRAY_LENGTH(string_split_regex(TRIM(text), '\s+')) AS dl,
      |    string_split_regex(TRIM(text), '\s+') AS toks
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, dl, UNNEST(toks) AS term FROM d
      |), hits AS (
      |  SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      |  FROM toks WHERE term IN (SELECT DISTINCT term FROM q)
      |  GROUP BY doc_id, term
      |), dfq AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS t_tok FROM d),
      |scored AS (
      |  SELECT q.query_id, h.doc_id,
      |    (CAST(FLOOR(LN(CAST(2 * n + 2 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))
      |        * 1000000) AS BIGINT) * 44 * tf * t_tok)
      |      // (20 * tf * t_tok + 6 * t_tok + 18 * dl * n) AS term_score
      |  FROM hits h JOIN dfq USING (term) JOIN q USING (term) CROSS JOIN tot
      |), agg AS (
      |  SELECT query_id, doc_id, CAST(SUM(term_score) AS BIGINT) AS bm25_fx
      |  FROM scored GROUP BY query_id, doc_id
      |), ranked AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY bm25_fx DESC, doc_id) AS INT) AS rk
      |  FROM agg
      |)
      |SELECT query_id, doc_id, bm25_fx, rk
      |FROM ranked WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  // -------------------------------------------------------------------
  // q172: HYBRID retrieval via reciprocal-rank fusion — q129's BM25
  // top-50 fused with a length-normalized term-density top-50
  // (Curation.tfDensityTopK) by RRF: Σ 1e12 div (60 + rank). The
  // standard two-retriever serving pattern (lexical + second signal)
  // where only RANKS cross lists, so no score calibration is needed.
  // Every stage is int64 (BM25 fixed-point, density integral division,
  // RRF fixed-point), ties broken by doc_id — score, rank, and the
  // fused top-20 replay bit-for-bit in the oracle. The two 50-row
  // rank lists are the only fusion input: union + one partial-agged
  // sum, top-k as TakeOrdered.
  // -------------------------------------------------------------------
  def q172RrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Seq("spark", "hash", "scan")
    val d = docs(spark, dir)
    // rank windows are global but run over 50-row post-limit frames
    val bm = graft.operators.Curation.bm25TopK(d, "doc_id", "text", terms, 50)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("bm25_fx"), asc("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val dens = graft.operators.Curation.tfDensityTopK(d, "doc_id", "text", terms, 50)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("dens_fx"), asc("doc_id"))))
      .select(col("doc_id"), col("rank"))
    graft.operators.Curation.rrfFuse(Seq(bm, dens), "doc_id", "rank",
        k0 = 60, topK = 20)
      .orderBy(desc("rrf_fx"), asc("doc_id"))
  }
  val q172Sql: String =
    raw"""WITH d AS (
      |  SELECT doc_id,
      |    ARRAY_LENGTH(string_split_regex(TRIM(text), '\s+')) AS dl,
      |    string_split_regex(TRIM(text), '\s+') AS toks
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, dl, UNNEST(toks) AS term FROM d
      |), hits AS (
      |  SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      |  FROM toks WHERE term IN ('spark', 'hash', 'scan')
      |  GROUP BY doc_id, term
      |), dfq AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS t_tok FROM d),
      |scored AS (
      |  SELECT h.doc_id,
      |    (CAST(FLOOR(LN(CAST(2 * n + 2 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE))
      |        * 1000000) AS BIGINT) * 44 * tf * t_tok)
      |      // (20 * tf * t_tok + 6 * t_tok + 18 * dl * n) AS term_score
      |  FROM hits h JOIN dfq USING (term) CROSS JOIN tot
      |), bm AS (
      |  SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS s
      |  FROM scored GROUP BY doc_id
      |), bmr AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rk FROM bm
      |), dens AS (
      |  SELECT doc_id, (COUNT(*) * 1000000000) // MIN(dl) AS s
      |  FROM toks WHERE term IN ('spark', 'hash', 'scan') GROUP BY doc_id
      |), densr AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rk FROM dens
      |), u AS (
      |  SELECT doc_id, 1000000000000 // (60 + rk) AS p FROM bmr WHERE rk <= 50
      |  UNION ALL
      |  SELECT doc_id, 1000000000000 // (60 + rk) AS p FROM densr WHERE rk <= 50
      |)
      |SELECT doc_id, CAST(SUM(p) AS BIGINT) AS rrf_fx,
      |  CAST(COUNT(*) AS BIGINT) AS n_lists
      |FROM u GROUP BY doc_id
      |ORDER BY rrf_fx DESC, doc_id LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q132: boolean conjunctive search (AND of {spark, merge, window}) —
  // posting-list intersection by COUNT, the scalable form: distinct
  // (doc, term) hits for query terms only, then one partial-agged
  // count==|Q| filter. No k-way self-join of posting lists, no
  // term-skew hotspot (each doc contributes ≤|Q| rows to the count).
  // The boolean-retrieval sibling of q129's ranked BM25.
  // -------------------------------------------------------------------
  def q132BooleanSearch(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "merge", "window")
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(TA.tokens(col("text")))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === terms.size)
      .select(col("doc_id"), col("lang"))
      .orderBy(asc("doc_id"))
  }
  val q132Sql: String =
    raw"""SELECT doc_id, lang
      |FROM (
      |  SELECT doc_id, lang, COUNT(DISTINCT term) AS n_hit
      |  FROM (SELECT doc_id, lang,
      |          UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
      |        FROM documents)
      |  WHERE term IN ('spark', 'merge', 'window')
      |  GROUP BY doc_id, lang
      |)
      |WHERE n_hit = 3 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q66: per-language vocabulary statistics (exact). The 100 TB twin
  // is q68's HyperLogLog sketch — same query, approx_count_distinct,
  // no per-language distinct-token shuffle.
  // -------------------------------------------------------------------
  def q66Vocab(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), explode(TA.tokens(col("text"))).as("term"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("term")).as("vocab"))
      .orderBy(asc("lang"))
  val q66Sql: String =
    raw"""SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT term) AS vocab
      |FROM (SELECT lang, UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
      |      FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q67: per-label embedding centroids in fixed point — posexplode to
  // (label, dim) and sum floor(x·1e7) as integers, so the float-sum
  // order-dependence that breaks cross-engine float parity never
  // arises. 640 groups, map-side partial aggregation; the scale shape
  // for any per-class embedding statistic.
  // -------------------------------------------------------------------
  def q67Centroids(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        floor(col("col").cast("double") * lit(10000000.0)).cast("long").as("fx"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("fx")).as("sum_fixed"))
      .orderBy(asc("label"), asc("dim"))
  val q67Sql: String =
    """SELECT label, CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS BIGINT) AS sum_fixed
      |FROM (SELECT label, generate_subscripts(embedding, 1) AS dim,
      |        UNNEST(embedding) AS x FROM embeddings)
      |GROUP BY label, dim ORDER BY label, dim""".stripMargin

  // -------------------------------------------------------------------
  // q68: HyperLogLog vocabulary estimate — the sketch twin of q66.
  // Tolerance oracle (was rows-only): HLL register values are
  // engine-specific, but the ESTIMATE is checkable — the oracle
  // computes the exact per-language vocabulary in DuckDB and keeps an
  // emitted row only if the estimate is within 5% of it (rsd=0.01, so
  // 5% is ≥5 sigma of headroom). An estimate outside the bound drops
  // the row ⇒ row-count FAIL.
  // -------------------------------------------------------------------
  def q68VocabApprox(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), explode(TA.tokens(col("text"))).as("term"))
      .groupBy(col("lang"))
      .agg(approx_count_distinct(col("term"), 0.01).as("vocab_est"))
      .orderBy(asc("lang"))
  val q68Sql: String =
    raw"""WITH exact AS (
      |  SELECT lang, COUNT(DISTINCT term) AS vocab
      |  FROM (SELECT lang, UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
      |        FROM documents)
      |  GROUP BY lang
      |)
      |SELECT e.lang, e.vocab_est
      |FROM read_parquet('__GRAFT_OUT__/q68_vocab_approx/*.parquet') e
      |JOIN exact g ON g.lang = e.lang
      |WHERE ABS(e.vocab_est - g.vocab) <= 0.05 * g.vocab
      |UNION ALL SELECT '__empty__', -1 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q68_vocab_approx/*.parquet')) = 0
      |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q110: mergeable sketch tables — the incremental-statistics pattern
  // at 100 TB: each ingest "snapshot" (doc_id % 4 here) pre-aggregates
  // a per-language HLL sketch of its vocabulary; the corpus-wide
  // distinct count is then a UNION OF SKETCHES (bytes, not token
  // streams) — adding a snapshot never rescans history. Uses Spark's
  // native DataSketches HLL (hll_sketch_agg / hll_union_agg /
  // hll_sketch_estimate). Tolerance oracle like q68: the merged
  // estimate must land within 5% of DuckDB's exact distinct count —
  // sketch merge is lossless (union of registers), so the merged
  // accuracy equals single-pass accuracy.
  // -------------------------------------------------------------------
  def q110SketchUnion(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), pmod(col("doc_id"), lit(4)).as("snapshot"),
        explode(TA.tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("snapshot"))
      .agg(expr("hll_sketch_agg(term, 14)").as("sk")) // the persisted sketch table
      .groupBy(col("lang"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("vocab_est"))
      .orderBy(asc("lang"))
  val q110Sql: String =
    raw"""WITH exact AS (
      |  SELECT lang, COUNT(DISTINCT term) AS vocab
      |  FROM (SELECT lang, UNNEST(string_split_regex(TRIM(text), '\s+')) AS term
      |        FROM documents)
      |  GROUP BY lang
      |)
      |SELECT e.lang, e.vocab_est
      |FROM read_parquet('__GRAFT_OUT__/q110_sketch_union/*.parquet') e
      |JOIN exact g ON g.lang = e.lang
      |WHERE ABS(e.vocab_est - g.vocab) <= 0.05 * g.vocab
      |UNION ALL SELECT '__empty__', -1 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q110_sketch_union/*.parquet')) = 0
      |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q134: trailing-6-hour distinct users per hour via HLL sketch
  // ALGEBRA — the windowed form of q110's incremental-stats pattern.
  // One pass builds the per-hour sketch table (720 × ~KB rows — the
  // model, independent of event volume); each sketch then explodes to
  // the ≤6 target hours it contributes to (map-only on sketch BYTES,
  // equi-join groupBy — never a range join, never a rescan of events)
  // and union-merges per target. An exact COUNT(DISTINCT) over a
  // trailing window would reshuffle raw user ids once per window
  // position; here event data is touched exactly once. Tolerance
  // oracle vs DuckDB's exact trailing distinct (±5%; lgK=14 ⇒ ~1σ
  // 0.8%), sentinel-guarded.
  // -------------------------------------------------------------------
  def q134SlidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Events.ev(spark, dir)
      .select(date_trunc("hour", col("ts")).as("hour"), col("user_id"))
    val sk = ev.groupBy(col("hour"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val hours = sk.select(col("hour").as("target"))
    sk.select(col("hour"), col("sk"), explode(sequence(lit(0), lit(5))).as("i"))
      .select(expr("timestampadd(HOUR, i, hour)").as("target"), col("sk"))
      .join(hours, "target")
      .groupBy(col("target").as("hour"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("users_6h_est"))
      .orderBy(asc("hour"))
  }
  val q134Sql: String =
    """WITH e AS (
      |  SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour, user_id
      |  FROM events
      |), hours AS (SELECT DISTINCT hour FROM e),
      |exact AS (
      |  SELECT h.hour, COUNT(DISTINCT e.user_id) AS exact_u
      |  FROM hours h JOIN e
      |    ON e.hour >= h.hour - INTERVAL 5 HOUR AND e.hour <= h.hour
      |  GROUP BY h.hour
      |)
      |SELECT g.hour, g.users_6h_est
      |FROM read_parquet('__GRAFT_OUT__/q134_sliding_distinct/*.parquet') g
      |JOIN exact x ON x.hour = g.hour
      |WHERE ABS(g.users_6h_est - x.exact_u) <= 0.05 * x.exact_u
      |UNION ALL SELECT TIMESTAMP '1970-01-01 00:00:00', CAST(-1 AS BIGINT)
      |  WHERE (SELECT COUNT(*)
      |    FROM read_parquet('__GRAFT_OUT__/q134_sliding_distinct/*.parquet')) = 0
      |ORDER BY hour""".stripMargin

  // -------------------------------------------------------------------
  // q275: READABILITY BANDING (Flesch 1948 reading-ease, the classic
  // audience-level quality signal next to q27's surface stats and
  // q225's LM filter): per doc, word count, a vowel-group syllable
  // proxy (≥1 per word — the standard heuristic), sentence count
  // (1 + terminal-punctuation runs; this corpus has none, so S=1 —
  // the formula stays general), and the ease score banded into
  // easy/plain/difficult/academic. The score is ONE fixed-shape IEEE
  // expression over exact ints (the q221 convention): both engines
  // evaluate 1000·(206.835 − 1.015·W/S − 84.6·Syl/W) on identical
  // operands. Scale: explode → two partial-agged counts + a map-side
  // regexp on the doc row — no data-sized window, no collect.
  // -------------------------------------------------------------------
  def q275Readability(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val tok = docs(spark, dir)
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val per = tok.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_words"),
      sum(greatest(regexp_count(col("tok"), lit("[aeiou]+")), lit(1)))
        .cast("long").as("n_syllables"))
    val sent = docs(spark, dir).select(col("doc_id"),
      (lit(1L) + regexp_count(col("text"), lit("[.!?]+"))).as("n_sent"))
    per.join(sent, "doc_id")
      .withColumn("flesch_fp",
        floor(lit(1000.0) * (lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sent"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words"))))
          .cast("long"))
      .select(col("doc_id"), col("n_words"), col("n_syllables"),
        col("flesch_fp"),
        when(col("flesch_fp") >= 90000L, "easy")
          .when(col("flesch_fp") >= 60000L, "plain")
          .when(col("flesch_fp") >= 30000L, "difficult")
          .otherwise("academic").as("band"))
      .orderBy(asc("doc_id"))
  }
  val q275Sql: String =
    raw"""WITH tok AS (
      |  SELECT doc_id, tok
      |  FROM (SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
      |        FROM documents)
      |  WHERE tok != ''
      |), per AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |    CAST(SUM(GREATEST(LEN(regexp_extract_all(tok, '[aeiou]+')), 1))
      |      AS BIGINT) AS n_syllables
      |  FROM tok GROUP BY 1
      |), sent AS (
      |  SELECT doc_id,
      |    CAST(1 + LEN(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sent
      |  FROM documents
      |), scored AS (
      |  SELECT p.doc_id, n_words, n_syllables,
      |    CAST(FLOOR(1000.0 * (206.835
      |      - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
      |      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))) AS BIGINT)
      |      AS flesch_fp
      |  FROM per p JOIN sent USING (doc_id)
      |)
      |SELECT doc_id, n_words, n_syllables, flesch_fp,
      |  CASE WHEN flesch_fp >= 90000 THEN 'easy'
      |       WHEN flesch_fp >= 60000 THEN 'plain'
      |       WHEN flesch_fp >= 30000 THEN 'difficult'
      |       ELSE 'academic' END AS band
      |FROM scored ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q276: INT8 SCALAR-QUANTIZATION ERROR AUDIT — the per-dimension
  // decision table behind the q119/q240 storage rungs: for each of
  // the 64 embedding dimensions, the corpus min/max (over the exact
  // floor(x·1e6) fixed-point elements), and the reconstruction error
  // of min-max SQ8 (q = round((v−mn)·255/span), v̂ = mn + q·span/255)
  // — summed squared error and max |error| in 1/255-of-fp units, ALL
  // integer end-to-end (the rounding is (2·255·(v−mn)+span) div
  // (2·span), nonnegative operands so both engines' integer division
  // floor identically; err = 255·(v−mn) − q·span). Which dimensions
  // survive int8 — and which need the full-float col — read straight
  // off the table. Scale: one posexplode pass, per-dim (64-group)
  // partial aggregates, min/max broadcast back; err² ≤ (span/2)²
  // ≤ 1e12 per row ⇒ Σ over 1e6 rows/dim ≪ 2^63.
  // -------------------------------------------------------------------
  def q276Sq8Audit(spark: SparkSession, dir: String): DataFrame = {
    val el = emb(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("v").cast("double") * lit(1e6)).cast("long").as("vf"))
    val mm = el.groupBy(col("dim")).agg(min(col("vf")).as("mn"),
      max(col("vf")).as("mx"))
    val err = el.join(mm, "dim")
      .withColumn("span", col("mx") - col("mn"))
      .withColumn("q", when(col("span") === 0L, lit(0L))
        .otherwise(expr("(2 * 255 * (vf - mn) + span) div (2 * span)")))
      .withColumn("e", lit(255L) * (col("vf") - col("mn")) - col("q") * col("span"))
    err.groupBy(col("dim"))
      .agg(min(col("vf")).as("mn"), max(col("vf")).as("mx"),
        sum(col("e") * col("e")).as("sse_fp"),
        max(abs(col("e"))).as("max_abs_err"))
      .orderBy(asc("dim"))
  }
  val q276Sql: String =
    """WITH el AS (
      |  SELECT CAST(dim - 1 AS BIGINT) AS dim,
      |    CAST(FLOOR(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS vf
      |  FROM (SELECT UNNEST(embedding) AS v,
      |          generate_subscripts(embedding, 1) AS dim
      |        FROM embeddings)
      |), mm AS (
      |  SELECT dim, MIN(vf) AS mn, MAX(vf) AS mx FROM el GROUP BY 1
      |), err AS (
      |  SELECT el.dim, vf, mn, mx, mx - mn AS span,
      |    CASE WHEN mx - mn = 0 THEN 0
      |         ELSE (2 * 255 * (vf - mn) + (mx - mn)) // (2 * (mx - mn))
      |    END AS q
      |  FROM el JOIN mm USING (dim)
      |)
      |SELECT dim, CAST(MIN(vf) AS BIGINT) AS mn, CAST(MAX(vf) AS BIGINT) AS mx,
      |  CAST(SUM((255 * (vf - mn) - q * span) * (255 * (vf - mn) - q * span))
      |    AS BIGINT) AS sse_fp,
      |  CAST(MAX(ABS(255 * (vf - mn) - q * span)) AS BIGINT) AS max_abs_err
      |FROM err GROUP BY dim ORDER BY dim""".stripMargin

  /** Every query of this module: name → (build function, oracle SQL). */
  val registry: Map[String, Query] = Query.registry(
    "q110_sketch_union" -> Query(q110SketchUnion, q110Sql),
    "q134_sliding_distinct" -> Query(q134SlidingDistinct, q134Sql),
    "q25_text_stats" -> Query(q25TextStats, q25Sql),
    "q26_token_freq" -> Query(q26TokenFreq, q26Sql),
    "q27_quality_score" -> Query(q27Quality, q27Sql),
    "q28_lang_id" -> Query(q28LangId, q28Sql),
    "q29_fingerprint" -> Query(q29Fingerprint, q29Sql),
    "q30_dedup_exact" -> Query(q30DedupExact, q30Sql),
    "q31_minhash_lsh" -> Query(q31MinhashLsh, q31Sql),
    "q32_simhash" -> Query(q32Simhash, q32Sql),
    "q33_ngram_jaccard" -> Query(q33NgramJaccard, q33Sql),
    "q34_cosine_topk" -> Query(q34CosineTopK, q34Sql),
    // floors ≈ 0.8 × measured recall (round-6 re-measurement: q35
    // 0.45 @ sf0.01 / 0.58 @ sf0.1, q52 0.70 / 0.77) so a silent
    // recall regression trips well before halving; re-measure BOTH
    // scales before re-flooring if ANN params change (PERF lesson 14).
    // The per-row `hit` check is exact regardless of the floor.
    "q35_ann_lsh" -> Query(q35AnnLsh, annOracle("q35_ann_lsh", 0.35)),
    "q52_ann_ivf" -> Query(q52AnnIvf, annOracle("q52_ann_ivf", 0.55)),
    "q248_ivf_probe_curve" -> Query(q248IvfProbeCurve,
      probeCurveSql(Map(1 -> 0.14, 2 -> 0.25, 8 -> 0.52))),
    "q328_ivf_incremental" -> Query(q328IvfIncremental,
      ivfIncrementalSql(Map("a_stale" -> 0.36, "b_partial" -> 0.38, "c_full" -> 0.38))),
    "q36_cosine_neardup" -> Query(q36CosineNearDup, q36Sql),
    "q218_semantic_decontam" -> Query(q218SemanticDecontam, q218Sql),
    "q220_frame_sample" -> Query(q220FrameSample, q220Sql),
    "q287_shot_boundary" -> Query(q287ShotBoundary, q287Sql),
    "q290_hubness" -> Query(q290Hubness, q290Sql),
    "q296_incremental_cc" -> Query(q296IncrementalCc, q55Sql),
    "q310_stream_sample" -> Query(q310StreamSample, q310Sql),
    "q311_label_margin" -> Query(q311LabelMargin, q311Sql),
    "q314_dbscan_core" -> Query(q314DbscanCore, q314Sql),
    "q319_rbo" -> Query(q319Rbo, q319Sql),
    "q297_conformal_ood" -> Query(q297ConformalOod, q297Sql),
    "q321_conformal_ivf" -> Query(q321ConformalIvf, q321Sql),
    "q322_dbscan_cells" -> Query(q322DbscanCells, q322Sql),
    "q323_hubness_graph" -> Query(q323HubnessGraph, q323Sql),
    "q324_blocking_curve" -> Query(q324BlockingCurve, q324Sql),
    "q325_conformal_curve" -> Query(q325ConformalCurve, q325Sql),
    "q326_knn_rounds_curve" -> Query(q326KnnRoundsCurve, q326Sql),
    "q327_knn_width_curve" -> Query(q327KnnWidthCurve, q327Sql),
    "q221_modularity" -> Query(q221Modularity, q221Sql),
    "q272_louvain_move" -> Query(q272LouvainMove, q272Sql),
    "q273_walk_pmi" -> Query(q273WalkPmi, q273Sql),
    "q275_readability" -> Query(q275Readability, q275Sql),
    "q276_sq8_audit" -> Query(q276Sq8Audit, q276Sql),
    "q222_audio_energy" -> Query(q222AudioEnergy, q222Sql),
    "q223_hard_negatives" -> Query(q223HardNegatives, q223Sql),
    "q226_incremental_semdedup" -> Query(q226IncrementalSemdedup, q226Sql),
    "q234_knn_graph" -> Query(q234KnnGraph, q234Sql),
    "q236_audio_utterances" -> Query(q236AudioUtterances, q236Sql),
    "q37_multimodal" -> Query(q37Multimodal, q37Sql),
    "q88_multimodal_transcode" -> Query(q88MultimodalTranscode, q88Sql),
    "q95_incremental_dedup" -> Query(q95IncrementalDedup, q95Sql),
    "q121_snapshot_diff" -> Query(q121SnapshotDiff, q121Sql),
    "q123_pagerank" -> Query(q123PageRank, q123Sql),
    "q283_katz" -> Query(q283Katz, q283Sql),
    "q229_personalized_pagerank" -> Query(q229PersonalizedPagerank, q229Sql),
    "q230_kcenter" -> Query(q230KCenter, q230Sql),
    "q127_triangles" -> Query(q127Triangles, q127Sql),
    "q237_clustering_coeff" -> Query(q237ClusteringCoeff, q237Sql),
    "q239_assortativity" -> Query(q239Assortativity, q239Sql),
    "q170_bfs_levels" -> Query(q170BfsLevels, q170Sql),
    "q278_closeness" -> Query(q278Closeness, q278Sql),
    "q280_mmr_select" -> Query(q280MmrSelect, q280Sql),
    "q171_kcore" -> Query(q171KCore, q171Sql),
    "q177_label_prop" -> Query(q177LabelProp, q177Sql),
    "q172_rrf_hybrid" -> Query(q172RrfHybrid, q172Sql),
    "q175_stream_heavy_hitters" -> Query(q175StreamHeavyHitters, q175Sql),
    "q185_stream_distinct" -> Query(q185StreamDistinct, q185Sql),
    "q231_stream_drift" -> Query(q231StreamDrift, q231Sql),
    "q232_ra_link_prediction" -> Query(q232RaLinkPrediction, q232Sql),
    "q129_bm25" -> Query(q129Bm25, q129Sql),
    "q132_boolean_search" -> Query(q132BooleanSearch, q132Sql),
    // identical output to the batch sliding window
    "q102_stream_sliding" -> Query(q102StreamSliding, Scalars.q44Sql),
    "q126_stream_session" -> Query(q126StreamSession, q126Sql),
    "q103_decontaminate_apply" -> Query(q103DecontaminateApply, q103Sql),
    "q96_fuzzy_key_pairs" -> Query(q96FuzzyKeyPairs, q96Sql),
    "q38_stream_hourly" -> Query(q38StreamHourly, q38Sql),
    "q39_stream_stateful" -> Query(q39StreamStateful, q39Sql),
    "q55_neardup_clusters" -> Query(q55NeardupClusters, q55Sql),
    "q194_canonical_dedup" -> Query(q194CanonicalDedup, q194Sql),
    "q197_link_prediction" -> Query(q197LinkPrediction, q197Sql),
    "q201_hits" -> Query(q201Hits, q201Sql),
    "q205_media_dedup" -> Query(q205MediaDedup, q205Sql),
    "q210_image_phash" -> Query(q210ImagePhash, q210Sql),
    "q211_phash_neardup" -> Query(q211PhashNearDup, q211Sql),
    "q217_phash_incremental" -> Query(q217PhashIncremental, q217Sql),
    "q261_phash_canonical" -> Query(q261PhashCanonical, q261Sql),
    "q329_cross_modal_canonical" -> Query(q329CrossModalCanonical, q329Sql),
    "q208_sssp" -> Query(q208Sssp, q208Sql),
    "q203_stream_asof" -> Query(q203StreamAsof, q203Sql),
    "q253_stream_quota" -> Query(q253StreamQuota, q253Sql),
    "q202_embedding_drift" -> Query(q202EmbeddingDrift, q202Sql),
    "q195_embedding_outliers" -> Query(q195EmbeddingOutliers, q195Sql),
    "q56_stream_dedup" -> Query(q56StreamDedup, q56Sql),
    "q214_stream_neardup" -> Query(q214StreamNeardup, q214Sql),
    "q264_stream_phash_nd" -> Query(q264StreamPhashNd, q264Sql),
    "q266_audio_fingerprint" -> Query(q266AudioFingerprint, q266Sql),
    "q268_matryoshka_recall" -> Query(q268MatryoshkaRecall, q268Sql),
    "q269_randwalk_corpus" -> Query(q269RandwalkCorpus, q269Sql),
    "q64_stream_join" -> Query(q64StreamJoin, q64Sql),
    "q133_stream_left_outer" -> Query(q133StreamLeftOuter, q133Sql),
    "q151_stream_full_outer" -> Query(q151StreamFullOuter, q151Sql),
    "q87_stream_upsert" -> Query(q87StreamUpsert, q87Sql),
    "q65_tfidf" -> Query(q65Tfidf, q65Sql),
    "q66_vocab" -> Query(q66Vocab, q66Sql),
    "q67_centroids" -> Query(q67Centroids, q67Sql),
    "q68_vocab_approx" -> Query(q68VocabApprox, q68Sql),
    "q75_semantic_dedup" -> Query(q75SemanticDedup, q75Sql),
    "q78_stream_enrich" -> Query(q78StreamEnrich, q78Sql),
    "q81_bpe_tokens" -> Query(q81BpeTokens, q81Sql),
    "q82_neardup_clusters_alt" -> Query(q82NeardupClustersAlt, q55Sql),
    "q117_dedup_pipeline" -> Query(q117DedupPipeline, q117Sql),
    "q119_quantized_ann" -> Query(q119QuantizedAnn, q119Sql),
    "q240_signbit_ann" -> Query(q240SignBitAnn, q240Sql),
    "q152_jl_projection" -> Query(q152JlProjection, q152Sql),
    "q159_containment" -> Query(q159Containment, q159Sql),
    "q160_bm25_batch" -> Query(q160Bm25Batch, q160Sql),
    "q163_pq_ann" -> Query(q163PqAnn, annOracle("q163_pq_ann", 0.6)),
    // measured recall@10: 0.69 @ sf0.01, 0.66 @ sf0.1 → floor 0.52
    // ≈ 0.8× the binding figure (q35/q52 convention); re-measure
    // before changing ANN params
    "q179_ivfpq_ann" -> Query(q179IvfPqAnn, annOracle("q179_ivfpq_ann", 0.52)),
    "q191_ivfpq_residual" -> Query(q191IvfPqResidual, annOracle("q191_ivfpq_residual", 0.45)),
    "q180_cluster_split" -> Query(q180ClusterSplit, q180Sql),
    "q183_leakage_audit" -> Query(q183LeakageAudit, q183Sql),
    "q184_weighted_pagerank" -> Query(q184WeightedPagerank, q184Sql),
    "q164_allpairs_exact" -> Query(q164AllpairsExact, q164Sql),
    "q252_source_dup_matrix" -> Query(q252SourceDupMatrix, q252Sql),
    "q254_knn_label_audit" -> Query(q254KnnLabelAudit, q254Sql),
    "q256_spectral_rank" -> Query(q256SpectralRank, q256Sql),
    "q257_minhash_incremental" -> Query(q257MinhashIncremental, q257Sql),
    "q258_dedup_impact" -> Query(q258DedupImpact, q258Sql),
    "q255_lsh_recall_audit" -> Query(q255LshRecallAudit, q255Sql),
    "q165_pca_power" -> Query(q165PcaPower, q165Sql),
    "q167_stream_quantiles" -> Query(q167StreamQuantiles, q167Sql))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.builds(registry)
}
