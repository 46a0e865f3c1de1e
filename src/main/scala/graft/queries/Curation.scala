package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Curation => C, TextAnalysis => TA}
import graft.util.SessionMemo

/** Dataset-curation queries (q57-q63): the train-time data-management
  * layer a 100 TB pipeline needs on top of the analysis/dedup surface —
  * benchmark decontamination, repetition filtering, leakage-safe
  * splits, sequence packing, PII redaction, the curation funnel, and
  * the deterministic training-order shuffle. All seven are DuckDB
  * oracle-gated (exact integer hashing / md5 / shared-regex design —
  * no engine-specific hash functions in any gated output).
  */
object Curation {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  // DuckDB fragment: whitespace tokens of `text` (same as q25/q33).
  private val toksSql = raw"string_split_regex(TRIM(text), '\s+')"

  // -------------------------------------------------------------------
  // q57: benchmark decontamination — training docs sharing a 5-gram
  // with the (deterministic) eval subset doc_id % 97 == 0. Eval grams
  // broadcast; corpus never shuffles.
  // -------------------------------------------------------------------
  def q57Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    C.decontaminate(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
      .orderBy(asc("doc_id"))
  }
  val q57Sql: String =
    raw"""WITH grams AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(t) - 4, 1) + 1),
      |    i -> array_to_string(t[i:i+4], ' '))) AS g
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
      |), eval_g AS (
      |  SELECT DISTINCT UNNEST(g) AS gram FROM grams WHERE doc_id % 97 = 0
      |), train_g AS (
      |  SELECT doc_id, LEN(g) AS n_grams, UNNEST(g) AS gram
      |  FROM grams WHERE doc_id % 97 <> 0
      |)
      |SELECT doc_id, COUNT(*) AS n_overlap, CAST(n_grams AS BIGINT) AS n_grams,
      |  CAST(COUNT(*) AS DOUBLE) / n_grams AS overlap_frac
      |FROM train_g JOIN eval_g USING (gram)
      |GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q120: FUZZY decontamination — training docs whose trigram-shingle
  // Jaccard vs any eval doc clears 0.5, surfaced by MinHash-LSH banding
  // with the eval side broadcast (the corpus never shuffles). The eval
  // split doc_id % 3 == 0 is deliberately coarse so it cross-splits the
  // corpus's planted near-dup clusters (all at J ≥ 0.9 — deep in the
  // S-curve's ~1.0 recall region for 8 bands × 4 rows); a real eval
  // suite is far smaller, which only strengthens the broadcast shape.
  //
  // CONTAINMENT + RECALL ORACLE (q31/q35 pattern): DuckDB recomputes
  // the full cross-split exact-Jaccard truth set (feasible at oracle
  // scale), keeps only emitted rows matching a true pair with the
  // exact score (bogus pair or wrong score ⇒ row falls out ⇒ FAIL),
  // requires emitted∩truth ≥ 0.8·|truth| (recall floor; measured 1.0
  // at sf0.01 — every true pair sits at J ≥ 0.9), and carries the
  // empty-output sentinel.
  // -------------------------------------------------------------------
  def q120FuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    C.fuzzyDecontaminate(
        d.filter(col("doc_id") % 3 =!= 0),
        d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", k = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select(col("train_id"), col("eval_id"),
        round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(asc("train_id"), asc("eval_id"))
  }
  val q120Sql: String =
    raw"""WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(t) - 2, 1) + 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS s
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
      |), truth AS (
      |  SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
      |    ROUND(CAST(LEN(list_intersect(tr.s, ev.s)) AS DOUBLE)
      |      / (LEN(tr.s) + LEN(ev.s) - LEN(list_intersect(tr.s, ev.s))), 6) AS j
      |  FROM sh tr JOIN sh ev ON tr.doc_id % 3 <> 0 AND ev.doc_id % 3 = 0
      |  WHERE CAST(LEN(list_intersect(tr.s, ev.s)) AS DOUBLE)
      |      / (LEN(tr.s) + LEN(ev.s) - LEN(list_intersect(tr.s, ev.s))) >= 0.5
      |)
      |SELECT e.train_id, e.eval_id, e.jaccard_r
      |FROM read_parquet('__GRAFT_OUT__/q120_fuzzy_decontaminate/*.parquet') e
      |JOIN truth t ON t.train_id = e.train_id AND t.eval_id = e.eval_id
      |  AND t.j = e.jaccard_r
      |WHERE (SELECT COUNT(*)
      |    FROM read_parquet('__GRAFT_OUT__/q120_fuzzy_decontaminate/*.parquet') e2
      |    JOIN truth t2 ON t2.train_id = e2.train_id AND t2.eval_id = e2.eval_id)
      |  >= 0.8 * (SELECT COUNT(*) FROM truth)
      |UNION ALL SELECT -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q120_fuzzy_decontaminate/*.parquet')) = 0
      |ORDER BY train_id, eval_id""".stripMargin

  // -------------------------------------------------------------------
  // q58: Gopher-style repetition metrics per document. Pure int
  // divisions into double — bit-identical across engines, no rounding.
  // -------------------------------------------------------------------
  def q58Repetition(spark: SparkSession, dir: String): DataFrame =
    C.repetitionMetrics(docs(spark, dir), "doc_id", "text")
      .orderBy(asc("doc_id"))
  val q58Sql: String =
    raw"""WITH base AS (
      |  SELECT doc_id, LEN(t) AS n_tok, LEN(list_distinct(t)) AS n_uniq,
      |    list_transform(range(1, GREATEST(LEN(t) - 1, 1) + 1),
      |      i -> array_to_string(t[i:i+1], ' ')) AS bg
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
      |), cnts AS (
      |  SELECT doc_id, bigram, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, UNNEST(bg) AS bigram FROM base)
      |  GROUP BY doc_id, bigram
      |), agg AS (
      |  SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS total_bg,
      |    SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_bg
      |  FROM cnts GROUP BY doc_id
      |)
      |SELECT b.doc_id,
      |  CAST(1 AS DOUBLE) - CAST(n_uniq AS DOUBLE) / n_tok AS dup_token_frac,
      |  CAST(top_cnt AS DOUBLE) / total_bg AS top_bigram_frac,
      |  CAST(dup_bg AS DOUBLE) / total_bg AS dup_bigram_frac
      |FROM base b JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q59: leakage-safe deterministic split, stratification report.
  // 80/10/10 by portable multiplicative hash of doc_id.
  // -------------------------------------------------------------------
  def q59HashSplit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(C.splitAssign(col("doc_id"), seed = 42L, trainPct = 80, valPct = 10).as("split"),
        col("lang"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc("split"), asc("lang"))
  val q59Sql: String = {
    val bucket = s"(${C.portableHashSql("doc_id", 42L)} % 100)"
    s"""SELECT CASE WHEN $bucket < 80 THEN 'train'
       |            WHEN $bucket < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |  lang, COUNT(*) AS n
       |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin
  }

  // -------------------------------------------------------------------
  // q60: sequence packing — 512-token bins over 8 hash buckets,
  // greedy within bucket by doc_id order (one parallel window pass).
  // -------------------------------------------------------------------
  def q60PackSequences(spark: SparkSession, dir: String): DataFrame =
    C.packSequences(docs(spark, dir), "doc_id", TA.tokenCount(col("text")),
        budget = 512L, buckets = 8, seed = 7L)
      .select(col("bucket"), col("bin"), col("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"))
      .orderBy(asc("bucket"), asc("bin"))
  val q60Sql: String = {
    val bucket = s"(${C.portableHashSql("doc_id", 7L)} % 8)"
    raw"""WITH t AS (
      |  SELECT doc_id, $bucket AS bucket, LEN($toksSql) AS n_tok
      |  FROM documents
      |), c AS (
      |  SELECT bucket, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t
      |)
      |SELECT bucket, CAST(FLOOR((cum - n_tok) / 512.0) AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |FROM c GROUP BY 1, 2 ORDER BY bucket, bin""".stripMargin
  }

  // -------------------------------------------------------------------
  // q61: PII redaction. The corpus contains no PII, so both engines
  // append the same deterministic contact string per doc and the gate
  // checks the shared-regex redaction logic end-to-end (counts +
  // redacted length vary with doc_id/source).
  // -------------------------------------------------------------------
  def q61PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val synth = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@"), col("source"), lit(".net from 10."),
      (col("doc_id") % 200).cast("string"), lit(".0."),
      (col("doc_id") % 250).cast("string"), lit(" bye"))
    docs(spark, dir).select(
        col("doc_id"),
        C.emailCount(synth).cast("long").as("n_emails"),
        C.ipCount(synth).cast("long").as("n_ips"),
        length(C.redactPii(synth)).cast("long").as("redacted_len"))
      .orderBy(asc("doc_id"))
  }
  val q61Sql: String = {
    val synth = "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source" +
      " || '.net from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'" +
      " || CAST(doc_id % 250 AS VARCHAR) || ' bye'"
    val email = raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    val ip = raw"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    s"""SELECT doc_id,
       |  CAST(LEN(regexp_extract_all($synth, '$email')) AS BIGINT) AS n_emails,
       |  CAST(LEN(regexp_extract_all(regexp_replace($synth, '$email', '<EMAIL>', 'g'), '$ip')) AS BIGINT) AS n_ips,
       |  CAST(LENGTH(regexp_replace(regexp_replace($synth, '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g')) AS BIGINT) AS redacted_len
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q62: curation funnel — one scan, conditional aggregates per stage:
  // raw → source blocklist → lang → length/diversity quality → exact
  // dedup (md5 of whitespace-normalized text; portable, unlike
  // xxhash64). One row, five counters.
  // -------------------------------------------------------------------
  private val blockedSources = Seq("src0", "src7", "src13")
  def q62CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val notBlocked = !col("source").isInCollection(blockedSources)
    val langOk = notBlocked && col("lang") === "en"
    val qualOk = langOk && col("n_chars").between(150, 450) &&
      (TA.uniqueTokenCount(col("text")).cast("double") / TA.tokenCount(col("text"))) >= 0.55
    val normMd5 = md5(regexp_replace(trim(col("text")), "\\s+", " ").cast("binary"))
    docs(spark, dir).agg(
      count(lit(1)).as("n_raw"),
      count(when(notBlocked, 1)).as("n_blocklist"),
      count(when(langOk, 1)).as("n_lang"),
      count(when(qualOk, 1)).as("n_quality"),
      countDistinct(when(qualOk, normMd5)).as("n_dedup"))
  }
  val q62Sql: String = {
    val blocked = blockedSources.map(s => s"'$s'").mkString(", ")
    val nb = s"source NOT IN ($blocked)"
    val lo = s"$nb AND lang = 'en'"
    val toks = toksSql
    val qo = s"$lo AND n_chars BETWEEN 150 AND 450 AND " +
      s"CAST(LEN(list_distinct($toks)) AS DOUBLE) / LEN($toks) >= 0.55"
    raw"""SELECT COUNT(*) AS n_raw,
      |  COUNT(CASE WHEN $nb THEN 1 END) AS n_blocklist,
      |  COUNT(CASE WHEN $lo THEN 1 END) AS n_lang,
      |  COUNT(CASE WHEN $qo THEN 1 END) AS n_quality,
      |  COUNT(DISTINCT CASE WHEN $qo
      |    THEN md5(regexp_replace(TRIM(text), '\s+', ' ', 'g')) END) AS n_dedup
      |FROM documents""".stripMargin
  }

  // -------------------------------------------------------------------
  // q111: per-source adaptive quality filter — keep each source's top
  // quality quartile. The threshold is ADAPTIVE per source (a fixed
  // global cutoff over-prunes clean sources and under-prunes noisy
  // ones) and is computed distributively: one window pass per source
  // partition (percent_rank), no collected stats, no global sort —
  // the shape survives any number of sources at 100 TB. percent_rank's
  // (rank−1)/(n−1) is identical integer-derived arithmetic in both
  // engines, so the oracle is exact.
  // -------------------------------------------------------------------
  def q111QualityQuantile(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir).select(col("source"),
      TA.qualityScore(col("text")).as("quality"))
    scored
      .withColumn("pr", percent_rank().over(
        Window.partitionBy(col("source")).orderBy(col("quality"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("pr") >= 0.75, 1)).as("n_kept"))
      .orderBy(asc("source"))
  }
  val q111Sql: String = {
    val en = TA.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT source,
       |    CAST(LENGTH(text) AS DOUBLE) AS n_chars,
       |    CAST(LEN(string_split_regex(TRIM(text), '\\s+')) AS DOUBLE) AS n_tokens,
       |    CAST(LEN(list_distinct(string_split_regex(TRIM(text), '\\s+'))) AS DOUBLE) AS n_uniq,
       |    CAST(LEN(list_filter(string_split_regex(TRIM(text), '\\s+'),
       |      tk -> tk IN ($en))) AS DOUBLE) AS n_stop
       |  FROM documents
       |), q AS (
       |  SELECT source,
       |    0.4 * LEAST(1.0, n_chars / 500.0)
       |    + 0.3 * LEAST(1.0, (n_stop / n_tokens) * 3.0)
       |    + 0.3 * (n_uniq / n_tokens) AS quality
       |  FROM t
       |), r AS (
       |  SELECT source, PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality) AS pr
       |  FROM q
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  COUNT(CASE WHEN pr >= 0.75 THEN 1 END) AS n_kept
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------------
  // q118: sliding-window chunking with overlap — the context-window
  // preparation step (RAG indexing / long-doc pretraining): 64-token
  // chunks advancing by 48 (16-token overlap). Map-only explode (no
  // shuffle; the ORDER BY is the gate's determinism, not the
  // operator's). Chunk content gates exactly via a portable md5 of the
  // joined token window — both engines slice the same whitespace token
  // array, so the digest, count, and chunk grid must all agree.
  // -------------------------------------------------------------------
  def q118ChunkSliding(spark: SparkSession, dir: String): DataFrame =
    C.chunkSliding(docs(spark, dir), "doc_id", "text",
        chunkTokens = 64, stride = 48)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy(asc("doc_id"), asc("chunk_id"))
  val q118Sql: String =
    raw"""WITH t AS (
      |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, toks,
      |    UNNEST(range(0, CAST(CEIL(LEN(toks) / 48.0) AS BIGINT))) AS k
      |  FROM t
      |)
      |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
      |  CAST(LEN(toks[k*48+1 : k*48+64]) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(toks[k*48+1 : k*48+64], ' ')) AS chunk_md5
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  // -------------------------------------------------------------------
  // q63: deterministic training-order shuffle — first 100 positions of
  // the seed-42 epoch order. Sort is the scale path (range exchange);
  // positions assigned only after the 100-row limit.
  // -------------------------------------------------------------------
  def q63OrderShuffle(spark: SparkSession, dir: String): DataFrame =
    C.orderShuffle(docs(spark, dir), "doc_id", seed = 42L)
      .limit(100)
      .withColumn("position",
        row_number().over(Window.orderBy(col("shuffle_key"), col("doc_id"))).cast("long"))
      .select(col("position"), col("doc_id"), col("shuffle_key"))
      .orderBy(asc("position"))
  val q63Sql: String = {
    val h = C.portableHashSql("doc_id", 42L)
    s"""SELECT CAST(ROW_NUMBER() OVER (ORDER BY $h, doc_id) AS BIGINT) AS position,
       |  doc_id, $h AS shuffle_key
       |FROM documents ORDER BY position LIMIT 100""".stripMargin
  }

  // -------------------------------------------------------------------
  // q83: Bloom-prefiltered decontamination — same eval split, same
  // output, same oracle as q57: the Bloom pass (no false negatives)
  // only thins the corpus side before the exact confirm join, so any
  // divergence from q57's oracle is a filter-correctness bug.
  // -------------------------------------------------------------------
  def q83BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    C.decontaminateBloom(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5, numBits = 1 << 20, numHashes = 7)
      .orderBy(asc("doc_id"))
  }

  // -------------------------------------------------------------------
  // q187: decontamination via a UNIONED per-snapshot Bloom index —
  // the index-maintenance member of the decontamination ladder (exact
  // q57 → Bloom-prefiltered q83 → fuzzy q120 → incremental-index
  // THIS): the eval set splits into 4 snapshots, each builds its own
  // persisted 128 KB filter (`bloom_agg` table), and the probe uses
  // their `bloom_union_agg` OR-merge — a new benchmark extends the
  // standing index without re-hashing history. Union preserves
  // no-false-negatives and the confirm join kills FPs, so the output
  // is IDENTICAL to q57's exact overlap: same oracle, three-way
  // cross-check with q57/q83.
  // -------------------------------------------------------------------
  def q187BloomUnionDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    C.decontaminateBloomUnion(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5, numSnapshots = 4,
        numBits = 1 << 20, numHashes = 7)
      .orderBy(asc("doc_id"))
  }

  // -------------------------------------------------------------------
  // q85: cross-document boilerplate n-grams — per-doc fraction of
  // distinct 5-grams appearing in >= 3 distinct documents.
  // -------------------------------------------------------------------
  def q85Boilerplate(spark: SparkSession, dir: String): DataFrame =
    C.boilerplateStats(docs(spark, dir), "doc_id", "text", n = 5, minDocs = 3)
      .orderBy(asc("doc_id"))
  val q85Sql: String =
    raw"""WITH grams AS (
      |  SELECT doc_id, UNNEST(list_distinct(list_transform(
      |    range(1, GREATEST(LEN(t) - 4, 1) + 1),
      |    i -> array_to_string(t[i:i+4], ' ')))) AS gram
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
      |), dc AS (
      |  SELECT gram, COUNT(*) AS n_docs FROM grams GROUP BY gram
      |)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |  CAST(SUM(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS boiler_frac
      |FROM grams JOIN dc USING (gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q86: sub-document chunk dedup — 10-token chunks, keep-first
  // corpus-wide, documents reassembled from surviving chunks.
  // -------------------------------------------------------------------
  def q86ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    C.chunkDedup(docs(spark, dir), "doc_id", "text", chunkTokens = 10)
      .orderBy(asc("doc_id"))
  val q86Sql: String =
    raw"""WITH t AS (
      |  SELECT doc_id, $toksSql AS toks FROM documents
      |), pos AS (
      |  SELECT doc_id, toks,
      |    UNNEST(range(0, CAST(CEIL(LEN(toks) / 10.0) AS BIGINT))) AS i
      |  FROM t
      |), chunks AS (
      |  SELECT doc_id, i AS chunk_idx,
      |    array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS chunk
      |  FROM pos
      |), winners AS (
      |  SELECT doc_id, chunk_idx, chunk FROM (
      |    SELECT doc_id, chunk_idx, chunk,
      |      ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      |    FROM chunks)
      |  WHERE rn = 1
      |), perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM chunks GROUP BY doc_id
      |), keptagg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    STRING_AGG(chunk, ' ' ORDER BY chunk_idx) AS text_dedup
      |  FROM winners GROUP BY doc_id
      |)
      |SELECT doc_id, n_chunks, COALESCE(n_kept, 0) AS n_kept,
      |  COALESCE(text_dedup, '') AS text_dedup
      |FROM perdoc LEFT JOIN keptagg USING (doc_id) ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q108: token-budget truncation — clip every document to its first
  // 30 tokens (the max-sequence-length preprocessing step). One
  // tokenize + one slice per document (no per-position work, so the
  // projection-collapse trap of PERF.md lesson 6 does not apply).
  // -------------------------------------------------------------------
  def q108TruncateTokens(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    docs(spark, dir)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        least(size(col("toks")), lit(30)).cast("long").as("n_kept"),
        array_join(slice(col("toks"), 1, 30), " ").as("text_trunc"))
      .orderBy(asc("doc_id"))
  }
  val q108Sql: String =
    raw"""SELECT doc_id, CAST(LEN(t) AS BIGINT) AS n_tokens,
      |  CAST(LEAST(LEN(t), 30) AS BIGINT) AS n_kept,
      |  array_to_string(t[1:30], ' ') AS text_trunc
      |FROM (SELECT doc_id, $toksSql AS t FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q145: data-quality constraint audit — the Deequ-style validation
  // report a pipeline runs before training: domain checks, null
  // checks, key uniqueness, referential integrity, and timestamp
  // sanity, each emitted as (constraint, violations). Every check is
  // an independent partial-agged aggregate (or aggregate-first anti
  // join for the FK) unioned into one tiny report frame — at 100 TB
  // each constraint is one scan-and-count over pruned columns, no
  // wide shuffles, and the checks parallelize as separate stages of
  // one job. Counts are pure integers; a healthy corpus reports 0s
  // and the gate certifies the ZEROS are genuine, not skipped checks.
  // -------------------------------------------------------------------
  def q145ConstraintAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ords = spark.read.parquet(s"$dir/orders.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val d = docs(spark, dir)
    val evts = graft.sources.Events.ev(spark, dir)
      .select(unix_micros(col("ts")).as("us"))
    def check(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("check_name"),
        coalesce(col("violations"), lit(0L)).as("violations"))
    val rep = Seq(
      check("customer.c_custkey_unique",
        cust.groupBy(col("c_custkey")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") - 1).as("violations"))),
      check("documents.text_nonempty",
        d.agg(count(when(col("text").isNull ||
          length(col("text")) === 0, 1)).as("violations"))),
      check("events.ts_within_2024",
        evts.agg(count(when(col("us") < lit(1704067200000000L) ||
          col("us") >= lit(1735689600000000L), 1)).as("violations"))),
      check("lineitem.l_discount_in_unit_range",
        li.agg(count(when(col("l_discount") < 0.0 ||
          col("l_discount") > 1.0, 1)).as("violations"))),
      check("lineitem.l_quantity_positive",
        li.agg(count(when(col("l_quantity") <= 0.0, 1)).as("violations"))),
      check("lineitem.l_shipdate_not_null",
        li.agg(count(when(col("l_shipdate").isNull, 1)).as("violations"))),
      check("orders.o_custkey_fk_customer",
        ords.select(col("o_custkey"))
          .join(cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("violations")))
    ).reduce(_.unionAll(_))
    rep.orderBy(asc("check_name"))
  }
  val q145Sql: String =
    """SELECT * FROM (
      |  SELECT 'customer.c_custkey_unique' AS check_name,
      |    CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS violations
      |  FROM (SELECT COUNT(*) AS c FROM customer GROUP BY c_custkey)
      |  UNION ALL
      |  SELECT 'documents.text_nonempty',
      |    CAST(COUNT(CASE WHEN text IS NULL OR LENGTH(text) = 0 THEN 1 END) AS BIGINT)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'events.ts_within_2024',
      |    CAST(COUNT(CASE WHEN epoch_us(ts) < 1704067200000000
      |      OR epoch_us(ts) >= 1735689600000000 THEN 1 END) AS BIGINT)
      |  FROM events
      |  UNION ALL
      |  SELECT 'lineitem.l_discount_in_unit_range',
      |    CAST(COUNT(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.l_quantity_positive',
      |    CAST(COUNT(CASE WHEN l_quantity <= 0.0 THEN 1 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.l_shipdate_not_null',
      |    CAST(COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders.o_custkey_fk_customer', CAST(COUNT(*) AS BIGINT)
      |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |  WHERE c_custkey IS NULL
      |)
      |ORDER BY check_name""".stripMargin

  // -------------------------------------------------------------------
  // q154: token-budget mixture allocation — the training-mix planning
  // step: split a fixed token budget across sources proportionally to
  // their corpus size, with the largest-remainder method so the
  // allocations are integers that sum to EXACTLY the budget (floor
  // division alone under-allocates by up to |sources|−1). All integer
  // arithmetic — floor-div, mod, a rank over the per-source remainders
  // (|sources| rows, driver-scale) — so the oracle replays it
  // bit-for-bit. The only data-sized work is one token-count aggregate
  // over documents (partial-agged); everything after runs on the tiny
  // per-source frame. At 100 TB route the budget·tokens product
  // through DECIMAL(38,0) (token totals ~1e13 × budgets ~1e6 overflow
  // int64); at driver-test scales the long math below is exact.
  // -------------------------------------------------------------------
  def q154TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val budget = 1000000L
    val t = docs(spark, dir).groupBy(col("source"))
      .agg(sum(TextAnalysis.tokenCount(col("text"))).as("toks"))
    val g = t.agg(sum(col("toks")).as("total"))
    val b = t.crossJoin(broadcast(g))
      .select(col("source"), col("toks"),
        expr(s"($budget * toks) div total").as("base"),
        expr(s"($budget * toks) % total").as("rem"))
    val leftover = b.agg((lit(budget) - sum(col("base"))).as("leftover"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rem"), asc("source"))
    b.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(leftover))
      .select(col("source"), col("toks"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(asc("source"))
  }
  val q154Sql: String =
    s"""WITH t AS (
      |  SELECT source, CAST(SUM(LEN($toksSql)) AS BIGINT) AS toks
      |  FROM documents GROUP BY source
      |), g AS (SELECT SUM(toks) AS total FROM t),
      |b AS (
      |  SELECT source, toks, (1000000 * toks) // total AS base,
      |    (1000000 * toks) % total AS rem
      |  FROM t, g
      |), l AS (SELECT 1000000 - SUM(base) AS leftover FROM b),
      |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk FROM b)
      |SELECT source, toks,
      |  CAST(base + CASE WHEN rk <= (SELECT leftover FROM l)
      |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM r ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q158: token-entropy quality score — Shannon entropy of each doc's
  // token distribution, H = log2(n) − (Σ c·log2 c)/n: near-zero for
  // degenerate repetition (spam, boilerplate loops), high for diverse
  // prose — the curation filter complementing q27's ratio heuristics
  // and q58's repetition metrics. Shape: one explode → (doc,token)
  // count aggregate → per-doc moment aggregate, both partial-agged; no
  // joins, no windows. log2 is the one op that is NOT bit-replayable
  // cross-engine, so the oracle is a containment join: every emitted
  // row must match DuckDB's independent recompute within 1e-6 (exact
  // equality on the integer counts), sentinel-guarded per rule 9/10.
  // -------------------------------------------------------------------
  def q158TokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val counts = docs(spark, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("uniq_tokens"),
        sum(col("c").cast("double") * log2(col("c"))).as("clogc"))
      .select(col("doc_id"), col("n_tokens"), col("uniq_tokens"),
        (log2(col("n_tokens")) - col("clogc") / col("n_tokens").cast("double"))
          .as("entropy"))
      .orderBy(asc("doc_id"))
  }
  val q158Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, unnest($toksSql) AS tok FROM documents
      |), c AS (
      |  SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok
      |), a AS (
      |  SELECT doc_id, SUM(c) AS n, COUNT(*) AS uniq,
      |    SUM(c * log2(c)) AS clogc
      |  FROM c GROUP BY doc_id
      |)
      |SELECT e.doc_id, e.n_tokens, e.uniq_tokens, e.entropy
      |FROM read_parquet('__GRAFT_OUT__/q158_token_entropy/*.parquet') e
      |JOIN a ON a.doc_id = e.doc_id
      |WHERE e.n_tokens = a.n AND e.uniq_tokens = a.uniq
      |  AND ABS(e.entropy - (log2(a.n) - a.clogc / a.n)) < 1e-6
      |UNION ALL SELECT -1, -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q158_token_entropy/*.parquet')) = 0
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q241: DOMAIN-FAIR quality filter (the FineWeb/CCNet normalization
  // step): each source keeps its docs at-or-above its OWN median
  // type-token-ratio, so a single global threshold can't let verbose
  // domains crowd out terse ones. Score = (uniq·1e6) div n_toks —
  // all-integer, exact ties. The fence comes from the distinct-value
  // frame (groupBy (source, score) → cumulative window over distinct
  // scores — value-bounded, never a data-sized sort; q173 discipline)
  // and broadcasts back for a map-only filter. Fully bit-replayable.
  // -------------------------------------------------------------------
  def q241DomainQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(TA.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_toks"), countDistinct(col("tok")).as("uniq"))
      .select(col("doc_id"), col("source"),
        expr("(uniq * 1000000) div n_toks").as("score"))
    C.domainQuantileFilter(scored, "source", "score", qNum = 1, qDen = 2)
      .select(col("doc_id"), col("source"), col("score"), col("fence"))
      .orderBy(asc("doc_id"))
  }
  val q241Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, unnest($toksSql) AS tok FROM documents
      |), sc AS (
      |  SELECT doc_id, source,
      |    (CAST(COUNT(DISTINCT tok) AS BIGINT) * 1000000)
      |      // CAST(COUNT(*) AS BIGINT) AS score
      |  FROM t GROUP BY doc_id, source
      |), c AS (
      |  SELECT source, score, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM sc GROUP BY source, score
      |), cum AS (
      |  SELECT source, score,
      |    SUM(c) OVER (PARTITION BY source ORDER BY score) AS cum,
      |    SUM(c) OVER (PARTITION BY source) AS n
      |  FROM c
      |), fence AS (
      |  SELECT source, MIN(score) AS fence
      |  FROM cum WHERE cum >= (n * 1 + 1) // 2 GROUP BY source
      |)
      |SELECT sc.doc_id, sc.source, sc.score, fence.fence
      |FROM sc JOIN fence USING (source)
      |WHERE sc.score >= fence.fence
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q176: OOV / vocabulary-coverage audit — per-doc out-of-vocabulary
  // token counts against the corpus' own top-16 vocabulary
  // (C.oovStats; the synthetic corpus has 31 distinct tokens, so a
  // 16-token vocab leaves a real OOV tail at both scales — a
  // vacuity-checked choice). Deterministic cutoff (count desc, token
  // asc), all-int64 fixed-point rate: vocab, counts, and rate replay
  // bit-for-bit in the oracle. One explode feeds both the vocab top-N
  // (TakeOrdered) and the per-doc aggregate; the 16-row vocab joins
  // broadcast.
  // -------------------------------------------------------------------
  def q176OovCoverage(spark: SparkSession, dir: String): DataFrame =
    C.oovStats(docs(spark, dir), "doc_id", "text", vocabSize = 16)
      .orderBy(asc("doc_id"))
  val q176Sql: String =
    raw"""WITH t AS (
      |  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
      |  FROM documents
      |), v AS (
      |  SELECT tok FROM (
      |    SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
      |    FROM t GROUP BY tok)
      |  WHERE rk <= 16
      |), d AS (
      |  SELECT doc_id, COUNT(*) AS n_tok,
      |    SUM(CASE WHEN tok IN (SELECT tok FROM v) THEN 0 ELSE 1 END) AS n_oov
      |  FROM t GROUP BY doc_id
      |)
      |SELECT doc_id, n_tok, CAST(n_oov AS BIGINT) AS n_oov,
      |  (CAST(n_oov AS BIGINT) * 1000000) // n_tok AS oov_fx
      |FROM d ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q186: stride-scheduled mixture interleave — the deterministic
  // trainer data-loader ORDER over the 20 sources with planted weights
  // w(src_i) = 1 + i mod 4 (derived from the source name, so both
  // engines compute them): source s's i-th doc lands at virtual time
  // i/w_s, giving every schedule prefix ≈ w_s/W source proportions
  // with O(1) error (stride scheduling) and NO random stream. Key,
  // per-source hash order, and tie-breaks are all exact int64 — the
  // whole schedule replays bit-for-bit. The complement of q63 (order
  // WITHIN the stream) and q154 (how MANY per source): this is WHICH
  // COMES WHEN.
  // -------------------------------------------------------------------
  def q186InterleaveSchedule(spark: SparkSession, dir: String): DataFrame =
    C.strideSchedule(docs(spark, dir), "doc_id", "source",
        expr("1L + CAST(SUBSTRING(source, 4) AS INT) % 4"), seed = 42L)
      .orderBy(asc("key_fx"), asc("source"), asc("doc_id"))
  val q186Sql: String = {
    val h = C.portableHashSql("doc_id", 42L)
    s"""WITH d AS (
      |  SELECT doc_id, source,
      |    1 + CAST(SUBSTRING(source, 4) AS INT) % 4 AS wt
      |  FROM documents
      |), wt AS (
      |  SELECT CAST(SUM(wt) AS BIGINT) AS w_total
      |  FROM (SELECT source, MAX(wt) AS wt FROM d GROUP BY source)
      |), i AS (
      |  SELECT doc_id, source, wt,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY $h, doc_id) AS BIGINT) AS i
      |  FROM d
      |)
      |SELECT doc_id, source,
      |  (i * w_total * 1000000) // CAST(wt AS BIGINT) AS key_fx
      |FROM i CROSS JOIN wt
      |ORDER BY key_fx, source, doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q189: lexical COLLOCATIONS — PMI between token pairs over per-doc
  // incidence sets (q161's machinery pointed at the corpus: which
  // vocabulary terms travel together across documents — topic
  // signatures, compound detection, feature pairs). Pairs with
  // support n_ab ≥ 10 only. Exact integers throughout; the ln lands
  // in the floor(ln·1e6) fixed-point convention.
  //
  // Scale (the round-6 verdict's one flagged shape, fixed round 7):
  // the per-doc self-join is C(V_doc, 2) in the doc's DISTINCT token
  // count, so a 20k-distinct-token document alone would emit 2×10⁸
  // pairs. Two pre-prunes bound it: (1) n_ab ≤ min(df_a, df_b), so
  // semi-joining out tokens with corpus doc-frequency < minSupport
  // BEFORE the self-join is provably output-identical; (2) the
  // top-`vocabCap` doc-frequency vocabulary cutoff (q176's TakeOrdered
  // machinery, broadcast semi-join) bounds per-doc fan-out at
  // C(min(V_doc, vocabCap), 2) and the aggregation space at
  // C(vocabCap, 2) — the standard "collocations over the top-V vocab"
  // semantics, mirrored exactly in the oracle. At gate scales the
  // corpus vocabulary is 31 tokens (all df ≥ 10), so both prunes are
  // no-ops and the round-6 hashes are unchanged; the planted-long-doc
  // ScaleStress phase pins the near-linear candidate volume.
  // -------------------------------------------------------------------
  def q189Collocations(spark: SparkSession, dir: String): DataFrame = {
    val minSupport = 10
    val vocabCap = 20000
    val dt = docs(spark, dir)
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok"))
      .distinct()
    val marg = dt.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val vocab = marg.filter(col("n") >= minSupport)
      .orderBy(desc("n"), asc("tok")).limit(vocabCap)
      .select(col("tok"))
    val dtk = dt.join(broadcast(vocab), Seq("tok"), "left_semi")
    val pairs = dtk.select(col("doc_id"), col("tok").as("tok_a"))
      .join(dtk.select(col("doc_id"), col("tok").as("tok_b")), "doc_id")
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val total = dt.select(col("doc_id")).distinct().agg(count(lit(1)).as("n_docs"))
    pairs
      .join(broadcast(marg.select(col("tok").as("tok_a"), col("n").as("n_a"))), "tok_a")
      .join(broadcast(marg.select(col("tok").as("tok_b"), col("n").as("n_b"))), "tok_b")
      .crossJoin(broadcast(total))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        floor(log((col("n_ab") * col("n_docs")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")) * lit(1000000.0))
          .cast("long").as("pmi_fx"))
      .orderBy(asc("tok_a"), asc("tok_b"))
  }
  val q189Sql: String =
    raw"""WITH dt AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
      |    FROM documents)
      |), marg AS (
      |  SELECT tok, COUNT(*) AS n FROM dt GROUP BY 1
      |), vocab AS (
      |  SELECT tok FROM marg WHERE n >= 10 ORDER BY n DESC, tok LIMIT 20000
      |), dtk AS (
      |  SELECT doc_id, tok FROM dt WHERE tok IN (SELECT tok FROM vocab)
      |), pairs AS (
      |  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
      |  FROM dtk a JOIN dtk b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 10
      |), tot AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dt)
      |SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
      |  CAST(FLOOR(LN(CAST(n_ab * n_docs AS DOUBLE)
      |    / CAST(ma.n * mb.n AS DOUBLE)) * 1000000) AS BIGINT) AS pmi_fx
      |FROM pairs
      |JOIN marg ma ON ma.tok = tok_a
      |JOIN marg mb ON mb.tok = tok_b
      |CROSS JOIN tot
      |ORDER BY tok_a, tok_b""".stripMargin

  // -------------------------------------------------------------------
  // q192: ZIPF rank-frequency fit — the corpus-statistics audit every
  // tokenizer/vocab decision starts from: rank tokens by frequency,
  // least-squares-fit ln(freq) against ln(rank) over the top-1000
  // head (the standard Zipf regime; the tail is Heaps'-law territory,
  // q193). Slope ≈ −1 is natural text; a flat slope flags synthetic/
  // templated corpora — exactly this corpus, making the query its own
  // demonstration. x = floor(ln(rank)·1e3), y = floor(ln(n)·1e3) are
  // fixed-point ints (1e3 scale keeps k·Σxy ≤ ~2e14 at a 1e12-token
  // corpus — 4 orders inside int64); all five moment sums are exact
  // BIGINTs, and the only FP steps are ONE division (slope) and one
  // mul/div chain (r²) with the identical expression shape in DuckDB
  // (the q125 estimator discipline). Scale: one token aggregate,
  // top-1000 as TakeOrdered, a 1000-row window, a 1-row reduce.
  // -------------------------------------------------------------------
  def q192ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val freq = docs(spark, dir)
      .select(explode(TA.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val top = freq.orderBy(desc("n"), asc("tok")).limit(1000)
      .withColumn("rank", row_number().over(Window.orderBy(desc("n"), asc("tok"))))
    val fx = top.select(
      floor(log(col("rank").cast("double")) * 1000.0).cast("long").as("x"),
      floor(log(col("n").cast("double")) * 1000.0).cast("long").as("y"))
    fx.agg(count(lit(1)).as("k"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_xx"),
        sum(col("y") * col("y")).as("sum_yy"))
      .withColumn("num", col("k") * col("sum_xy") - col("sum_x") * col("sum_y"))
      .withColumn("den", col("k") * col("sum_xx") - col("sum_x") * col("sum_x"))
      .withColumn("dny", col("k") * col("sum_yy") - col("sum_y") * col("sum_y"))
      .select(col("k"), col("sum_x"), col("sum_y"), col("sum_xy"),
        col("sum_xx"), col("sum_yy"),
        floor(col("num").cast("double") / col("den").cast("double")
          * lit(1000000.0)).cast("long").as("slope_fx"),
        floor(col("num").cast("double") * col("num").cast("double")
          * lit(1000000.0)
          / (col("den").cast("double") * col("dny").cast("double")))
          .cast("long").as("r2_fx"))
  }
  val q192Sql: String =
    raw"""WITH freq AS (
      |  SELECT tok, COUNT(*) AS n FROM (
      |    SELECT UNNEST($toksSql) AS tok FROM documents)
      |  GROUP BY 1
      |), top AS (
      |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank
      |  FROM freq ORDER BY n DESC, tok LIMIT 1000
      |), fx AS (
      |  SELECT CAST(FLOOR(LN(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
      |    CAST(FLOOR(LN(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS y
      |  FROM top
      |), m AS (
      |  SELECT COUNT(*) AS k, CAST(SUM(x) AS BIGINT) AS sum_x,
      |    CAST(SUM(y) AS BIGINT) AS sum_y,
      |    CAST(SUM(x * y) AS BIGINT) AS sum_xy,
      |    CAST(SUM(x * x) AS BIGINT) AS sum_xx,
      |    CAST(SUM(y * y) AS BIGINT) AS sum_yy
      |  FROM fx
      |), d AS (
      |  SELECT *, k * sum_xy - sum_x * sum_y AS num,
      |    k * sum_xx - sum_x * sum_x AS den,
      |    k * sum_yy - sum_y * sum_y AS dny FROM m
      |)
      |SELECT k, sum_x, sum_y, sum_xy, sum_xx, sum_yy,
      |  CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000.0)
      |    AS BIGINT) AS slope_fx,
      |  CAST(FLOOR(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) * 1000000.0
      |    / (CAST(den AS DOUBLE) * CAST(dny AS DOUBLE))) AS BIGINT) AS r2_fx
      |FROM d""".stripMargin

  // -------------------------------------------------------------------
  // q193: HEAPS'-LAW vocabulary growth — cumulative distinct-token
  // count V(N) against cumulative token count N along the canonical
  // doc_id ingest order: the curve that sizes tokenizer vocabularies
  // and predicts how much NEW vocabulary the next crawl shard brings.
  // V is computed without ever materializing per-prefix sets: each
  // token's first_doc = min(doc_id) marks exactly one +1, so V(d) is
  // a running sum of first-occurrence counts.
  //
  // Scale shape (two-phase distributed prefix sum): tokens aggregate
  // to ONE ROW PER BLOCK of 20 docs (map-side partial, long triples
  // across the shuffle), and only the block frame — n_docs/B rows,
  // ~50k at 1e9 docs with production B=1e4+ — enters the cumulative
  // window; nothing doc- or token-proportional is ever globally
  // sorted. All-integer, bit-replayable.
  // -------------------------------------------------------------------
  def q193HeapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val dt = docs(spark, dir)
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok"))
    val tokPerBlock = dt.groupBy(expr("doc_id div 20").as("block"))
      .agg(count(lit(1)).as("n_tok"))
    val newPerBlock = dt.groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr("first_doc div 20").as("block"))
      .agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(asc("block"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokPerBlock.join(newPerBlock, Seq("block"), "left_outer")
      .select(col("block"), col("n_tok"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .select(col("block"),
        sum(col("n_tok")).over(w).as("n_cum"),
        sum(col("n_new")).over(w).as("v_cum"))
      .orderBy(asc("block"))
  }
  val q193Sql: String =
    raw"""WITH dt AS (
      |  SELECT doc_id, UNNEST($toksSql) AS tok FROM documents
      |), tpb AS (
      |  SELECT doc_id // 20 AS block, COUNT(*) AS n_tok FROM dt GROUP BY 1
      |), npb AS (
      |  SELECT first_doc // 20 AS block, COUNT(*) AS n_new FROM (
      |    SELECT tok, MIN(doc_id) AS first_doc FROM dt GROUP BY 1)
      |  GROUP BY 1
      |)
      |SELECT CAST(t.block AS BIGINT) AS block,
      |  CAST(SUM(t.n_tok) OVER (ORDER BY t.block
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
      |  CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY t.block
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v_cum
      |FROM tpb t LEFT JOIN npb n ON n.block = t.block
      |ORDER BY block""".stripMargin

  // -------------------------------------------------------------------
  // q196: N-GRAM NOVELTY scoring — per document, the fraction of its
  // distinct 3-grams never seen in any EARLIER document (doc_id
  // order): the dedup-aware curation signal that separates
  // genuinely-new content from recombination, and the per-shard
  // version of "how much does this crawl add" (q193's vocabulary
  // curve, at n-gram granularity, per document). first_seen = one
  // min-aggregate per gram; novelty needs no prefix scan.
  //
  // Scale: one distinct (doc, gram) frame feeds BOTH the min-agg and
  // the count-back join — gram-keyed shuffles only (the q57/q125
  // shape), one output row per doc, all-int64 + one fixed-point div.
  // -------------------------------------------------------------------
  def q196NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = C.ngramRows(
        docs(spark, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", 3)
      .select(col("doc_id"), col("gram")).distinct()
    val first = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000L) div n_grams").as("novelty_fx"))
      .orderBy(asc("doc_id"))
  }
  val q196Sql: String =
    raw"""WITH grams AS (
      |  SELECT DISTINCT doc_id, gram FROM (
      |    SELECT doc_id, UNNEST(list_transform(
      |      range(1, GREATEST(LEN(t) - 2, 1) + 1),
      |      i -> array_to_string(t[i:i+2], ' '))) AS gram
      |    FROM (SELECT doc_id, $toksSql AS t FROM documents))
      |), first AS (
      |  SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY 1
      |)
      |SELECT g.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  (CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000) // COUNT(*) AS novelty_fx
      |FROM grams g JOIN first f ON f.gram = g.gram
      |GROUP BY 1 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q204: NAIVE BAYES source classifier — counts-based multinomial NB
  // (Laplace +1) trained on the corpus' own source labels and replayed
  // on every doc: the quality/provenance classifier shape every
  // curation pipeline runs (fastText-style source scoring), expressed
  // as pure aggregates so the WHOLE model fits the bit-replay
  // contract: every count is exact int64, each per-term log-likelihood
  // lands in floor(ln·1e6) fixed point (the q189 convention; sums of
  // per-term floors are deterministic on both engines), argmax breaks
  // ties on class name. Self-classification accuracy is the output's
  // own audit column.
  //
  // Scale: the model IS two aggregates (class-term counts V×C rows,
  // class totals C rows) — broadcast, vocab-capped in a real corpus
  // (q176's top-N machinery; unseen tokens take the smoothed default,
  // which the left join + coalesce already implements). Scoring is
  // one exploded-token pass × C classes — map-side fan-out against
  // broadcast models, one (doc, class) partial aggregate, a per-doc
  // C-row window.
  // -------------------------------------------------------------------
  def q204NaiveBayes(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(col("doc_id"), col("source"),
      explode(TA.tokens(col("text"))).as("tok"))
    // r13 (guide §1.2/§2.3): ONE tokenize+explode pass, pre-aggregated
    // to per-doc distinct-token counts — the class fan-out below then
    // multiplies the (doc, tok)-distinct frame, not the raw token
    // stream, and ct / cTot / vocabN all derive from dtoks instead of
    // re-exploding the corpus (was 4 corpus-scale explode passes).
    // Exact-int64 equivalence: Σ_occurrences ll = n · ll per distinct
    // (doc, tok), |n·ll| ≤ 1e6·2e7 ≪ 2^63.
    val dtoks = toks.groupBy(col("doc_id"), col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val ct = dtoks.groupBy(col("source").as("cls"), col("tok"))
      .agg(sum(col("n")).as("n_ct"))
    val cTot = ct.groupBy(col("cls")).agg(sum(col("n_ct")).as("n_c"))
    val vocabN = ct.select(col("tok")).distinct().count()
    val nDocs = d.count()
    // Class fan-out guard: scoring multiplies the exploded-token frame
    // by the class count (the crossJoin below — that IS the NB scorer),
    // which is safe only because the label domain is metadata-sized
    // (~20 sources here). A caller pointing this at a 100k-class label
    // column would inherit a 100k× row explosion silently; fail loudly
    // instead (counting the C-row aggregate costs one tiny job).
    val nClasses = cTot.count()
    require(nClasses <= 1000,
      s"naive-bayes class fan-out guard: $nClasses distinct labels exceed " +
        "the 1000-class bound; scoring fans every token across every " +
        "class — reduce or hash-bucket the label domain first")
    val terms = ct.join(cTot, "cls")
      .select(col("cls"), col("tok"),
        floor(log((col("n_ct") + 1).cast("double")
          / (col("n_c") + vocabN).cast("double")) * lit(1000000.0))
          .cast("long").as("ll_fx"))
    val defaults = cTot.select(col("cls"),
      floor(log(lit(1.0) / (col("n_c") + vocabN).cast("double"))
        * lit(1000000.0)).cast("long").as("ll0_fx"))
    val priorFx = d.groupBy(col("source").as("cls")).agg(count(lit(1)).as("n_d"))
      .select(col("cls"),
        floor(log(col("n_d").cast("double") / lit(nDocs.toDouble))
          * lit(1000000.0)).cast("long").as("lp_fx"))
    val scored = dtoks
      // never-binding limit (r13): nClasses ≤ 1000 is REQUIRED above,
      // so limit(1000) cannot truncate — it only makes the class-list
      // bound structural for PlanLint's recursive bounded(), retiring
      // this query's allowlist entry
      .crossJoin(broadcast(cTot.select(col("cls")).limit(1000)))
      .join(broadcast(terms), Seq("cls", "tok"), "left_outer")
      .join(broadcast(defaults), Seq("cls"))
      .select(col("doc_id"), col("source"), col("cls"),
        (col("n") * coalesce(col("ll_fx"), col("ll0_fx"))).as("t"))
      .groupBy(col("doc_id"), col("source"), col("cls"))
      .agg(sum(col("t")).as("sum_ll"))
      .join(broadcast(priorFx), "cls")
      .select(col("doc_id"), col("source"), col("cls"),
        (col("sum_ll") + col("lp_fx")).as("score_fx"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("score_fx"), asc("cls"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("source").as("actual"),
        col("cls").as("pred"), col("score_fx"),
        (col("source") === col("cls")).as("correct"))
      .orderBy(asc("doc_id"))
  }
  val q204Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, source, UNNEST($toksSql) AS tok FROM documents
      |), v AS (SELECT COUNT(DISTINCT tok) AS v FROM toks
      |), nd AS (SELECT COUNT(*) AS n FROM documents
      |), ctot AS (SELECT source AS cls, COUNT(*) AS n_c FROM toks GROUP BY 1
      |), terms AS (
      |  SELECT ct.cls, ct.tok,
      |    CAST(FLOOR(LN(CAST(ct.n_ct + 1 AS DOUBLE)
      |      / CAST(ctot.n_c + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS ll
      |  FROM (SELECT source AS cls, tok, COUNT(*) AS n_ct
      |        FROM toks GROUP BY 1, 2) ct
      |  JOIN ctot USING (cls) CROSS JOIN v
      |), defaults AS (
      |  SELECT cls, CAST(FLOOR(LN(1.0 / CAST(n_c + v.v AS DOUBLE))
      |    * 1000000) AS BIGINT) AS ll0
      |  FROM ctot CROSS JOIN v
      |), prior AS (
      |  SELECT source AS cls, CAST(FLOOR(LN(CAST(COUNT(*) AS DOUBLE)
      |    / (SELECT n FROM nd)) * 1000000) AS BIGINT) AS lp
      |  FROM documents GROUP BY 1
      |), scored AS (
      |  SELECT t.doc_id, t.source, c.cls,
      |    CAST(SUM(COALESCE(tm.ll, d.ll0)) AS BIGINT) + MIN(p.lp) AS score_fx
      |  FROM toks t
      |  CROSS JOIN (SELECT cls FROM ctot) c
      |  LEFT JOIN terms tm ON tm.cls = c.cls AND tm.tok = t.tok
      |  JOIN defaults d ON d.cls = c.cls
      |  JOIN prior p ON p.cls = c.cls
      |  GROUP BY 1, 2, 3
      |)
      |SELECT doc_id, source AS actual, cls AS pred, score_fx,
      |  source = cls AS correct
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY score_fx DESC, cls) AS rk FROM scored)
      |WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q207: SKIP-GRAM context pairs — positional (center, context)
  // co-occurrence within a ±2 token window, the counts that feed
  // word2vec-style embedding training and BPE-merge scoring. Unlike
  // q189's doc-level incidence pairs, these are SEQUENCE pairs: built
  // with two codegen'd `lead` offsets per token inside a per-doc
  // window — NO self-join, no pair fan-out beyond 2 rows per token.
  // Symmetric window (center < context canonicalization), distance
  // carried so near-context (d=1) and skip-context (d=2) stay
  // distinguishable; top-100 by (count desc, pair asc). All-int64.
  // Scale: one token explode + one per-doc window (fan-in = doc
  // length), partial-agged pair counts, TakeOrdered top-k.
  // -------------------------------------------------------------------
  def q207SkipgramPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), posexplode(TA.tokens(col("text"))).as(Seq("p", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(asc("p"))
    val pairs = (1 to 2).map { d =>
      toks.withColumn("u", lead(col("t"), d).over(w))
        .filter(col("u").isNotNull)
        .select(least(col("t"), col("u")).as("tok_a"),
          greatest(col("t"), col("u")).as("tok_b"),
          lit(d.toLong).as("dist"))
    }.reduce(_ unionByName _)
    pairs.groupBy(col("tok_a"), col("tok_b"), col("dist"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok_a"), asc("tok_b"), asc("dist"))
      .limit(100)
  }
  val q207Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, UNNEST(t) AS t,
      |    generate_subscripts(t, 1) AS p
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
      |), pairs AS (
      |  SELECT LEAST(t, u) AS tok_a, GREATEST(t, u) AS tok_b, dist FROM (
      |    SELECT t, LEAD(t, 1) OVER (PARTITION BY doc_id ORDER BY p) AS u,
      |      CAST(1 AS BIGINT) AS dist FROM toks
      |    UNION ALL
      |    SELECT t, LEAD(t, 2) OVER (PARTITION BY doc_id ORDER BY p) AS u,
      |      CAST(2 AS BIGINT) AS dist FROM toks)
      |  WHERE u IS NOT NULL
      |)
      |SELECT tok_a, tok_b, dist, COUNT(*) AS n
      |FROM pairs GROUP BY 1, 2, 3
      |ORDER BY n DESC, tok_a, tok_b, dist LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // q209: per-source DATASET REPORT CARD — the one-table corpus audit
  // every ingestion run publishes: per source, volume (docs, tokens,
  // chars), lexical health (distinct tokens, mean doc length in
  // fixed point), and DUPLICATION (exact-dup rate via md5 fingerprint
  // distinct counts — q30's 16-byte shuffle, grouped). Composes the
  // text-analysis and dedup families into the actual deliverable a
  // data-quality dashboard reads; all-int64 (one fixed-point division
  // per source), bit-replayable. Scale: one explode for token counts
  // (partial-agged), one fingerprint aggregate — nothing beyond
  // (source, long) and (source, 16-byte md5) crosses a shuffle.
  // -------------------------------------------------------------------
  def q209ReportCard(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextAnalysis => T}
    val d = docs(spark, dir)
    val base = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(T.tokenCount(col("text"))).as("n_tokens"),
      sum(T.charCount(col("text"))).as("n_chars"),
      countDistinct(md5(encode(col("text"), "UTF-8"))).as("n_uniq_texts"))
    val vocab = d.select(col("source"), explode(TA.tokens(col("text"))).as("tok"))
      .groupBy(col("source")).agg(countDistinct(col("tok")).as("n_vocab"))
    base.join(vocab, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_vocab"),
        expr("(n_tokens * 1000000) div n_docs").as("mean_doc_toks_fx"),
        (col("n_docs") - col("n_uniq_texts")).as("n_exact_dups"),
        expr("((n_docs - n_uniq_texts) * 1000000) div n_docs").as("dup_rate_fx"))
      .orderBy(asc("source"))
  }
  val q209Sql: String =
    raw"""WITH base AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(LEN($toksSql)) AS BIGINT) AS n_tokens,
      |    CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
      |    COUNT(DISTINCT md5(text)) AS n_uniq_texts
      |  FROM documents GROUP BY 1
      |), vocab AS (
      |  SELECT source, COUNT(DISTINCT tok) AS n_vocab FROM (
      |    SELECT source, UNNEST($toksSql) AS tok FROM documents)
      |  GROUP BY 1
      |)
      |SELECT b.source, b.n_docs, b.n_tokens, b.n_chars,
      |  CAST(v.n_vocab AS BIGINT) AS n_vocab,
      |  (b.n_tokens * 1000000) // b.n_docs AS mean_doc_toks_fx,
      |  b.n_docs - b.n_uniq_texts AS n_exact_dups,
      |  ((b.n_docs - b.n_uniq_texts) * 1000000) // b.n_docs AS dup_rate_fx
      |FROM base b JOIN vocab v ON v.source = b.source
      |ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q212: REPEATED-SUBSTRING extents (Lee et al. 2022) — maximal
  // per-document token spans covered by 5-gram windows that occur ≥ 2
  // times anywhere in the corpus: the exact-boilerplate extents a
  // substring-dedup pass would strip (chunk q86 / shingle q31 only
  // approximate this). EXACT SQL replay: DuckDB rebuilds positional
  // grams (inclusive slicing, rule 7), the HAVING ≥ 2 repeat set, and
  // the same lag/cumsum run merge — all-int64 output, (doc_id,
  // start_tok) unique key. Spark groups by the gram string for parity
  // (a 100 TB run would fingerprint first — same plan shape).
  // -------------------------------------------------------------------
  def q212RepeatedExtents(spark: SparkSession, dir: String): DataFrame =
    C.repeatedExtents(docs(spark, dir), "doc_id", "text", k = 5)
      .orderBy(asc("doc_id"), asc("start_tok"))
  val q212Sql: String =
    raw"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
      |pos AS (SELECT doc_id, t,
      |  UNNEST(range(1, GREATEST(LEN(t) - 4, 0) + 1)) AS i FROM tk),
      |grams AS (SELECT doc_id, i - 1 AS p,
      |  array_to_string(t[i:i+4], ' ') AS gram FROM pos),
      |rep AS (SELECT gram FROM grams GROUP BY 1 HAVING COUNT(*) >= 2),
      |anch AS (SELECT g.doc_id, g.p FROM grams g JOIN rep r ON r.gram = g.gram),
      |runs AS (SELECT doc_id, p,
      |  CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) <= 5
      |       THEN 0 ELSE 1 END AS brk FROM anch),
      |ext AS (SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id
      |  ORDER BY p ROWS UNBOUNDED PRECEDING) AS run FROM runs)
      |SELECT doc_id, MIN(p) AS start_tok, MAX(p) + 4 AS end_tok,
      |  MAX(p) + 4 - MIN(p) + 1 AS n_tokens, COUNT(*) AS n_anchors
      |FROM ext GROUP BY doc_id, run
      |ORDER BY doc_id, start_tok""".stripMargin

  // -------------------------------------------------------------------
  // q227: WINNOWING fingerprints (Schleimer et al. SIGMOD'03 — the
  // MOSS algorithm): per document, each window of w=5 consecutive
  // 4-gram hashes selects its min (rightmost tie); distinct selections
  // are the fingerprints. Guarantee: any shared run of ≥ 8 tokens
  // shares a fingerprint at expected density 2/(w+1) — the
  // position-robust sub-linear fingerprint rung between q29 (whole-doc
  // hash) and q31 (order-blind MinHash). EXACT bit-replay oracle: the
  // 40-bit md5 gram hash and the packed (hash, rightmost-pos) argmin
  // key are engine-portable, so DuckDB replays selection, xor, and
  // position sums bit-for-bit. All window work is doc-partitioned
  // codegen; no joins, no corpus state.
  // -------------------------------------------------------------------
  // Full-corpus winnow fingerprint frame (k=4, w=5), memoized per
  // (session, dir) — r14: q227 (selection audit), q228 (pair scores)
  // and q233 (pair alignment) each rebuilt the identical tokenize +
  // window + md5-keyed selection chain from scratch; the frame is
  // sub-corpus-sized (density 2/(w+1) — 81.6k rows at sf0.1) and every
  // consumer's fold is cheap next to the build (historical probe: build
  // 4.6 s of q233's 7.2 s fused fresh at sf0.1).
  private val winnowFpsMemo = SessionMemo.family[DataFrame]("winnowFpsOf")
  private def winnowFpsOf(spark: SparkSession, dir: String): DataFrame =
    winnowFpsMemo(spark, dir) {
      C.winnowFingerprints(docs(spark, dir), "doc_id", "text",
        k = 4, w = 5).localCheckpoint(eager = true)
    }

  def q227Winnow(spark: SparkSession, dir: String): DataFrame =
    winnowFpsOf(spark, dir)
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        count(lit(1)).as("n_fp"),
        expr("bit_xor(fp)").as("fp_xor"),
        sum(col("fp_pos")).as("pos_sum"))
      .withColumn("density_fx", expr("(n_fp * 1000000) div n_grams"))
      .orderBy(asc("doc_id"))
  // Shared CTE prefix: positional 4-grams → packed winnow keys →
  // per-window MIN over [p, p+4] → the distinct selected keys.
  private val winnowSelSql: String =
    raw"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
      |pos AS (SELECT doc_id, t,
      |  UNNEST(range(1, GREATEST(LEN(t) - 3, 0) + 1)) AS i FROM tk),
      |grams AS (SELECT doc_id, i - 1 AS p,
      |  array_to_string(t[i:i+3], ' ') AS gram FROM pos),
      |keyed AS (SELECT doc_id, p,
      |  CAST(('0x' || substring(md5(gram), 1, 10)) AS BIGINT) * 4194304
      |    + (4194303 - p) AS key FROM grams),
      |win AS (SELECT doc_id, p,
      |  MIN(key) OVER (PARTITION BY doc_id ORDER BY p
      |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS s,
      |  COUNT(*) OVER (PARTITION BY doc_id) AS n_grams FROM keyed),
      |sel AS (SELECT DISTINCT doc_id, n_grams, s FROM win
      |  WHERE p <= n_grams - 5 OR (p = 0 AND n_grams < 5))""".stripMargin
  val q227Sql: String =
    raw"""$winnowSelSql
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |  COUNT(*) AS n_fp, bit_xor(s // 4194304) AS fp_xor,
      |  CAST(SUM(4194303 - (s % 4194304)) AS BIGINT) AS pos_sum,
      |  (COUNT(*) * 1000000) // CAST(n_grams AS BIGINT) AS density_fx
      |FROM sel GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q228: WINNOWING shared-fingerprint pairs — the MOSS APPLY: doc
  // pairs sharing ≥ 3 winnow fingerprints, scored by share of the
  // smaller doc's fingerprint set (containment-style, so an excerpt
  // inside a long doc still scores high). Ubiquitous fingerprints
  // (df > 50 docs — boilerplate) are dropped BEFORE the pair join, the
  // same posting-cap discipline as q189's vocab cap: fan-out per
  // fingerprint is bounded at C(50,2), never quadratic in the corpus.
  // EXACT all-int64 replay oracle.
  // -------------------------------------------------------------------
  def q228WinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnowFpsOf(spark, dir)
      .select(col("doc_id"), col("fp")).distinct()
    val docFp = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 50)).select(col("fp"))
    val sh = fps.join(keep, "fp")
    sh.as("a").join(sh.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .join(docFp.select(col("doc_id").as("doc_a"), col("n_fp").as("n_fp_a")),
        "doc_a")
      .join(docFp.select(col("doc_id").as("doc_b"), col("n_fp").as("n_fp_b")),
        "doc_b")
      .withColumn("score_fx",
        expr("(n_shared * 1000000) div least(n_fp_a, n_fp_b)"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"), col("score_fx"))
      .orderBy(asc("doc_a"), asc("doc_b"))
  }
  val q228Sql: String =
    raw"""$winnowSelSql,
      |fps AS (SELECT DISTINCT doc_id, s // 4194304 AS fp FROM sel),
      |docfp AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY 1),
      |keep AS (SELECT fp FROM fps GROUP BY fp
      |  HAVING COUNT(*) BETWEEN 2 AND 50),
      |sh AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    COUNT(*) AS n_shared
      |  FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT doc_a, doc_b, n_shared, fa.n_fp AS n_fp_a, fb.n_fp AS n_fp_b,
      |  (n_shared * 1000000) // LEAST(fa.n_fp, fb.n_fp) AS score_fx
      |FROM pr JOIN docfp fa ON fa.doc_id = doc_a
      |        JOIN docfp fb ON fb.doc_id = doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------
  // q233: SHARED-RUN ALIGNMENT over the winnow pairs — the dedup
  // EVIDENCE query: for each q228 candidate pair, WHERE the overlap
  // lives — the longest contiguous token run both documents share,
  // with its start in each (seed-chain local alignment on the 4-gram
  // match diagonals: anchors with pa−pb constant and pa step 1 chain;
  // run = n_anchors + 3 tokens; ties → smallest start_a, start_b).
  // Detectors score pairs (q31/q32/q164/q228); a reviewer or a strip
  // pass needs the aligned extent itself. EXACT all-int64 SQL replay:
  // grams, pair set, diagonal run merge, and the argmax all unroll.
  // Pair-keyed work only — the gram join hangs off the (bounded) pair
  // set, never the corpus against itself.
  // -------------------------------------------------------------------
  def q233PairAlignment(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val fps = winnowFpsOf(spark, dir)
      .select(col("doc_id"), col("fp")).distinct()
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 50)).select(col("fp"))
    val sh = fps.join(keep, "fp")
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
    val docsIn = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b"))).distinct()
    val grams = C.positionalGrams(d.join(docsIn, "doc_id"),
      "doc_id", "text", k = 4)
    C.alignSharedRuns(pairs, grams, "doc_id", k = 4)
      .orderBy(asc("doc_a"), asc("doc_b"))
  }
  val q233Sql: String =
    raw"""$winnowSelSql,
      |fps AS (SELECT DISTINCT doc_id, s // 4194304 AS fp FROM sel),
      |keep AS (SELECT fp FROM fps GROUP BY fp
      |  HAVING COUNT(*) BETWEEN 2 AND 50),
      |sh2 AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    COUNT(*) AS n_shared
      |  FROM sh2 a JOIN sh2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |m AS (SELECT pr.doc_a, pr.doc_b, pr.n_shared,
      |    ga.p AS pa, gb.p AS pb, ga.p - gb.p AS diag
      |  FROM pr JOIN grams ga ON ga.doc_id = pr.doc_a
      |       JOIN grams gb ON gb.doc_id = pr.doc_b AND gb.gram = ga.gram),
      |r AS (SELECT doc_a, doc_b, n_shared, diag, pa, pb,
      |  CASE WHEN pa - LAG(pa) OVER (PARTITION BY doc_a, doc_b, diag
      |       ORDER BY pa) = 1 THEN 0 ELSE 1 END AS brk FROM m),
      |rr AS (SELECT doc_a, doc_b, n_shared, diag, pa, pb,
      |  SUM(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa
      |    ROWS UNBOUNDED PRECEDING) AS run FROM r),
      |ext AS (SELECT doc_a, doc_b, n_shared, diag, run,
      |    MIN(pa) AS sa, MIN(pb) AS sb, COUNT(*) + 3 AS len
      |  FROM rr GROUP BY 1, 2, 3, 4, 5),
      |best AS (SELECT doc_a, doc_b, n_shared, len AS len_tokens,
      |    sa AS start_a, sb AS start_b,
      |    ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
      |      ORDER BY len DESC, sa, sb) AS rn FROM ext)
      |SELECT doc_a, doc_b, n_shared, len_tokens, start_a, start_b
      |FROM best WHERE rn = 1 ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------------
  // q215: REPEATED-EXTENT STRIP (the APPLY of q212 under the faithful
  // Lee et al. keep-first semantics: each repeated passage's FIRST
  // occurrence — min (doc_id, p) per gram — survives; later
  // occurrences' extents are stripped). Per-doc token accounting plus
  // an md5 of the post-strip splice, so the oracle — which replays the
  // whole chain: positional grams, ROW_NUMBER()>1 non-first anchors,
  // run merge, token-level anti range-join, ORDER BY p re-splice —
  // catches a wrong boundary, a double strip, or a broken splice order
  // as a fingerprint mismatch.
  // -------------------------------------------------------------------
  def q215ExtentStrip(spark: SparkSession, dir: String): DataFrame =
    C.stripRepeatedExtents(docs(spark, dir), "doc_id", "text", k = 5)
      .orderBy(asc("doc_id"))
  val q215Sql: String =
    raw"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
      |pos AS (SELECT doc_id, t,
      |  UNNEST(range(1, GREATEST(LEN(t) - 4, 0) + 1)) AS i FROM tk),
      |grams AS (SELECT doc_id, i - 1 AS p,
      |  array_to_string(t[i:i+4], ' ') AS gram FROM pos),
      |anch AS (
      |  SELECT doc_id, p FROM (
      |    SELECT doc_id, p, COUNT(*) OVER (PARTITION BY gram) AS n_occ,
      |      ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn
      |    FROM grams)
      |  WHERE n_occ >= 2 AND rn > 1),
      |runs AS (SELECT doc_id, p,
      |  CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) <= 5
      |       THEN 0 ELSE 1 END AS brk FROM anch),
      |ext AS (SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id
      |  ORDER BY p ROWS UNBOUNDED PRECEDING) AS run FROM runs),
      |extents AS (SELECT doc_id, MIN(p) AS s, MAX(p) + 4 AS e
      |  FROM ext GROUP BY doc_id, run),
      |tok AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
      |  FROM (SELECT doc_id, t, UNNEST(range(1, LEN(t) + 1)) AS i FROM tk)),
      |keep AS (
      |  SELECT k.doc_id, k.p, k.tok FROM tok k
      |  LEFT JOIN extents x
      |    ON x.doc_id = k.doc_id AND k.p BETWEEN x.s AND x.e
      |  WHERE x.s IS NULL),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_after,
      |    md5(string_agg(tok, ' ' ORDER BY p)) AS clean_md5
      |  FROM keep GROUP BY 1)
      |SELECT tk.doc_id, LEN(tk.t) AS n_before,
      |  COALESCE(a.n_after, 0) AS n_after,
      |  LEN(tk.t) - COALESCE(a.n_after, 0) AS n_stripped,
      |  COALESCE(a.clean_md5, md5('')) AS clean_md5
      |FROM tk LEFT JOIN agg a ON a.doc_id = tk.doc_id
      |ORDER BY tk.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // THE TOKENIZER LADDER — three families (BPE by count, WordPiece by
  // likelihood gain, unigram-LM by hard EM), each trained on a corpus
  // and applied frozen to the held-out split (doc_id % 97 = 0; the
  // train split is doc_id % 97 <> 0). The Spark side shares three
  // memoized frames — the full-corpus BPE training (q213/q216) and
  // each family's held-out segmentation, trained inside its own build —
  // plus two query bodies: the top-k vocabulary (q216/q224/q281) and
  // the per-language fertility (q235/q265/q282). The oracle side
  // assembles every query from the generated CTE blocks below, so
  // each block is written once.
  // -------------------------------------------------------------------
  private def trainSplitSql: String = "\n        WHERE doc_id % 97 <> 0"
  private def evalSplitSql: String = "\n        WHERE doc_id % 97 = 0"

  // the (w, wc) word-type table of the documents a split keeps (""
  // keeps all): the head of every tokenizer oracle. The merge
  // families count wc as COUNT(*), the unigram family casts it.
  private def typesSql(name: String, split: String, wc: String): String =
    raw"""$name AS (
      |  SELECT tok AS w, $wc AS wc
      |  FROM (SELECT UNNEST($toksSql) AS tok FROM documents$split)
      |  WHERE tok != '' GROUP BY 1)""".stripMargin

  // the character-level symbol frame ${e}sym0 of ${e}types — round 0
  // of every merge chain (e = "" train, "e" eval)
  private def sym0Sql(e: String): String =
    s"""${e}pos0 AS (SELECT w, wc, UNNEST(range(1, LEN(w) + 1)) AS i FROM ${e}types),
      |${e}sym0 AS (SELECT w, wc, i - 1 AS p, w[i:i] AS s FROM ${e}pos0),
      |""".stripMargin

  // a merge-chain head: the split's word types plus their symbol frame
  private def mergeHeadSql(e: String, split: String): String =
    typesSql(s"${e}types", split, "COUNT(*)") + ",\n" + sym0Sql(e)

  // round i's adjacent-pair frame ${e}pr$i over ${e}sym{i-1}; the
  // train chain materializes its CTEs (mat = [[materialized]])
  private def pairsSql(i: Int, e: String, mat: String): String =
    s"""${e}pr$i AS$mat (
      |  SELECT w, wc, p, s, LEAD(s) OVER (PARTITION BY w ORDER BY p) AS s2
      |  FROM ${e}sym${i - 1}),
      |""".stripMargin

  // the merge-apply half of one round (greedy island-parity starts +
  // rebuilt symbol frame) — criterion-independent: the BPE and the
  // WordPiece trainers append it after their own best$i, and the
  // eval chain (e = "e") replays the TRAIN chain's best$i with it —
  // no argmax on the eval corpus (that would be retraining)
  private def mergeStepSql(i: Int, e: String, mat: String): String = {
    val prev = s"${e}sym${i - 1}"
    s"""${e}st$i AS$mat (
      |  SELECT w, wc, p FROM (
      |    SELECT w, wc, p, p - MIN(p) OVER (PARTITION BY w, isl) AS off
      |    FROM (
      |      SELECT w, wc, p,
      |        p - ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) AS isl
      |      FROM ${e}pr$i
      |      WHERE s = (SELECT a FROM best$i) AND s2 = (SELECT b FROM best$i)))
      |  WHERE off % 2 = 0),
      |${e}sym$i AS$mat (
      |  SELECT w, wc, ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) - 1 AS p,
      |    CASE WHEN start = 1 THEN (SELECT a || b FROM best$i) ELSE s END AS s
      |  FROM (
      |    SELECT base.w, base.wc, base.p, base.s,
      |      CASE WHEN st.p IS NOT NULL THEN 1 ELSE 0 END AS start
      |    FROM $prev base
      |    LEFT JOIN ${e}st$i st ON st.w = base.w AND st.p = base.p
      |    LEFT JOIN ${e}st$i gone ON gone.w = base.w AND gone.p + 1 = base.p
      |    WHERE gone.p IS NULL))""".stripMargin
  }
  private def materialized: String = " MATERIALIZED"
  private def bpeRoundSql(i: Int): String =
    pairsSql(i, "", materialized) +
      s"""best$i AS MATERIALIZED (
      |  SELECT s AS a, s2 AS b, CAST(SUM(wc) AS BIGINT) AS cnt
      |  FROM pr$i WHERE s2 IS NOT NULL GROUP BY 1, 2
      |  ORDER BY cnt DESC, a, b LIMIT 1),
      |""".stripMargin + mergeStepSql(i, "", materialized)
  // WordPiece round: same pr/st/sym mechanics, likelihood-gain argmax
  private def wordpieceRoundSql(i: Int): String =
    pairsSql(i, "", materialized) +
      s"""uni$i AS MATERIALIZED (
      |  SELECT s, CAST(SUM(wc) AS BIGINT) AS cu FROM sym${i - 1} GROUP BY 1),
      |prc$i AS MATERIALIZED (
      |  SELECT s AS a, s2 AS b, CAST(SUM(wc) AS BIGINT) AS cnt
      |  FROM pr$i WHERE s2 IS NOT NULL GROUP BY 1, 2),
      |best$i AS MATERIALIZED (
      |  SELECT a, b, cnt, ua.cu AS ca, ub.cu AS cb
      |  FROM prc$i JOIN uni$i ua ON ua.s = a JOIN uni$i ub ON ub.s = b
      |  ORDER BY CAST(cnt AS DOUBLE) / (ua.cu * ub.cu) DESC, a, b LIMIT 1),
      |""".stripMargin + mergeStepSql(i, "", materialized)
  // apply-side round i on the eval chain (esym$i)
  private def applyRoundSql(i: Int): String =
    pairsSql(i, "e", "") + mergeStepSql(i, "e", "")
  // 3 rounds of a merge chain (train rounds or eval apply rounds)
  private def roundsSql(round: Int => String): String =
    (1 to 3).map(round).mkString(",\n")

  // the held-out merge oracle: `round`'s 3 train rounds on the train
  // split, then the 3 frozen apply rounds on the eval split (esym3)
  private def heldoutMergeSql(round: Int => String): String =
    "WITH " + mergeHeadSql("", trainSplitSql) + roundsSql(round) + ",\n" +
      mergeHeadSql("e", evalSplitSql) + roundsSql(applyRoundSql)

  // q216/q224/q281's vocabulary: the top-k symbols of a segmented
  // (w, wc, p, s) frame by corpus-weighted occurrence, ties lexical
  private def topSymbols(segs: DataFrame, k: Int): DataFrame =
    segs.groupBy(col("s"))
      .agg(sum(col("wc")).as("n_occ"), countDistinct(col("w")).as("n_types"))
      .orderBy(desc("n_occ"), asc("s"))
      .limit(k)
  private def topSymbolsSql(frame: String, k: Int): String =
    s"""SELECT s, CAST(SUM(wc) AS BIGINT) AS n_occ,
      |  COUNT(DISTINCT w) AS n_types
      |FROM $frame GROUP BY s ORDER BY n_occ DESC, s LIMIT $k""".stripMargin

  // the held-out split's (lang, w, c) word-occurrence counts
  private def heldoutLangWords(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(col("doc_id") % 97 === 0)
      .select(col("lang"), explode(TA.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
  private def heldoutLangWordsSql(c: String): String =
    raw"""lw AS (
      |  SELECT lang, tok AS w, $c AS c
      |  FROM (SELECT lang, UNNEST($toksSql) AS tok FROM documents
      |        WHERE doc_id % 97 = 0)
      |  WHERE tok != '' GROUP BY 1, 2)""".stripMargin

  // q235/q265/q282's fertility: occurrence-weighted subwords per word
  // on the held-out split, per language, all-int64 fixed point. A
  // family's held-out segmentation has one row per (type, piece), so
  // its row count per w IS the type's piece count.
  private def heldoutFertility(spark: SparkSession, dir: String,
                               pieces: DataFrame): DataFrame = {
    val nsub = pieces.groupBy(col("w")).agg(count(lit(1)).as("n_sub"))
    heldoutLangWords(spark, dir).join(nsub, Seq("w"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("n_sub")).as("n_subwords"))
      .withColumn("fertility_fx",
        expr("(n_subwords * 1000000L) div n_words"))
      .orderBy(asc("lang"))
  }
  // the fertility oracle's tail after the family's eval segmentation:
  // the per-type piece-count CTE `counts` (defined by `countsCte`,
  // count column `n`), the lw table, and the fixed-point fold
  private def fertilityTailSql(countsCte: String, counts: String, n: String,
                               c: String, groupSep: String): String =
    countsCte + ",\n" + heldoutLangWordsSql(c) + "\n" +
      s"""SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
      |  CAST(SUM(c * $n) AS BIGINT) AS n_subwords,
      |  (CAST(SUM(c * $n) AS BIGINT) * 1000000)
      |    // CAST(SUM(c) AS BIGINT) AS fertility_fx
      |FROM lw JOIN $counts USING (w)
      |GROUP BY lang${groupSep}ORDER BY lang""".stripMargin
  // q235/q282: per-type subword counts off the eval merge chain
  private def mergeFertilitySql: String =
    fertilityTailSql(
      "ns AS (SELECT w, COUNT(*) AS n_sub FROM esym3 GROUP BY w)",
      "ns", "n_sub", "COUNT(*)", " ")

  // -------------------------------------------------------------------
  // q213: ITERATIVE BPE MERGE ROUNDS (Sennrich et al. 2016) — 3
  // deterministic merge rounds on the word-type table under the graph
  // family's fixed-round replay contract: per round, max adjacent
  // symbol-pair count (weighted by word count, ties broken lexically),
  // greedy left-to-right non-overlapping merge (island parity), exact
  // int64 stats. The oracle unrolls all 3 rounds in SQL (generated
  // below — the same CTE block per round), recomputing the type table,
  // per-round pair argmax, merge starts, and rebuilt symbol frame from
  // scratch: any divergence in counting, tie-break, overlap handling,
  // or reindexing breaks a row → FAIL.
  // -------------------------------------------------------------------
  /** ONE full-corpus BPE training per (session, dir), serving both
    * full-corpus consumers: q213 reads the per-round stats, q216 the
    * final symbol frame — previously two bit-identical 3-round train
    * chains back to back (r13). The symbol frame is eagerly
    * checkpointed (rule 16). */
  private val bpeFullTrainMemo = SessionMemo.family[
    (Seq[(Long, String, String, Long, Long, Long, Long)], DataFrame)]("bpeFullTrainOf")
  private def bpeFullTrainOf(spark: SparkSession, dir: String)
      : (Seq[(Long, String, String, Long, Long, Long, Long)], DataFrame) =
    bpeFullTrainMemo(spark, dir) {
      val (stats, syms) = C.bpeTrainFull(docs(spark, dir), "text", rounds = 3)
      val cut = syms.localCheckpoint(true)
      syms.unpersist()
      (stats, cut)
    }

  def q213BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeFullTrainOf(spark, dir)._1
      .toDF("round", "lhs", "rhs", "pair_count",
        "n_type_merges", "n_merges_wt", "n_symbols_after")
      .orderBy(asc("round"))
  }
  private def bpeRoundRow(i: Int): String =
    s"""SELECT CAST($i AS BIGINT) AS round, a AS lhs, b AS rhs,
      |  cnt AS pair_count,
      |  (SELECT COUNT(*) FROM st$i) AS n_type_merges,
      |  (SELECT CAST(SUM(wc) AS BIGINT) FROM st$i) AS n_merges_wt,
      |  (SELECT CAST(SUM(wc) AS BIGINT) FROM sym$i) AS n_symbols_after
      |FROM best$i""".stripMargin
  // the full-corpus 3-round BPE chain — q213's rounds, q216's sym3
  private def bpePrefixSql: String =
    "WITH " + mergeHeadSql("", "") + roundsSql(bpeRoundSql) + "\n"
  val q213Sql: String =
    bpePrefixSql +
      (1 to 3).map(bpeRoundRow).mkString("\nUNION ALL\n") +
      "\nORDER BY round"

  // -------------------------------------------------------------------
  // q216: BPE VOCABULARY APPLY — the corpus segmented by q213's trained
  // merges: top-50 subword symbols of the final symbol frame by
  // corpus-weighted occurrence (ties lexical). Shares q213's generated
  // 3-round SQL prefix; the oracle recomputes the ENTIRE training +
  // segmentation from scratch and aggregates sym3 — a drifted merge or
  // broken rebuild shows up as a different vocabulary.
  // -------------------------------------------------------------------
  def q216BpeVocab(spark: SparkSession, dir: String): DataFrame =
    topSymbols(bpeFullTrainOf(spark, dir)._2, 50)
  val q216Sql: String = bpePrefixSql + topSymbolsSql("sym3", 50)

  // -------------------------------------------------------------------
  // q274: WORDPIECE MERGE ROUNDS (Schuster & Nakajima 2012; BERT's
  // trainer) — the THIRD tokenizer family: identical island-parity
  // merge mechanics to q213, but the per-round argmax maximizes the
  // likelihood gain cnt(ab)/(cnt(a)·cnt(b)) — one correctly-rounded
  // IEEE division of exact int64 counts on both engines (operands
  // ≤ 2^53), ties lexical. The oracle unrolls all 3 rounds with the
  // scored argmax and the shared criterion-independent merge-step
  // CTE; score_fx lands in the floor(ln·1e6) fixed point.
  // -------------------------------------------------------------------
  def q274Wordpiece(spark: SparkSession, dir: String): DataFrame =
    C.wordpieceMergeRounds(docs(spark, dir), "text", rounds = 3)
      .orderBy(asc("round"))
  private def wordpieceRoundRow(i: Int): String =
    s"""SELECT CAST($i AS BIGINT) AS round, a AS lhs, b AS rhs,
      |  cnt AS pair_count, ca, cb,
      |  CAST(FLOOR(LN(CAST(cnt AS DOUBLE) / (ca * cb)) * 1000000)
      |    AS BIGINT) AS score_fx,
      |  (SELECT CAST(SUM(wc) AS BIGINT) FROM sym$i) AS n_symbols_after
      |FROM best$i""".stripMargin
  val q274Sql: String =
    "WITH " + mergeHeadSql("", "") + roundsSql(wordpieceRoundSql) + "\n" +
      (1 to 3).map(wordpieceRoundRow).mkString("\nUNION ALL\n") +
      "\nORDER BY round"

  // -------------------------------------------------------------------
  // q224: BPE HELD-OUT APPLY — the real tokenizer workflow q213/q216
  // stop short of: TRAIN the 3 merge rounds on the training split
  // (doc_id % 97 ≠ 0), then SEGMENT the held-out split (doc_id % 97 =
  // 0) with that frozen merge list — no argmax ever touches eval
  // (that would be retraining). The oracle regenerates both chains:
  // q213's train rounds on the train split, then apply-only rounds on
  // the eval split whose merge pair is read FROM the train chain's
  // best$i — a drifted trained merge, or an apply round that
  // re-argmaxes, both change the eval vocabulary and fail the hash.
  // -------------------------------------------------------------------
  /** The held-out split SEGMENTED under merges `train` learned on the
    * train split (3 rounds) — the (w, wc, p, s) frame, word-TYPE-sized,
    * eagerly checkpointed (rule 16). The merge list is trained inside
    * the build: only this frame is read again. */
  private def heldoutSegs97(spark: SparkSession, dir: String,
      train: (DataFrame, String, Int) => Seq[(String, String)]): DataFrame = {
    val merges = train(
      docs(spark, dir).filter(col("doc_id") % 97 =!= 0), "text", 3)
    val segs = C.bpeSegment(
      docs(spark, dir).filter(col("doc_id") % 97 === 0), "text", merges)
    val cut = segs.localCheckpoint(true)
    segs.unpersist()
    cut
  }
  /** The BPE held-out segmentation per (session, dir), read by q224
    * (vocabulary), q235 (fertility) and q267 (agreement) — each
    * replayed the train + apply chain before (r13). */
  private val bpeSegs97Memo = SessionMemo.family[DataFrame]("bpeHeldoutSegs97Of")
  private def bpeHeldoutSegs97Of(spark: SparkSession, dir: String): DataFrame =
    bpeSegs97Memo(spark, dir)(heldoutSegs97(spark, dir, C.bpeTrainedMerges))

  def q224BpeHeldout(spark: SparkSession, dir: String): DataFrame =
    topSymbols(bpeHeldoutSegs97Of(spark, dir), 30)
  val q224Sql: String =
    heldoutMergeSql(bpeRoundSql) + "\n" + topSymbolsSql("esym3", 30)

  // -------------------------------------------------------------------
  // q235: TOKENIZER FERTILITY per language — the metric a tokenizer
  // evaluation actually reports (subwords emitted per input word;
  // Ács/Rust et al. call it fertility): train the 3 BPE merge rounds
  // on the training split, segment the HELD-OUT split with the frozen
  // list (the q224 chain), then weight each word type's subword count
  // by its per-language occurrence counts. A tokenizer trained on
  // mixed text over-fragments the languages it under-saw — this is
  // the table that shows it. All-int64 bit-replay oracle: the q224
  // generated train+apply chains, an (lang, word, count) table off
  // the same tokenizer, and fixed-point div-1e6 fertility.
  // -------------------------------------------------------------------
  def q235BpeFertility(spark: SparkSession, dir: String): DataFrame =
    heldoutFertility(spark, dir, bpeHeldoutSegs97Of(spark, dir))
  val q235Sql: String =
    heldoutMergeSql(bpeRoundSql) + ",\n" + mergeFertilitySql

  // -------------------------------------------------------------------
  // q281: WORDPIECE HELD-OUT APPLY — the q224 workflow at the
  // WordPiece rung, completing the third family's train→apply ladder:
  // train 3 likelihood-gain merge rounds on the training split
  // (doc_id % 97 ≠ 0), then segment the held-out split with the
  // FROZEN merge list. Apply is criterion-independent (the same
  // greedy island-parity replay as BPE — only the trainer's argmax
  // differs), so the frozen list feeds bpeSegment / applyRoundSql
  // unchanged; the oracle's train chain is the WordPiece scored
  // argmax, so a drifted likelihood pick changes the eval vocabulary
  // and fails the hash.
  // -------------------------------------------------------------------
  /** The WordPiece held-out segmentation per (session, dir), read by
    * q281 (vocabulary) and q282 (fertility). */
  private val wpSegs97Memo = SessionMemo.family[DataFrame]("wpHeldoutSegs97Of")
  private def wpHeldoutSegs97Of(spark: SparkSession, dir: String): DataFrame =
    wpSegs97Memo(spark, dir)(heldoutSegs97(spark, dir, C.wordpieceTrainedMerges))

  def q281WordpieceHeldout(spark: SparkSession, dir: String): DataFrame =
    topSymbols(wpHeldoutSegs97Of(spark, dir), 30)
  val q281Sql: String =
    heldoutMergeSql(wordpieceRoundSql) + "\n" + topSymbolsSql("esym3", 30)

  // -------------------------------------------------------------------
  // q282: WORDPIECE FERTILITY per language — q235's table under the
  // frozen WordPiece list: occurrence-weighted subwords-per-word on
  // the held-out split, per language, all-int64 fixed point. With
  // this the three tokenizer families stand at full parity
  // (train / vocab-or-rounds / held-out apply / fertility).
  // -------------------------------------------------------------------
  def q282WordpieceFertility(spark: SparkSession, dir: String): DataFrame =
    heldoutFertility(spark, dir, wpHeldoutSegs97Of(spark, dir))
  val q282Sql: String =
    heldoutMergeSql(wordpieceRoundSql) + ",\n" + mergeFertilitySql

  // -------------------------------------------------------------------
  // q262: UNIGRAM-LM TOKENIZER ROUNDS (Kudo 2018, SentencePiece-style)
  // — the second tokenizer family next to BPE (q213/q216/q224): seed a
  // candidate-piece vocabulary from the top-64 multi-char substring
  // frequencies (len 2..4, corpus-weighted, ties lexical), then 2
  // hard-EM rounds: E = greedy longest-match segmentation of every
  // word type (deterministic — match length is unique and single
  // chars guarantee coverage, so NO float log-prob argmax ties to
  // replay), M = piece usage re-estimation + prune back to the top-64
  // multi-char pieces. Spark materializes the greedy orbit by pointer
  // doubling (⌈log2 maxWordLen⌉ self-joins on the type-sized (w, pos)
  // frame — no driver loop over positions); the corpus→type collapse
  // is the only corpus-sized shuffle, and only the model (≤ 64 +
  // alphabet usage rows) is collected per round — the q213 replay
  // contract. Oracle: full independent recompute — the identical
  // seed/segment/prune unrolled per round in SQL, with the greedy
  // orbit as a recursive CTE chase (sequential recursion is fine at
  // oracle scale; pointer doubling is its distributed equivalent).
  // -------------------------------------------------------------------
  def q262UnigramRounds(spark: SparkSession, dir: String): DataFrame =
    C.unigramRounds(docs(spark, dir), "text", rounds = 2,
        vocabK = 64, outK = 40, maxPieceLen = 4)
      .orderBy(asc("round"), asc("rank"))
  private def unigramRoundSql(i: Int): String = {
    val vocab = if (i == 1) "v0" else s"v${i - 1}"
    s"""hit$i AS (
      |  SELECT c.w, c.pos, MAX(c.l) AS mml
      |  FROM cand c JOIN $vocab v ON v.piece = c.sub GROUP BY 1, 2),
      |ml$i AS (
      |  SELECT p.w, p.wc, p.pos, COALESCE(h.mml, 1) AS mlen
      |  FROM upos p LEFT JOIN hit$i h ON h.w = p.w AND h.pos = p.pos),
      |seg$i AS (
      |  SELECT w, wc, pos, mlen FROM ml$i WHERE pos = 1
      |  UNION ALL
      |  SELECT m.w, m.wc, m.pos, m.mlen
      |  FROM seg$i s JOIN ml$i m ON m.w = s.w AND m.pos = s.pos + s.mlen),
      |use$i AS (
      |  SELECT w[pos:pos+mlen-1] AS piece, CAST(SUM(wc) AS BIGINT) AS use_wt
      |  FROM seg$i GROUP BY 1),
      |v$i AS (
      |  SELECT piece FROM use$i WHERE LEN(piece) >= 2
      |  ORDER BY use_wt DESC, piece LIMIT 64)""".stripMargin
  }
  private def unigramTypesSql(name: String, split: String): String =
    typesSql(name, split, "CAST(COUNT(*) AS BIGINT)")
  // the (w, wc, len, pos) character positions ${e}upos of ${e}types
  // and their length-2..4 candidate substrings ${e}cand
  private def candSql(e: String): String =
    s"""${e}upos AS (
      |  SELECT w, wc, LEN(w) AS len, UNNEST(range(1, LEN(w) + 1)) AS pos
      |  FROM ${e}types),
      |${e}cand AS (
      |  SELECT w, wc, pos, l, w[pos:pos+l-1] AS sub
      |  FROM ${e}upos, UNNEST([2, 3, 4]) AS t(l)
      |  WHERE pos + l - 1 <= len),
      |""".stripMargin
  // the unigram training chain over `types`: the top-64 substring
  // seed v0, then 2 EM rounds (use$i, frozen model v2)
  private def unigramTrainSql: String =
    candSql("") +
      """v0 AS (
      |  SELECT sub AS piece FROM (
      |    SELECT sub, CAST(SUM(wc) AS BIGINT) AS cnt FROM cand GROUP BY 1)
      |  ORDER BY cnt DESC, piece LIMIT 64),
      |""".stripMargin +
      (1 to 2).map(unigramRoundSql).mkString(",\n")
  // the eval types' greedy longest-match chase eseg under the frozen v2
  private def unigramEvalSql: String =
    candSql("e") +
      """ehit AS (
      |  SELECT c.w, c.pos, MAX(c.l) AS mml
      |  FROM ecand c JOIN v2 v ON v.piece = c.sub GROUP BY 1, 2),
      |eml AS (
      |  SELECT p.w, p.wc, p.pos, COALESCE(h.mml, 1) AS mlen
      |  FROM eupos p LEFT JOIN ehit h ON h.w = p.w AND h.pos = p.pos),
      |eseg AS (
      |  SELECT w, wc, pos, mlen FROM eml WHERE pos = 1
      |  UNION ALL
      |  SELECT m.w, m.wc, m.pos, m.mlen
      |  FROM eseg s JOIN eml m ON m.w = s.w AND m.pos = s.pos + s.mlen)""".stripMargin
  // the held-out unigram oracle: train on the train split, chase eval
  private def heldoutUnigramSql: String =
    "WITH RECURSIVE " + unigramTypesSql("types", trainSplitSql) + ",\n" +
      unigramTrainSql + ",\n" +
      unigramTypesSql("etypes", evalSplitSql) + ",\n" + unigramEvalSql
  val q262Sql: String =
    "WITH RECURSIVE " + unigramTypesSql("types", "") + ",\n" +
      unigramTrainSql +
      """
      |SELECT round, rank, piece, use_wt FROM (
      |  SELECT CAST(1 AS BIGINT) AS round,
      |    ROW_NUMBER() OVER (ORDER BY use_wt DESC, piece) AS rank,
      |    piece, use_wt FROM use1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT),
      |    ROW_NUMBER() OVER (ORDER BY use_wt DESC, piece),
      |    piece, use_wt FROM use2)
      |WHERE rank <= 40
      |ORDER BY round, rank""".stripMargin

  // -------------------------------------------------------------------
  // q263: UNIGRAM HELD-OUT APPLY — the q224 workflow at the unigram
  // rung, completing the second tokenizer family to BPE parity: train
  // the unigram piece vocabulary (2 hard-EM rounds, q262's schedule)
  // on the TRAIN split (doc_id % 97 != 0), then segment the held-out
  // split (doc_id % 97 == 0) by greedy longest-match under the FROZEN
  // vocabulary — no seed, no argmax, no prune ever touches eval — and
  // emit the top-30 eval piece-usage table. Shape: both splits
  // collapse to word types once; train collects only the model per
  // round; the usage fold collects only the ≤ vocab+alphabet rows
  // (Curation.unigramTrainedVocab + unigramStarts, the shared
  // pointer-doubling orbit machinery). Oracle: full independent
  // recompute — q262's generated train chain restricted to the train
  // split, then ONE apply segmentation of the eval types under v2 as
  // a recursive-CTE chase. A drifted trained vocab, a leaked eval
  // token, or a wrong greedy match all shift the usage table → FAIL.
  // -------------------------------------------------------------------
  /** The held-out greedy-longest-match VALID-START frame under the
    * unigram vocab trained on the train split (2 rounds, inside the
    * build) — [[C.unigramStarts]], memoized per (session, dir): the
    * orbit (hit join + pointer doubling) is the dominant cost of every
    * unigram apply query, and q263 (usage), q265 (fertility) and q267
    * (agreement boundaries) each rebuilt it from scratch — their folds
    * are cheap aggregates over this one frame. Orbit output is already
    * eagerly checkpointed (unigramOrbit localCheckpoint(true)s its
    * fold). */
  private val uniStarts97Memo = SessionMemo.family[DataFrame]("unigramStarts97Of")
  private def unigramStarts97Of(spark: SparkSession, dir: String): DataFrame =
    uniStarts97Memo(spark, dir) {
      val vocab = C.unigramTrainedVocab(
        docs(spark, dir).filter(col("doc_id") % 97 =!= 0), "text", rounds = 2)
      C.unigramStarts(
        docs(spark, dir).filter(col("doc_id") % 97 === 0), "text", vocab)
    }

  def q263UnigramHeldout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the usage fold (use_wt desc, piece asc) off the shared starts
    // frame; limit(30) of the total order ≡ a collected-Seq take(30)
    // (ties impossible: piece is unique)
    val usage = unigramStarts97Of(spark, dir)
      .select(expr("substring(w, pos, mlen)").as("piece"), col("wc"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("use_wt"))
      .orderBy(desc("use_wt"), asc("piece")).limit(30)
      .collect()
    usage.toSeq.zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getString(0), r.getLong(1)) }
      .toDF("rank", "piece", "use_wt")
      .orderBy(asc("rank"))
  }
  val q263Sql: String =
    heldoutUnigramSql + ",\n" +
      """euse AS (
      |  SELECT w[pos:pos+mlen-1] AS piece, CAST(SUM(wc) AS BIGINT) AS use_wt
      |  FROM eseg GROUP BY 1)
      |SELECT rank, piece, use_wt FROM (
      |  SELECT ROW_NUMBER() OVER (ORDER BY use_wt DESC, piece) AS rank,
      |    piece, use_wt FROM euse)
      |WHERE rank <= 30
      |ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // q265: UNIGRAM FERTILITY per language — q235's table at the unigram
  // rung, completing the second tokenizer family to full BPE parity
  // (rounds q262 / held-out q263 / fertility q265): occurrence-
  // weighted pieces-per-word on the held-out split under the FROZEN
  // train-split vocabulary, per language — where an under-served
  // language reads fx ≫ 1e6. Shape: held-out word types segmented
  // ONCE (greedy orbit, the q263 kernel — n_pieces = orbit length per
  // type), per-(lang, word) occurrence counts join the type-level
  // piece counts, all-int64 fixed point. Oracle: q263's generated
  // train chain + the recursive-CTE eval segmentation, folded to
  // per-type piece counts and the identical fixed-point fertility.
  // -------------------------------------------------------------------
  def q265UnigramFertility(spark: SparkSession, dir: String): DataFrame =
    heldoutFertility(spark, dir, unigramStarts97Of(spark, dir))
  val q265Sql: String =
    heldoutUnigramSql + ",\n" +
      fertilityTailSql(
        """ecnt AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_pieces
        |  FROM eseg GROUP BY 1)""".stripMargin,
        "ecnt", "n_pieces", "CAST(COUNT(*) AS BIGINT)", "\n")

  // -------------------------------------------------------------------
  // q267: TOKENIZER BOUNDARY AGREEMENT — the cross-family audit the
  // two tokenizer ladders (BPE q213/q216/q224/q235, unigram q262/
  // q263/q265) make possible: segment the SAME held-out split under
  // both frozen models (3-round BPE merges, 2-round unigram vocab —
  // both memoized held-out frames) and compare their internal split
  // points per word type. A boundary is a character offset b ∈
  // [1, len−1]; per language the occurrence-weighted boundary-set
  // overlap (both / bpe-only / uni-only + fixed-point Jaccard) is the
  // table a tokenizer bake-off reads — high agreement means the
  // families converge on the same morphology, divergence shows where
  // the greedy-longest-match and merge-order inductive biases differ.
  // Shape: both applies are type-frame-sized (the corpus collapses to
  // eval word types once per family); the comparison is a full-outer
  // equi-join on (w, b) over type-sized boundary frames; per-language
  // occurrence counts join on the type key. All-int64. Oracle: BOTH
  // generated chains (q224's train+apply rounds, q263's train chain +
  // recursive-CTE eval orbit) share one types/etypes pair, then the
  // identical boundary extraction, full-outer flags, and fixed-point
  // fold — a drift in EITHER tokenizer family fails the hash.
  // -------------------------------------------------------------------
  def q267TokenizerAgreement(spark: SparkSession, dir: String): DataFrame = {
    val wWin = Window.partitionBy(col("w")).orderBy(asc("p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // both boundary sets read the memoized apply-side frames (the BPE
    // segment frame shared with q224/q235, the unigram starts frame
    // shared with q263/q265) — the folds below are the only new work
    val bpeB = bpeHeldoutSegs97Of(spark, dir)
      .withColumn("b", sum(length(col("s")).cast("long")).over(wWin))
      .filter(col("b") < length(col("w")).cast("long"))
      .select(col("w"), col("b"), lit(1).as("pb"))
    val uniB = unigramStarts97Of(spark, dir)
      .filter(col("pos") > 1)
      .select(col("w"), (col("pos") - 1).cast("long").as("b"),
        lit(1).as("ub"))
    val tw = bpeB.join(uniB, Seq("w", "b"), "full_outer")
      .groupBy(col("w"))
      .agg(
        sum(when(col("pb").isNotNull && col("ub").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("ub").isNull, 1L).otherwise(0L)).as("n_bpe"),
        sum(when(col("pb").isNull, 1L).otherwise(0L)).as("n_uni"))
    heldoutLangWords(spark, dir).join(tw, Seq("w"), "left_outer")
      .groupBy(col("lang"))
      .agg(
        sum(col("c")).as("n_words"),
        sum(col("c") * coalesce(col("n_both"), lit(0L))).as("b_both"),
        sum(col("c") * coalesce(col("n_bpe"), lit(0L))).as("b_bpe_only"),
        sum(col("c") * coalesce(col("n_uni"), lit(0L))).as("b_uni_only"))
      .withColumn("jacc_fx",
        when(col("b_both") + col("b_bpe_only") + col("b_uni_only") === 0L,
          lit(-1L))
          .otherwise(expr(
            "(b_both * 1000000L) div (b_both + b_bpe_only + b_uni_only)")))
      .orderBy(asc("lang"))
  }
  // both chains read one types/etypes pair, declared first (wc cast)
  val q267Sql: String =
    "WITH RECURSIVE " + unigramTypesSql("types", trainSplitSql) + ",\n" +
      unigramTypesSql("etypes", evalSplitSql) + ",\n" +
      sym0Sql("") + roundsSql(bpeRoundSql) + ",\n" +
      sym0Sql("e") + roundsSql(applyRoundSql) + ",\n" +
      unigramTrainSql + ",\n" + unigramEvalSql + ",\n" +
      """bpeb AS (
      |  SELECT w, b FROM (
      |    SELECT w, CAST(SUM(LEN(s)) OVER (PARTITION BY w ORDER BY p
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS b, LEN(w) AS len
      |    FROM esym3)
      |  WHERE b < len),
      |unib AS (
      |  SELECT w, CAST(pos - 1 AS BIGINT) AS b FROM eseg WHERE pos > 1),
      |tw AS (
      |  SELECT COALESCE(p.w, u.w) AS w,
      |    CAST(SUM(CASE WHEN p.b IS NOT NULL AND u.b IS NOT NULL
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
      |    CAST(SUM(CASE WHEN u.b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_bpe,
      |    CAST(SUM(CASE WHEN p.b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_uni
      |  FROM bpeb p FULL OUTER JOIN unib u ON p.w = u.w AND p.b = u.b
      |  GROUP BY 1),
      |""".stripMargin +
      heldoutLangWordsSql("CAST(COUNT(*) AS BIGINT)") + ",\n" +
      """fold AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
      |    CAST(SUM(c * COALESCE(n_both, 0)) AS BIGINT) AS b_both,
      |    CAST(SUM(c * COALESCE(n_bpe, 0)) AS BIGINT) AS b_bpe_only,
      |    CAST(SUM(c * COALESCE(n_uni, 0)) AS BIGINT) AS b_uni_only
      |  FROM lw LEFT JOIN tw USING (w)
      |  GROUP BY lang)
      |SELECT lang, n_words, b_both, b_bpe_only, b_uni_only,
      |  CASE WHEN b_both + b_bpe_only + b_uni_only = 0 THEN CAST(-1 AS BIGINT)
      |       ELSE (b_both * 1000000) // (b_both + b_bpe_only + b_uni_only)
      |  END AS jacc_fx
      |FROM fold
      |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q238: CODE-SWITCH DETECTION — sentence-level language mix per doc
  // (doc-level langid q28 assigns ONE label; a doc that flips
  // en→de→en mid-text pollutes both monolingual buckets and this is
  // the table that catches it): sentences split on [.!?]+\s+ (RE2/
  // Java-shared, no lookbehind), each langid'd with the q28 heuristic,
  // then per doc: sentence count, distinct languages, adjacent-
  // sentence switch count (lag window over the doc-bounded frame),
  // dominant language (majority, ties to the lexically-largest code —
  // langId's own greatest-struct convention). The corpus' docs are
  // single-sentence (no ". " anywhere at either SF), which would make
  // the sentence machinery vacuous — so the query first synthesizes
  // multi-sentence MIXED-LANGUAGE documents deterministically:
  // id-blocks of 10 docs concatenated in id order with ". "
  // separators (langs interleave across ids, so real switches
  // appear). Exact replay oracle: the identical STRING_AGG synthesis
  // + split + strip + per-sentence CASE + LAG + argmax.
  // -------------------------------------------------------------------
  def q238CodeSwitch(spark: SparkSession, dir: String): DataFrame = {
    val synth = docs(spark, dir)
      .select(expr("doc_id div 10").as("g"), col("doc_id"), col("text"))
      .groupBy(col("g"))
      .agg(concat_ws(". ",
        transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text"))).as("text"))
      .select(col("g").as("doc_id"), col("text"))
    C.sentenceLangMix(synth, "doc_id", "text")
      .orderBy(asc("doc_id"))
  }
  val q238Sql: String = {
    def hits(lang: String) = {
      val ws = TA.stopwords(lang).map(w => s"'$w'").mkString(", ")
      raw"LEN(list_filter(string_split_regex(TRIM(s), '\s+'), tk -> tk IN ($ws)))"
    }
    raw"""WITH d2 AS (
       |  SELECT doc_id // 10 AS doc_id,
       |    STRING_AGG(text, '. ' ORDER BY doc_id) AS text
       |  FROM documents GROUP BY 1
       |), t AS (
       |  SELECT doc_id, string_split_regex(TRIM(text), '[.!?]+\s+') AS sx
       |  FROM d2
       |), ix AS (
       |  SELECT doc_id, UNNEST(range(1, LEN(sx) + 1)) AS si, sx FROM t
       |), sr AS (
       |  SELECT doc_id, si, regexp_replace(sx[si], '[.!?]+$$', '') AS s
       |  FROM ix
       |), sf AS (
       |  SELECT doc_id, si, s FROM sr WHERE TRIM(s) != ''
       |), sh AS (
       |  SELECT doc_id, si, s,
       |    ${hits("de")} AS h_de, ${hits("en")} AS h_en,
       |    ${hits("es")} AS h_es, ${hits("fr")} AS h_fr,
       |    CAST(LENGTH(s) - LENGTH(regexp_replace(s,
       |      '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
       |      / LENGTH(s) AS cjk
       |  FROM sf
       |), sl AS (
       |  SELECT doc_id, si,
       |    CASE WHEN cjk > 0.3 THEN 'zh'
       |         WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
       |         WHEN h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es THEN 'fr'
       |         WHEN h_es >= h_de AND h_es >= h_en THEN 'es'
       |         WHEN h_en >= h_de THEN 'en'
       |         ELSE 'de' END AS slang
       |  FROM sh
       |), agg AS (
       |  SELECT doc_id, COUNT(*) AS n_sent,
       |    COUNT(DISTINCT slang) AS n_langs,
       |    CAST(COALESCE(SUM(CASE WHEN prev IS NOT NULL AND prev != slang
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_switch
       |  FROM (SELECT doc_id, slang,
       |          LAG(slang) OVER (PARTITION BY doc_id ORDER BY si) AS prev
       |        FROM sl)
       |  GROUP BY doc_id
       |), dom AS (
       |  SELECT doc_id, slang AS dom_lang FROM (
       |    SELECT doc_id, slang, ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY COUNT(*) DESC, slang DESC) AS rn
       |    FROM sl GROUP BY doc_id, slang)
       |  WHERE rn = 1
       |)
       |SELECT a.doc_id, a.n_sent, a.n_langs, a.n_switch, d.dom_lang
       |FROM agg a JOIN dom d USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q219: DSIR importance weights (Xie et al. 2023) — every document
  // scored by resemblance to the TARGET slice (lang = 'en') under a
  // bag-of-tokens multinomial over the top-512 corpus tokens + OOV,
  // Laplace-smoothed. The log-ratio TABLE is exact-integer-derived
  // (identical counts on both engines feed identical ln() args); only
  // the per-doc sum is order-sensitive, so the oracle recomputes every
  // doc's weight from scratch and accepts within 1e-4 (vs ~1e-12
  // actual drift), with an exact 1:1 row-count guard (every doc gets
  // a weight — no silent drops) and exact n_toks equality.
  // -------------------------------------------------------------------
  def q219DsirWeights(spark: SparkSession, dir: String): DataFrame =
    C.dsirWeights(docs(spark, dir), "doc_id", "text",
        isTarget = col("lang") === "en", vocabN = 512)
      .select(col("id").as("doc_id"), col("n_toks"),
        round(col("weight"), 6).as("w_r"))
      .orderBy(asc("doc_id"))
  val q219Sql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, (lang = 'en') AS tgt,
      |    UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
      |  FROM documents
      |), vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
      |    ORDER BY n DESC, tok LIMIT 512)
      |), bkt AS (
      |  SELECT t.doc_id, t.tgt,
      |    CASE WHEN v.tok IS NOT NULL THEN t.tok ELSE ' OOV ' END AS b
      |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      |), stats AS (
      |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_r,
      |    CAST(COUNT(*) FILTER (tgt) AS BIGINT) AS n_t
      |  FROM bkt GROUP BY b
      |), tot AS (
      |  SELECT CAST(SUM(n_r) AS BIGINT) AS tr, CAST(SUM(n_t) AS BIGINT) AS tt,
      |    CAST(COUNT(*) AS BIGINT) AS nb
      |  FROM stats
      |), ratios AS (
      |  SELECT b, ln(CAST(n_t + 1 AS DOUBLE) / CAST(tt + nb AS DOUBLE))
      |           - ln(CAST(n_r + 1 AS DOUBLE) / CAST(tr + nb AS DOUBLE)) AS lr
      |  FROM stats, tot
      |), w AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks, SUM(c * lr) AS wt
      |  FROM (SELECT doc_id, b, COUNT(*) AS c FROM bkt GROUP BY doc_id, b) j
      |  JOIN ratios USING (b)
      |  GROUP BY doc_id
      |)
      |SELECT g.doc_id, g.n_toks, g.w_r
      |FROM read_parquet('__GRAFT_OUT__/q219_dsir_weights/*.parquet') g
      |JOIN w ON w.doc_id = g.doc_id
      |WHERE ABS(w.wt - g.w_r) < 1e-4 AND g.n_toks = w.n_toks
      |  AND (SELECT COUNT(*) FROM w)
      |    = (SELECT COUNT(*) FROM read_parquet('__GRAFT_OUT__/q219_dsir_weights/*.parquet'))
      |UNION ALL SELECT -1, -1, -1.0 WHERE (SELECT COUNT(*)
      |  FROM read_parquet('__GRAFT_OUT__/q219_dsir_weights/*.parquet')) = 0
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q245: PER-SOURCE KL DIVERGENCE from the corpus unigram mixture —
  // the domain-shift table a data-selection recipe reads before
  // setting mix weights (DSIR q219 is this same geometry read
  // per-document; this is the per-SOURCE summary). Top-512 vocab +
  // OOV, Laplace-smoothed, and EXACT: each bucket's
  // floor(1e9·p·ln(p/q)) is one fixed-shape double expression over
  // exact integer counts, so the per-source sum is an associative
  // int64 fold (the q71 fixed-point-logprob discipline) — hash-gate,
  // no tolerance. Zero-count buckets contribute their smoothed term
  // via the bounded (sources × 513) grid.
  // -------------------------------------------------------------------
  def q245SourceKl(spark: SparkSession, dir: String): DataFrame =
    C.unigramKlFp(docs(spark, dir), "source", "text", vocabN = 512)
      .select(col("s").as("source"), col("n_toks"), col("n_buckets"),
        col("kl_fp"))
      .orderBy(asc("source"))

  val q245Sql: String =
    raw"""WITH toks AS (
      |  SELECT s, tok FROM (
      |    SELECT source AS s, UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != ''
      |), vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
      |    ORDER BY n DESC, tok LIMIT 512)
      |), bkt AS (
      |  SELECT t.s, CASE WHEN v.tok IS NOT NULL THEN t.tok ELSE ' OOV ' END AS b
      |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      |), sb AS (SELECT s, b, CAST(COUNT(*) AS BIGINT) AS c_sb FROM bkt GROUP BY s, b),
      |cb AS (SELECT b, CAST(SUM(c_sb) AS BIGINT) AS c_b FROM sb GROUP BY b),
      |ns AS (SELECT s, CAST(SUM(c_sb) AS BIGINT) AS n_s FROM sb GROUP BY s),
      |tot AS (SELECT CAST(SUM(c_b) AS BIGINT) AS n_tot,
      |  CAST(COUNT(*) AS BIGINT) AS n_b FROM cb),
      |grid AS (
      |  SELECT s, n_s, b, c_b, n_tot, n_b FROM ns CROSS JOIN cb CROSS JOIN tot
      |), f AS (
      |  SELECT g.s, g.n_s, g.n_b, g.c_b, g.n_tot, COALESCE(sb.c_sb, 0) AS c
      |  FROM grid g LEFT JOIN sb ON sb.s = g.s AND sb.b = g.b
      |), terms AS (
      |  SELECT s, n_s,
      |    CAST(FLOOR((1000000000.0
      |        * (CAST(c + 1 AS DOUBLE) / CAST(n_s + n_b AS DOUBLE)))
      |      * LN((CAST(c + 1 AS DOUBLE) / CAST(n_s + n_b AS DOUBLE))
      |        / (CAST(c_b + 1 AS DOUBLE) / CAST(n_tot + n_b AS DOUBLE))))
      |      AS BIGINT) AS t
      |  FROM f
      |)
      |SELECT s AS source, n_s AS n_toks, COUNT(*) AS n_buckets,
      |  CAST(SUM(t) AS BIGINT) AS kl_fp
      |FROM terms GROUP BY 1, 2 ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q246: TOKEN-FREQUENCY GINI per source — the concentration health
  // check that separates "real vocabulary" from "boilerplate stamped
  // out" (complements Zipf-fit q192, which assumes the power law;
  // Gini measures inequality without assuming a shape). Ranks are a
  // total order (count, token), the statistic is all-int64 fixed
  // point — exact bit-replay oracle.
  // -------------------------------------------------------------------
  def q246TokenGini(spark: SparkSession, dir: String): DataFrame =
    C.tokenGiniFx(docs(spark, dir), "source", "text")
      .select(col("s").as("source"), col("n_types"), col("n_toks"),
        col("gini_fx"))
      .orderBy(asc("source"))

  val q246Sql: String =
    raw"""WITH counts AS (
      |  SELECT s, tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT source AS s, UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != '' GROUP BY 1, 2
      |), r AS (
      |  SELECT s, c,
      |    ROW_NUMBER() OVER (PARTITION BY s ORDER BY c, tok) AS i
      |  FROM counts
      |)
      |SELECT s AS source, COUNT(*) AS n_types,
      |  CAST(SUM(c) AS BIGINT) AS n_toks,
      |  (2 * CAST(SUM(i * c) AS BIGINT)
      |    - (COUNT(*) + 1) * CAST(SUM(c) AS BIGINT)) * 1000000
      |    // (COUNT(*) * CAST(SUM(c) AS BIGINT)) AS gini_fx
      |FROM r GROUP BY s ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q247: LENGTH-BUCKETED BATCH FORMATION + pad-waste accounting —
  // the table a trainer reads to pick its bucketing config (HF
  // group_by_length / fairseq bucketing): docs bucket by len div 16,
  // form deterministic 32-row batches within (bucket, hash-shard),
  // each batch pads to its own max. waste_fx is the compute fraction
  // padding burns per bucket. Exact replay oracle: identical hash
  // order, identical windows, all-int64 outputs.
  // -------------------------------------------------------------------
  def q247LengthBatches(spark: SparkSession, dir: String): DataFrame =
    C.lengthBucketBatches(docs(spark, dir), "doc_id",
        size(TA.tokens(col("text"))).cast("long"),
        bucketWidth = 16, batchSize = 32, shards = 8, seed = 77L)
      .groupBy(col("bucket"))
      .agg(sum(col("n_rows")).as("n_docs"), count(lit(1)).as("n_batches"),
        sum(col("sum_len")).as("real_toks"),
        sum(col("max_len") * col("n_rows")).as("padded_toks"))
      .withColumn("waste_fx",
        expr("""CASE WHEN padded_toks = 0 THEN 0L
                ELSE (padded_toks - real_toks) * 1000000L div padded_toks
                END"""))
      .orderBy(asc("bucket"))

  val q247Sql: String =
    raw"""WITH d AS (
      |  SELECT doc_id, CAST(LEN($toksSql) AS BIGINT) AS len FROM documents
      |), base AS (
      |  SELECT doc_id, len, len // 16 AS bucket,
      |    ${C.portableHashSql("doc_id", 77L)} % 8 AS shard,
      |    ${C.portableHashSql("doc_id", 78L)} AS h
      |  FROM d
      |), rn AS (
      |  SELECT bucket, shard, len,
      |    ROW_NUMBER() OVER (PARTITION BY bucket, shard ORDER BY h, doc_id) AS rn
      |  FROM base
      |), b AS (
      |  SELECT bucket, shard, (rn - 1) // 32 AS batch, COUNT(*) AS n_rows,
      |    MAX(len) AS max_len, CAST(SUM(len) AS BIGINT) AS sum_len
      |  FROM rn GROUP BY 1, 2, 3
      |)
      |SELECT bucket, CAST(SUM(n_rows) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_batches,
      |  CAST(SUM(sum_len) AS BIGINT) AS real_toks,
      |  CAST(SUM(max_len * n_rows) AS BIGINT) AS padded_toks,
      |  CASE WHEN CAST(SUM(max_len * n_rows) AS BIGINT) = 0 THEN 0
      |       ELSE (CAST(SUM(max_len * n_rows) AS BIGINT)
      |         - CAST(SUM(sum_len) AS BIGINT)) * 1000000
      |         // CAST(SUM(max_len * n_rows) AS BIGINT) END AS waste_fx
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // q249: EVAL-SIDE contamination report — the table a BENCHMARK owner
  // reads (q57/q83/q120 report the train side: which training docs to
  // drop; this reports which EVAL docs are compromised and how badly):
  // per eval doc, its distinct-5-gram count, how many of those grams
  // leak from ANY training doc, how many distinct training docs touch
  // it, and the contamination fraction in fixed point. An eval doc
  // with contam_fx near 1e6 is memorizable from training data and its
  // score is meaningless — that's the row this table exists to expose.
  // Scale shape: eval grams (1/97 of the corpus) broadcast; the train
  // side streams through the same map-side gram explode as q57 —
  // the corpus never shuffles; only gram MATCHES reach the
  // (eval, train) distinct-count aggregate.
  // -------------------------------------------------------------------
  def q249EvalContamination(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val evalG = C.ngramRows(d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
      .select(col("doc_id").as("eval_id"), col("gram")).distinct()
    val trainG = C.ngramRows(d.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", n = 5)
      .select(col("doc_id").as("train_id"), col("gram")).distinct()
    val hits = trainG.join(broadcast(evalG), Seq("gram"))
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("gram")).as("n_hit_grams"),
        countDistinct(col("train_id")).as("n_train_docs"))
    evalG.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("eval_id"), "left_outer")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
      .withColumn("contam_fx", expr("n_hit_grams * 1000000L div n_grams"))
      .orderBy(asc("eval_id"))
  }

  val q249Sql: String =
    raw"""WITH grams AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(LEN(t) - 4, 1) + 1),
      |    i -> array_to_string(t[i:i+4], ' '))) AS g
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
      |), eval_g AS (
      |  SELECT doc_id AS eval_id, UNNEST(g) AS gram FROM grams
      |  WHERE doc_id % 97 = 0
      |), tot AS (
      |  SELECT eval_id, COUNT(*) AS n_grams FROM eval_g GROUP BY 1
      |), train_g AS (
      |  SELECT doc_id AS train_id, UNNEST(g) AS gram FROM grams
      |  WHERE doc_id % 97 <> 0
      |), h AS (
      |  SELECT eval_id, COUNT(DISTINCT gram) AS n_hit_grams,
      |    COUNT(DISTINCT train_id) AS n_train_docs
      |  FROM eval_g JOIN train_g USING (gram) GROUP BY 1
      |)
      |SELECT t.eval_id, t.n_grams,
      |  COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
      |  COALESCE(h.n_train_docs, 0) AS n_train_docs,
      |  COALESCE(h.n_hit_grams, 0) * 1000000 // t.n_grams AS contam_fx
      |FROM tot t LEFT JOIN h USING (eval_id) ORDER BY eval_id""".stripMargin

  // -------------------------------------------------------------------
  // q250: DETERMINISTIC MLM MASKING SCHEDULE (BERT-style 15% /
  // 80-10-10) — the corruption plan as DATA, decided by (doc_id,
  // position) hash alone so re-runs, backfills and the trainer's own
  // replay all mask the identical positions (a per-run RNG can't be
  // audited after the fact; this table can). Position key =
  // doc_id·4096 + pos (bounds: pos < 4096 tokens/doc and
  // doc_id < 2^63/4096/2654435761 ≈ 8.5·10^5 keep the ORACLE side of
  // the portable hash overflow-free — the binding constraint is
  // DuckDB, which RAISES on the (pid+seed)·2654435761 int64 overflow;
  // Spark wraps harmlessly (the wrap is ≡ mod 2^32) and stays correct
  // far beyond. Shard the id space, or mod pid into [0, 2^32) before
  // the multiply on BOTH sides, past ~8.5e5 docs per shard). Map-only:
  // the explode
  // + two hash expressions ride the scan; one partial-agged fold per
  // doc. sum_masked_pos makes the gate position-exact, not just
  // count-exact.
  // -------------------------------------------------------------------
  def q250MlmMask(spark: SparkSession, dir: String): DataFrame = {
    val t = docs(spark, dir)
      .select(col("doc_id"),
        posexplode(TA.tokens(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val pid = col("doc_id") * lit(4096L) + col("pos")
    val m = pmod(C.portableHash(pid, 301L), lit(100L)) < 15
    val a = pmod(C.portableHash(pid, 302L), lit(10L))
    t.select(col("doc_id"), col("pos").cast("long").as("pos"),
        m.as("m"), a.as("a"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("m") && col("a") < 8, 1L).otherwise(0L)).as("n_mask_tok"),
        sum(when(col("m") && col("a") === 8, 1L).otherwise(0L)).as("n_rand"),
        sum(when(col("m") && col("a") === 9, 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("m"), col("pos")).otherwise(0L)).as("sum_masked_pos"))
      .orderBy(asc("doc_id"))
  }

  val q250Sql: String = {
    val pid = "(doc_id * 4096 + pos)"
    val h1 = C.portableHashSql(pid, 301L)
    val h2 = C.portableHashSql(pid, 302L)
    raw"""WITH toks AS (
      |  SELECT doc_id, t, UNNEST(range(1, LEN(t) + 1)) AS i
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
      |), pos AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos FROM toks
      |  WHERE t[i] != ''
      |), f AS (
      |  SELECT doc_id, pos, ($h1 % 100) < 15 AS m, $h2 % 10 AS a
      |  FROM pos
      |)
      |SELECT doc_id, COUNT(*) AS n_toks,
      |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
      |  CAST(SUM(CASE WHEN m AND a < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_mask_tok,
      |  CAST(SUM(CASE WHEN m AND a = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_rand,
      |  CAST(SUM(CASE WHEN m AND a = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  CAST(SUM(CASE WHEN m THEN pos ELSE 0 END) AS BIGINT) AS sum_masked_pos
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q251: VOCABULARY COVERAGE CURVE — what fraction of token
  // OCCURRENCES the top-K types cover, for K ∈ {100, 1k, 10k}: the
  // table a tokenizer designer reads to size the vocab (the
  // operational complement of Heaps' law q193, which fits growth, and
  // OOV coverage q176, which audits ONE fixed vocab). Ranks are a
  // (count desc, token) total order over the VOCABULARY-sized frame
  // (value-bounded single window, q173 discipline); the 3-way K
  // explode multiplies the vocab frame, not the corpus; everything
  // stays int64 — exact bit-replay gate.
  // -------------------------------------------------------------------
  def q251VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val ranked = docs(spark, dir)
      .select(explode(TA.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("c"), asc("tok"))).cast("long"))
    ranked
      .withColumn("k", explode(lit(Array(100L, 1000L, 10000L))))
      .groupBy(col("k"))
      .agg(sum(when(col("rk") <= col("k"), 1L).otherwise(0L)).as("n_types_used"),
        count(lit(1)).as("n_types"),
        sum(when(col("rk") <= col("k"), col("c")).otherwise(0L)).as("covered_occ"),
        sum(col("c")).as("n_occ"))
      .withColumn("cov_fx", expr("covered_occ * 1000000L div n_occ"))
      .orderBy(asc("k"))
  }

  val q251Sql: String =
    raw"""WITH counts AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != '' GROUP BY tok
      |), r AS (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
      |  FROM counts
      |)
      |SELECT k, CAST(SUM(CASE WHEN rk <= k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_types_used,
      |  COUNT(*) AS n_types,
      |  CAST(SUM(CASE WHEN rk <= k THEN c ELSE 0 END) AS BIGINT) AS covered_occ,
      |  CAST(SUM(c) AS BIGINT) AS n_occ,
      |  CAST(SUM(CASE WHEN rk <= k THEN c ELSE 0 END) AS BIGINT) * 1000000
      |    // CAST(SUM(c) AS BIGINT) AS cov_fx
      |FROM r CROSS JOIN (VALUES (CAST(100 AS BIGINT)), (1000), (10000)) v(k)
      |GROUP BY k ORDER BY k""".stripMargin

  // -------------------------------------------------------------------
  // q259: CROSS-SOURCE QUANTILE NORMALIZATION of quality scores — the
  // full calibration q241's median fence approximates with one point:
  // a raw score (type-token ratio, all-int64 like q241) means
  // different things in different sources, so each (source, score) is
  // remapped to the CORPUS score at the same quantile (what
  // FineWeb-style per-domain calibration does before a single global
  // threshold is applied). EXACT, no floats anywhere: the per-source
  // CDF position converts to a corpus ceil-rank r = ⌈cum_s·n_c/n_s⌉
  // in integer arithmetic, and the lookup "first corpus score whose
  // cumulative count ≥ r" is the AS-OF union trick — corpus rows at
  // integer position cum_c, source rows at position r, one forward
  // first(ignoreNulls) window over the merged DISTINCT-VALUE frame
  // (value-bounded, q173 discipline; no range join, no BNLJ). Output
  // is the distinct (source, score) map — model-sized, the thing a
  // pipeline broadcasts back onto the corpus.
  // -------------------------------------------------------------------
  def q259QuantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val scores = docs(spark, dir)
      .select(col("source"),
        explode(TA.tokens(col("text"))).as("tok"), col("doc_id"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("source"))
      .agg(expr("count(distinct tok) * 1000000L div count(1)").as("score"))
    val srcDist = scores.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum_s", sum(col("n")).over(
        Window.partitionBy(col("source")).orderBy(asc("score"))))
      .withColumn("n_s", sum(col("n")).over(Window.partitionBy(col("source"))))
    val corpDist = scores.groupBy(col("score")).agg(count(lit(1)).as("nc"))
      .withColumn("cum_c", sum(col("nc")).over(Window.orderBy(asc("score"))))
    val nC = corpDist.agg(sum(col("nc")).as("n_c"))
    val srcRows = srcDist.crossJoin(broadcast(nC))
      .select(col("source"), col("score"), col("n"),
        expr("(cum_s * n_c + n_s - 1) div n_s").as("pos"),
        lit(0L).as("tag"), lit(null).cast("long").as("y"))
    val corpRows = corpDist
      .select(lit(null).cast("string").as("source"),
        lit(null).cast("long").as("score"), lit(null).cast("long").as("n"),
        col("cum_c").as("pos"), lit(1L).as("tag"), col("score").as("y"))
    val w = Window.orderBy(asc("pos"), asc("tag"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    srcRows.union(corpRows)
      .withColumn("norm_score", first(col("y"), ignoreNulls = true).over(w))
      .filter(col("tag") === 0)
      .select(col("source"), col("score"), col("n"), col("norm_score"))
      .orderBy(asc("source"), asc("score"))
  }
  val q259Sql: String =
    raw"""WITH scores AS (
      |  SELECT doc_id, source,
      |    (COUNT(DISTINCT tok) * 1000000) // COUNT(*) AS score
      |  FROM (SELECT doc_id, source, UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != '' GROUP BY doc_id, source
      |), sd AS (
      |  SELECT source, score, CAST(COUNT(*) AS BIGINT) AS n FROM scores
      |  GROUP BY 1, 2
      |), sc AS (
      |  SELECT source, score, n,
      |    CAST(SUM(n) OVER (PARTITION BY source ORDER BY score
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s,
      |    CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS n_s
      |  FROM sd
      |), cd AS (
      |  SELECT score, CAST(COUNT(*) AS BIGINT) AS nc FROM scores GROUP BY 1
      |), cc AS (
      |  SELECT score, CAST(SUM(nc) OVER (ORDER BY score
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
      |  FROM cd
      |), nn AS (SELECT CAST(SUM(nc) AS BIGINT) AS n_c FROM cd),
      |u AS (
      |  SELECT source, score, n,
      |    (cum_s * n_c + n_s - 1) // n_s AS pos,
      |    CAST(0 AS BIGINT) AS tag, CAST(NULL AS BIGINT) AS y
      |  FROM sc CROSS JOIN nn
      |  UNION ALL
      |  SELECT NULL, NULL, NULL, cum_c, 1, score FROM cc
      |)
      |SELECT source, score, n,
      |  FIRST_VALUE(y IGNORE NULLS) OVER (ORDER BY pos, tag
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS norm_score
      |FROM u QUALIFY tag = 0
      |ORDER BY source, score""".stripMargin

  // -------------------------------------------------------------------
  // q260: SPLIT-BALANCE AUDIT — is the q59 hash split actually
  // exchangeable, or did it smuggle a distribution shift between
  // train and val? Per top-64 corpus token: the 3-split contingency
  // row with its χ² contribution against the marginal-product
  // expectation (a healthy hash split reads as noise; a systematic
  // token/split association is a broken split or a leaked
  // preprocessing step). EXACT: expectations are fixed-shape doubles
  // over exact int marginals, each cell's χ² term floors to int64
  // before the per-token sum (the q245 discipline). The (token ×
  // split) grid completes zero cells via a LITERAL 3-row split frame
  // (LocalTableScan — PlanLint-bounded) crossed with the LIMIT-bounded
  // token head; everything else partial-aggregates.
  // -------------------------------------------------------------------
  def q260SplitBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = docs(spark, dir)
      .select(C.splitAssign(col("doc_id"), seed = 42L, trainPct = 80,
          valPct = 10).as("split"),
        explode(TA.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(64).select(col("tok"))
    val cells = toks.join(broadcast(top), Seq("tok"))
      .groupBy(col("tok"), col("split")).agg(count(lit(1)).as("o"))
    val splits = Seq("train", "val", "test").toDF("split")
    val grid = top.crossJoin(broadcast(splits))
      .join(cells, Seq("tok", "split"), "left_outer")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val rowT = grid.groupBy(col("tok")).agg(sum(col("o")).as("n_tok"))
    val colT = grid.groupBy(col("split")).agg(sum(col("o")).as("n_split"))
    val tot = grid.agg(sum(col("o")).as("n_all"))
    val e = (col("n_tok").cast("double") * col("n_split")) / col("n_all")
    val term = floor(lit(1000000.0) *
      (((col("o") - e) * (col("o") - e)) / e)).cast("long")
    grid.join(rowT, Seq("tok")).join(colT, Seq("split"))
      .crossJoin(broadcast(tot))
      .select(col("tok"), col("n_tok"), col("split"), col("o"), term.as("t"))
      .groupBy(col("tok"), col("n_tok"))
      .agg(sum(when(col("split") === "train", col("o")).otherwise(0L)).as("o_train"),
        sum(when(col("split") === "val", col("o")).otherwise(0L)).as("o_val"),
        sum(when(col("split") === "test", col("o")).otherwise(0L)).as("o_test"),
        sum(col("t")).as("chi2_fp"))
      .orderBy(asc("tok"))
  }
  val q260Sql: String = {
    val bucket = s"(${C.portableHashSql("doc_id", 42L)} % 100)"
    raw"""WITH toks AS (
      |  SELECT CASE WHEN $bucket < 80 THEN 'train'
      |              WHEN $bucket < 90 THEN 'val'
      |              ELSE 'test' END AS split,
      |    tok
      |  FROM (SELECT doc_id, UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != ''
      |), top AS (
      |  SELECT tok FROM (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
      |                   ORDER BY n DESC, tok LIMIT 64)
      |), cells AS (
      |  SELECT t.tok, t.split, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM toks t JOIN top USING (tok) GROUP BY 1, 2
      |), grid AS (
      |  SELECT top.tok, s.split, COALESCE(c.o, 0) AS o
      |  FROM top CROSS JOIN (VALUES ('train'), ('val'), ('test')) s(split)
      |  LEFT JOIN cells c ON c.tok = top.tok AND c.split = s.split
      |), rt AS (SELECT tok, CAST(SUM(o) AS BIGINT) AS n_tok FROM grid GROUP BY tok),
      |ct AS (SELECT split, CAST(SUM(o) AS BIGINT) AS n_split FROM grid GROUP BY split),
      |tt AS (SELECT CAST(SUM(o) AS BIGINT) AS n_all FROM grid),
      |terms AS (
      |  SELECT g.tok, rt.n_tok, g.split, g.o,
      |    CAST(FLOOR(1000000.0 * (((g.o - (CAST(rt.n_tok AS DOUBLE) * ct.n_split) / tt.n_all)
      |      * (g.o - (CAST(rt.n_tok AS DOUBLE) * ct.n_split) / tt.n_all))
      |      / ((CAST(rt.n_tok AS DOUBLE) * ct.n_split) / tt.n_all))) AS BIGINT) AS t
      |  FROM grid g JOIN rt ON rt.tok = g.tok
      |  JOIN ct ON ct.split = g.split CROSS JOIN tt
      |)
      |SELECT tok, n_tok,
      |  CAST(SUM(CASE WHEN split = 'train' THEN o ELSE 0 END) AS BIGINT) AS o_train,
      |  CAST(SUM(CASE WHEN split = 'val' THEN o ELSE 0 END) AS BIGINT) AS o_val,
      |  CAST(SUM(CASE WHEN split = 'test' THEN o ELSE 0 END) AS BIGINT) AS o_test,
      |  CAST(SUM(t) AS BIGINT) AS chi2_fp
      |FROM terms GROUP BY 1, 2 ORDER BY tok""".stripMargin
  }

  // -------------------------------------------------------------------
  // q270: k-ANONYMITY GENERALIZATION DEPTH (Sweeney 2002) — the
  // privacy audit a user-derived training table needs before release:
  // per customer, the minimal quasi-identifier coarsening level
  // (nation+segment+balance-decile → nation+segment → nation) at
  // which their equivalence class reaches k ≥ 5, plus the class size
  // at that level. Money buckets from exact cents (2-decimal-clean,
  // rule 1) via floor(cents/100000) — identical on both engines
  // including negatives (both floor a double quotient of exact ints).
  // Scale: 3 partial-agged groupBys joined back on QID keys — the
  // record stream never shuffles its payload.
  // -------------------------------------------------------------------
  def q270KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .withColumn("bal_bucket",
        floor(round(col("c_acctbal") * 100).cast("long") / lit(100000.0))
          .cast("long"))
    C.generalizationDepth(cust, "c_custkey",
        Seq(Seq("c_nationkey", "c_mktsegment", "bal_bucket"),
          Seq("c_nationkey", "c_mktsegment"),
          Seq("c_nationkey")),
        kMin = 5)
      .orderBy(asc("c_custkey"))
  }
  val q270Sql: String =
    raw"""WITH c AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CAST(FLOOR(CAST(ROUND(c_acctbal * 100) AS BIGINT) / 100000.0)
      |      AS BIGINT) AS bal_bucket
      |  FROM customer
      |), g0 AS (
      |  SELECT c_nationkey, c_mktsegment, bal_bucket,
      |    CAST(COUNT(*) AS BIGINT) AS k0
      |  FROM c GROUP BY 1, 2, 3
      |), g1 AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS k1
      |  FROM c GROUP BY 1, 2
      |), g2 AS (
      |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS k2 FROM c GROUP BY 1
      |)
      |SELECT c.c_custkey, g0.k0,
      |  CAST(CASE WHEN k0 >= 5 THEN 0 WHEN k1 >= 5 THEN 1
      |            WHEN k2 >= 5 THEN 2 ELSE 3 END AS INT) AS level,
      |  CAST(CASE WHEN k0 >= 5 THEN k0 WHEN k1 >= 5 THEN k1
      |            WHEN k2 >= 5 THEN k2 ELSE 0 END AS BIGINT) AS k_eff
      |FROM c
      |JOIN g0 USING (c_nationkey, c_mktsegment, bal_bucket)
      |JOIN g1 USING (c_nationkey, c_mktsegment)
      |JOIN g2 USING (c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // q271: WATER-FILLING TOKEN BUDGET — max-min fair allocation of a
  // 50% token budget across sources: small sources fully funded,
  // large ones capped at the integer water level, remainder +1 to
  // the first capped sources by name. The capping counterpart of
  // q244's temperature RESCALING and q154's greedy per-doc budget.
  // Exact integer algebra end-to-end (funded-prefix test, div/mod
  // level) — see operators/Curation.waterFillAlloc for the algebra
  // and the lesson-17 note on the source-sized windows.
  // -------------------------------------------------------------------
  def q271WaterFill(spark: SparkSession, dir: String): DataFrame = {
    val sup = docs(spark, dir)
      .select(col("source"), explode(TA.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("source")).agg(count(lit(1)).as("supply"))
    C.waterFillAlloc(sup, "source", "supply", budgetNum = 1L, budgetDen = 2L)
      .orderBy(asc("source"))
  }
  val q271Sql: String =
    raw"""WITH s AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS supply
      |  FROM (SELECT source, UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != '' GROUP BY source
      |), r AS (
      |  SELECT source, supply,
      |    ROW_NUMBER() OVER (ORDER BY supply, source) AS j,
      |    CAST(SUM(supply) OVER (ORDER BY supply, source
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM s
      |), t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(supply) AS BIGINT) // 2 AS b
      |  FROM s
      |), f AS (
      |  SELECT r.*, t.n, t.b,
      |    (cum - supply) + supply * (n - j + 1) <= b AS funded
      |  FROM r CROSS JOIN t
      |), fa AS (
      |  SELECT CAST(COALESCE(SUM(CASE WHEN funded THEN supply END), 0)
      |      AS BIGINT) AS p_funded,
      |    CAST(SUM(CASE WHEN funded THEN 0 ELSE 1 END) AS BIGINT) AS n_capped
      |  FROM f
      |)
      |SELECT source, supply,
      |  CAST(CASE WHEN funded THEN supply
      |    ELSE (b - p_funded) // n_capped
      |      + (CASE WHEN ROW_NUMBER() OVER (PARTITION BY funded
      |               ORDER BY source) <= (b - p_funded) % n_capped
      |         THEN 1 ELSE 0 END)
      |  END AS BIGINT) AS alloc,
      |  NOT funded AS capped
      |FROM f CROSS JOIN fa
      |ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q277: l-DIVERSITY AUDIT (Machanavajjhala et al. 2007) — the
  // homogeneity-attack check on q270's FINEST generalization level:
  // a k-anonymous class still leaks when every member shares one
  // sensitive value. Sensitive attribute here = the customer's order
  // count (behavioral, joined from orders; 0 for order-less
  // customers), quasi-identifiers = (nation, segment, $1000 balance
  // bucket). All counts exact int64; the modal share is ppm integer
  // algebra (no float). Scale: two stacked partial-agged groupBys
  // over domain-bounded frames — see operators/Curation.lDiversityAudit.
  // -------------------------------------------------------------------
  def q277LDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .withColumn("bal_bucket",
        floor(round(col("c_acctbal") * 100).cast("long") / lit(100000.0))
          .cast("long"))
    val ocnt = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val rows = cust
      .join(ocnt, cust("c_custkey") === ocnt("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    C.lDiversityAudit(rows,
        Seq("c_nationkey", "c_mktsegment", "bal_bucket"), "n_orders", lMin = 3)
      .orderBy(asc("c_nationkey"), asc("c_mktsegment"), asc("bal_bucket"))
  }
  val q277Sql: String =
    raw"""WITH oc AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1
      |), r AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(FLOOR(CAST(ROUND(c_acctbal * 100) AS BIGINT) / 100000.0)
      |      AS BIGINT) AS bal_bucket,
      |    COALESCE(oc.n_orders, 0) AS n_orders
      |  FROM customer LEFT JOIN oc ON o_custkey = c_custkey
      |), cells AS (
      |  SELECT c_nationkey, c_mktsegment, bal_bucket, n_orders,
      |    CAST(COUNT(*) AS BIGINT) AS cell_n
      |  FROM r GROUP BY 1, 2, 3, 4
      |)
      |SELECT c_nationkey, c_mktsegment, bal_bucket,
      |  CAST(SUM(cell_n) AS BIGINT) AS class_n,
      |  CAST(COUNT(*) AS BIGINT) AS n_sensitive,
      |  CAST(MAX(cell_n) AS BIGINT) AS top_cnt,
      |  (CAST(MAX(cell_n) AS BIGINT) * 1000000)
      |    // CAST(SUM(cell_n) AS BIGINT) AS top_share_fx,
      |  COUNT(*) >= 3 AS diverse
      |FROM cells GROUP BY 1, 2, 3
      |ORDER BY c_nationkey, c_mktsegment, bal_bucket""".stripMargin

  // -------------------------------------------------------------------
  // q289: t-CLOSENESS audit — the third privacy rung over q277's
  // exact release frame (QID = nation × segment × balance-bucket,
  // sensitive = order count, an ORDERED attribute): per class the
  // ordered-EMD between the class's sensitive distribution and the
  // global one, in the exact common-denominator integral form
  // (cum_c·N − cum_g·n_c), fixed-point div ((m−1)·n_c·N). A class can
  // be k-anonymous AND l-diverse yet leak through skew (all its
  // customers order far more than the population) — this is the rung
  // that catches it. Oracle: identical cells/classes/global-cum/grid
  // CTE algebra in DuckDB, bit-for-bit.
  // -------------------------------------------------------------------
  def q289TCloseness(spark: SparkSession, dir: String): DataFrame = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .withColumn("bal_bucket",
        floor(round(col("c_acctbal") * 100).cast("long") / lit(100000.0))
          .cast("long"))
    val ocnt = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val rows = cust
      .join(ocnt, cust("c_custkey") === ocnt("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    C.tClosenessAudit(rows,
        Seq("c_nationkey", "c_mktsegment", "bal_bucket"), "n_orders",
        tFx = 200000L)
      .orderBy(asc("c_nationkey"), asc("c_mktsegment"), asc("bal_bucket"))
  }
  val q289Sql: String =
    raw"""WITH oc AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1
      |), r AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(FLOOR(CAST(ROUND(c_acctbal * 100) AS BIGINT) / 100000.0)
      |      AS BIGINT) AS bal_bucket,
      |    COALESCE(oc.n_orders, 0) AS n_orders
      |  FROM customer LEFT JOIN oc ON o_custkey = c_custkey
      |), cells AS (
      |  SELECT c_nationkey, c_mktsegment, bal_bucket, n_orders,
      |    CAST(COUNT(*) AS BIGINT) AS cc
      |  FROM r GROUP BY 1, 2, 3, 4
      |), classes AS (
      |  SELECT c_nationkey, c_mktsegment, bal_bucket,
      |    CAST(SUM(cc) AS BIGINT) AS class_n
      |  FROM cells GROUP BY 1, 2, 3
      |), g AS (
      |  SELECT n_orders, CAST(SUM(cc) AS BIGINT) AS gc FROM cells GROUP BY 1
      |), gv AS (
      |  SELECT n_orders,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_orders) AS BIGINT) AS gi,
      |    CAST(SUM(gc) OVER (ORDER BY n_orders
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_g
      |  FROM g
      |), tot AS (SELECT MAX(gi) AS m, MAX(cum_g) AS n_tot FROM gv
      |), cum AS (
      |  SELECT gr.c_nationkey, gr.c_mktsegment, gr.bal_bucket, gr.class_n,
      |    gr.cum_g,
      |    CAST(SUM(COALESCE(ce.cc, 0)) OVER (
      |      PARTITION BY gr.c_nationkey, gr.c_mktsegment, gr.bal_bucket
      |      ORDER BY gr.gi
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_c
      |  FROM (SELECT cl.*, gv.n_orders, gv.gi, gv.cum_g
      |        FROM classes cl CROSS JOIN gv) gr
      |  LEFT JOIN cells ce
      |    ON ce.c_nationkey = gr.c_nationkey
      |    AND ce.c_mktsegment = gr.c_mktsegment
      |    AND ce.bal_bucket = gr.bal_bucket
      |    AND ce.n_orders = gr.n_orders
      |), agg AS (
      |  SELECT c_nationkey, c_mktsegment, bal_bucket, class_n,
      |    (SELECT m FROM tot) AS m,
      |    CAST(SUM(ABS(cum_c * (SELECT n_tot FROM tot)
      |      - cum_g * class_n)) AS BIGINT) AS emd_num,
      |    (SELECT n_tot FROM tot) AS n_tot
      |  FROM cum GROUP BY 1, 2, 3, 4
      |)
      |SELECT c_nationkey, c_mktsegment, bal_bucket, class_n, m, emd_num,
      |  CASE WHEN m > 1
      |    THEN (emd_num * 1000000) // ((m - 1) * class_n * n_tot)
      |    ELSE 0 END AS emd_fx,
      |  (CASE WHEN m > 1
      |    THEN (emd_num * 1000000) // ((m - 1) * class_n * n_tot)
      |    ELSE 0 END) <= 200000 AS tclose
      |FROM agg
      |ORDER BY c_nationkey, c_mktsegment, bal_bucket""".stripMargin

  // -------------------------------------------------------------------
  // q291: GINI DECISION STUMP — the single CART split step (Breiman
  // 1984) as a curation primitive: the best n_chars threshold
  // separating English from non-English documents, i.e. "how much of
  // a quality/language filter is ONE feature worth?" — the baseline
  // every learned filter must beat, and the feature-importance probe
  // for rule-based curation. For every candidate threshold (distinct
  // value, split x ≤ v) the weighted child purity
  // h = ΣcL²/nL + ΣcR²/nR — maximizing h minimizes Gini impurity —
  // from exact int64 cumulative class counts over the value-domain
  // window (q153 discipline); the two divisions and the sum run in
  // double (exact operands < 2^53, identical op order both engines),
  // pinned as floor(h·1e6) with threshold-asc tiebreak. Top-5 splits.
  // -------------------------------------------------------------------
  def q291GiniStump(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("n_chars").as("v"),
        (col("lang") === "en").cast("long").as("y"))
    val vc = d.groupBy(col("v"))
      .agg(count(lit(1)).as("cn"), sum(col("y")).as("cy"))
    val w = Window.orderBy(asc("v")).rowsBetween(Long.MinValue, 0L)
    val tot = d.groupBy().agg(count(lit(1)).as("n"), sum(col("y")).as("ny"))
    val cum = vc
      .select(col("v"), sum(col("cn")).over(w).as("nl"),
        sum(col("cy")).over(w).as("yl"))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("n")) // nR = 0 is not a split
      .select(col("v").as("threshold"), col("nl"), col("yl"),
        (col("n") - col("nl")).as("nr"), (col("ny") - col("yl")).as("yr"))
      .withColumn("score_fx", floor(
        ((col("yl") * col("yl") + (col("nl") - col("yl")) * (col("nl") - col("yl")))
          .cast("double") / col("nl").cast("double")
          + (col("yr") * col("yr") + (col("nr") - col("yr")) * (col("nr") - col("yr")))
          .cast("double") / col("nr").cast("double")) * 1e6).cast("long"))
    val w2 = Window.orderBy(desc("score_fx"), asc("threshold"))
    cum.withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("rank"), col("threshold"), col("nl"), col("yl"),
        col("nr"), col("yr"), col("score_fx"))
      .orderBy(asc("rank"))
  }
  val q291Sql: String =
    """WITH d AS (
      |  SELECT n_chars AS v,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents
      |), vc AS (
      |  SELECT v, CAST(COUNT(*) AS BIGINT) AS cn,
      |    CAST(SUM(y) AS BIGINT) AS cy
      |  FROM d GROUP BY 1
      |), tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS ny
      |  FROM d
      |), cum AS (
      |  SELECT v AS threshold,
      |    CAST(SUM(cn) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
      |    CAST(SUM(cy) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS yl
      |  FROM vc
      |), sp AS (
      |  SELECT threshold, nl, yl,
      |    (SELECT n FROM tot) - nl AS nr, (SELECT ny FROM tot) - yl AS yr
      |  FROM cum WHERE nl < (SELECT n FROM tot)
      |), scored AS (
      |  SELECT threshold, nl, yl, nr, yr,
      |    CAST(FLOOR((CAST(yl * yl + (nl - yl) * (nl - yl) AS DOUBLE)
      |        / CAST(nl AS DOUBLE)
      |      + CAST(yr * yr + (nr - yr) * (nr - yr) AS DOUBLE)
      |        / CAST(nr AS DOUBLE)) * 1000000) AS BIGINT) AS score_fx
      |  FROM sp
      |)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_fx DESC, threshold)
      |    AS BIGINT) AS rank,
      |  threshold, nl, yl, nr, yr, score_fx
      |FROM scored
      |ORDER BY score_fx DESC, threshold LIMIT 5""".stripMargin

  // -------------------------------------------------------------------
  // q292: TOKEN BURSTINESS — Church & Gale's dispersion audit: for the
  // 64 highest-volume tokens, the variance-to-mean ratio of per-doc
  // counts (zeros included). Content words are BURSTY (a doc that
  // mentions them mentions them repeatedly, D ≫ 1) while function
  // words are near-Poisson (D ≈ 1) — a top token with function-word
  // volume but content-word burstiness is the signature of template/
  // boilerplate contamination that plain frequency tables (q26/q66)
  // cannot see. Exact integral form over all-docs moments (zero rows
  // contribute nothing to S or Σx², so per-(doc, token) counts
  // suffice): D_fx = ((n·Σx² − S²)·10^6) div (n·S) — int64 envelope
  // n·Σx²·10^6 ≲ 9·10^18 (clears sf0.1 by ~10^4; per-shard strata or
  // DECIMAL past that).
  // -------------------------------------------------------------------
  def q292Burstiness(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val dt = d.select(col("doc_id"), explode(TA.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("x"))
    val tok = dt.groupBy(col("t"))
      .agg(sum(col("x")).as("total"), sum(col("x") * col("x")).as("sxx"),
        count(lit(1)).as("df"))
    val n = d.groupBy().agg(count(lit(1)).as("n"))
    tok.crossJoin(broadcast(n))
      .withColumn("d_fx",
        expr("((n * sxx - total * total) * 1000000L) div (n * total)"))
      .select(col("t"), col("df"), col("total"), col("d_fx"))
      .orderBy(desc("total"), asc("t")).limit(64)
  }
  val q292Sql: String =
    raw"""WITH dt AS (
      |  SELECT doc_id, tok AS t, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM (SELECT doc_id, UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != '' GROUP BY 1, 2
      |), tok AS (
      |  SELECT t, CAST(SUM(x) AS BIGINT) AS total,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(COUNT(*) AS BIGINT) AS df
      |  FROM dt GROUP BY 1
      |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
      |SELECT t, df, total,
      |  (((SELECT n FROM n) * sxx - total * total) * 1000000)
      |    // ((SELECT n FROM n) * total) AS d_fx
      |FROM tok ORDER BY total DESC, t LIMIT 64""".stripMargin

  // -------------------------------------------------------------------
  // q301: PAIRWISE SOURCE JSD MATRIX — the source-redundancy map next
  // to q245's source-vs-corpus KL column: near-zero JSD pairs are
  // interchangeable feeds (dedup, don't double-weight); high-JSD pairs
  // add genuine diversity. q245's replay conventions throughout
  // (top-64 vocab + OOV, add-one smoothing so no zero branches,
  // per-term floor(1e9·½·p·ln(2p/(p+q))) then exact integer sum,
  // identical operand order both engines).
  // -------------------------------------------------------------------
  def q301SourceJsd(spark: SparkSession, dir: String): DataFrame =
    C.pairwiseJsdFp(docs(spark, dir), "source", "text", vocabN = 64)
      .orderBy(asc("src_a"), asc("src_b"))
  val q301Sql: String =
    raw"""WITH toks AS (
      |  SELECT s, tok FROM (
      |    SELECT source AS s, UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != ''
      |), vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
      |    ORDER BY n DESC, tok LIMIT 64)
      |), bkt AS (
      |  SELECT t.s, CASE WHEN v.tok IS NOT NULL THEN t.tok ELSE ' OOV ' END AS b
      |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      |), sb AS (SELECT s, b, CAST(COUNT(*) AS BIGINT) AS c_sb FROM bkt GROUP BY s, b),
      |cb AS (SELECT DISTINCT b FROM sb),
      |ns AS (SELECT s, CAST(SUM(c_sb) AS BIGINT) AS n_s FROM sb GROUP BY s),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM cb),
      |grid AS (
      |  SELECT a.s AS sa, a.n_s AS na, x.s AS sb, x.n_s AS nb, cb.b,
      |    (SELECT n_b FROM nb) AS n_bkt
      |  FROM ns a JOIN ns x ON a.s < x.s CROSS JOIN cb
      |), f AS (
      |  SELECT g.sa, g.sb, g.na, g.nb,
      |    CAST(COALESCE(ca.c_sb, 0) + 1 AS DOUBLE)
      |      / CAST(g.na + g.n_bkt AS DOUBLE) AS p,
      |    CAST(COALESCE(cx.c_sb, 0) + 1 AS DOUBLE)
      |      / CAST(g.nb + g.n_bkt AS DOUBLE) AS q
      |  FROM grid g
      |  LEFT JOIN sb ca ON ca.s = g.sa AND ca.b = g.b
      |  LEFT JOIN sb cx ON cx.s = g.sb AND cx.b = g.b
      |), terms AS (
      |  SELECT sa, sb, na, nb,
      |    CAST(FLOOR((500000000.0 * p) * LN((p + p) / (p + q))) AS BIGINT)
      |      + CAST(FLOOR((500000000.0 * q) * LN((q + q) / (p + q))) AS BIGINT)
      |      AS t
      |  FROM f
      |)
      |SELECT sa AS src_a, sb AS src_b, na AS n_a, nb AS n_b,
      |  CAST(SUM(t) AS BIGINT) AS jsd_fp
      |FROM terms GROUP BY 1, 2, 3, 4
      |ORDER BY src_a, src_b""".stripMargin

  // -------------------------------------------------------------------
  // q315: INTERPOLATED BIGRAM LM, HELD-OUT — the token-level LM-eval
  // (q312 is its event-level sibling): Jelinek-Mercer interpolation
  // P = 0.8·P_bigram + 0.2·P_unigram(add-one) trained on doc % 7 = 0,
  // eval bigrams scored under the FROZEN model and bucketed by
  // coverage (bigram seen / unigram backoff / OOV — the table that
  // shows WHERE the eval split diverges from train). The add-one
  // unigram keeps P > 0 for OOV, so ln never −∞. Per-distinct-pair
  // floor(ln(P)·1e6) × eval count, exact int sum (the q312/q274
  // convention); identical double op order both engines.
  // -------------------------------------------------------------------
  def q315LmInterpHeldout(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    def bigrams(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("doc_id")).orderBy(asc("pos"))
      df.select(col("doc_id"), posexplode(TA.tokens(col("text"))))
        .withColumnRenamed("col", "tok")
        .filter(col("tok") =!= "")
        .withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("tok").as("a"), col("nxt").as("b"))
    }
    // train on 1/7 of docs (NOT the 97-split: this corpus' vocabulary
    // is small enough that a 96/97 train sees every eval bigram — the
    // backoff branch would be dead code in the gate; 1/7 leaves real
    // unseen pairs at both scales)
    val train = bigrams(d.filter(col("doc_id") % 7 === 0))
    val cab = train.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ca = train.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    val cb = train.groupBy(col("b")).agg(count(lit(1)).as("c_b"))
    val tot = train.groupBy().agg(count(lit(1)).as("n_tr"))
    val vb = train.select(col("b")).distinct()
      .groupBy().agg(count(lit(1)).as("v"))
    val evalB = bigrams(d.filter(col("doc_id") % 7 === 1))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
    val p = lit(0.8) * when(col("c_a").isNotNull,
        coalesce(col("c_ab"), lit(0L)).cast("double") / col("c_a").cast("double"))
        .otherwise(lit(0.0)) +
      lit(0.2) * ((coalesce(col("c_b"), lit(0L)) + 1).cast("double") /
        (col("n_tr") + col("v")).cast("double"))
    evalB
      .join(cab, Seq("a", "b"), "left_outer")
      .join(ca, Seq("a"), "left_outer")
      .join(cb, Seq("b"), "left_outer")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(vb))
      .withColumn("category",
        when(col("c_ab").isNotNull, "bigram")
          .when(col("c_b").isNotNull, "backoff").otherwise("oov"))
      .withColumn("term_fx", floor(log(p) * 1e6).cast("long"))
      .groupBy(col("category"))
      .agg(sum(col("n")).as("n_bigrams"), count(lit(1)).as("n_pairs"),
        sum(col("n") * col("term_fx")).as("ll_fx"))
      .orderBy(asc("category"))
  }
  val q315Sql: String =
    raw"""WITH tk AS (
      |  SELECT doc_id, tok, i
      |  FROM (SELECT doc_id, UNNEST($toksSql) AS tok,
      |          generate_subscripts($toksSql, 1) AS i
      |        FROM documents)
      |  WHERE tok != ''
      |), bg AS (
      |  SELECT doc_id, tok AS a,
      |    LEAD(tok) OVER (PARTITION BY doc_id ORDER BY i) AS b
      |  FROM tk
      |), bb AS (SELECT doc_id, a, b FROM bg WHERE b IS NOT NULL),
      |cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
      |  FROM bb WHERE doc_id % 7 = 0 GROUP BY 1, 2),
      |ca AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS c_a
      |  FROM bb WHERE doc_id % 7 = 0 GROUP BY 1),
      |cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_b
      |  FROM bb WHERE doc_id % 7 = 0 GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tr
      |  FROM bb WHERE doc_id % 7 = 0),
      |vb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS v
      |  FROM bb WHERE doc_id % 7 = 0),
      |ev AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM bb WHERE doc_id % 7 = 1 GROUP BY 1, 2),
      |scored AS (
      |  SELECT CASE WHEN cab.c_ab IS NOT NULL THEN 'bigram'
      |              WHEN cb.c_b IS NOT NULL THEN 'backoff'
      |              ELSE 'oov' END AS category,
      |    ev.n,
      |    CAST(FLOOR(LN(
      |      0.8 * (CASE WHEN ca.c_a IS NOT NULL
      |        THEN CAST(COALESCE(cab.c_ab, 0) AS DOUBLE)
      |          / CAST(ca.c_a AS DOUBLE) ELSE 0.0 END)
      |      + 0.2 * (CAST(COALESCE(cb.c_b, 0) + 1 AS DOUBLE)
      |        / CAST((SELECT n_tr FROM tot) + (SELECT v FROM vb) AS DOUBLE))
      |      ) * 1000000) AS BIGINT) AS term_fx
      |  FROM ev
      |  LEFT JOIN cab ON cab.a = ev.a AND cab.b = ev.b
      |  LEFT JOIN ca ON ca.a = ev.a
      |  LEFT JOIN cb ON cb.b = ev.b
      |)
      |SELECT category, CAST(SUM(n) AS BIGINT) AS n_bigrams,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(n * term_fx) AS BIGINT) AS ll_fx
      |FROM scored GROUP BY 1 ORDER BY category""".stripMargin

  // -------------------------------------------------------------------
  // q317: HILL TAIL-INDEX of the token frequency distribution — the
  // order-statistics power-law exponent estimator (Hill 1975),
  // completing the heavy-tail trio (q192 fits the Zipf slope by
  // regression, q193 measures Heaps growth; Hill reads the tail alone
  // and is the estimator EVT practice actually uses):
  // α̂ = (k−1) / Σ_{i<k} ln(f_i / f_k) over the top-k=64 counts
  // (ties token asc — a total order). Per-term floor(ln·1e6) + exact
  // int sum, α as an integer division of the fixed-point sum.
  // -------------------------------------------------------------------
  def q317HillAlpha(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val top = docs(spark, dir)
      .select(explode(TA.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("tok")).limit(k)
    val fk = top.orderBy(asc("c"), asc("tok")).limit(1)
      .select(col("c").as("f_k"))
    top.crossJoin(broadcast(fk))
      .filter(col("c") > col("f_k")) // the i=k term is ln(1)=0; ties with f_k drop too
      .select(floor(log(col("c").cast("double") / col("f_k").cast("double"))
        * 1e6).cast("long").as("t"), col("f_k"))
      .groupBy(col("f_k"))
      .agg(count(lit(1)).as("n_terms"), sum(col("t")).as("sum_ln_fx"))
      .select(lit(k.toLong).as("k"), col("f_k"), col("n_terms"), col("sum_ln_fx"),
        when(col("sum_ln_fx") > 0,
          expr(s"(${k - 1} * 1000000000000L) div sum_ln_fx")).as("alpha_fx"))
  }
  val q317Sql: String =
    raw"""WITH top AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT UNNEST($toksSql) AS tok FROM documents)
      |  WHERE tok != '' GROUP BY 1
      |  ORDER BY c DESC, tok LIMIT 64
      |), fk AS (
      |  SELECT c AS f_k FROM top ORDER BY c, tok LIMIT 1
      |), terms AS (
      |  SELECT (SELECT f_k FROM fk) AS f_k,
      |    CAST(FLOOR(LN(CAST(c AS DOUBLE)
      |      / CAST((SELECT f_k FROM fk) AS DOUBLE)) * 1000000) AS BIGINT) AS t
      |  FROM top WHERE c > (SELECT f_k FROM fk)
      |)
      |SELECT CAST(64 AS BIGINT) AS k, f_k,
      |  CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  CAST(SUM(t) AS BIGINT) AS sum_ln_fx,
      |  CASE WHEN SUM(t) > 0
      |    THEN (63 * 1000000000000) // CAST(SUM(t) AS BIGINT) END AS alpha_fx
      |FROM terms GROUP BY f_k""".stripMargin

  /** Every query of this module: name → (build function, oracle SQL). */
  val registry: Map[String, Query] = Query.registry(
    "q315_lm_interp_heldout" -> Query(q315LmInterpHeldout, q315Sql),
    "q317_hill_alpha" -> Query(q317HillAlpha, q317Sql),
    "q301_source_jsd" -> Query(q301SourceJsd, q301Sql),
    "q289_t_closeness" -> Query(q289TCloseness, q289Sql),
    "q291_gini_stump" -> Query(q291GiniStump, q291Sql),
    "q292_burstiness" -> Query(q292Burstiness, q292Sql),
    "q277_l_diversity" -> Query(q277LDiversity, q277Sql),
    "q270_k_anonymity" -> Query(q270KAnonymity, q270Sql),
    "q271_water_fill" -> Query(q271WaterFill, q271Sql),
    "q274_wordpiece" -> Query(q274Wordpiece, q274Sql),
    "q281_wordpiece_heldout" -> Query(q281WordpieceHeldout, q281Sql),
    "q282_wordpiece_fertility" -> Query(q282WordpieceFertility, q282Sql),
    "q260_split_balance" -> Query(q260SplitBalance, q260Sql),
    "q259_quantile_normalize" -> Query(q259QuantileNormalize, q259Sql),
    "q251_vocab_coverage" -> Query(q251VocabCoverage, q251Sql),
    "q250_mlm_mask" -> Query(q250MlmMask, q250Sql),
    "q249_eval_contamination" -> Query(q249EvalContamination, q249Sql),
    "q245_source_kl" -> Query(q245SourceKl, q245Sql),
    "q246_token_gini" -> Query(q246TokenGini, q246Sql),
    "q247_length_batches" -> Query(q247LengthBatches, q247Sql),
    "q227_winnow" -> Query(q227Winnow, q227Sql),
    "q228_winnow_pairs" -> Query(q228WinnowPairs, q228Sql),
    "q233_pair_alignment" -> Query(q233PairAlignment, q233Sql),
    "q219_dsir_weights" -> Query(q219DsirWeights, q219Sql),
    "q224_bpe_heldout" -> Query(q224BpeHeldout, q224Sql),
    "q235_bpe_fertility" -> Query(q235BpeFertility, q235Sql),
    "q238_code_switch" -> Query(q238CodeSwitch, q238Sql),
    "q215_extent_strip" -> Query(q215ExtentStrip, q215Sql),
    "q216_bpe_vocab" -> Query(q216BpeVocab, q216Sql),
    "q213_bpe_merges" -> Query(q213BpeMerges, q213Sql),
    "q262_unigram_rounds" -> Query(q262UnigramRounds, q262Sql),
    "q263_unigram_heldout" -> Query(q263UnigramHeldout, q263Sql),
    "q265_unigram_fertility" -> Query(q265UnigramFertility, q265Sql),
    "q267_tokenizer_agreement" -> Query(q267TokenizerAgreement, q267Sql),
    "q212_repeated_extents" -> Query(q212RepeatedExtents, q212Sql),
    "q209_report_card" -> Query(q209ReportCard, q209Sql),
    "q207_skipgram_pairs" -> Query(q207SkipgramPairs, q207Sql),
    "q204_naive_bayes" -> Query(q204NaiveBayes, q204Sql),
    "q192_zipf_fit" -> Query(q192ZipfFit, q192Sql),
    "q193_heaps_law" -> Query(q193HeapsLaw, q193Sql),
    "q196_ngram_novelty" -> Query(q196NgramNovelty, q196Sql),
    "q189_collocations" -> Query(q189Collocations, q189Sql),
    "q186_interleave_schedule" -> Query(q186InterleaveSchedule, q186Sql),
    "q176_oov_coverage" -> Query(q176OovCoverage, q176Sql),
    "q158_token_entropy" -> Query(q158TokenEntropy, q158Sql),
    "q241_domain_quality_filter" -> Query(q241DomainQualityFilter, q241Sql),
    "q154_token_budget" -> Query(q154TokenBudget, q154Sql),
    "q145_constraint_audit" -> Query(q145ConstraintAudit, q145Sql),
    "q108_truncate_tokens" -> Query(q108TruncateTokens, q108Sql),
    "q85_boilerplate" -> Query(q85Boilerplate, q85Sql),
    "q86_chunk_dedup" -> Query(q86ChunkDedup, q86Sql),
    "q83_bloom_decontaminate" -> Query(q83BloomDecontaminate, q57Sql), // identical output by design
    // identical output by design
    "q187_bloom_union_decontaminate" -> Query(q187BloomUnionDecontaminate, q57Sql),
    "q57_decontaminate" -> Query(q57Decontaminate, q57Sql),
    "q58_repetition" -> Query(q58Repetition, q58Sql),
    "q59_hash_split" -> Query(q59HashSplit, q59Sql),
    "q60_pack_sequences" -> Query(q60PackSequences, q60Sql),
    "q61_pii_redact" -> Query(q61PiiRedact, q61Sql),
    "q62_curation_funnel" -> Query(q62CurationFunnel, q62Sql),
    "q63_order_shuffle" -> Query(q63OrderShuffle, q63Sql),
    "q111_quality_quantile" -> Query(q111QualityQuantile, q111Sql),
    "q118_chunk_sliding" -> Query(q118ChunkSliding, q118Sql),
    "q120_fuzzy_decontaminate" -> Query(q120FuzzyDecontaminate, q120Sql))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.builds(registry)
}
