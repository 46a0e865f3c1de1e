package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, language identification, document
  * fingerprinting. All pure `Column` expressions (codegen-friendly, no
  * UDFs) so they run inside whole-stage codegen and scale to 100 TB as
  * embarrassingly-parallel map work — zero shuffles.
  *
  * The reference engine has no scalar function library at all
  * (SURVEY.md §2.9 — its expression language is 4 arithmetic ops,
  * reference: src/dataframe.rs:105-111), so this module is
  * beyond-reference surface built on org.apache.spark.sql.functions.
  */
object TextAnalysis {

  /** Whitespace tokenization (the "BPE-ish" regex variant below). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword-boundary tokenization: splits on whitespace AND
    * punctuation boundaries, keeping punctuation runs as tokens —
    * `\w+|[^\w\s]+` extraction via regexp_extract_all.
    */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[\\w]+|[^\\w\\s]+"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def uniqueTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  def charCount(text: Column): Column = length(text).cast("long")

  /** Mean token length (chars excluding whitespace / token count). */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") / tokenCount(text)

  /** Type-token ratio — lexical diversity. */
  def tokenDiversity(text: Column): Column =
    uniqueTokenCount(text).cast("double") / tokenCount(text)

  // Public high-frequency stopword markers per language (standard
  // published stopword lists, truncated to the strongest markers).
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "ein", "auf", "nicht", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pour", "dans", "que", "une", "sur"),
    "es" -> Seq("el", "los", "y", "es", "para", "con", "una", "del", "por", "como"))

  /** Count of tokens (with repetition) drawn from a marker list. */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(tokens(text), t => array_contains(arr, t))).cast("long")
  }

  def stopwordRatio(text: Column, words: Seq[String]): Column =
    stopwordHits(text, words).cast("double") / tokenCount(text)

  /** CJK character ratio — detects Chinese/Japanese/Korean script. */
  def cjkRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", "")))
      .cast("double") / length(text)

  /** Heuristic language ID: per-language stopword hit counts + CJK
    * script detection; argmax via struct `greatest` — on tied hit
    * counts the alphabetically-last language code wins
    * (deterministic); 'und' (undetermined) when no marker fires.
    * Pure expression tree — distributed map, no shuffle.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(arr, t))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*) // lexicographic struct max: (hits, lang)
    when(cjkRatio(text) > lit(0.3), lit("zh"))
      .when(best.getField("hits") > lit(0), best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: length, stopword density and
    * lexical diversity — the classic cheap pre-filters for training
    * data. Pure double arithmetic (deterministic on any engine).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(lit(1.0), charCount(text).cast("double") / lit(500.0))
    val stopScore = least(lit(1.0), stopwordRatio(text, stopwords("en")) * lit(3.0))
    val divScore = tokenDiversity(text)
    lit(0.4) * lenScore + lit(0.3) * stopScore + lit(0.3) * divScore
  }

  /** 64-bit document fingerprint: xxhash64 over the
    * whitespace-normalized text — the distributed form of a rolling
    * content hash (two docs differing only in whitespace collide on
    * purpose). Collision probability at 10^12 docs ~ 10^-7.
    */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(trim(text), "\\s+", " "))

  /** Shingle fingerprints: xxhash64 of each k-word shingle — the unit
    * of MinHash dedup (see [[Dedup]]). */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val idx = sequence(lit(1), greatest(n - lit(k - 1), lit(1)))
    transform(idx, i => xxhash64(array_join(slice(toks, i, lit(k)), " ")))
  }
}
