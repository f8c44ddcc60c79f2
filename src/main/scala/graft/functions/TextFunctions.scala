package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Text-analysis column functions for large-scale training-data curation:
  * tokenization, shingling, language-ID heuristics, quality scoring,
  * fingerprinting. All pure Catalyst expressions (codegen'd, no UDFs) so
  * they vectorize over a 100 TB `documents` scan and push through Catalyst
  * untouched. The reference reserves this growth area
  * (common/text/Text_README.md:3 is an intentional placeholder).
  */
object TextFunctions {

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Distinct character n-grams; texts shorter than n collapse to [text].
    * One-pass native kernel ([[graft.plans.CharNgrams]]); `n` must be
    * >= 1. */
  def charShingles(text: Column, n: Int): Column =
    charNgrams(text, n, distinct = true)

  /** ALL character n-grams in order (duplicates kept) — the LM-training
    * extraction. */
  def charNgrams(text: Column, n: Int, distinct: Boolean): Column =
    ColumnBridge.column(graft.plans.CharNgrams(ColumnBridge.expression(text), n, distinct))

  /** Distinct word n-grams (space-joined); short docs collapse to the
    * whole-token join. One-pass native kernel ([[graft.plans.WordNgrams]]);
    * `n` must be >= 1. */
  def wordShingles(text: Column, n: Int): Column =
    wordNgrams(text, n, distinct = true)

  /** Word n-grams with occurrence control: `distinct = false` keeps every
    * occurrence in order (duplicate-n-gram-fraction counting), `true`
    * gives the shingle SET form. */
  def wordNgrams(text: Column, n: Int, distinct: Boolean): Column =
    ColumnBridge.column(graft.plans.WordNgrams(ColumnBridge.expression(text), n, distinct))

  /** Fraction of the tokens in `ts` found in `words` (0.0 for empty
    * docs). Takes an already-materialized token column — pipelines that
    * need several token-derived metrics tokenize ONCE and pass the column
    * (tokenization dominates the per-metric cost). */
  def wordlistRatioTokens(ts: Column, words: Seq[String]): Column = {
    val n = size(ts)
    val k = size(filter(ts, t => t.isin(words: _*)))
    when(n > 0, k.cast("double") / n.cast("double")).otherwise(lit(0.0))
  }

  /** Fraction of characters outside [a-z0-9 ] (punctuation-ish). */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, "[a-z0-9 ]", "")).cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))

  /** English function words used by the language-ID / quality heuristics. */
  val enStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  /** n-gram-free language-ID heuristic: stopword-density thresholding
    * (the cheap first-pass LID of large corpus pipelines). */
  def langIdHeuristic(text: Column, threshold: Double = 0.08): Column =
    langIdHeuristicTokens(tokens(text), threshold)

  /** [[langIdHeuristic]] over a materialized token column. */
  def langIdHeuristicTokens(ts: Column, threshold: Double = 0.08): Column =
    when(wordlistRatioTokens(ts, enStopwords) >= threshold, lit("en")).otherwise(lit("und"))

  /** Composite quality score in [0,1]: length saturation + cleanliness +
    * stopword density (rounded for cross-engine determinism). */
  def qualityScore(text: Column): Column =
    qualityScoreTokens(text, tokens(text))

  /** [[qualityScore]] with the token column supplied (tokenize once). */
  def qualityScoreTokens(text: Column, ts: Column): Column =
    round(
      least(lit(1.0), size(ts).cast("double") / 100.0) * 0.4 +
      (lit(1.0) - punctRatio(text)) * 0.3 +
      wordlistRatioTokens(ts, enStopwords) * 0.3, 6)

  /** Email-shaped substrings (conservative syntax shared by Java regex and
    * RE2, so Spark and the DuckDB oracle mask identically). */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** PII scrub: mask emails then 4+-digit runs (ids, phones, SSNs).
    * Order matters — emails first, so their digits don't get part-masked. */
  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      "[0-9]{4,}", "<NUM>")

  /** Deterministic hash bucket in [0, mod): first 8 md5 hex chars of
    * `salt:id` as an integer, mod `mod`. Salted so re-bucketing with a new
    * salt is decorrelated from the old assignment; stable across engines
    * (md5 of the same bytes everywhere) and across reruns — the property
    * any sampling/split decision must have at 100 TB, where a random()
    * draw is irreproducible. */
  def hashBucket(id: Column, salt: String, mod: Int): Column =
    conv(substring(md5(concat(lit(salt + ":"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % mod

  /** Deterministic split bucket in [0, 100) — see [[hashBucket]]. */
  def splitBucket(id: Column, salt: String): Column =
    hashBucket(id, salt, 100)

  /** Train/val/test assignment from [[splitBucket]]. */
  def splitAssign(id: Column, salt: String, trainPct: Int, valPct: Int): Column = {
    val b = splitBucket(id, salt)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Token repetition ratio: 1 − distinct/total tokens (0.0 for empty).
    * High values flag boilerplate/spam — a standard corpus quality gate. */
  def repetitionRatio(text: Column): Column =
    repetitionRatioTokens(tokens(text))

  /** [[repetitionRatio]] over a materialized token column. */
  def repetitionRatioTokens(ts: Column): Column = {
    val n = size(ts)
    when(n > 0,
      round(lit(1.0) - size(array_distinct(ts)).cast("double") / n.cast("double"), 6))
      .otherwise(lit(0.0))
  }

  /** Unicode NFC normalization ([[graft.plans.NormalizeNfc]] native
    * kernel — ASCII rows pass through untouched). There is no declarative
    * Catalyst formulation of canonical composition, so this is
    * unconditionally the native expression. */
  def normalizeNfc(text: Column): Column =
    ColumnBridge.column(graft.plans.NormalizeNfc(ColumnBridge.expression(text)))

  /** URL canonicalization for crawl-corpus dedup: drop the fragment,
    * strip utm_* tracking params (non-leading globally; a leading ?utm
    * with a successor promotes it to "?"; a lone trailing ?utm drops),
    * collapse the default :443 port, trim one trailing slash, lowercase
    * ONLY scheme+host (path/query stay case-sensitive). Pure regex chain
    * — Spark's regexp_replace is always GLOBAL, so a replaying engine
    * must pass its global flag on EVERY rule (DuckDB: 'g'), not just the
    * ones expected to match twice. Known residual divergence: Java's '$'
    * also matches before a final '\n' while RE2's does not, so a URL
    * with a trailing newline can canonicalize differently — strip
    * control characters upstream if the input may contain them. */
  def canonicalizeUrl(url: Column): Column = {
    val canon =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(url, "#.*$", ""),
                "&utm_[a-z]+=[^&#]*", ""),
              "\\?utm_[a-z]+=[^&#]*&", "?"),
            "\\?utm_[a-z]+=[^&#]*$", ""),
          "^(https?://[^/]+):443(/|$)", "$1$2"),
        "(.)/$", "$1")
    concat(
      lower(regexp_extract(canon, "^(https?://[^/]+)", 1)),
      regexp_extract(canon, "^https?://[^/]+(.*)$", 1))
  }

  /** Deterministic document fingerprint: position-weighted codepoint sum
    * (weight cycles 1..64). Order-sensitive — reordered text changes the
    * fingerprint — yet exactly reproducible in any engine. One-pass native
    * kernel ([[graft.plans.Fingerprint64]]). */
  def fingerprint(text: Column): Column =
    ColumnBridge.column(graft.plans.Fingerprint64(ColumnBridge.expression(text)))
}
