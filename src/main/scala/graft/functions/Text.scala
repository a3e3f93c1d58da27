package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ArrayUnion, Cast, Divide, Expression, Size}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.DoubleType

/** Text-analysis column functions for large-scale corpus pipelines:
  * tokenization, word-shingling, language-ID heuristic, quality scoring,
  * token counting. All are built-in-expression compositions (codegen'd, no
  * UDFs) and every formula is mirrorable in ANSI-ish SQL for the oracle.
  */
object Text {

  /** Whitespace tokens. `split` on a literal space matches the corpus
    * format (single-space-joined words).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword-count proxy: number of matches of a word/number/punct
    * regex — a cheap, deterministic stand-in for a real tokenizer's token
    * count (regexp_count is codegen'd; no external vocab needed).
    */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))

  /** Word n-gram shingles as space-joined strings. Documents shorter than n
    * tokens yield an empty array (guarded — Spark's `sequence` would
    * otherwise count backwards for negative spans).
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = tokens(text)
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Set-Jaccard similarity of two array columns:
    * |a ∩ b| / |a ∪ b| (set semantics — input duplicates don't count).
    * Built-in codegen'd expressions only; null/empty arrays yield null
    * (excluded by any threshold comparison). This EXACT composition is what
    * [[graft.plans.SimilarityJoinRewrite]] pattern-matches in a join
    * condition, so `a.join(b, jaccardSim(...) >= t)` plans as a bucketed
    * equality join — keep threshold predicates on this function rather
    * than a hand-rolled variant.
    */
  def jaccardSim(a: Column, b: Column): Column =
    GraftBridge.column(jaccard(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** The expression behind [[jaccardSim]] and the SQL `graft_jaccard`.
    * MODERN size-of-null semantics are baked into both sizes whatever the
    * session's legacy conf: a null array scores NULL, where legacy
    * `size(NULL) = -1` would score it -1/-1 = 1.0 against everything. That
    * is both the saner score and what keeps the rewrite sound on nullable
    * array columns.
    */
  private[graft] def jaccard(a: Expression, b: Expression): Expression =
    Divide(
      Cast(Size(ArrayIntersect(a, b), legacySizeOfNull = false), DoubleType),
      Cast(Size(ArrayUnion(a, b), legacySizeOfNull = false), DoubleType))

  /** PII patterns for [[redactPii]]/[[piiCounts]], applied in declaration
    * order (email before IP before phone before bare digit runs — later
    * patterns must not see text the earlier ones already own). Regex syntax
    * is kept to the Java ∩ RE2 common subset (character classes, bounded
    * repetition — no lookaround, no backrefs) so the DuckDB oracle and any
    * RE2-based scanner behave identically.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+?[0-9]{1,3}-[0-9]{2,4}-[0-9]{3,4}-[0-9]{4}", "<PHONE>"),
    ("number", "[0-9]{9,}", "<NUM>"))

  /** Redact PII in place: every [[PiiPatterns]] match replaced by its typed
    * placeholder, in declaration order. Pure map-side codegen'd
    * `regexp_replace` chain — the pre-release scrubbing pass every
    * training-data pipeline runs; swap patterns per policy.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, re, rep)) =>
      regexp_replace(c, re, rep)
    }

  /** Per-pattern PII match counts over the ORIGINAL text (independent
    * counts — redaction order doesn't affect them), for audit columns and
    * drop-if-too-dense policies.
    */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (n, re, _) =>
      s"n_$n" -> regexp_count(text, lit(re)).cast("long")
    }

  /** Per-language stopword tables for the n-gram language-ID heuristic.
    * Order matters: it is the deterministic tiebreak.
    */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language-ID: argmax over per-language stopword hit counts; ties (and
    * zero hits everywhere) resolve to the earliest language in
    * [[LangStopwords]] order. Deterministic and SQL-mirrorable; a production
    * version would swap in character-n-gram profiles, same plan shape.
    *
    * Shape: ONE array of (score, -index, lang) structs + `array_max` (struct
    * ordering = score, then earliest declared language on ties). Each score
    * expression appears exactly once — the earlier strict-greater `when`
    * fold duplicated every score subtree at every step, re-tokenizing the
    * document ~2^|langs| times per row (the same CollapseProject
    * inlining trap PERF.md documents for minhash).
    */
  def langId(text: Column): Column = {
    val w = tokens(text)
    val cands = LangStopwords.zipWithIndex.map { case ((lang, sw), i) =>
      struct(
        size(filter(w, t => t.isin(sw.map(x => x: Any): _*))).as("score"),
        lit(-i).as("neg_idx"),
        lit(lang).as("lang"))
    }
    array_max(array(cands: _*)).getField("lang")
  }

  /** Repetition metrics (Gopher-style quality filters, Rae et al. 2021
    * §A1.1): fraction of duplicated words / bigrams / trigrams per
    * document. High values flag boilerplate and generation loops — the
    * standard pre-training removal signals. Pure map-side expressions
    * (one pass, no shuffle); each metric re-derives its n-gram array twice
    * (distinct + total) which is a constant factor, not the exponential
    * `when`-fold trap documented for langId.
    */
  def repetitionMetrics(text: Column): Seq[(String, Column)] = {
    val w = tokens(text)
    // no `when` guard: a conditional branch would block Spark's
    // subexpression elimination from sharing the (expensive) array builds
    // across the project list. Division by a zero total yields null in
    // non-ANSI mode; coalesce maps the empty case to 0.0.
    def frac(distinctCount: Column, total: Column): Column =
      round(coalesce(lit(1.0) - distinctCount.cast("double") / total,
        lit(0.0)), 6)
    // n-grams as zipped slices (structs), NOT concat'd strings: the
    // distinct count is identical, and no per-element string is ever
    // allocated. Totals come from arithmetic on size(w) — only the
    // distinct side needs an array at all. (First measured as concat_ws
    // shingle arrays re-evaluated under a `when`: 9.5 s at sf0.1; this
    // shape is ~20×.)
    val len2 = greatest(size(w) - 1, lit(0))
    val len3 = greatest(size(w) - 2, lit(0))
    val bigrams = arrays_zip(slice(w, lit(1), len2), slice(w, lit(2), len2))
    val trigrams = arrays_zip(slice(w, lit(1), len3), slice(w, lit(2), len3),
      slice(w, lit(3), len3))
    Seq(
      "n_words" -> size(w).cast("long"),
      "dup_word_frac" -> frac(size(array_distinct(w)), size(w)),
      "dup_bigram_frac" -> frac(size(array_distinct(bigrams)), len2),
      "dup_trigram_frac" -> frac(size(array_distinct(trigrams)), len3))
  }

  /** Quality metrics + a composite score in [0,1]:
    * length sweet-spot, punctuation ratio, stopword ratio, mean word length.
    * Weights are arbitrary but pinned; the score exists to be filtered on.
    */
  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val w = tokens(text)
    val nTok = size(w).cast("long")
    val nChars = length(text).cast("long")
    val punct = regexp_count(text, lit("[^a-zA-Z0-9\\s]")).cast("double")
    val stop = size(filter(w, t =>
      t.isin("the", "a", "of", "and", "to", "is", "in"))).cast("double")
    val meanLen = round((nChars - (nTok - 1)).cast("double") / nTok, 4)
    val lenScore = when(nTok.between(20, 400), 1.0)
      .when(nTok < 20, nTok.cast("double") / 20)
      .otherwise(lit(400.0) / nTok)
    val punctRatio = round(punct / nChars, 6)
    val stopRatio = round(stop / nTok, 6)
    val score = round(
      lenScore * 0.5
        + when(stopRatio.between(0.05, 0.6), 0.3).otherwise(0.0)
        + when(punctRatio <= 0.1, 0.2).otherwise(0.0), 4)
    Seq(
      "n_tokens" -> nTok,
      "mean_word_len" -> meanLen,
      "punct_ratio" -> punctRatio,
      "stopword_ratio" -> stopRatio,
      "quality_score" -> score)
  }

  /** Pinned-weight linear quality model over [[qualityMetrics]] — the
    * single definition behind the batch q69 gate AND the streaming filter
    * (both must score identically, and the oracle mirrors this exact
    * left-to-right IEEE chain). Stateless, so it runs unchanged under
    * Structured Streaming.
    */
  def modelScore(text: Column): Column = {
    val m = qualityMetrics(text).toMap
    val lenFeat = least(m("n_tokens"), lit(400L)).cast("double") / 400.0
    round(
      m("quality_score") * 1.2 + lenFeat * 0.8
        - m("punct_ratio") * 0.9 - m("stopword_ratio") * 0.4 - 0.5, 6)
  }
}
