package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text analysis operators for training-data curation — language ID,
 * quality scoring, token counting, document fingerprinting. All pure
 * column expressions (codegen'd, engine-portable for the DuckDB oracles).
 */
object TextAnalysis {

  /**
   * Engine-portable 4-decimal rounding: floor(x·10⁴ + 0.5)/10⁴ as pure IEEE
   * double ops — bit-identical across engines, unlike `round(double)` whose
   * tie-breaking differs between Spark (shortest-decimal HALF_UP) and
   * C-style scaled rounding. Used where nested rounding makes exact-.5
   * ties common.
   */
  def pround4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0

  /** The analyzer's raw word split: case-folded, split on non-word runs,
    * "" boundary artifacts kept — what the native kernels take (they drop
    * the empties themselves). Every tokenizer below starts here. */
  def words(c: Column): Column = split(lower(c), "\\W+")

  /**
   * THE parity-critical word tokenizer: [[words]] with empties dropped —
   * mirrored by every oracle's `SparkEntry.toksSql`. Operators that
   * deliberately tokenize differently (the whitespace [[wsToks]] family,
   * e.g. [[Curation.tokenChunks]]) do NOT use this helper, which is what
   * makes the variant visible.
   *
   * Implemented as `array_remove(..., "")` rather than the equivalent
   * `filter(..., t => t =!= "")`: split emits no null elements, so the two
   * are value-identical, but ArrayFilter is a CodegenFallback higher-order
   * function (interpreted per row, evicting the tokenize projection from
   * whole-stage codegen in EVERY tokenize scan) while ArrayRemove compiles
   * into the stage (guide §4.1: prefer built-ins with codegen).
   */
  def toks(c: Column): Column = array_remove(words(c), "")

  /** Word-token count of [[toks]] as a long (0 for token-less text). */
  def wordCount(c: Column): Column = size(toks(c)).cast("long")

  /** Whitespace tokens, empties dropped (oracle twin `SparkEntry.wsToksSql`). */
  def wsToks(c: Column): Column = array_remove(split(c, "\\s+"), "")

  /** The driver-side twin of [[toks]] for query text: the same analyzer
    * applied to a literal, so query and document meet in one token space. */
  def queryToks(q: String): Seq[String] =
    q.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq

  /** The content-hash coin: the first 15 hex chars of an md5 hex `digest`
    * as a non-negative long, mod `m` — deterministic, partitioning-free and
    * engine-portable (oracle twin `SparkEntry.md5ModSql`; driver twin
    * `graft.functions.Md5Prefix`). Callers build their own salted key. */
  def md5Mod(digest: Column, m: Long): Column =
    pmod(conv(substring(digest, 1, 15), 16, 10).cast("long"), lit(m))

  /**
   * Heuristic language ID: presence of high-frequency function words per
   * language, first match wins (en → de → fr → es), else "und". A real
   * n-gram model is a broadcast lookup of n-gram→lang weights; the CASE
   * cascade here keeps the decision fully declarative and testable.
   */
  def langId(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    def any(words: String*) = words.map(w => t.contains(s" $w ")).reduce(_ || _)
    when(text.isNull, "und")
      .when(any("the", "and", "of", "with"), "en")
      .when(any("der", "die", "und", "nicht"), "de")
      .when(any("le", "la", "les", "est"), "fr")
      .when(any("el", "los", "las", "es"), "es")
      .otherwise("und")
  }

  /** Whitespace token count (0 for empty/blank). */
  def tokenCount(text: Column): Column = size(wsToks(text))

  /**
   * BPE-ish subword-precursor token count: word chunks and single
   * punctuation marks counted separately (`\w+` | single non-space
   * non-word), the usual pre-tokenization regex shape.
   */
  def bpeishTokenCount(text: Column): Column =
    size(array_remove(array_remove(split(text, "(?<=\\W)|(?=\\W)"), ""), " "))

  /** Ratio of non-alphanumeric-non-space chars to length (0 for empty). */
  def punctRatio(text: Column): Column =
    // regexp_count of the complement class == length after deleting
    // [\w\s] (one char per match, same ASCII \w), without allocating the
    // replaced copy per row
    when(length(text) === 0, 0.0).otherwise(
      pround4(regexp_count(text, lit("[^\\w\\s]")).cast("double")
        / length(text)))

  /** Ratio of tokens that are English stopwords. Counted with one
    * codegen'd `regexp_count`: `\b` is exactly the `\w`/`\W` transition
    * the tokenizer splits on, so `\b(stop|...)\b` matches precisely the
    * whole-token occurrences the former (interpreted, CodegenFallback)
    * `filter(toks, isin)` counted. */
  def stopwordRatio(text: Column): Column = {
    val stopRe =
      "\\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\\b"
    val ts = toks(text)
    when(size(ts) === 0, 0.0).otherwise(
      pround4(regexp_count(lower(text), lit(stopRe)).cast("double")
        / size(ts)))
  }

  /**
   * Composite quality score ∈ [0,1]: favors mid-length documents with low
   * punctuation noise and a natural stopword rate — the usual heuristic
   * pre-filter before model-based quality scoring.
   *   0.4·min(len/500,1) + 0.3·(1−punctRatio) + 0.3·min(stopRatio/0.4,1)
   */
  def qualityScore(text: Column): Column =
    when(text.isNull || length(text) === 0, 0.0).otherwise(
      pround4(
        lit(0.4) * least(length(text) / 500.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - punctRatio(text)) +
        lit(0.3) * least(stopwordRatio(text) / 0.4, lit(1.0))))

  /**
   * Unicode-script composition profile — the multilingual-crawl triage
   * signal (a "de"-labeled page that is 90% Han characters is
   * mislabeled; a Latin page with a Cyrillic spam injection shows a
   * mixed profile): fractions of non-whitespace characters in Latin /
   * Cyrillic / Han / Arabic scripts plus ASCII digits, 4dp. Counting is
   * length-difference after deleting the class — scan-local codegen
   * regexps, zero shuffles. Script property NAMES differ between
   * engines (Java `\p{IsLatin}` vs RE2 `\p{Latin}`) but the property is
   * the same Unicode standard, so the oracle mirrors with RE2 names.
   * Both engines count CODEPOINTS for BMP text (supplementary-plane
   * characters — emoji — would diverge UTF-16 vs codepoint counting;
   * out of scope, documented).
   */
  def scriptProfile(text: Column): Column = {
    val compact = regexp_replace(text, "\\s+", "")
    val total = length(compact)
    def frac(cls: String) = pround4(
      when(total === 0, 0.0).otherwise(
        (total - length(regexp_replace(compact, cls, "")))
          .cast("double") / total))
    struct(
      total.cast("long").as("n_chars"),
      frac("\\p{IsLatin}").as("latin_frac"),
      frac("\\p{IsCyrillic}").as("cyrillic_frac"),
      frac("\\p{IsHan}").as("han_frac"),
      frac("\\p{IsArabic}").as("arabic_frac"),
      frac("[0-9]").as("digit_frac"))
  }

  /**
   * Document fingerprint: md5 of the whitespace-normalized, case-folded
   * text — the canonical-form content hash used for near-exact dedup
   * (robust to whitespace/case-only edits).
   */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /**
   * Text normalization scrub — the pre-tokenization cleanup every web
   * pipeline runs: CRLF→LF, control characters stripped (tab and newline
   * survive as structure), space/tab runs collapsed to one space, 3+
   * blank lines bounded to one blank line, outer spaces trimmed. Four
   * chained codegen'd regexp_replace passes, scan-local, and every regex
   * is RE2-portable so the identical chain runs on the oracle side.
   * Deliberately NOT Unicode-normalizing (NFC/NFKC): the engines'
   * normalizer tables differ by ICU version, which would make the output
   * engine-dependent — byte-level scrubbing is the portable subset.
   */
  def normalizeText(text: Column): Column = {
    val lf = regexp_replace(text, "\\r\\n?", "\n")
    val noCtl = regexp_replace(lf, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val oneSpace = regexp_replace(noCtl, "[ \\t]+", " ")
    val boundedNl = regexp_replace(oneSpace, "\\n{3,}", "\n\n")
    trim(boundedNl)
  }
}
