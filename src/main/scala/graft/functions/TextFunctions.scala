package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}

/** Text-analysis Column library for large-scale training-data pipelines:
  * tokenization, language ID (marker-word n-gram heuristic), quality
  * scoring, and document fingerprinting.
  *
  * Everything here is a pure `Column` composition over Spark built-ins
  * (split / higher-order filter / md5 ...), so it stays inside whole-stage
  * codegen and scales linearly with no shuffle of its own — the shuffle
  * profile is decided by the queries that aggregate these columns.
  */
object TextFunctions {

  /** Whitespace tokenization; trim first so trailing blanks don't produce
    * empty tokens (the driver's document texts end with a space).
    */
  def tokens(text: Column): Column = F.split(F.trim(text), "\\s+")

  def tokenCount(text: Column): Column = F.size(tokens(text))

  /** GPT-2-style BPE pre-tokenization pattern, simplified to constructs
    * java.util.regex and RE2 share (no lookaround, ordered alternation):
    * a run of letters, digits, or punctuation, each optionally taking one
    * preceding space. Splits "v2.0!" into [" v","2",".","0","!"] where
    * whitespace tokenization sees one token — the unit a subword
    * tokenizer would budget against.
    */
  val bpePattern: String = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** Subword pre-tokens as array<string> (codegen'd, narrow). */
  def bpeTokens(text: Column): Column =
    F.regexp_extract_all(text, F.lit(bpePattern), F.lit(0))

  /** Token count under [[bpePattern]] — the second token-counting mode a
    * training pipeline needs beside whitespace [[tokenCount]] (sequence
    * budgets are set in subword tokens, not words).
    */
  def bpeTokenCount(text: Column): Column = F.size(bpeTokens(text))

  /** Word n-gram shingles as an array<string>, distinct. Empty for docs
    * shorter than n tokens (guard: sequence() on a negative range would
    * produce a descending sequence, not an empty one).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val w = tokens(text)
    val idx = F.sequence(F.lit(0), F.size(w) - n)
    val grams = F.transform(idx, i => F.concat_ws(" ", F.slice(w, i + 1, F.lit(n))))
    F.array_distinct(F.when(F.size(w) >= n, grams).otherwise(F.array()))
  }

  /** Marker-word sets per language (common function words — public
    * linguistic knowledge). Used by the n-gram-heuristic language ID.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "in", "to"),
    "es" -> Seq("el", "la", "los", "las", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "des", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "zh" -> Seq("的", "是", "了", "在"))

  /** Hits of a marker set in the token array (occurrences, not distinct). */
  def markerHits(text: Column, markers: Seq[String]): Column =
    F.size(F.filter(tokens(text), t => t.isin(markers.map(x => x: Any): _*)))

  /** Heuristic language ID: argmax of marker-set hits with a fixed
    * priority order for ties; "und" when nothing matches.
    */
  def langId(text: Column): Column = {
    val hits = langMarkers.map { case (lang, m) => lang -> markerHits(text, m) }
    val maxHits = hits.map(_._2).reduce((a, b) => F.greatest(a, b))
    hits.foldRight(F.lit("und"): Column) { case ((lang, h), els) =>
      F.when(h === maxHits && h > 0, lang).otherwise(els)
    }
  }

  def punctRatio(text: Column): Column =
    F.length(F.regexp_replace(text, "[^.,!?;:]", "")).cast("double") /
      F.length(text)

  /** Ratio of English stopwords among tokens — the classic fasttext-style
    * quality signal for web-scraped corpora.
    */
  def stopwordRatio(text: Column): Column =
    markerHits(text, langMarkers.head._2).cast("double") / tokenCount(text)

  /** Composite quality score in [0,1]: length saturation + low punctuation
    * + stopword density (shape follows published quality-filter heuristics
    * for LLM corpora: C4/Gopher-style rules).
    *
    * Deliberately UNROUNDED: every term is plain IEEE-754 arithmetic over
    * exact integer counts, so any engine evaluating the same expression
    * tree produces the bit-identical double — decisions (thresholds,
    * ordering, sampling weights) made on the raw value are engine-portable.
    * Decimal `round(x, d)` is NOT: synthetic corpora produce raw scores
    * that are exact binary fractions sitting precisely on decimal half-way
    * boundaries (0.7703125, 0.8171875, ...), where Spark's HALF_UP and
    * another engine's rounding diverge. Payloads that get hashed for
    * comparison should go through [[scaledLong]] instead.
    */
  def qualityScore(text: Column): Column =
    F.least(tokenCount(text) / F.lit(20.0), F.lit(1.0)) * 0.4 +
      (F.lit(1.0) - punctRatio(text)) * 0.3 +
      F.least(stopwordRatio(text) * 5.0, F.lit(1.0)) * 0.3

  /** Byte-level compression-ratio quality signal — wraps the native
    * codegen expression [[graft.plans.DeflateRatioExpression]] (injected
    * by [[graft.plans.GraftExtensions]]). Low ratios
    * mark repetitive/templated text the word-level filters miss; gate
    * with a length floor (short strings report overhead-dominated
    * ratios > 1). Spec-gated — no SQL-engine analog exists.
    */
  def deflateRatio(text: Column): Column =
    F.call_function("deflate_ratio", text)

  /** Engine-exact fixed-point projection: `floor(x·10^digits + 0.5)` as a
    * BIGINT. Unlike decimal `round`, `floor` has no tie-breaking mode —
    * given the bit-identical input double (which portable expressions
    * produce, see [[qualityScore]]), every engine computes the identical
    * long. DuckDB twin: `CAST(floor(x * 1e<digits> + 0.5) AS BIGINT)`.
    * Non-negative inputs only (floor(x+0.5) rounds half toward +inf).
    */
  def scaledLong(x: Column, digits: Int): Column =
    F.floor(x * F.lit(math.pow(10, digits)) + F.lit(0.5)).cast("long")

  /** Exact integer floor-division for non-negative longs: `(a - a%b)/b`.
    * `a - a%b` is divisible by `b`, so the double quotient Spark produces
    * for `/` on longs is the true integer whenever it is below 2^53 —
    * no rounding step that an engine could take differently. DuckDB twin:
    * the `//` operator. Null when `b` is 0 (Spark `%` semantics).
    */
  def exactDiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** Fixed-point micro-quality in [0, 1_000_000] computed ENTIRELY in
    * integer arithmetic — the comparison-payload twin of [[qualityScore]].
    *
    * Round 7 proved that even `floor(raw·1e6 + 0.5)` over the raw double
    * is not engine-portable: the synthetic corpus produces raw scores
    * sitting exactly on half-micro boundaries (0.7703125 = 770312.5 µ),
    * where a one-ULP difference in how another engine's expression
    * pipeline associates the three-term sum flips the floor. No function
    * of a multi-op double is safe at a discontinuity the data actually
    * hits; integers have no ULPs. Each [[qualityScore]] term is scaled to
    * micro-units and floor-divided:
    *
    *   min(ntok/20, 1)·0.4  →  least(ntok · 20000, 400000)
    *   (1 − punct/len)·0.3  →  300000 − (punct · 300000) div len
    *   min(5·stop/ntok,1)·0.3 → least((stop · 1500000) div ntok, 300000)
    *
    * Within 2 µ of `scaledLong(qualityScore(text), 6)` (the two divisions
    * floor instead of rounding at the end) and identical on every engine.
    * DuckDB twin: same three terms with `//`.
    */
  def qualityMicro(text: Column): Column = {
    val ntok  = tokenCount(text).cast("long")
    // length floored at 1: an empty text would divide by zero, where
    // Spark's `%` yields NULL but DuckDB's `//` raises a hard error —
    // the one edge that would break the "identical on every engine"
    // contract (ntok needs no guard: split("") yields [""], size 1).
    // punct = 0 on empty text, so the term correctly reads 300000.
    val len   = F.greatest(F.length(text).cast("long"), F.lit(1L))
    val punct = F.length(F.regexp_replace(text, "[^.,!?;:]", "")).cast("long")
    val stop  = markerHits(text, langMarkers.head._2).cast("long")
    F.least(ntok * F.lit(20000L), F.lit(400000L)) +
      (F.lit(300000L) - exactDiv(punct * F.lit(300000L), len)) +
      F.least(exactDiv(stop * F.lit(1500000L), ntok), F.lit(300000L))
  }

  /** Unicode NFC normalization — wraps the native codegen expression
    * [[graft.plans.NfcNormalizeExpression]] (injected by
    * [[graft.plans.GraftExtensions]]). DuckDB
    * twin: `nfc_normalize(text)` — NFC is defined by the Unicode
    * standard, so conformant engines produce identical bytes.
    */
  def nfcNormalize(text: Column): Column =
    F.call_function("nfc_normalize", text)

  /** Canonical text normalization for dedup keys / equality joins:
    * NFC-compose → control chars to spaces → collapse space runs → trim
    * → lowercase. Every step is engine-portable byte-for-byte (NFC is
    * standard-defined; the regex classes are explicit ASCII ranges valid
    * in both java.util.regex and RE2 — `\s` is NOT portable: Java's
    * includes U+000B, RE2's doesn't). DuckDB twin:
    * `lower(trim(regexp_replace(regexp_replace(nfc_normalize(t),
    * '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')))`.
    */
  def normalizeText(text: Column): Column =
    F.lower(F.trim(
      F.regexp_replace(
        F.regexp_replace(nfcNormalize(text), "[\\x00-\\x1f\\x7f]", " "),
        " +", " ")))

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set. Equal for bag-of-words-identical documents.
    */
  def contentFingerprint(text: Column): Column =
    F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))

  /** Order-sensitive fingerprint of the first n tokens — the cheap
    * prefix-dedup key (near-dup docs share long prefixes).
    */
  def prefixFingerprint(text: Column, n: Int): Column =
    F.md5(F.concat_ws(" ", F.slice(tokens(text), 1, n)))

  /** 60-bit engine-portable hash: the first 15 hex chars of md5, read as
    * an integer. Slower than xxhash64 but computable bit-for-bit in any
    * engine with md5 (DuckDB: `CAST('0x' || substr(md5(x), 1, 15) AS
    * BIGINT)`), which makes hash-family-dependent operators (SimHash,
    * rolling fingerprints) oracle-checkable end to end instead of
    * rows-only. 15 chars keep the value inside a signed 64-bit long in
    * both dialects (DuckDB's 1<<63 shift overflows, so bit 63 is never
    * used).
    */
  def portableHash64(c: Column): Column =
    F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

  /** Polynomial rolling hash over the token stream (base-31 fold of a
    * per-token hash, mod 1e9+7 so ANSI-mode long arithmetic cannot
    * overflow) — a true streaming fingerprint. The token-hash family is
    * pluggable: xxhash64 (default, fastest) for production pipelines,
    * [[portableHash64]] for the oracle-checked query twin (DuckDB folds
    * the same values with `list_reduce`).
    */
  def rollingHash(text: Column,
      tokenHash: Column => Column = c => F.xxhash64(c)): Column = {
    val p = F.lit(1000000007L)
    F.aggregate(
      tokens(text),
      F.lit(0L),
      (acc, t) => F.pmod(acc * 31L + F.pmod(tokenHash(t), p), p))
  }
}
