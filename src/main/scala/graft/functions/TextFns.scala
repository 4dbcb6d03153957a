package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data-pipeline layer (builder
  * brief: language-ID, quality scoring, token counting, fingerprinting, shingling).
  * Everything here is a pure Catalyst expression tree (`functions._` + higher-order
  * functions) — no UDFs, so whole-stage codegen applies and the DuckDB oracle can
  * mirror the arithmetic exactly.
  */
object TextFns {

  /** Canonical text form: lowercase, trimmed, whitespace collapsed to single spaces.
    * The normalization step of exact dedup (reference analog: the reference dedups by
    * primary key only — `README.md:217`; content normalization is our extension). */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** [[normalize]] with a provable non-null output (null text → ""). Use this
    * form whenever the normalized text (or something derived from it) becomes
    * a JOIN KEY: with a nullable key expression, Catalyst's constraint
    * inference plants `isnotnull(<whole normalize tree>)` filters that
    * re-derive the regex pipeline several more times per row — measured 3.5x
    * on the sf0.1 edit-distance bench. `coalesce(_, "")` makes the key
    * non-nullable, so no constraint filters are generated at all. */
  def normalizeNonNull(text: Column): Column = coalesce(normalize(text), lit(""))

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  /** BPE-ish token count: letter-runs, digit-runs, and single punctuation marks each
    * count as one token (a cheap stand-in for a real subword tokenizer that matches
    * the common ~`\w+|[^\w\s]` pre-tokenizer split). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Word n-gram shingles from a PRE-MATERIALIZED token-array column.
    * Callers must bind the token array in its own projection first
    * (`df.select(tokens(col).as("toks")).select(shinglesFromTokens(col("toks"), n))`):
    * `toks` is referenced once per gram index here, and CollapseProject will not
    * inline a non-cheap alias referenced more than once — so the tokenization runs
    * once per row. Passing `tokens(text)` directly instead re-tokenizes the document
    * once PER GRAM (measured 12x slower on the sf0.1 dedup bench).
    * Empty result when the document has fewer than n tokens. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** LSH banding of a MinHash signature: (band, bucket-hash) structs, to be exploded
    * and equi-joined. bands×rows must equal the signature length. */
  def minhashBands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(slice(sig, b * rows + 1, lit(rows)), b).as("bucket")))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** First `digits` hex digits of md5 as a non-negative long — the
    * ORACLE-REPRODUCIBLE hash key (DuckDB: `CAST(('0x' || substr(md5(x), 1,
    * digits)) AS BIGINT)`). 15 digits = 60 bits (winnowing selection keys,
    * where hash ORDER must match across engines); 13 digits = 52 bits (rank
    * keys that must stay exact inside a double score). ONE definition for
    * every site — a digit-count drift between a persisted fingerprint table
    * and its streaming prober would silently match nothing. */
  def md5PrefixLong(c: Column, digits: Int): Column = {
    require(digits >= 1 && digits <= 15, s"md5 prefix must be 1..15 hex digits, got $digits")
    conv(substring(md5(c), 1, digits), 16, 10).cast("long")
  }

  /** Deterministic document fingerprint: polynomial rolling hash
    * `h = (h*31 + code) mod 1e9+7` over the character codes of the ASCII-normalized
    * text — native O(n) byte loop ([[RollingHashExpr]]; the per-index
    * `ascii(substring(clean, i, 1))` HOF it replaces re-walked the string per
    * character, O(n²) per document). Oracle-expressible (DuckDB `list_reduce`
    * over `ascii()` codes — identical because the cleaned text is pure ASCII);
    * products stay < 2^63 so the arithmetic is exact in both engines. */
  def fingerprint(text: Column): Column =
    RollingHashExpr.rollingHash(regexp_replace(normalize(text), "[^a-z0-9 ]", ""))

  /** Single-pass 64-bit fingerprint (xxhash64 of the normalized text) — the scale
    * path; not oracle-comparable (engine-specific hash), used by dedup internals.
    * Built on [[normalizeNonNull]]: fingerprints regularly become JOIN KEYS
    * (incremental dedup, curation fp grouping), where a nullable key expression
    * makes constraint inference replant the whole regex pipeline as isnotnull
    * filters. Null text therefore fingerprints as the empty document — the same
    * grouping exactDedup's groupBy(norm) gives null texts. */
  def fastFingerprint(text: Column): Column = xxhash64(normalizeNonNull(text))

  /** Small fixed marker-word lists for heuristic language ID. Deliberately tiny —
    * the point is the operator shape (argmax over per-language token-hit scores),
    * not linguistic accuracy. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Number of tokens of `text` that appear in `markers` (non-distinct). */
  def markerHits(text: Column, markers: Seq[String]): Column =
    markerHitsFromTokens(tokens(text), markers)

  /** [[markerHits]] over a pre-materialized token array — bind the tokens once
    * when scoring several marker lists (each call re-tokenizing `text` would
    * normalize the document once per language). Native hashed-set kernel
    * ([[MarkerHitsExpr]]) — the HOF `size(filter(...))` form it replaces did
    * markers-count interpreted string equalities per token and dominated the
    * 1M-doc curation smoke. */
  def markerHitsFromTokens(toks: Column, markers: Seq[String]): Column =
    MarkerHitsExpr.markerHits(toks, markers)

  /** Heuristic language ID: argmax of marker-hit scores with a fixed precedence
    * order (en > de > es > fr) for ties; "und" (undetermined) when no marker hits. */
  def predictLang(text: Column): Column = {
    val scores = langMarkers.map { case (l, ms) => l -> markerHits(text, ms) }
    argmaxLang(scores)
  }

  /** [[predictLang]] over a pre-materialized token array (one tokenize per row). */
  def predictLangFromTokens(toks: Column): Column =
    argmaxLang(langMarkers.map { case (l, ms) => l -> markerHitsFromTokens(toks, ms) })

  private def argmaxLang(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, s), elseCol) =>
      when(best > 0 && s === best, lit(l)).otherwise(elseCol)
    }
  }
}
