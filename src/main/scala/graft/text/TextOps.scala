package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines —
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Everything is pure `Column` expressions (codegen'd, no UDFs), so the
  * operators stay inside whole-stage codegen and scale linearly with no
  * shuffle: each is a narrow map over the documents table.
  */
object TextOps {

  /** Whitespace tokenization. `\s+` split matches the common convention
    * and DuckDB's `string_split_regex` for oracle parity. */
  def tokens(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column =
    when(length(text) === 0, 0).otherwise(size(tokens(text)))

  def distinctTokenCount(text: Column): Column =
    when(length(text) === 0, 0).otherwise(size(array_distinct(tokens(text))))

  /** Word n-grams over a token array: element i is the space-joined
    * window `toks[i..i+n-1]`; fewer than `n` tokens → empty array (NOT
    * null — callers explode/measure it directly; NULL toks also yield
    * empty, the old `when` guard's contract, via the coalesce). DuckDB
    * parity: `list_transform(generate_series(1, len(w)-(n-1)), i ->
    * array_to_string(w[i:i+(n-1)], ' '))`. Backed by the native
    * codegen'd [[graft.functions.Ngrams]] — the interpreted HOF spelling
    * (the test-scope `ParityReferences.ngramsHof`) paid a lambda frame +
    * slice copy per gram per row on every corpus pass (r18 opt). */
  def ngrams(toks: Column, n: Int): Column =
    coalesce(graft.functions.NativeFunctions.ngrams(toks, n),
      array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))

  /** A BPE-ish subword proxy: count of alternating letter/digit boundary
    * splits — `\w+`-runs rather than whitespace tokens. */
  def wordishCount(text: Column): Column =
    size(filter(split(text, "[^A-Za-z0-9]+"), c => length(c) > 0))

  private val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

  def stopwordCount(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    stopwordCountOf(tokens(text), stopwords)

  /** Token-array variant: use when a `toks` column is already materialized
    * so the regex split runs once per row, not once per consuming
    * expression (interpreted higher-order functions get no common-
    * subexpression elimination — re-splitting per language score was a
    * measured ~4× slowdown on the composed pipeline). */
  def stopwordCountOf(toks: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val stops = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(stops, t)))
  }

  /** Empty-text-aware token count over a materialized token array:
    * `split("", …)` yields `[""]` on both engines, which must count 0
    * (the DuckDB-oracle `CASE WHEN length(text)=0` contract). */
  def tokenCountOf(toks: Column): Column =
    when(size(toks) === 1 && element_at(toks, 1) === "", 0).otherwise(size(toks))

  def distinctTokenCountOf(toks: Column): Column = {
    val d = array_distinct(toks)
    when(size(d) === 1 && element_at(d, 1) === "", 0).otherwise(size(d))
  }

  /** Quality signals in the style of Gopher/C4 heuristic filters: length,
    * mean token length, stopword ratio, type-token ratio. All ratios are
    * DOUBLE with an identical operation order on Spark and DuckDB. */
  def qualityColumns(text: Column): Seq[(String, Column)] =
    qualityColumnsOf(text, tokens(text))

  /** Tokenize-once variant: every signal reads the `toks` attribute, so
    * the regex split runs once per row when `toks` is a materialized
    * column (see [[stopwordCountOf]]). */
  def qualityColumnsOf(text: Column, toks: Column): Seq[(String, Column)] = {
    val nTokI = tokenCountOf(toks)
    val nTok = nTokI.cast(DoubleType)
    val nChar = length(text).cast(DoubleType)
    Seq(
      "n_tokens" -> nTokI,
      "n_distinct_tokens" -> distinctTokenCountOf(toks),
      "mean_token_len" -> when(nTokI > 0, nChar / nTok).otherwise(0.0),
      "stopword_ratio" -> when(nTokI > 0,
        stopwordCountOf(toks).cast(DoubleType) / nTok).otherwise(0.0),
      "type_token_ratio" -> when(nTokI > 0,
        distinctTokenCountOf(toks).cast(DoubleType) / nTok).otherwise(0.0))
  }

  /** Language-marker token lists for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny: language ID at 100 TB is a scoring
    * problem, not a model problem — each language's score is one
    * codegen'd filter+size over the token array. */
  val languageMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def languageScore(text: Column, lang: String): Column =
    stopwordCount(text, languageMarkers(lang))

  def languageScoreOf(toks: Column, lang: String): Column =
    stopwordCountOf(toks, languageMarkers(lang))

  /** Predicted language = argmax of marker scores with a deterministic
    * alphabetical tiebreak; "und" (undetermined) when all scores are 0. */
  def languageId(text: Column): Column = languageIdOf(tokens(text))

  /** Token-array variant of [[languageId]] (see [[stopwordCountOf]]).
    * Backed by the native codegen'd [[graft.functions.LangId]] — the
    * fold spelling (`ParityReferences.languageIdOfHof`) paid 5
    * interpreted filter passes over the token array per row (r18 opt);
    * the coalesce keeps the old NULL-toks contract ("und", not NULL). */
  def languageIdOf(toks: Column): Column =
    coalesce(graft.functions.NativeFunctions.langId(toks), lit("und"))

  /** Canonical normalization for fingerprinting: lowercase, strip
    * non-alphanumerics, collapse whitespace. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** 128-bit content fingerprint (hex md5 of normalized text). */
  def fingerprintMd5(text: Column): Column = md5(normalized(text))

  /** 60-bit integer fingerprint: first 15 hex digits of the md5 → BIGINT.
    * Parity contract: DuckDB `CAST('0x' || substr(md5(t),1,15) AS BIGINT)`. */
  def fingerprint64(text: Column): Column =
    conv(substring(fingerprintMd5(text), 1, 15), 16, 10).cast(LongType)

  /** Stable 60-bit hash of an arbitrary string expression (md5-based so
    * any engine can reproduce it — unlike Murmur3 `hash()`). */
  def stableHash64(e: Column): Column =
    conv(substring(md5(e), 1, 15), 16, 10).cast(LongType)
}
