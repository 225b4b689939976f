package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by lexical search, dedup, and text analysis.
  *
  * Tokenizer semantics mirror the reference's keyword extraction:
  * `[A-Za-z0-9_]{2,}` casefolded with order-preserving dedup
  * (reference: vector_mcp/vectordb/epistemic_graph.py:55, :324-326).
  *
  * Everything here is a built-in-function composition (regexp_extract_all,
  * transform, aggregate, ...) so it stays codegen'd and — critically for the
  * oracle — is expressible 1:1 in ANSI/DuckDB SQL.
  */
object TextFunctions {

  /** Token pattern — identical byte-for-byte in Spark (Java regex) and
    * DuckDB (RE2): no lookaround, no classes that differ between dialects.
    * Input is lowercased first so the pattern itself needs no case classes.
    */
  val TokenPattern = "[a-z0-9_]{2,}"

  /** All tokens of `text`, casefolded, in order (with repeats — TF source). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  /** Distinct query terms, order-preserving (epistemic_graph.py:324-326). */
  def distinctTokens(text: Column): Column =
    array_distinct(tokens(text))

  /** BPE-style pre-tokenizer pattern (the GPT-2 shape: contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs)
    * restricted to constructs Java regex and RE2 share — no lookahead
    * (RE2 has none), ASCII classes only (no unicode-table drift), input
    * lowercased first. Counting these approximates LLM token counts far
    * better than whitespace words on code/punctuation-heavy text.
    */
  val BpeTokenPattern = "'(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"

  /** BPE-ish pre-tokens of `text`, in order (token-count source). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(BpeTokenPattern), lit(0))

  /** Term frequency of `term` within the token array. */
  def tf(toks: Column, term: Column): Column =
    size(filter(toks, t => t === term))

  /** Word n-gram shingles over the token array (for MinHash / Jaccard).
    * n consecutive tokens joined by a single space; documents shorter than
    * n tokens yield an empty array.
    *
    * PERFORMANCE CAVEAT: `toks` is a free subtree inside the lambda, so
    * interpreted HOF evaluation re-evaluates it for every element_at — if
    * `toks` is the regex tokenizer this multiplies the regex by 3*|shingles|
    * per row. Use ONLY with a materialized token column; for pipelines use
    * the explode-based [[graft.dedup.Dedup.shingleRows]] instead.
    */
  def shingles(toks: Column, n: Int): Column =
    // native expression, NOT the when+transform column form: the CASE-
    // guarded HOF re-inlined the tokenizer into the guard condition and
    // the lambda (no CSE on CodegenFallback), re-tokenizing per shingle —
    // measured 9.5 s vs 2.4 s (pre-guard) vs ~1 s (native) on
    // q_decontaminate at sf0.1. Same semantics: distinct first-occurrence
    // n-gram strings, empty below n tokens (the short-doc guard lives
    // inside the expression, so no malformed row can fail the job).
    TextExpressions.wordShingles(toks, n)

  /** Stable 32-bit string hash with a DuckDB-expressible definition:
    * first 8 hex chars of md5, parsed as an unsigned 32-bit integer.
    * (DuckDB: `('0x' || substr(md5(s),1,8))::BIGINT`.)
    * Used wherever the oracle must reproduce hash values exactly —
    * engine-internal-only hashing (e.g. MinHash permutation inputs when no
    * oracle replays them) may use the faster xxhash64 instead.
    */
  def stableHash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Second independent stable 32-bit hash: md5 hex chars 9..16.
    * (DuckDB: `('0x' || substr(md5(s),9,8))::BIGINT`.) Pairs with
    * [[stableHash32]] to build 64-bit fingerprints whose arithmetic stays
    * inside SIGNED 64-bit range in both engines — a single 64-bit unsigned
    * parse would overflow BIGINT on either side.
    */
  def stableHash32b(s: Column): Column =
    conv(substring(md5(s), 9, 8), 16, 10).cast("long")

  /** MinHash modulus: signature entry j is min over shingles of
    * (a_j * h + b_j) mod p with h = stableHash32(shingle).
    * p = 1e9+7 keeps a*h < 2^63 (a,b < p, h < 2^32).
    */
  val MinHashP = 1000000007L

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Canonical text normalization — the pre-tokenize cleanup pass a
    * crawl pipeline applies: lowercase, control characters to spaces,
    * whitespace runs collapsed to one space, ends trimmed. RE2-safe and
    * byte-deterministic on both engines (Unicode NFC normalization has no
    * Spark built-in and is documented out of scope — inputs here are the
    * tokenizer's ASCII domain).
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[\\x00-\\x1F\\x7F]", " "), "\\s+", " "))

  private val nfcUdf = udf((s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))

  /** [[normalizeText]] plus Unicode NFC composition — the multilingual
    * variant: composed ("é") and decomposed ("e"+U+0301) spellings of the
    * same text unify, so dedup digests and lexical matches stop splitting
    * on byte-level encoding accidents. A UDF because Spark has no NFC
    * built-in (`java.text.Normalizer` is the JDK's ICU-free implementation;
    * DuckDB's `nfc_normalize` is the oracle mirror); runs after the ASCII
    * canonicalization so the regex pipeline stays codegen'd.
    */
  def normalizeTextNfc(c: Column): Column = nfcUdf(normalizeText(c))

  /** Rolling polynomial fingerprint over the token stream:
    * h = fold(0, tokens)((acc, t) => (acc * 31 + stableHash32(t)) mod p).
    * Order-sensitive — two docs with the same bag of words but different
    * order fingerprint differently (unlike MinHash).
    */
  def fingerprint(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) =>
      (acc * 31 + stableHash32(t)) % lit(MinHashP))

  /** English stopword list used by the language-ID heuristic and quality
    * score. Deliberately tiny and fixed: the heuristic is
    * "stopword-density", the classic cheap lang-ID signal.
    */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "in", "and", "is", "it", "that",
    "for", "on", "as", "with", "be", "by", "at", "or", "this")

  /** Fraction of tokens that are English stopwords (0 when no tokens). */
  def stopwordRatio(toks: Column): Column = {
    val stops = array(EnglishStopwords.map(lit): _*)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(array_intersect_count(toks, stops)).cast("double") / size(toks))
  }

  // array of tokens that are stopwords, repeats preserved (filter, not intersect)
  private def array_intersect_count(toks: Column, stops: Column): Column =
    filter(toks, t => array_contains(stops, t))

  /** Heuristic language ID: English if stopword density clears a threshold.
    * (The reference has no lang-ID; this is the pipeline-extension operator —
    * n-gram/stopword density heuristic per the classic approach.)
    */
  def langIdEn(toks: Column, threshold: Double = 0.05): Column =
    when(stopwordRatio(toks) >= threshold, lit("en")).otherwise(lit("unknown"))

  /** Document quality score in [0,1]: blend of length band, alphabetic
    * ratio, mean word length band and stopword presence — the standard
    * cheap pretraining-quality signals (C4/Gopher-style rules).
    */
  def qualityScore(text: Column): Column = qualityScoreFromToks(text, tokens(text))

  /** [[qualityScore]] over an already-materialized token column — callers
    * scoring a whole corpus should project `tokens(text)` into its own
    * column first and pass it here: the score references the tokens four
    * times (count, mean length, stopword ratio), and inlining the
    * tokenizer regex per reference costs 4x the scan's dominant work
    * (same pitfall Lexical.search fixed in r5).
    */
  def qualityScoreFromToks(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val alphaChars = length(regexp_replace(lower(text), "[^a-z]", "")).cast("double")
    val alphaRatio = when(nChar === 0, lit(0.0)).otherwise(alphaChars / nChar)
    val meanWordLen = when(nTok === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0.0), (acc, t) => acc + length(t)) / nTok)
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val wordLenScore = when(meanWordLen >= 3 && meanWordLen <= 10, lit(1.0)).otherwise(lit(0.5))
    val stopScore = least(stopwordRatio(toks) * lit(10.0), lit(1.0))
    (lenScore * lit(0.4) + alphaRatio * lit(0.3) +
      wordLenScore * lit(0.2) + stopScore * lit(0.1))
  }

  /** HTML → plain text, as a pure regexp_replace chain (stays inside
    * WholeStageCodegen — no UDF, no external parser). The engine analog of
    * the reference's html2text delegation (vector_mcp/vector_api.py:34,
    * pyproject.toml:8): script/style/comment subtrees drop entirely,
    * block-level closers become newlines, remaining tags become spaces,
    * the common named entities decode (`&amp;` LAST so `&amp;lt;` cannot
    * double-decode), and whitespace collapses. Regex-based stripping is
    * lossy on pathological markup by design — same stance as html2text;
    * exotic entities pass through verbatim rather than guessing.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val breaks = regexp_replace(noComment,
      "(?i)<(br|/p|/div|/li|/tr|/h[1-6]|/blockquote|/pre)\\b[^>]*/?>", "\n")
    val noTags = regexp_replace(breaks, "(?s)<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&#34;" -> "\"", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (from, to)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(from), to)
    }
    val collapsed = regexp_replace(regexp_replace(decoded,
      "[ \\t\\x0B\\f\\r]+", " "), "\\s*\\n\\s*", "\n")
    // Spark trim() strips spaces only; newlines need the regex form
    regexp_replace(collapsed, "^\\s+|\\s+$", "")
  }
}
