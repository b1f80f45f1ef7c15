package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines: word-boundary
  * tokenization, n-grams, stopword ratio, fingerprints. All pure
  * column expressions (codegen-friendly projections; zero shuffle) so
  * they run unchanged at 100 TB.
  *
  * Everything here has an exact DuckDB mirror (see SparkEntry q33–q35)
  * — tokenization is regexp-defined, not library-defined, precisely so
  * two engines can agree byte-for-byte.
  */
object Text {
  /** Word-boundary tokenization: lowercase, split on runs of
    * non-alphanumerics, drop empties. Unlike length arithmetic, this
    * yields a real ARRAY<STRING> that downstream ops (n-grams,
    * stopwords, SimHash) consume. Native expression
    * ([[graft.functions.WordTokens]]): one byte scan replacing the
    * regex split + interpreted filter lambda feeding ~10 queries. */
  def tokens(text: Column): Column = call_function("word_tokens", text)

  /** Word n-grams over the token array (ARRAY<STRING> of space-joined
    * grams); empty array when fewer than n tokens. Native expression
    * ([[graft.functions.WordNgrams]]): the earlier HOF composition
    * (`transform` + `element_at`) was an optimizer hazard — inlined
    * under an `explode` by InferFiltersFromGenerate, each `element_at`
    * re-evaluated the whole token expression per position (24 s vs
    * <1 s for q49 at sf0.1). */
  def ngrams(toks: Column, n: Int): Column =
    call_function("word_ngrams", toks, lit(n))

  /** Fused `ngrams(tokens(text), n)` in one byte scan (native
    * [[graft.functions.WordTextNgrams]]) — for consumers that need
    * ONLY the grams, skipping the intermediate token-array
    * materialization (q49/q66's gram stage). */
  def ngramsOfText(text: Column, n: Int): Column =
    call_function("word_text_ngrams", text, lit(n))

  /** `transform(ngramsOfText(text, n), g -> xxhash64(g))` in one byte
    * scan (native [[graft.functions.WordTextGramHashes]]): ARRAY<LONG>
    * of 64-bit gram fingerprints, for consumers that only need gram
    * EQUALITY (q49's semi-join, q66's bit_or fold) — exchanges then
    * carry 8-byte longs instead of gram strings. */
  def gramHashesOfText(text: Column, n: Int): Column =
    call_function("word_text_gram_hashes", text, lit(n))

  /** `array_distinct(gramHashesOfText(text, n))` fused into the same
    * byte scan (native [[graft.functions.WordTextGramHashesDistinct]]
    * — open-addressing set at emission). For consumers with per-doc
    * SET semantics (q49 membership, q66 bit_or): the explode emits no
    * within-doc duplicates, so q49's post-semi (doc, gram) rows are
    * unique by construction and its distinct exchange disappears. */
  def distinctGramHashesOfText(text: Column, n: Int): Column =
    call_function("word_text_gram_hashes_distinct", text, lit(n))

  /** English stopword list used by the quality scorer — a fixed,
    * documented set so the oracle can embed the same literal. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "but", "if", "then", "of", "in",
    "on", "at", "to", "for", "with", "by", "from", "as", "is", "are",
    "was", "were", "be", "been", "it", "this", "that", "not", "no")

  /** Fraction of tokens that are stopwords (word-boundary exact — a
    * substring scan would count 'the' inside 'other'). 0.0 for empty
    * docs. */
  def stopwordRatio(toks: Column): Column = {
    val sw = filter(toks, t => t.isin(Stopwords.map(lit): _*))
    when(size(toks) === 0, 0.0)
      .otherwise(size(sw).cast("double") / size(toks).cast("double"))
  }

  /** Exact Jaccard similarity of two gram arrays (set semantics;
    * native [[graft.functions.ArrayJaccard]] — one hash-set pass per
    * row instead of two interpreted set-op trees). */
  def jaccard(a: Column, b: Column): Column = call_function("array_jaccard", a, b)

  /** 32-bit SimHash fingerprint of the token array (native expression
    * [[graft.functions.SimHash32]], registered by GraftSession). */
  def simhash(toks: Column): Column = call_function("simhash32", toks)

  /** Hamming distance between two SimHash values. */
  def hamming32(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Unicode NFC canonical composition (native
    * [[graft.functions.NfcNormalize]]; ASCII fast path). */
  def nfc(text: Column): Column = call_function("nfc_normalize", text)

  /** The C4-style text cleanup pass: NFC-compose, replace C0/DEL
    * control characters with spaces, collapse space runs, trim.
    * Order matters — NFC first (composition can only shrink the
    * string, and the control classes are composition-invariant), then
    * controls become spaces so the collapse sees them. The space
    * stage is the native one-byte-scan
    * [[graft.functions.CleanSpaces]]; TextSpec keeps the regexp
    * built-in form as the reference semantics and pins the
    * equivalence, and its patterns stay in the Java≡RE2 subset
    * so the DuckDB oracle (`nfc_normalize` + the same two regexps)
    * reproduces every byte. Pure per-row projection — zero
    * shuffles. */
  def cleanup(text: Column): Column =
    call_function("clean_spaces", nfc(text))
}
