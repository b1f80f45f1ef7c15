package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Text

/** Text-operator semantics: word-boundary tokenization, n-gram edges,
  * stopword ratio (the round-1 substring-count bug class), Jaccard,
  * SimHash fingerprint properties. */
class TextSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.Row

  /** Composed-built-in cleanup — the reference semantics
    * [[Text.cleanup]]'s native space stage fuses. */
  private def cleanupComposed(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      regexp_replace(Text.nfc(text), "[\\x00-\\x1f\\x7f]", " "),
      "  +", " "))

  private def one(text: String, c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(text).toDF("text").select(c.as("v")).head.get(0)
  }

  test("tokens: lowercases, splits on non-alphanumerics, drops empties") {
    assert(one("Hello, World! 42", Text.tokens(col("text"))) ==
      Seq("hello", "world", "42"))
    assert(one("--a--b--", Text.tokens(col("text"))) == Seq("a", "b"))
    assert(one("", Text.tokens(col("text"))) == Seq())
  }

  test("native word_tokens equals the regex+filter composition") {
    // the HOF form the native expression replaced — must stay
    // byte-identical on every shape the corpus can contain
    def hof(c: org.apache.spark.sql.Column) =
      filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)
    val cases = Seq(
      "Hello, World! 42", "--a--b--", "", "   ", "a", "A1b2C3",
      "one  two\tthree\nfour", "trailing space ", " leading",
      "ALLCAPS MiXeD lower 0123456789", "a-b_c.d,e;f:g!h?i")
    cases.foreach { s =>
      assert(one(s, Text.tokens(col("text"))) == one(s, hof(col("text"))),
             s"mismatch on: '$s'")
    }
  }

  test("ngrams: space-joined word grams; short docs give empty arrays") {
    val toks = Text.tokens(col("text"))
    assert(one("a b c d", Text.ngrams(toks, 2)) == Seq("a b", "b c", "c d"))
    assert(one("a b c d", Text.ngrams(toks, 3)) == Seq("a b c", "b c d"))
    assert(one("a b", Text.ngrams(toks, 3)) == Seq())
  }

  test("stopword ratio counts whole words only — 'other' is not 'the'") {
    val r = one("other others brother", Text.stopwordRatio(Text.tokens(col("text"))))
    assert(r == 0.0)
    val r2 = one("the cat and the hat", Text.stopwordRatio(Text.tokens(col("text"))))
    assert(r2 == 3.0 / 5.0) // the, and, the
  }

  test("jaccard: set semantics with duplicate grams") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "b"), Seq("b", "c"))).toDF("x", "y")
    assert(df.select(Text.jaccard(col("x"), col("y"))).head.getDouble(0) == 1.0 / 3.0)
    val same = Seq((Seq("a"), Seq("a"))).toDF("x", "y")
    assert(same.select(Text.jaccard(col("x"), col("y"))).head.getDouble(0) == 1.0)
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("x", "y")
    assert(empty.select(Text.jaccard(col("x"), col("y"))).head.getDouble(0) == 0.0)
  }

  test("simhash: deterministic, 32-bit, Hamming 0 iff same token multiset direction") {
    import spark.implicits._
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog"),
      ("b", "the quick brown fox jumps over the lazy dog"),
      ("c", "completely different words entirely unrelated")).toDF("id", "text")
      .select(col("id"), Text.simhash(Text.tokens(col("text"))).as("sh"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") == m("b"))
    assert(m("a") != m("c"))
    assert(m.values.forall(v => v >= 0 && v <= 0xFFFFFFFFL))
    val ham = df.filter(col("id").isin("a", "c")).agg(collect_list(col("sh"))).head.getSeq[Long](0)
    assert(java.lang.Long.bitCount(ham(0) ^ ham(1)) > 0)
  }

  test("word_marker_counts equals the per-marker HOF filter composition") {
    import spark.implicits._
    val markers = Seq("the", "table", "filter", "data", "query")
    val cases = Seq(
      "The THE the data-table query!", "other others brother", "",
      "   ", "table", "querydata data query", "a the b the c THE",
      "filter,filter;filter", "no markers here at all",
      "data\ttable\nquery the filter")
    val df = cases.toDF("text")
    val native = df.select(
      call_function("word_marker_counts", col("text"),
        array(markers.map(lit): _*)).as("c")).collect().map(_.getSeq[Long](0))
    val hof = df.select(array(markers.map(w =>
      size(filter(Text.tokens(col("text")), t => t === w)).cast("bigint")): _*)
      .as("c")).collect().map(_.getSeq[Long](0))
    native.zip(hof).zip(cases).foreach { case ((n, h), s) =>
      assert(n == h, s"mismatch on: '$s'")
    }
  }

  test("word_marker_counts: whole words only, null text, duplicate markers") {
    import spark.implicits._
    // 'other' must not count as 'the'; duplicates counted independently
    val df = Seq(Option("the other the"), None).toDF("text")
      .select(call_function("word_marker_counts", col("text"),
        array(lit("the"), lit("other"), lit("the"))).as("c"))
    val rows = df.collect()
    assert(rows(0).getSeq[Long](0) == Seq(2L, 1L, 2L))
    assert(rows(1).isNullAt(0))
  }

  test("word_text_ngrams equals ngrams(tokens(text)) on every corpus shape") {
    val cases = Seq(
      "The quick brown-fox; jumps! over_the lazy dog 42",
      "", "   ", "one", "one two", "a b c d e",
      "MiXeD CaSe--punct,,sep\ttab\nnewline", "a-b_c.d,e;f:g!h?i")
    for (s <- cases; n <- Seq(1, 2, 3, 5)) {
      val fused = one(s, Text.ngramsOfText(col("text"), n))
      val composed = one(s, Text.ngrams(Text.tokens(col("text")), n))
      assert(fused == composed, s"mismatch on '$s' n=$n")
    }
  }

  test("word_text_gram_hashes equals xxhash64 over word_text_ngrams, bit-for-bit") {
    val cases = Seq(
      "The quick brown-fox; jumps! over_the lazy dog 42",
      "", "   ", "one", "one two", "a b c d e",
      "MiXeD CaSe--punct,,sep\ttab\nnewline", "a-b_c.d,e;f:g!h?i",
      "a gram long enough to exercise the growable hash buffer " * 4)
    for (s <- cases; n <- Seq(1, 2, 3, 5)) {
      val fused = one(s, Text.gramHashesOfText(col("text"), n))
      val composed = one(s,
        transform(Text.ngramsOfText(col("text"), n), g => xxhash64(g)))
      assert(fused == composed, s"mismatch on '$s' n=$n")
    }
  }

  test("word_text_gram_hashes_distinct equals array_distinct of word_text_gram_hashes") {
    val cases = Seq(
      "The quick brown-fox; jumps! over_the lazy dog 42",
      "", "   ", "one", "one two", "a b c d e",
      "the the the the the",                     // all-duplicate grams
      "a b a b a b a b c",                       // interleaved repeats
      "MiXeD CaSe--punct,,sep\ttab\nnewline", "a-b_c.d,e;f:g!h?i",
      ("w1 w2 w3 " * 40) + "tail",               // heavy dup, forces probing
      "a gram long enough to exercise the growable hash buffer " * 4)
    for (s <- cases; n <- Seq(1, 2, 3, 5)) {
      val fused = one(s, Text.distinctGramHashesOfText(col("text"), n))
      val composed = one(s,
        array_distinct(Text.gramHashesOfText(col("text"), n)))
      assert(fused == composed, s"mismatch on '$s' n=$n")
    }
  }

  test("repetition_stats equals the composed tokens/distinct/sorted-run form") {
    val cases = Seq(
      "The quick brown-fox; jumps! over_the lazy dog 42",
      "", "   ", "one", "one two", "a b c d e",
      "the the the the the",                     // one token repeated: top bigram = 4
      "a b a b a b a b c",                       // interleaved repeats
      "A a A a aa",                              // case-folded duplicates
      "MiXeD CaSe--punct,,sep\ttab\nnewline", "a-b_c.d,e;f:g!h?i",
      ("w1 w2 w3 " * 40) + "tail",               // heavy dup, forces probing
      "a gram long enough to exercise the growable span buffer " * 4)
    for (s <- cases) {
      val fused = one(s, call_function("repetition_stats", col("text")))
        .asInstanceOf[Row]
      val toks = one(s, Text.tokens(col("text")))
        .asInstanceOf[scala.collection.Seq[String]]
      val bgs = one(s, Text.ngrams(Text.tokens(col("text")), 2))
        .asInstanceOf[scala.collection.Seq[String]]
      val top = if (bgs.isEmpty) 0L
        else bgs.groupBy(identity).values.map(_.size).max.toLong
      assert(fused.getLong(0) == toks.size.toLong, s"n_tokens on '$s'")
      assert(fused.getLong(1) == toks.distinct.size.toLong, s"n_distinct on '$s'")
      assert(fused.getLong(2) == bgs.size.toLong, s"n_bigrams on '$s'")
      assert(fused.getLong(3) == top, s"top_bigram on '$s'")
    }
    // null text -> null struct
    import spark.implicits._
    val r = Seq(Option.empty[String]).toDF("text")
      .select(call_function("repetition_stats", col("text"))).head
    assert(r.isNullAt(0))
  }

  test("json_field: strings unquoted, nested containers skipped, null contract") {
    import spark.implicits._
    def f(doc: String): Any = Seq(doc).toDF("d")
      .select(call_function("json_field", col("d"), lit("k"))).head.get(0)
    assert(f("""{"k": 42}""") == "42")
    assert(f("""{"k": -7.5}""") == "-7.5")
    assert(f("""{"k": "hello"}""") == "hello")
    assert(f("""{"k": "a\"b"}""") == "a\\\"b") // escapes preserved as written
    assert(f("""{"a": {"k": 1}, "k": 2}""") == "2") // nested "k" is not top-level
    assert(f("""{"a": [1, {"k": 1}], "k": 3}""") == "3") // nor inside arrays
    assert(f("""{ "a" : 1 , "k" : true }""") == "true") // whitespace everywhere
    assert(f("""{"k": null}""") == null) // JSON null → SQL NULL
    assert(f("""{"a": 1}""") == null) // missing key
    assert(f("""[1, 2]""") == null) // non-object document
    assert(f("not json") == null)
    assert(f("""{"k": {"a":1}}""") == """{"a":1}""") // container value raw text
    assert(f("""{"kk": 1, "k": 5}""") == "5") // no prefix confusion
  }

  test("near-identical docs have small Hamming distance, unrelated large") {
    import spark.implicits._
    val base = "spark streaming watermark window aggregation state store checkpoint recovery exactly once"
    val near = base.replace("recovery", "restore")
    val far = "ocean salinity temperature grid coordinates latitude longitude depth index monthly"
    val df = Seq(("base", base), ("near", near), ("far", far)).toDF("id", "text")
      .select(col("id"), Text.simhash(Text.tokens(col("text"))).as("sh"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m("base"), m("near")) < ham(m("base"), m("far")))
  }

  test("nfc: composes decomposed sequences; ASCII and composed text pass through") {
    assert(one("cafe\u0301", Text.nfc(col("text"))) == "caf\u00e9")
    assert(one("caf\u00e9", Text.nfc(col("text"))) == "caf\u00e9")
    assert(one("plain ascii 42", Text.nfc(col("text"))) == "plain ascii 42")
    // composed and decomposed inputs land on identical bytes
    assert(one("A\u030angstro\u0308m", Text.nfc(col("text"))) ==
           one("\u00c5ngstr\u00f6m", Text.nfc(col("text"))))
  }

  test("cleanup: NFC + control strip + space collapse + trim") {
    assert(one("a\tb\u0007c", Text.cleanup(col("text"))) == "a b c")
    assert(one("  lots   of    space  ", Text.cleanup(col("text"))) == "lots of space")
    assert(one("cafe\u0301\u0007done", Text.cleanup(col("text"))) == "caf\u00e9 done")
    assert(one("", Text.cleanup(col("text"))) == "")
    assert(one("\u0007", Text.cleanup(col("text"))) == "")
  }

  test("native clean_spaces cleanup equals the composed regexp form") {
    import spark.implicits._
    // fuzz over spaces, controls, multibyte, and word chars
    val alphabet = "ab \t\u0007\u00e9 x  "
    var seed = 424242L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    val fuzz = Seq.fill(300) {
      val len = nextInt(30)
      (0 until len).map(_ => alphabet(nextInt(alphabet.length))).mkString
    }
    val crafted = Seq(
      "a\tb\u0007c", "  lots   of    space  ", "", " ", "\u0007",
      "\u0000start", "end\u001f", "only\u007fdel", "cafe\u0301 mix\td")
    val df = (crafted ++ fuzz).toDF("text")
    val bad = df.select(Text.cleanup(col("text")).as("n"),
                        cleanupComposed(col("text")).as("r"), col("text"))
      .filter(col("n") =!= col("r")).collect()
    assert(bad.isEmpty, s"clean_spaces divergence on: ${bad.take(3).mkString("; ")}")
  }

  test("bpe_token_count: greedy longest-match pins — hand-derived token counts") {
    def n(s: String): Any = one(s, call_function("bpe_token_count", col("text")))
    assert(n("the") == 1L)                 // whole-word vocab hit
    assert(n("thequery") == 2L)            // the·query — greedy takes the longest prefix each step
    assert(n("customer") == 5L)            // c·us·t·om·er — OOV word decomposes via merges
    assert(n("CUSTOMER") == 5L)            // ASCII case folding before matching
    assert(n("") == 0L)
    assert(n("...!!!") == 0L)              // no word characters at all
    assert(n("the the the") == 3L)         // words tokenized independently
    assert(n("a-b_c.d") == 4L)             // punctuation splits words (word_tokens discipline)
    assert(n("0123456789") == 10L)         // digits are single-char units
  }

  test("bpe_token_count: expression equals the per-word reference tokenizer on every shape") {
    import graft.functions.BpeVocab
    def ref(s: String): Long =
      s.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
        .map(w => BpeVocab.tokenizeWord(w).size.toLong).sum
    val cases = Seq(
      "", "   ", "the", "The Query", "customer vector stream window",
      "a", "zz", "xyzzyplugh", "data2value", "  spaced   out  ",
      "MiXeD CaSe ToKeNs", "trailing ", " leading", "tab\there\nnewline",
      "query-plan_hash.join", "aggregate filtering ordering")
    cases.foreach { s =>
      assert(one(s, call_function("bpe_token_count", col("text"))) == ref(s),
             s"mismatch on: '$s'")
    }
    // a word reassembles from its tokens (greedy covers every byte)
    Seq("customer", "window", "xyzzyplugh", "a1b2c3").foreach { w =>
      assert(BpeVocab.tokenizeWord(w).mkString == w, s"coverage hole in '$w'")
    }
  }

  test("bpe_chunks: greedy whole-word packing against a token budget") {
    def chunks(s: String, budget: Int): Seq[String] =
      one(s, call_function("bpe_chunks", col("text"), lit(budget)))
        .asInstanceOf[scala.collection.Seq[String]].toSeq
    // "the"=1 token each: budget 2 packs two words per chunk
    assert(chunks("the the the the the", 2) ==
      Seq("the the", "the the", "the"))
    // a word that alone exceeds the budget gets its own chunk, unsplit
    // (customer=5 tokens, the=1; budget 3)
    assert(chunks("the customer the", 3) == Seq("the", "customer", "the"))
    // chunk text is lowered and space-joined regardless of input shape
    assert(chunks("The,Query;the", 2) == Seq("the query", "the"))
    // no words -> no chunks; everything fits -> one chunk
    assert(chunks("...", 5) == Seq())
    assert(chunks("the query", 64) == Seq("the query"))
    // invariant: every chunk respects the budget unless it is a single
    // over-budget word, and token counts are additive over the split
    val text = ("customer vector stream window the query table filters " * 20).trim
    val budget = 16
    val cs = chunks(text, budget)
    import spark.implicits._
    val counts = cs.toDF("c")
      .select(call_function("bpe_token_count", col("c")).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(counts.forall(_ <= budget), s"chunk over budget: ${counts.max}")
    val total = one(text, call_function("bpe_token_count", col("text"))).asInstanceOf[Long]
    assert(counts.sum == total, "token counts not additive over the chunking")
    assert(cs.mkString(" ") == text.toLowerCase(java.util.Locale.ROOT),
      "chunks do not reassemble the word stream")
  }

  test("bpe_token_count: null in, null out") {
    import spark.implicits._
    val r = Seq[(Integer, String)]((1, null)).toDF("id", "text")
      .select(call_function("bpe_token_count", col("text")).as("n")).head
    assert(r.isNullAt(0))
  }
}
