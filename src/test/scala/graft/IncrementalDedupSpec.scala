package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupStage

/** Bloom-prefiltered incremental dedup: exactness of the end result
  * (the filter must only prune work, never change the answer), the
  * no-false-negative guarantee of the native `bloom_agg` blob, its
  * merge across partitions, and the sized false-positive rate that
  * bounds the exact-confirm traffic. */
class IncrementalDedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("newDocs is exact: agrees with set membership on a crafted overlap") {
    val corpus = (0L until 50L).map(i => (i, s"text number $i")).toDF("doc_id", "text")
    val batch = (100L until 130L)
      .map(i => (i, if (i % 3 == 0) s"text number ${i - 100}" else s"fresh $i"))
      .toDF("doc_id", "text")
    val got = DedupStage.newDocs(corpus, batch)
      .collect().map { case Row(id: Long, n: Boolean) => id -> n }.toMap
    (100L until 130L).foreach { i =>
      assert(got(i) == (i % 3 != 0), s"doc $i")
    }
  }

  test("bloom_agg has no false negatives, and merges across partitions") {
    val n = 2000
    val df = spark.range(n).select(col("id"), concat(lit("k"), col("id")).as("s"))
      .repartition(8) // force partial buffers + the word-wise OR merge
    val blob = df.agg(call_function("bloom_agg",
        xxhash64(col("s")), lit(1 << 15), lit(3)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val misses = spark.range(n)
      .select(concat(lit("k"), col("id")).as("s"))
      .filter(!call_function("bloom_might_contain",
        lit(blob), xxhash64(col("s"))))
      .count()
    assert(misses == 0, "bloom filter produced a false negative")
  }

  test("false-positive rate stays near the sized bound") {
    val n = 2000
    val blob = spark.range(n)
      .select(concat(lit("k"), col("id")).as("s"))
      .agg(call_function("bloom_agg",
        xxhash64(col("s")), lit(1 << 15), lit(3)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    // 32768 bits / 2000 keys = 16.4 bits/key, k=3 → theoretical ~0.45%
    val probes = 20000
    val fps = spark.range(probes)
      .select(concat(lit("absent"), col("id")).as("s"))
      .filter(call_function("bloom_might_contain",
        lit(blob), xxhash64(col("s"))))
      .count()
    assert(fps.toDouble / probes < 0.02,
      s"false-positive rate ${fps.toDouble / probes} far above the sized ~0.5%")
  }

  test("empty (zero-row) corpus: every batch row is new") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val got = DedupStage.newDocs(corpus, batch)
      .collect().map { case Row(id: Long, n: Boolean) => (id, n) }.toSet
    assert(got == Set((1L, true), (2L, true)))
  }

  test("auto-sized bits track the corpus: unsized caller keeps FP traffic low at 100k rows") {
    // sizedBits: ~16 bits/row rounded up to a power of two, clamped
    assert(DedupStage.sizedBits(0) == (1 << 13))
    assert(DedupStage.sizedBits(2000) == (1 << 15))
    assert(DedupStage.sizedBits(100000) == (1 << 21))
    assert(DedupStage.sizedBits(1L << 40) == (1 << 30)) // cap: 128 MB blob
    // a caller who never sizes `bits` on a 100k-row corpus still gets
    // a filter whose FP rate is the designed ~0.5%, not the ~100% a
    // fixed 8 KB default would give (the round-5 ADVICE finding)
    val n = 100000
    val blob = spark.range(n)
      .select(concat(lit("k"), col("id")).as("s"))
      .agg(call_function("bloom_agg",
        xxhash64(col("s")), lit(DedupStage.sizedBits(n)), lit(3)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    val probes = 50000
    val fps = spark.range(probes)
      .select(concat(lit("absent"), col("id")).as("s"))
      .filter(call_function("bloom_might_contain",
        lit(blob), xxhash64(col("s"))))
      .count()
    assert(fps.toDouble / probes < 0.02,
      s"auto-sized false-positive rate ${fps.toDouble / probes} far above the designed ~0.5%")
  }

  test("unionBloom: verifies blob headers, unions the represented sets") {
    def blob(keys: Seq[String], bits: Int, hashes: Int): Array[Byte] =
      keys.toDF("s").agg(call_function("bloom_agg",
        xxhash64(col("s")), lit(bits), lit(hashes)).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
    val a = blob(Seq("apple", "pear"), 1 << 13, 3)
    val b = blob(Seq("plum"), 1 << 13, 3)
    val u = DedupStage.unionBloom(a, b)
    val hits = Seq("apple", "pear", "plum").toDF("s")
      .filter(call_function("bloom_might_contain", lit(u), xxhash64(col("s"))))
      .count()
    assert(hits == 3, "union lost a member (false negative)")
    // same byte LENGTH but different probe-hash count: OR'ing blindly
    // would garble the k header into false negatives — must be refused
    val k4 = blob(Seq("plum"), 1 << 13, 4)
    val e = intercept[IllegalArgumentException] { DedupStage.unionBloom(a, k4) }
    assert(e.getMessage.contains("header mismatch"))
    // different bit count changes the length — also refused
    val small = blob(Seq("plum"), 1 << 14, 3)
    intercept[IllegalArgumentException] { DedupStage.unionBloom(a, small) }
  }

  test("bloom_might_contain: null key or null filter gives null") {
    val blob = spark.range(1).select(lit("x").as("s"))
      .agg(call_function("bloom_agg", xxhash64(col("s")), lit(64), lit(2)))
      .collect()(0).getAs[Array[Byte]](0)
    val r = spark.range(1).select(
      call_function("bloom_might_contain",
        lit(blob), lit(null).cast("bigint")).as("a"),
      call_function("bloom_might_contain",
        lit(null).cast("binary"), lit(7L)).as("b")).head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
