package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ChunkDedup

/** Chunk-level (paragraph) dedup semantics: chunk boundary math,
  * corpus-wide first-occurrence keeper ordered by (doc_id, pos),
  * within-document repeats, fully-deduplicated documents surviving in
  * the report, and reassembly order. */
class ChunkDedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], w: Int): Map[Long, (Long, Long, String)] =
    ChunkDedup.dedup(docs.toDF("doc_id", "text"), "text", "doc_id", w)
      .collect()
      .map { case Row(id: Long, n: Long, k: Long, t: String) => id -> (n, k, t) }
      .toMap

  test("chunks split on exact word windows; remainder forms the last chunk") {
    val r = run(Seq((0L, "a b c d e")), 2)
    // "a b" | "c d" | "e"
    assert(r(0L) == ((3L, 3L, "a b c d e")))
  }

  test("corpus-wide first occurrence wins, ordered by (doc_id, pos)") {
    val r = run(Seq((0L, "a b c d"), (1L, "a b x y")), 2)
    assert(r(0L) == ((2L, 2L, "a b c d")))
    assert(r(1L) == ((2L, 1L, "x y"))) // shared "a b" kept only in doc 0
  }

  test("within-document repeats collapse to the first position") {
    val r = run(Seq((0L, "a b a b a b")), 2)
    assert(r(0L) == ((3L, 1L, "a b")))
  }

  test("a fully-deduplicated document still appears, with empty text") {
    val r = run(Seq((0L, "a b"), (1L, "a b")), 2)
    assert(r(0L) == ((1L, 1L, "a b")))
    assert(r(1L) == ((1L, 0L, "")))
  }

  test("reassembly preserves document order of surviving chunks") {
    // doc 1's middle chunk duplicates doc 0; the outer two survive in order
    val r = run(Seq((0L, "m m"), (1L, "a b m m z w")), 2)
    assert(r(1L) == ((3L, 2L, "a b z w")))
  }

  test("native word_chunks equals the split/slice/join composition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def composed(w: Int) = {
      val toks = split(col("text"), " ")
      val n = greatest(ceil(size(toks) / lit(w.toDouble)), lit(1L))
      transform(sequence(lit(0L), n - 1),
        i => array_join(slice(toks, (i * w + 1).cast("int"), lit(w)), " "))
    }
    val cases = Seq(
      "a b c d e", "a", "", " ", "  ", "a ", " a", "a  b", "one two three",
      "x y z w v u t s r q p o n m", "trailing space  ")
    for (w <- Seq(1, 2, 3, 8)) {
      val df = cases.toDF("text").select(
        call_function("word_chunks", col("text"), lit(w)).as("native"),
        composed(w).as("ref"), col("text"))
      val bad = df.filter(col("native") =!= col("ref")).collect()
      assert(bad.isEmpty, s"w=$w mismatch: ${bad.take(3).mkString("; ")}")
    }
  }
}
