package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ConnectedComponents
import graft.queries.SimilarityQueries

/** Min-label connected components: correctness on known graphs and
  * the convergence/caps behavior the iterative loop promises. */
class ConnectedComponentsSpec extends AnyFunSuite with SparkTestSession {

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)],
                  maxIter: Int = 25, strict: Boolean = true): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.minLabel(
        nodes.toDF("id"), "id",
        edges.toDF("s", "d"), "s", "d", maxIter, strict)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two components and a singleton get min-id labels") {
    val got = run(
      nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L),
      edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("a chain converges to one component (label travels one hop per round)") {
    // path 12-11-...-1: needs 11 propagation rounds + 1 fixpoint check
    val n = 12L
    val got = run((1L to n), (2L to n).map(i => (i, i - 1)), maxIter = 15)
    assert(got.values.toSet == Set(1L))
  }

  test("maxIter cap: strict throws, non-strict returns partial min-so-far labels") {
    val nodes = (1L to 50L)
    val chain = (2L to 50L).map(i => (i, i - 1))
    assertThrows[IllegalStateException] { run(nodes, chain, maxIter = 2) }
    val got = run(nodes, chain, maxIter = 2, strict = false)
    assert(got(1L) == 1L)
    assert(got.values.min == 1L)
  }

  test("duplicate and self edges are harmless") {
    val got = run(Seq(1L, 2L), Seq((1L, 2L), (2L, 1L), (1L, 1L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("star edges label identically to the pairwise collision graph (q60's rewrite)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Signatures engineered for every connectivity shape the rewrite
    // must preserve: a multi-member bucket (1,2,3 share band 1), a
    // bucket chain that merges components ACROSS buckets through a
    // shared member (3 also collides with 4 in band 2; 4 with 5 in
    // band 1), a two-member bucket (6,7), and singletons (8, 9).
    val sigs = Seq(
      (1L, 10L, 20L, 91L, 92L),
      (2L, 10L, 20L, 93L, 94L),
      (3L, 10L, 20L, 30L, 40L),
      (4L, 77L, 78L, 30L, 40L),
      (5L, 77L, 78L, 95L, 96L),
      (6L, 50L, 60L, 97L, 98L),
      (7L, 50L, 60L, 99L, 89L),
      (8L, 81L, 82L, 83L, 84L),
      (9L, 85L, 86L, 87L, 88L)
    ).toDF("doc_id", "mh1", "mh2", "mh3", "mh4")
    val nodes = (1L to 9L).toDF("doc_id")
    def labels(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      ConnectedComponents.minLabel(nodes, "doc_id", edges, "doc1", "doc2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPairs = labels(
      SimilarityQueries.bandedPairs(sigs).filter(col("jaccard_est") >= 0.5))
    val viaStars = labels(SimilarityQueries.bandedStarEdges(sigs))
    assert(viaStars == viaPairs, "star edges must reproduce pairwise components")
    assert(viaStars == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 8L, 9L -> 9L))
    // and the star generator emits LINEAR edge counts: one hub edge
    // per non-hub (bucket, member), not a quadratic clique
    // band 1: {1,2,3}→(1,2),(1,3); {4,5}→(4,5); {6,7}→(6,7);
    // band 2: {3,4}→(3,4) — five edges for a 5-node component chain
    // plus a 2-clique, where the pairwise form emits 3+1+1+1 = 6
    val starEdges = SimilarityQueries.bandedStarEdges(sigs).count()
    assert(starEdges == 5, s"expected 5 star edges, got $starEdges")
  }
}
