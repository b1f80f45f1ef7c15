package graft.tools

import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries.{bandedPairs, bandedStarEdges, minhashSigsFrame}

/** Dev probe for the q60 scale claim: BSP round count tracks
  * component DIAMETER, not corpus size. Runs the exact q60 pipeline
  * (banded minhash pairs ≥ 0.5 → min-label components) against one or
  * more sf dirs and prints rounds + wall per dir.
  *
  * Usage: CcRounds <sfdir> [sfdir...]
  */
object CcRounds {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.build("cc-rounds")
    for (dir <- args; form <- Seq("stars", "pairs")) {
      val t0 = System.nanoTime()
      val edges =
        if (form == "pairs")
          bandedPairs(minhashSigsFrame(spark, dir))
            .filter(col("jaccard_est") >= 0.5)
        else
          bandedStarEdges(minhashSigsFrame(spark, dir))
      val (labels, rounds) = graft.ops.ConnectedComponents.minLabelWithRounds(
        graft.core.Tables.documents(spark, dir), "doc_id", edges, "doc1", "doc2",
        maxIter = 50)
      val nComponents = labels.agg(countDistinct(col("component"))).head.getLong(0)
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"$dir%s [$form%s]: rounds=$rounds%d components=$nComponents%d wall=$wall%.2fs")
    }
    spark.stop()
  }
}
