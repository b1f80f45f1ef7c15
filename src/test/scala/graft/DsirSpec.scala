package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dsir

/** DSIR importance-weight semantics: sign separation between
  * target-like and source-like docs, gram accounting, empty-doc
  * neutrality, determinism across partitionings, and the bucket-count
  * guard. Absolute weights depend on md5 bucketing, so the pins are
  * structural (signs, ordering, exact re-computation) rather than
  * hand-derived constants. */
class DsirSpec extends AnyFunSuite with SparkTestSession {

  /** The pre-r19 HOF/relational scoring arm, kept as the A/B twin: the
    * fused-scan test pins [[Dsir.withScores]] ≡ this row-for-row (same
    * contract as NgramLm's scoreRows-vs-score pin), so the fused scan
    * and the compositional form cannot drift. */
  private def withScoresRelational(docs: DataFrame, model: Dsir.DsirModel,
                                   textCol: String = "text"): DataFrame = {
    val deltaLit = typedLit(model.delta)
    val g = Dsir.grams(col(textCol))
    docs
      .withColumn("n_grams", size(g).cast("bigint"))
      .withColumn("logw_micronats",
        aggregate(g, lit(0L),
          (acc, gram) => acc + element_at(deltaLit,
            (Dsir.bucketOf(gram, model.buckets) + 1).cast("int")))
        + col("n_grams") * lit(model.constPerGram))
      .withColumn("selected", (col("logw_micronats") > 0).cast("bigint"))
  }
  import spark.implicits._

  // target docs speak 'alpha beta', source docs 'gamma delta'
  private val docs: Seq[(Long, String, String)] =
    (0L until 8L).map(i => (i, "alpha beta alpha beta alpha", "src0")) ++
    (8L until 24L).map(i => (i, "gamma delta gamma delta gamma", "srcX")) ++
    Seq((24L, "alpha beta gamma", "srcX"),   // mixed doc
        (25L, "", "srcX"))                   // no grams

  private def run(d: Seq[(Long, String, String)], b: Int = 4096): Map[Long, Row] =
    Dsir.importanceWeights(
        d.toDF("doc_id", "text", "source"), col("source") === "src0", buckets = b)
      .collect().map(r => r.getLong(0) -> r).toMap

  test("target-like docs weigh positive, source-like negative, empty neutral; gram counts are 2t-1") {
    val r = run(docs)
    assert(r(0L).getLong(2) > 0 && r(0L).getLong(3) == 1)
    assert(r(8L).getLong(2) < 0 && r(8L).getLong(3) == 0)
    // 5 tokens → 5 unigrams + 4 bigrams
    assert(r(0L).getLong(1) == 9 && r(8L).getLong(1) == 9)
    // the mixed doc sits strictly between the pure ones
    assert(r(24L).getLong(2) > r(8L).getLong(2) && r(24L).getLong(2) < r(0L).getLong(2))
    assert(r(25L).getLong(1) == 0 && r(25L).getLong(2) == 0 && r(25L).getLong(3) == 0)
  }

  test("NULL text counts as an empty document (oracle parity: 0 grams, weight 0, not selected)") {
    val r = run(docs ++ Seq((40L, null.asInstanceOf[String], "srcX")))
    assert(r(40L).getLong(1) == 0 && r(40L).getLong(2) == 0 && r(40L).getLong(3) == 0)
  }

  test("weights are deterministic and partitioning-invariant (exact integer fold)") {
    val a = run(docs).map { case (k, r) => k -> r.getLong(2) }
    val b = Dsir.importanceWeights(
        docs.toDF("doc_id", "text", "source").repartition(7),
        col("source") === "src0")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a == b)
  }

  test("a doc's weight scales with how much target vocabulary it carries") {
    val r = run(docs ++ Seq(
      (30L, "alpha beta", "srcX"),
      (31L, "alpha beta alpha beta", "srcX")))
    // more target-gram mass, same sign, larger weight
    assert(r(31L).getLong(2) > r(30L).getLong(2) && r(30L).getLong(2) > 0)
  }

  test("bucket-count guard refuses degenerate dimensions") {
    val e = intercept[IllegalArgumentException](run(docs, b = 1))
    assert(e.getMessage.contains("buckets"))
  }

  test("train refuses degenerate slices: an empty target or source pool must fail, not gate silently (ADVICE r17)") {
    val df = docs.toDF("doc_id", "text", "source")
    // predicate matches nothing → no target grams → constant model
    val eT = intercept[IllegalArgumentException](
      Dsir.train(df, col("source") === "no-such-source"))
    assert(eT.getMessage.contains("target"))
    // predicate matches everything → no source grams
    val eS = intercept[IllegalArgumentException](Dsir.train(df, lit(true)))
    assert(eS.getMessage.contains("source"))
    // an all-empty-text corpus has no grams on either side
    val eE = intercept[IllegalArgumentException](
      Dsir.train(Seq((0L, "", "tgt"), (1L, "", "src")).toDF("doc_id", "text", "source"),
        col("source") === "tgt"))
    assert(eE.getMessage.contains("target"))
  }

  // edge-class corpus for the r19 fused-scan A/Bs: unicode (multi-byte
  // bytes are separators), case folding, digits, punctuation runs,
  // single token, empty, NULL, repeated grams, long text
  private val edgeDocs: Seq[(Long, String, String)] = Seq(
    (0L, "alpha beta alpha beta alpha", "tgt"),
    (1L, "gamma delta gamma", "src"),
    (2L, "  Mixed CASE a,b 42x  ", "src"),
    (3L, "日本語 then alpha beta ascii", "src"),
    (4L, "one", "src"),
    (5L, "", "src"),
    (6L, null.asInstanceOf[String], "src"),
    (7L, ("alpha beta " * 300).trim, "src"),
    (8L, "a-b_c.d!e", "src")) ++
    (20L until 80L).map(i =>
      (i, s"tok${i % 7} alpha tok${(i * 3) % 7} beta tok${(i * 5) % 7}",
       if (i % 4 == 0) "tgt" else "src"))

  test("fused-scan scoring ≡ the relational HOF arm row-for-row, codegen ≡ interpreted (r19)") {
    val df = edgeDocs.toDF("doc_id", "text", "source")
    val model = Dsir.train(df, col("source") === "tgt")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "n_grams", "logw_micronats", "selected")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    val relational = canon(withScoresRelational(df, model))
    def withConfs(kvs: (String, String)*)(body: => Seq[Any]): Seq[Any] = {
      val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // generated path loud-fail (a doGenCode bug must not silently fall
    // back), interpreted path with codegen fully off — both must equal
    // the relational arm bit-for-bit
    val gen = withConfs("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(
      canon(Dsir.withScores(df, model)))
    val interp = withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(
      canon(Dsir.withScores(df, model)))
    assert(gen == relational)
    assert(interp == relational)
  }

  test("dsir_buckets (train's fused explode) ≡ the relational md5-bridge bucketing per doc (r19)") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val b = 4096
    val df = edgeDocs.toDF("doc_id", "text", "source")
    val native = ColumnBridge.column(graft.functions.DsirBuckets(
      ColumnBridge.expression(coalesce(col("text"), lit(""))),
      ColumnBridge.expression(lit(b))))
    // the composition train() used pre-r19: 1-grams ++ 2-grams as
    // strings, md5-bridge bucket per gram, order-preserving
    val grams = concat(graft.ops.Text.ngramsOfText(coalesce(col("text"), lit("")), 1),
                       graft.ops.Text.ngramsOfText(coalesce(col("text"), lit("")), 2))
    val relational = transform(grams, g =>
      (conv(substring(md5(g), 1, 8), 16, 10).cast("long") % b).cast("int"))
    val rows = df.select(col("doc_id"), native.as("n"), relational.as("r")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"doc ${r.getLong(0)}: native ${r.getSeq[Int](1)} vs relational ${r.getSeq[Int](2)}")
    }
  }
}
