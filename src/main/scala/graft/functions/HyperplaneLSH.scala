package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Random-hyperplane LSH bucket codes (sign-of-projection SimHash for
  * dense vectors; Charikar 2002) — the bucketed scale path for
  * similarity search: vectors whose cosine is high agree on most
  * hyperplane signs, so an equi-join on the bucket code finds
  * candidate neighbors without the O(n²) all-pairs scan.
  *
  * Both knobs that govern scale are CALLER-CONFIGURABLE (they were
  * hard-coded K=8 in round 2 — 256 buckets is a scale-killer at
  * billions of vectors because within-bucket pair count grows
  * O(n²/2^bits)):
  *  - `bits` — hyperplanes per code; bucket count = 2^bits per band.
  *    Size it so n/2^bits stays O(1..100) at the target corpus.
  *  - `bands` — independent codes per vector (OR-amplification, the
  *    same recall construction as the minhash banding in
  *    `SimilarityQueries.bandedPairs`): a pair is a candidate when ANY band
  *    collides, so recall for near-duplicates stays high even as
  *    `bits` grows to keep buckets small.
  *
  * Every plane is PSEUDO-random from a pure integer formula over the
  * GLOBAL plane index `j = band·bits + k`:
  * `plane(j, d) = ((a(j)·(d+1) + b(j)) mod 1009) / 1009 − 0.5` with
  * `a(j) = 1 + (37 + 41·j mod 1008)` (never ≡ 0 mod the prime 1009)
  * and `b(j) = 7 + 13·j mod 1009` — so the DuckDB oracle regenerates
  * bit-identical planes with plain SQL arithmetic (no RNG state to
  * ship across engines). Projections accumulate left-to-right in
  * doubles on both engines → identical signs.
  *
  * Native expressions for the same reason as MinHashSigs: at scale
  * this runs per row over billions of vectors; the HOF-composed form
  * evaluates lambdas interpreted per element (boxing per multiply).
  * CodegenFallback is deliberate — the cost is the dim·bits·bands
  * multiply loop, which is already a tight primitive while-loop; the
  * expression sits in a projection, so it does not break the
  * surrounding WholeStageCodegen spans.
  */
object HyperplaneLSH {
  val M = 1009L

  /** Multiplier for global plane j — in [1, 1008], never 0 mod 1009. */
  def a(j: Int): Long = 1L + ((37L + 41L * j) % 1008L)

  /** Offset for global plane j. */
  def b(j: Int): Long = (7L + 13L * j) % M

  /** plane(j, d) ∈ (−0.5, 0.5), exactly reproducible in SQL. */
  def plane(j: Int, d: Int): Double =
    ((a(j) * (d + 1) + b(j)) % M).toDouble / M.toDouble - 0.5

  /** One band's code: sign bits of `bits` consecutive projections.
    * `bits` must fit an Int bucket code. */
  private[functions] def code(v: ArrayData, bits: Int, band: Int): Int = {
    require(bits >= 1 && bits <= 30, s"hyperplane bits must be in [1, 30], got $bits")
    val dim = v.numElements()
    var out = 0
    var k = 0
    while (k < bits) {
      val j = band * bits + k
      val aj = a(j); val bj = b(j)
      var dot = 0.0
      var d = 0
      while (d < dim) {
        dot += v.getDouble(d) * (((aj * (d + 1) + bj) % M).toDouble / M.toDouble - 0.5)
        d += 1
      }
      if (dot >= 0.0) out |= (1 << k)
      k += 1
    }
    out
  }

  val description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hyperplane_lsh"),
    new ExpressionInfo(classOf[HyperplaneLSHCode].getName, "hyperplane_lsh"),
    (children: Seq[Expression]) => children match {
      case Seq(v)       => HyperplaneLSHCode(v, Literal(8))
      case Seq(v, bits) => HyperplaneLSHCode(v, bits)
      case other => throw new IllegalArgumentException(
        s"hyperplane_lsh(vec[, bits]) takes 1 or 2 arguments, got ${other.size}")
    })

  val codesDescription: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hyperplane_codes"),
    new ExpressionInfo(classOf[HyperplaneCodes].getName, "hyperplane_codes"),
    (children: Seq[Expression]) => HyperplaneCodes(children(0), children(1), children(2)))
}

/** Scalar band-0 code: `hyperplane_lsh(vec[, bits])` → INT. */
case class HyperplaneLSHCode(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_lsh needs (ARRAY<DOUBLE>, INT), got (${l.catalogString}, ${r.catalogString})")
  }

  override protected def nullSafeEval(vec: Any, bits: Any): Any =
    HyperplaneLSH.code(vec.asInstanceOf[ArrayData], bits.asInstanceOf[Int], band = 0)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HyperplaneLSHCode =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "hyperplane_lsh"
}

/** Banded codes: `hyperplane_codes(vec, bits, bands)` → ARRAY<INT>
  * of length `bands` — one pass over the vector computes all
  * bits·bands projections (no per-band rescan of the corpus). */
case class HyperplaneCodes(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"hyperplane_codes needs (ARRAY<DOUBLE>, INT, INT), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }

  override protected def nullSafeEval(vec: Any, bits: Any, bands: Any): Any = {
    val v = vec.asInstanceOf[ArrayData]
    val nb = bits.asInstanceOf[Int]
    val nd = bands.asInstanceOf[Int]
    val out = new Array[Int](nd)
    var band = 0
    while (band < nd) {
      out(band) = HyperplaneLSH.code(v, nb, band)
      band += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): HyperplaneCodes =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "hyperplane_codes"
}
