package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive result fingerprint: each row is rendered canonically
  * (floats rounded to 6 significant digits, map entries sorted) and
  * hashed to 64 bits; the row hashes are summed, so row order does not
  * matter. Array element order does, as it is part of the value. */
object Fingerprint {
  def of(rows: Array[Row]): String =
    f"${rows.foldLeft(0L)((acc, r) => acc + hash64(canon(r)))}%016x"

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: scala.math.BigDecimal => num(b.toDouble)
    case bytes: Array[Byte] => bytes.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
