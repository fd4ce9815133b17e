package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent content hash of a result: the sum, modulo 2^64,
  * of a 64-bit hash of each row's canonical text. Doubles are written
  * with 9 significant digits, so the last-bit wobble of a parallel
  * floating-point sum does not change the digest. */
object Digest {
  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      sum += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x7ab1e).toLong & 0xffffffffL)
    }
    f"${rows.length}%d-$sum%016x"
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.8e", Double.box(d))
}
