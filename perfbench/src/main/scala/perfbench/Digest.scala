package perfbench

import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** Order-insensitive digest of a collected result: every row is rendered
  * canonically (columns in name order, doubles to ten significant digits
  * so summation order cannot flip a bit of the digest), hashed to 64 bits,
  * and the row hashes are summed, so any permutation of the rows gives the
  * same digest and any change of a row's multiplicity does not. */
object Digest {

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach { r => sum += rowHash(order.map(i => canon(r.get(i))).mkString("\u0001")) }
    f"${rows.size}%d:$sum%016x"
  }

  private def rowHash(s: String): Long = {
    val hi = MurmurHash3.stringHash(s, 0x5bd1e995)
    val lo = MurmurHash3.stringHash(s, 0x1b873593)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(10)).stripTrailingZeros.toString
}
