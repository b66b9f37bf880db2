package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result: row count plus the sum of
  * per-row hashes of a canonical rendering. Doubles are rendered to 9
  * significant digits, so partial sums that differ only in their last bits
  * (different partition counts on a host with another core count) still
  * hash alike; anything beyond that is a real change of result.
  */
object Fingerprint {
  def apply(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(r => hashOf(render(r))).sum)

  private def hashOf(s: String): Long = {
    // 64-bit FNV-1a: cheap, stable across JVMs, and wide enough that a sum
    // over a few thousand rows does not collide by accident
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString
}
