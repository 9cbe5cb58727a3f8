package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: the row count and the
  * wrapping sum of one 64-bit hash per row, so any permutation of the
  * same multiset of rows gives the same digest while a changed,
  * missing or duplicated row changes it.
  *
  * Each row is first rendered canonically: doubles and floats to ten
  * significant digits (a last-bit difference from a different partial
  * aggregation order is not a wrong answer), maps with their entries
  * sorted, nested rows and arrays recursively. */
object Digest {

  def canonical(v: Any): String = v match {
    case null                => "∅"
    case d: Double           => canonicalDouble(d)
    case f: Float            => canonicalDouble(f.toDouble)
    case b: Array[Byte]      => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row              => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "→" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case o                   => o.toString
  }

  private def canonicalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else "%.9e".formatLocal(java.util.Locale.ROOT, d)

  /** 64-bit FNV-1a of the canonical row text. */
  def rowHash(r: Row): Long = {
    var h = 0xcbf29ce484222325L
    for (b <- canonical(r).getBytes(UTF_8)) {
      h ^= (b & 0xff)
      h *= 0x100000001b3L
    }
    h
  }

  /** "rows:hexsum" — rows counted, per-row hashes summed mod 2^64. */
  def of(rows: Iterable[Row]): String = {
    var n = 0L
    var sum = 0L
    for (r <- rows) { n += 1; sum += rowHash(r) }
    f"$n%d:$sum%016x"
  }
}
