package perfbench

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result.
  *
  * Each row is rendered to a canonical string and hashed; the row hashes
  * are summed modulo 2^64, so any row order gives the same fingerprint
  * and a duplicated row changes it. Doubles are rounded to 9 significant
  * digits, because the merge order of partial float sums may vary between
  * runs. The fingerprint is `<rows>:<16 hex digits>`.
  */
object Fingerprint {
  def of(rows: Iterable[Row]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      sum += hash64(render(r))
      n += 1
    }
    f"$n:$sum%016x"
  }

  def render(v: Any): String = v match {
    case null => "␀"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", "␟", ")")
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => render(k) + "→" + render(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toString

  /** FNV-1a over UTF-8 bytes, then a 64-bit finalizer (splitmix64). */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xff)
      h *= 0x100000001b3L
    }
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }
}
