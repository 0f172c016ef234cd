package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a collected result.
  *
  * Rows are rendered canonically, sorted, and hashed with SHA-256. Floating
  * values are rounded to `digits` significant digits first: Spark may sum
  * doubles in a different order from one execution to the next, so the last
  * bits of a statistic are not part of its answer. */
object Digest {

  def of(rows: Array[Row], digits: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.iterator.map(r => render(r, digits)).toArray.sorted.foreach { line =>
      md.update(line.getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  def render(v: Any, digits: Int): String = v match {
    case null => "null"
    case d: Double => double(d, digits)
    case f: Float => double(f.toDouble, digits)
    case d: java.math.BigDecimal => double(d.doubleValue, digits)
    case d: scala.math.BigDecimal => double(d.toDouble, digits)
    case r: Row => r.toSeq.map(render(_, digits)).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k, digits) + "->" + render(x, digits) }
        .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(render(_, digits)).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-12) "0" // signed zero and accumulation dust
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(digits)).stripTrailingZeros.toString
}
