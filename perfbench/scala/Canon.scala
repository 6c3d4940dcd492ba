package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a query result, for checking that
  * every pass of a key returns the same rows.
  *
  * Columns are taken in name order and rows are sorted, as the DuckDB
  * compare does. Floating-point values are rounded to 9 significant
  * digits: a key whose sums run in a different order on another pass
  * differs only in the last bits, which is not a wrong result.
  */
object Canon {
  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def value(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.8e", java.lang.Double.valueOf(d))
}
