package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent fingerprint of a query result: columns sorted by
  * name, each value rendered canonically (floats at 6 decimal places,
  * nulls as `NULL`, arrays element-wise in order, maps by sorted key,
  * timestamps as UTC ISO-8601), rows sorted, then SHA-256 over the lines.
  * The same rules as the DuckDB oracle compare, so two engines or two
  * partitionings that agree on the rows agree on the fingerprint. */
object Fingerprint {
  final case class Result(hash: String, rows: Long)

  def of(schema: StructType, rows: Iterable[Row]): Result = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.iterator.map(r => order.map(i => render(r.get(i))).mkString("\u0001"))
      .toArray
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val md = MessageDigest.getInstance("SHA-256")
    lines.iterator.zipWithIndex.foreach { case (l, i) =>
      if (i > 0) md.update('\n'.toByte)
      md.update(l.getBytes(StandardCharsets.UTF_8))
    }
    Result(md.digest().map("%02x".format(_)).mkString, lines.length.toLong)
  }

  def float6(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else {
      val s = new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).toPlainString
      if (s == "-0.000000") "0.000000" else s
    }

  def render(v: Any): String = v match {
    case null => "NULL"
    case d: Double => float6(d)
    case f: Float => float6(f.toDouble)
    case b: JBigDecimal => float6(b.doubleValue)
    case b: scala.math.BigDecimal => float6(b.toDouble)
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case t: java.time.LocalDateTime => t.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case other => other.toString
  }
}
