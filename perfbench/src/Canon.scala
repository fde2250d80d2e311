package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row

/** Canonical result hash, built the way `scripts/check.py` compares:
  * columns sorted by name, each value rendered as Python renders it
  * (floats at full precision via `repr`), rows sorted, then SHA-256.
  * `perfbench/tests` checks the rendering against Python's own.
  */
object Canon {
  /** Python's `repr(float)`: the shortest decimal that reads back as the
    * same double, in fixed notation for exponents in [-4, 16) and as
    * `1e-05` / `1.5e+16` otherwise.
    */
  def pyRepr(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0.0" else "0.0")
    else {
      val exact = new JBigDecimal(d)
      val shortest = (1 to 17).iterator
        .map(p => exact.round(new MathContext(p, RoundingMode.HALF_EVEN)))
        .find(_.doubleValue == d).get.stripTrailingZeros
      val digits = shortest.unscaledValue.abs.toString
      val exp = digits.length - 1 - shortest.scale // decimal exponent of the first digit
      val sign = if (d < 0) "-" else ""
      if (exp >= -4 && exp < 16) {
        val s = if (exp >= digits.length - 1) digits + "0" * (exp - digits.length + 1) + ".0"
          else if (exp >= 0) digits.substring(0, exp + 1) + "." + digits.substring(exp + 1)
          else "0." + "0" * (-exp - 1) + digits
        sign + s
      } else {
        val mant = if (digits.length == 1) digits else digits.head + "." + digits.tail
        sign + mant + "e" + (if (exp < 0) "-" else "+") + f"${math.abs(exp)}%02d"
      }
    }

  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def pyDateTime(t: java.time.LocalDateTime): String = {
    val base = t.format(tsFormat)
    val micros = t.getNano / 1000
    if (micros == 0) base else base + f".$micros%06d"
  }

  /** One value as `check.py`'s `canon` renders what DuckDB returns. */
  def value(v: Any): String = v match {
    case null => "None"
    case d: Double => pyRepr(d)
    case f: Float => pyRepr(f.toDouble)
    case b: Boolean => if (b) "True" else "False"
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case t: java.time.LocalDateTime => pyDateTime(t)
    case t: java.sql.Timestamp =>
      pyDateTime(t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime) + "+00:00"
    case t: java.time.Instant =>
      pyDateTime(t.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime) + "+00:00"
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ": " + value(x) }.sorted.mkString("{", ", ", "}")
    case r: Row =>
      r.schema.fieldNames.indices.map(i => r.schema.fieldNames(i) + ": " + value(r.get(i)))
        .mkString("{", ", ", "}")
    case other => other.toString
  }

  /** Rendered rows: columns in name order, rows in lexicographic order. */
  def rows(columns: Seq[String], data: Seq[Row]): Seq[Seq[String]] = {
    val order = columns.indices.sortBy(columns(_))
    data.map(r => order.map(i => value(r.get(i)))).sorted(Ordering.Implicits.seqOrdering[Seq, String])
  }

  /** SHA-256 hex of the header (sorted column names) and the rendered
    * rows, fields joined by U+001F and lines by newline.
    */
  def hash(columns: Seq[String], data: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sep = "\u001f"
    md.update((columns.sorted.mkString(sep) + "\n").getBytes(StandardCharsets.UTF_8))
    for (r <- rows(columns, data)) md.update((r.mkString(sep) + "\n").getBytes(StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }
}
