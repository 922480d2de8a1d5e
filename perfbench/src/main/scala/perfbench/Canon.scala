package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Cell canonicalization of `tools/check_oracle.py` (`canon`), applied
  * to collected rows: columns sorted by name, every cell rendered the
  * way the oracle checker renders the same value after reading it back
  * through pyarrow. A digest is the SHA-256 of the rendered rows in
  * collect order, cells joined by U+001F and rows by '\n' — the
  * serialization `perfbench/bench/canon.py` applies to DuckDB results. */
object Canon {
  def digest(rows: Array[Row], schema: StructType): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines(rows, schema).zipWithIndex.foreach { case (l, i) =>
      if (i > 0) md.update('\n'.toByte)
      md.update(l.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** One rendered line per row, columns in name order. */
  def lines(rows: Array[Row], schema: StructType): Array[String] = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    rows.map(r => order.map(i => cell(r.get(i), schema.fields(i).dataType)).mkString("\u001f"))
  }

  def cell(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "NULL"
    case (d: Double, _) => float(d)
    case (f: Float, _) => float(f.toDouble)
    case (b: Boolean, _) => if (b) "True" else "False"
    case (d: java.math.BigDecimal, _) => "DECIMAL:" + d.toPlainString
    case (d: scala.math.BigDecimal, _) => "DECIMAL:" + d.bigDecimal.toPlainString
    case (ts: java.sql.Timestamp, TimestampNTZType) => isoTime(ts.toLocalDateTime)
    case (ts: java.sql.Timestamp, _) =>
      isoTime(java.time.LocalDateTime.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC)) + "+00:00"
    case (ts: java.time.Instant, _) =>
      isoTime(java.time.LocalDateTime.ofInstant(ts, java.time.ZoneOffset.UTC)) + "+00:00"
    case (ts: java.time.LocalDateTime, _) => isoTime(ts)
    case (d: java.sql.Date, _) => d.toLocalDate.toString
    case (d: java.time.LocalDate, _) => d.toString
    case (b: Array[Byte], _) => "0x" + b.map("%02x".format(_)).mkString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(cell(_, et)).mkString("[", ",", "]")
    case (r: Row, st: StructType) =>
      st.fields.indices.sortBy(i => st.fields(i).name)
        .map(i => s"${st.fields(i).name}:${cell(r.get(i), st.fields(i).dataType)}")
        .mkString("{", ",", "}")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.map { case (k, x) => s"[${cell(k, kt)},${cell(x, vt)}]" }.mkString("[", ",", "]")
    case (x, _) => x.toString
  }

  /** Python's `datetime.isoformat()`: fractional seconds only when
    * non-zero, always as six digits. */
  private def isoTime(t: java.time.LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT" +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val us = t.getNano / 1000
    if (us == 0) base else base + f".$us%06d"
  }

  /** check_oracle's float rendering: "NaN", else Python's `repr` — the
    * shortest decimal that reads back to the same double (the closest
    * such one when several have that length), printed in exponent form
    * when the decimal point falls outside (-4, 16]. */
  def float(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val exact = new JBigDecimal(d)
    def roundTrips(c: JBigDecimal) = java.lang.Double.parseDouble(c.toString) == d
    var p = 1
    var best: JBigDecimal = null
    while (best == null) {
      val ok = Seq(RoundingMode.HALF_EVEN, RoundingMode.FLOOR, RoundingMode.CEILING)
        .map(m => exact.round(new MathContext(p, m))).filter(roundTrips)
      if (ok.nonEmpty) best = ok.minBy(c => c.subtract(exact).abs)
      p += 1
    }
    val stripped = best.stripTrailingZeros
    val digits = stripped.unscaledValue.abs.toString
    val decpt = digits.length - stripped.scale // value = 0.<digits> × 10^decpt
    val sign = if (d < 0) "-" else ""
    val body =
      if (decpt <= -4 || decpt > 16) {
        val e = decpt - 1
        val mant = if (digits.length == 1) digits else digits.head.toString + "." + digits.tail
        mant + "e" + (if (e < 0) "-" else "+") + f"${math.abs(e)}%02d"
      } else if (decpt <= 0) "0." + "0" * -decpt + digits
      else if (decpt >= digits.length) digits + "0" * (decpt - digits.length) + ".0"
      else digits.substring(0, decpt) + "." + digits.substring(decpt)
    sign + body
  }
}
