package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Canonical digest of a materialised result, byte-for-byte the one
  * `gen.py` computes from the DuckDB twin: columns sorted by name,
  * rows in result order, each value as tagged text (`i` integer,
  * `f` IEEE-754 bits, `d` normalised decimal, `s` string, `t` epoch
  * microseconds, `D` epoch days, `N` null). Integer widths collapse
  * and -0.0 equals 0.0, as in `tools/selfcheck.py`.
  */
object Canon {
  def digest(columns: Array[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_)).toArray
    val md = MessageDigest.getInstance("SHA-256")
    md.update((order.map(columns(_)).mkString("\u001f") + "\n").getBytes(UTF_8))
    rows.foreach { r =>
      md.update((order.map(i => encode(r.get(i))).mkString("\u001f") + "\n").getBytes(UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def encode(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case i @ (_: Byte | _: Short | _: Int | _: Long) => s"i$i"
    case b: java.math.BigInteger => s"i$b"
    case f: Float => double(f.toDouble)
    case d: Double => double(d)
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "d0" else "d" + d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => encode(d.bigDecimal)
    case s: String => "s" + s
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      encode(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case s: scala.collection.Seq[_] => s.map(encode).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(encode).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.values.map(encode).mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def double(d: Double): String =
    if (d.isNaN) "fnan"
    else f"f${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"
}
