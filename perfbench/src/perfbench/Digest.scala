package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import org.apache.spark.sql.Row

/** Order-insensitive result digest: each row renders to a canonical
  * string, the first 8 bytes of its MD5 are summed modulo 2^64.
  *
  * The rendering must agree byte for byte with `canon` in
  * `perfbench/expected.py`, which digests DuckDB's answer for the same
  * statement. Numbers are rendered by value, not by type, because the two
  * engines do not always pick the same numeric type: integers exactly,
  * everything fractional rounded to 12 significant digits (half-even on
  * the exact binary value) with trailing zeros stripped.
  */
object Digest {
  private val mc = new MathContext(12, RoundingMode.HALF_EVEN)
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def dec(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.round(mc).stripTrailingZeros.toPlainString

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else dec(new JBigDecimal(d))

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: BigInt => x.toString
    case x: java.math.BigInteger => x.toString
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: JBigDecimal => dec(x)
    case x: scala.math.BigDecimal => dec(x.bigDecimal)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp =>
      java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC).format(tsFmt)
    case t: java.time.Instant => java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFmt)
    case t: java.time.LocalDateTime => t.format(tsFmt)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case other => other.toString
  }

  def row(r: Row): String = r.toSeq.map(canon).mkString("|")

  /** (row count, digest as 16 hex digits). */
  def of(rows: Array[Row]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(row(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }
}
