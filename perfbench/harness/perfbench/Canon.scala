package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive content hash of a query result, computed the same
  * way by `oracle.py` from DuckDB rows so the two can be compared
  * without moving result rows between processes.
  *
  * It follows tools/check.py's comparison rules: columns are taken in
  * name order, rows form a multiset (each row hashes on its own and the
  * row hashes are summed), floats compare exactly (by IEEE bits, with
  * -0.0 folded into 0.0 and every NaN equal), decimals compare by
  * numeric value, and integers compare by value whatever their width.
  */
object Canon {

  final case class Digest(rows: Long, hash: String)

  def digest(columns: Seq[String], rows: Iterable[Row]): Digest = {
    val order = columns.indices.sortBy(columns(_))
    val sha = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var n = 0L
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      order.foreach { i => encode(r.get(i), sb); sb.append('|') }
      val h = sha.digest(sb.toString.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    val head = order.map(columns(_)).mkString(",")
    Digest(n, hex(sha.digest(s"$head:${java.lang.Long.toUnsignedString(sum)}:$n".getBytes(UTF_8))).take(16))
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Appends one value's canonical text; every branch is self-delimiting. */
  def encode(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) "B1" else "B0")
    case x: Byte => sb.append('I').append(x.toLong)
    case x: Short => sb.append('I').append(x.toLong)
    case x: Int => sb.append('I').append(x.toLong)
    case x: Long => sb.append('I').append(x)
    case x: Float => float(x.toDouble, sb)
    case x: Double => float(x, sb)
    case d: java.math.BigDecimal =>
      sb.append('M').append(if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)
    case s: String => sb.append('S').append(s.length).append(':').append(s)
    case t: java.sql.Timestamp =>
      sb.append('T').append(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      sb.append('T').append(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.Instant => sb.append('T').append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => sb.append('D').append(d.toEpochDay)
    case b: Array[Byte] => sb.append('X').append(hex(b)).append(';')
    case r: Row =>
      sb.append("R(")
      (0 until r.length).foreach { i => encode(r.get(i), sb); sb.append(',') }
      sb.append(')')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        encode(k, e); e.append('='); encode(x, e); e.toString
      }.sorted
      sb.append("P(").append(parts.mkString(",")).append(')')
    case s: scala.collection.Seq[_] =>
      sb.append("L[")
      s.foreach { x => encode(x, sb); sb.append(',') }
      sb.append(']')
    case other => sb.append('?').append(other.getClass.getName).append(':').append(other.toString)
  }

  private def float(x: Double, sb: java.lang.StringBuilder): Unit =
    if (x.isNaN) sb.append("FNaN")
    else if (x == 0.0) sb.append("F0")
    else sb.append('F').append(java.lang.Double.doubleToLongBits(x))
}
