package perfbench

import java.math.MathContext
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's output: the row count and the
  * sum, modulo 2^64 per half, of an MD5 of each row's canonical text.
  *
  * Canonical text sorts columns by name, keeps array order (the declared
  * queries sort their arrays), sorts map entries, and rounds floating
  * values to a fixed number of significant digits. The rounding absorbs
  * last-bit differences from another summation order, which a different
  * physical row order of the inputs can cause: the digest must not
  * depend on the seed that chose that order.
  *
  * It is computed on the rows the timed op already fetched to the
  * driver, after the timed window.
  */
object Digest {
  private val DoubleDigits = new MathContext(12)
  private val FloatDigits = new MathContext(6)

  case class Result(rows: Long, digest: String)

  def of(rows: Array[Row], full: StructType): Result = {
    val names = full.fieldNames.sorted
    val schema = StructType(names.map(n => full(n)))
    val idx = names.map(n => full.fieldNames.indexOf(n))
    val header = names.mkString(",") + "#"
    val md = MessageDigest.getInstance("MD5")
    val sb = new StringBuilder
    var n = 0L; var h1 = 0L; var h2 = 0L
    rows.foreach { r =>
      sb.setLength(0)
      sb.append(header)
      var i = 0
      while (i < idx.length) {
        if (i > 0) sb.append('|')
        value(r.get(idx(i)), schema(i).dataType, sb)
        i += 1
      }
      val bb = ByteBuffer.wrap(md.digest(sb.toString.getBytes(StandardCharsets.UTF_8)))
      h1 += bb.getLong(); h2 += bb.getLong(); n += 1
    }
    Result(n, f"$h1%016x$h2%016x")
  }

  private def number(d: java.math.BigDecimal, mc: MathContext, sb: StringBuilder): Unit =
    if (d.signum == 0) sb.append("n0")
    else sb.append('n').append(d.round(mc).stripTrailingZeros.toString)

  private def floating(d: Double, mc: MathContext, sb: StringBuilder): Unit =
    if (d.isNaN) sb.append("nan")
    else if (d.isInfinite) sb.append(if (d > 0) "inf" else "-inf")
    else number(new java.math.BigDecimal(d), mc, sb)

  /** Canonical text of one value, with a type tag so that a null, a
    * string and a number never collide. */
  def value(v: Any, t: DataType, sb: StringBuilder): Unit = (v, t) match {
    case (null, _) => sb.append('~')
    case (d: Double, _) => floating(d, DoubleDigits, sb)
    case (f: Float, _) => floating(f.toString.toDouble, FloatDigits, sb)
    case (d: java.math.BigDecimal, _) => number(d, DoubleDigits, sb)
    case (b: Boolean, _) => sb.append(if (b) "b1" else "b0")
    case (x: Byte, _) => sb.append('i').append(x.toLong)
    case (x: Short, _) => sb.append('i').append(x.toLong)
    case (x: Int, _) => sb.append('i').append(x.toLong)
    case (x: Long, _) => sb.append('i').append(x)
    case (s: String, _) => sb.append('s').append(s.length).append(':').append(s)
    case (d: java.sql.Date, _) => sb.append('d').append(d.toLocalDate.toEpochDay)
    case (d: java.time.LocalDate, _) => sb.append('d').append(d.toEpochDay)
    case (ts: java.sql.Timestamp, _) =>
      val i = ts.toInstant
      sb.append('t').append(i.getEpochSecond).append('.').append(i.getNano)
    case (i: java.time.Instant, _) =>
      sb.append('t').append(i.getEpochSecond).append('.').append(i.getNano)
    case (l: java.time.LocalDateTime, _) => sb.append('T').append(l.toString)
    case (b: Array[Byte], _) => b.foreach(x => sb.append(f"$x%02x"))
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; value(x, et, sb) }
      sb.append(']')
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new StringBuilder
        value(k, kt, e); e.append('='); value(x, vt, e)
        e.toString
      }.sorted
      sb.append('{').append(entries.mkString(",")).append('}')
    case (r: Row, st: StructType) =>
      sb.append('(')
      var i = 0
      while (i < st.length) {
        if (i > 0) sb.append(',')
        value(r.get(i), st(i).dataType, sb)
        i += 1
      }
      sb.append(')')
    case (other, _) => sb.append('?').append(other.toString)
  }
}
