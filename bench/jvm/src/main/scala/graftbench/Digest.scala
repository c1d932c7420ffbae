package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result, computed identically by
  * `benchlib/digest.py` over DuckDB's result for the oracle SQL.
  *
  * The canonical form follows `scripts/check.py`'s compare rules:
  * columns are matched by sorted name, numbers compare by value whatever
  * their type (an integer column equals a double column holding the same
  * numbers, decimals compare as the nearest double, -0.0 equals 0.0, all
  * NaNs are equal), and temporal values compare by instant.
  *
  * Each row's canonical text is hashed with MD5; the digest is the row
  * count plus the sum of the first 8 hash bytes modulo 2^64, so row order
  * does not matter but row multiplicity does. */
object Digest {
  private val TwoPow53 = 9007199254740992L

  def of(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(i => names(i)).toArray
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      order.foreach { i => sb.append('\u001f'); canon(r.get(i), sb) }
      val h = md.digest(sb.toString.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    s"${order.map(names(_)).mkString(",")}|${rows.length}|${java.lang.Long.toUnsignedString(sum, 16)}"
  }

  private def num(d: Double, sb: java.lang.StringBuilder): Unit = {
    val v = if (d == 0.0) 0.0 else d // -0.0 == 0.0
    sb.append('n').append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(v)))
  }

  private def integral(v: Long, sb: java.lang.StringBuilder): Unit =
    if (v > -TwoPow53 && v < TwoPow53) num(v.toDouble, sb)
    else sb.append('i').append(v)

  def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) "b1" else "b0")
    case x: Byte => integral(x.toLong, sb)
    case x: Short => integral(x.toLong, sb)
    case x: Int => integral(x.toLong, sb)
    case x: Long => integral(x, sb)
    case x: Float => num(x.toDouble, sb)
    case x: Double => num(x, sb)
    case x: java.math.BigDecimal => decimal(x, sb)
    case x: scala.math.BigDecimal => decimal(x.bigDecimal, sb)
    case x: java.math.BigInteger => decimal(new java.math.BigDecimal(x), sb)
    case s: String => sb.append('s').append(s)
    case d: java.sql.Date => sb.append('d').append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append('d').append(d.toString)
    case t: java.sql.Timestamp => micros(t.toInstant, sb)
    case t: java.time.Instant => micros(t, sb)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC), sb)
    case a: Array[Byte] => sb.append('x'); a.foreach(b => sb.append(f"${b & 0xff}%02x"))
    case r: Row =>
      val fs = if (r.schema != null) r.schema.fieldNames else r.toSeq.indices.map(_.toString).toArray
      sb.append('{')
      fs.indices.sortBy(fs(_)).foreach { i =>
        sb.append(fs(i)).append('='); canon(r.get(i), sb); sb.append(';') }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; canon(k, e); e.append("->"); canon(x, e); e.toString }
      sb.append('<'); parts.sorted.foreach(p => sb.append(p).append(';')); sb.append('>')
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.foreach { x => canon(x, sb); sb.append(';') }; sb.append(']')
    case other => sb.append('?').append(other.toString)
  }

  private def decimal(x: java.math.BigDecimal, sb: java.lang.StringBuilder): Unit =
    num(x.doubleValue, sb)

  private def micros(i: java.time.Instant, sb: java.lang.StringBuilder): Unit =
    sb.append('t').append(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong))
}
