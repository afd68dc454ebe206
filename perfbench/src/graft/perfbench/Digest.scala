package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result, with the normalisation
  * of `dev/check.py`: columns compared by sorted name, rows as a
  * sorted multiset, values exact and tagged by kind (an int never
  * equals a float), NaN equal to NaN, -0.0 equal to 0.0, decimals
  * equal regardless of trailing zeros.
  *
  * `perfbench/oracle.py` encodes DuckDB's Python values the same way;
  * the two encoders must stay byte-identical.
  */
object Digest {

  final case class Result(rows: Long, hex: String)

  def of(schema: StructType, rows: Array[Row]): Result = {
    val names = schema.fieldNames.toIndexedSeq
    val sorted = names.sorted
    // dev/check.py picks the FIRST column of a duplicated name
    val idx = sorted.map(n => names.indexOf(n))
    val encoded = rows.map { r =>
      val sb = new java.lang.StringBuilder
      idx.foreach { i => enc(sb, r.get(i)); sb.append('|') }
      sb.toString.getBytes(UTF_8)
    }
    java.util.Arrays.sort(encoded, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(("cols:" + sorted.mkString(",") + "\n").getBytes(UTF_8))
    encoded.foreach { e => md.update(e); md.update('\n'.toByte) }
    Result(rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def enc(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) "B1" else "B0")
    case x: Byte => sb.append('I').append(x.toLong)
    case x: Short => sb.append('I').append(x.toLong)
    case x: Int => sb.append('I').append(x.toLong)
    case x: Long => sb.append('I').append(x)
    case x: java.math.BigInteger => sb.append('I').append(x.toString)
    case x: Float => encDouble(sb, x.toDouble)
    case x: Double => encDouble(sb, x)
    case x: java.math.BigDecimal =>
      sb.append('D').append(x.stripTrailingZeros.toPlainString)
    case x: scala.math.BigDecimal =>
      sb.append('D').append(x.bigDecimal.stripTrailingZeros.toPlainString)
    case s: String => sb.append('S').append(s.length).append(':').append(s)
    case t: java.sql.Timestamp => encInstant(sb, t.toInstant)
    case t: java.time.Instant => encInstant(sb, t)
    case t: java.time.LocalDateTime =>
      encInstant(sb, t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => sb.append("d").append(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => sb.append("d").append(d.toEpochDay)
    case b: Array[Byte] =>
      sb.append('X')
      b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case s: scala.collection.Seq[_] =>
      sb.append('L').append(s.length).append('[')
      s.foreach { e => enc(sb, e); sb.append(',') }
      sb.append(']')
    case r: Row =>
      val fs = r.schema.fieldNames
      sb.append("R{")
      fs.indices.foreach { i =>
        sb.append(fs(i)).append('='); enc(sb, r.get(i)); sb.append(',')
      }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      sb.append("R{")
      m.foreach { case (k, x) =>
        sb.append(String.valueOf(k)).append('='); enc(sb, x); sb.append(',')
      }
      sb.append('}')
    case other => sb.append('?').append(other.toString)
  }

  private def encDouble(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("FNaN")
    else sb.append('F').append(java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(if (d == 0.0) 0.0 else d)))

  private def encInstant(sb: java.lang.StringBuilder,
      i: java.time.Instant): Unit =
    sb.append('T').append(i.getEpochSecond * 1000000L + i.getNano / 1000)
}
