package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive answer fingerprint: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Columns are
  * taken in name order and doubles are printed to six decimals, the same
  * canonical form the DuckDB oracle check uses, so a result that differs
  * only in row order or in the last bits of a float sum keeps its
  * fingerprint.
  */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {

  def of(schema: StructType, rows: Array[Row]): Fingerprint = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var acc = 0L
    rows.foreach { r =>
      val s = order.map(i => canon(r.get(i))).mkString("|")
      acc += hash64(s)
    }
    Fingerprint(rows.length.toLong, f"$acc%016x")
  }

  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NULL" else String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case f: Float => canon(f.toDouble)
    case t: java.sql.Timestamp => canon(t.toLocalDateTime)
    case t: java.time.LocalDateTime => t.format(tsFmt)
    case t: java.time.Instant => canon(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => s"${d.toLocalDate} 00:00:00"
    case d: java.time.LocalDate => s"$d 00:00:00"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case b: java.math.BigDecimal => b.toPlainString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def hash64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val lo = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61)
    val hi = scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }
}
