package graftbench

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent content hash of a result set.
  *
  * Each value is rendered canonically (numbers at 12 significant digits,
  * so last-ulp summation noise and int-vs-double typing do not matter;
  * timestamps as epoch microseconds; dates ISO), columns are taken in
  * name order, and each row is hashed with MD5 (first 8 bytes). The
  * result hash is the sum of the row hashes modulo 2^64, so it does not
  * depend on row order but does count duplicates. `stats.py` carries the
  * same rendering for DuckDB results; the two must stay in step.
  */
object RowHash {
  private val Ctx = new MathContext(12, RoundingMode.HALF_EVEN)

  def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else dec(new java.math.BigDecimal(d))

  def dec(b: java.math.BigDecimal): String = {
    val r = b.round(Ctx)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  private def micros(epochSecond: Long, nano: Int): Long =
    epochSecond * 1000000L + nano / 1000

  def canon(v: Any): String = v match {
    case null                         => "\\N"
    case d: Double                    => num(d)
    case f: Float                     => num(f.toDouble)
    case b: java.math.BigDecimal      => dec(b)
    case b: scala.math.BigDecimal     => dec(b.bigDecimal)
    case s: String                    => s
    case t: java.sql.Timestamp        =>
      "T" + micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case i: java.time.Instant         => "T" + micros(i.getEpochSecond, i.getNano)
    case l: java.time.LocalDateTime   =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      "T" + micros(i.getEpochSecond, i.getNano)
    case d: java.sql.Date             => "D" + d.toLocalDate.toString
    case d: java.time.LocalDate       => "D" + d.toString
    case a: Array[Byte]               => a.map("%02x".format(_)).mkString("x", "", "")
    case r: Row                       => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_]   => s.map(canon).mkString("[", ",", "]")
    case a: Array[_]                  => a.map(canon).mkString("[", ",", "]")
    case other                        => other.toString // ints, longs, booleans
  }

  /** Hash of one canonical row string: first 8 bytes of its MD5. */
  def rowHash(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Column order used for hashing: by name, so projection order and the
    * oracle's column order do not matter.
    */
  def columnOrder(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)

  def rowString(r: Row, order: Array[Int]): String =
    order.map(i => canon(r.get(i))).mkString("\u001f")

  /** (row count, 16-hex-digit hash) of a collected result. */
  def of(schema: StructType, rows: Array[Row]): (Long, String) = {
    val order = columnOrder(schema)
    var sum = 0L
    rows.foreach(r => sum += rowHash(rowString(r, order)))
    (rows.length.toLong, f"$sum%016x")
  }
}
