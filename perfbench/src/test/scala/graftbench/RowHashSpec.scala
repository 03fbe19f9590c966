package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The Scala result hash must agree with stats.py on the shared vectors
  * (src/test/resources/hash_vectors.json) and keep the properties the
  * output check relies on.
  */
class RowHashSpec extends AnyFunSuite {

  private val vectors: List[(Long, String)] = {
    val src = scala.io.Source.fromResource("hash_vectors.json")
    val js = try JsonMethods.parse(src.mkString) finally src.close()
    for {
      JArray(cases) <- List(js \ "cases")
      c <- cases
      JInt(n) = c \ "count": @unchecked
      JString(h) = c \ "hash": @unchecked
    } yield (n.toLong, h)
  }

  private def schema(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  test("hash agrees with the Python twin on the shared vectors") {
    val cases = Seq(
      RowHash.of(schema("b" -> DoubleType, "a" -> StringType),
        Array(Row(1.5, "x"), Row(null, "y"), Row(2L, "z"))),
      RowHash.of(schema("v" -> DoubleType),
        Array(Row(0.30000000000000004), Row(-0.0), Row(1e20), Row(13237001.475))),
      RowHash.of(schema("arr" -> ArrayType(LongType), "k" -> StringType),
        Array(Row(Seq(1L, 2L, null), "k1"), Row(Seq.empty[Long], "k2"))))
    assert(cases.toList === vectors)
  }

  test("hash ignores row order and counts duplicates") {
    val s = schema("k" -> LongType, "v" -> DoubleType)
    val rows = (1 to 50).map(i => Row(i.toLong, i * 0.1)).toArray
    val h = RowHash.of(s, rows)
    assert(RowHash.of(s, scala.util.Random.shuffle(rows.toSeq).toArray) === h)
    assert(RowHash.of(s, rows :+ rows(0))._2 !== h._2)
  }

  test("one changed value changes the hash") {
    val s = schema("k" -> LongType, "v" -> DoubleType)
    val rows = (1 to 50).map(i => Row(i.toLong, i * 0.1)).toArray
    val changed = rows.updated(17, Row(18L, 1.8000001))
    assert(RowHash.of(s, changed)._2 !== RowHash.of(s, rows)._2)
  }

  test("canonical values are engine independent") {
    assert(RowHash.canon(3L) === "3")
    assert(RowHash.canon(3.0) === "3")
    assert(RowHash.canon(new java.math.BigDecimal("3.00")) === "3")
    assert(RowHash.canon(-0.0) === "0")
    assert(RowHash.canon(0.1 + 0.2) === "0.3")
    assert(RowHash.canon(java.sql.Date.valueOf("2024-07-03")) === "D2024-07-03")
    assert(RowHash.canon(java.time.Instant.ofEpochSecond(1)) === "T1000000")
    assert(RowHash.canon(java.time.LocalDateTime.of(1970, 1, 1, 0, 0, 1)) === "T1000000")
  }
}
