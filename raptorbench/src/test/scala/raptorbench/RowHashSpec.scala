package raptorbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class RowHashSpec extends AnyFunSuite {

  private val ab = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
  private val ba = StructType(Seq(StructField("b", StringType), StructField("a", LongType)))
  private def row(a: Long, b: String): Row = new GenericRowWithSchema(Array[Any](a, b), ab)
  private def rowBa(a: Long, b: String): Row = new GenericRowWithSchema(Array[Any](b, a), ba)

  private val rows = Seq(row(1, "x"), row(2, "y"), row(3, "z"))

  test("row order does not change the hash") {
    assert(RowHash.of(rows) == RowHash.of(rows.reverse))
    assert(RowHash.of(rows) == RowHash.of(Seq(rows(1), rows(2), rows(0))))
  }

  test("column order does not change the hash") {
    assert(RowHash.of(rows) == RowHash.of(Seq(rowBa(1, "x"), rowBa(2, "y"), rowBa(3, "z"))))
  }

  test("values, missing rows and duplicate rows change the hash") {
    val h = RowHash.of(rows)
    assert(h != RowHash.of(Seq(row(1, "x"), row(2, "y"), row(3, "w"))))
    assert(h != RowHash.of(rows.take(2)))
    assert(h != RowHash.of(rows :+ row(1, "x")))
    // a swapped value between rows is a different multiset
    assert(h != RowHash.of(Seq(row(1, "y"), row(2, "x"), row(3, "z"))))
  }

  test("the hash carries the row count") {
    assert(RowHash.of(Nil).startsWith("0:"))
    assert(RowHash.of(rows).startsWith("3:"))
  }
}
