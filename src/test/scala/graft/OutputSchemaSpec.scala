package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.agg.E18

/** Hashed outputs carry no engine-dependent encoding: a DECIMAL column
  * renders differently on Spark and on the DuckDB oracle, so exact wide
  * sums are emitted as two BIGINT halves ([[E18]]). */
class OutputSchemaSpec extends SparkFunSuite {

  private def hasDecimal(t: DataType): Boolean = t match {
    case _: DecimalType => true
    case s: StructType => s.fields.exists(f => hasDecimal(f.dataType))
    case a: ArrayType => hasDecimal(a.elementType)
    case m: MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
    case _ => false
  }

  test("no query output schema has a DECIMAL column") {
    val frames = SparkSpec.shippedQueries
    assert(frames.map(_._1).toSet == SparkEntry.queries.keySet)
    val bad = frames.collect {
      case (name, df) if hasDecimal(df.schema) => name
    }
    assert(bad.isEmpty, s"DECIMAL output columns in: ${bad.mkString(", ")}")
  }

  test("E18 halves: hi * 10^18 + lo == the exact value, on the engine and " +
      "on the driver") {
    // up to 36 digits keeps hi inside a BIGINT; the fixed edges include
    // multiples of 10^18 minus one, where a rounded decimal quotient
    // would carry into hi
    val exact = Gen.choose(1, 36).flatMap(n =>
      Gen.listOfN(n, Gen.numChar).map(ds => BigInt(ds.mkString)))
    val edges = Seq(BigInt(0), BigInt(E18.Base) - 1, BigInt(E18.Base),
      BigInt(E18.Base) * 7 - 1, BigInt(10).pow(36) - 1)
    val schema = StructType(Seq(StructField("x", DecimalType(38, 0))))
    val prop = Prop.forAll(Gen.listOfN(50, exact)) { drawn =>
      val xs = edges ++ drawn
      val rows = xs.map(x => Row(new java.math.BigDecimal(x.bigInteger)))
      val got = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema)
        .select(E18.halves(col("x"), "x"): _*).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      def exactOf(h: (Long, Long)): Option[BigInt] =
        Option.when(h._2 >= 0 && h._2 < E18.Base)(
          BigInt(h._1) * E18.Base + h._2)
      got.flatMap(exactOf).sorted == xs.sorted &&
        xs.forall(x => exactOf(E18.split(x)).contains(x))
    }
    val res = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
