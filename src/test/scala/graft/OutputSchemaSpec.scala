package graft

import scala.io.Source

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.agg.E18

/** Hashed outputs carry no engine-dependent encoding: a DECIMAL column
  * renders differently on Spark and on the DuckDB oracle, so exact wide
  * sums are emitted as two BIGINT halves ([[E18]]). Floating-point output
  * columns are held to the committed list in
  * src/test/resources/double_columns.txt, which may only shrink. */
class OutputSchemaSpec extends SparkFunSuite {

  /** `t` or a type nested in it satisfies `p`. */
  private def has(t: DataType)(p: DataType => Boolean): Boolean =
    p(t) || (t match {
      case s: StructType => s.fields.exists(f => has(f.dataType)(p))
      case a: ArrayType => has(a.elementType)(p)
      case m: MapType => has(m.keyType)(p) || has(m.valueType)(p)
      case _ => false
    })

  test("no query output schema has a DECIMAL column") {
    val frames = SparkSpec.shippedQueries
    assert(frames.map(_.name).toSet == SparkEntry.queries.keySet)
    val bad = frames.collect {
      case s if has(s.df.schema)(_.isInstanceOf[DecimalType]) => s.name
    }
    assert(bad.isEmpty, s"DECIMAL output columns in: ${bad.mkString(", ")}")
  }

  test("every DOUBLE or FLOAT output column is on the committed list, and " +
      "every listed column still exists") {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/double_columns.txt"), "UTF-8")
    val listed = try src.getLines().filterNot(_.startsWith("#")).toList
      .map(_.split(" ") match {
        case Array(q, c, kind) =>
          assert(kind == "input" || kind == "computed", s"$q $c: kind $kind")
          (q, c)
      }) finally src.close()
    val floating = SparkSpec.shippedQueries.flatMap(s =>
      s.df.schema.fields.collect {
        case f if has(f.dataType)(t => t == DoubleType || t == FloatType) =>
          (s.name, f.name)
      })
    val unlisted = floating.filterNot(listed.toSet)
    val stale = listed.filterNot(floating.toSet)
    assert(unlisted.isEmpty && stale.isEmpty,
      s"floating columns not listed: $unlisted; listed but gone: $stale")
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
