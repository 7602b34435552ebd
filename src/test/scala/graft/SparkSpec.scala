package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all Spark-backed suites (one JVM-wide
  * session; suites run sequentially under sbt's default), on the same
  * config the bench and Verify run. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.start()
  val Sf = "/root/testdata/sf0.001"

  /** Every shipped query's frame at [[Sf]], built once per test JVM: the
    * registry-wide audits read only plans and schemas, and building a
    * frame already runs the query's eager derivations. */
  lazy val shippedQueries: Seq[(String, org.apache.spark.sql.DataFrame)] =
    Queries.all.map(q => q.name -> q.fn(spark, Sf))
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
