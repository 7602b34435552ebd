package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all Spark-backed suites (one JVM-wide
  * session; suites run sequentially under sbt's default). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      // bucketed STORES are a deliberate design choice (BucketStore): keep
      // bucketed scans (and with them bucket PRUNING on the bucket key)
      // even when no downstream operator needs the distribution — the
      // planner's DisableUnnecessaryBucketedScan would otherwise silently
      // re-scan all buckets for a single-term posting lookup.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
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
