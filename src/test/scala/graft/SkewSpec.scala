package graft

import org.apache.spark.sql.functions._

import graft.operators.TilePyramid
import graft.sources.Images

/** Adaptive skew salting (SURVEY.md §4 / X10): the hot-cell histogram
  * drives WHERE the two-phase salted aggregation is paid — hot cells only;
  * the long tail takes the ordinary single-phase path. Output must equal
  * the direct groupBy exactly (also oracle-pinned by q_skew_adaptive). */
class SkewSpec extends SparkFunSuite {

  test("adaptive salted agg == direct groupBy, bit for bit") {
    val got = Queries.skewAdaptive(spark, SparkSpec.Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = TilePyramid.withCell(Images.images(spark, SparkSpec.Sf), 12)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"),
        sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want && got.nonEmpty)
    // the fixture really is skewed: at least one cell above the threshold
    assert(want.values.exists(_._1 > Queries.HotThreshold),
      "fixture lost its planted hotspot — the adaptive path is untested")
  }

  test("stats-driven decision: no histogram pass in the plan, output identical") {
    import graft.operators.Snapshot
    val root = tempDir("graft-skew-stats")
    Snapshot.write(
      TilePyramid.leafTiles(Images.images(spark, SparkSpec.Sf), 12),
      root, "stats", buildTs = 1L)
    val df = Queries.skewAdaptiveFromStats(spark, SparkSpec.Sf, root)
    val plan = df.queryExecution.executedPlan.toString
    // the in-query variant materializes its histogram as a checkpointed
    // RDD (Scan ExistingRDD); here the decision input is a parquet read
    // of the snapshot's leaf stats — no corpus histogram job anywhere
    assert(!plan.contains("ExistingRDD"),
      s"histogram pass still present (RDD-backed hot set):\n$plan")
    assert(Queries.skewAdaptive(spark, SparkSpec.Sf)
      .queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "sentinel: the in-query variant should carry the RDD-backed hot set")
    // still the adaptive split shape: exactly one salted exchange
    val salted = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("salt"))
    assert(salted == 1, s"expected one salted exchange:\n$plan")
    // bit-identical output to the in-query-histogram variant
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Queries.skewAdaptive(spark, SparkSpec.Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want && got.nonEmpty)
  }

  test("only the hot branch pays the salted two-phase shuffle") {
    val df = Queries.skewAdaptive(spark, SparkSpec.Sf)
    val plan = df.queryExecution.executedPlan.toString
    // split: hot rows in via semi join, cold rows via anti join
    assert(plan.contains("LeftSemi"), "hot split missing")
    assert(plan.contains("LeftAnti"), "cold split missing")
    // exactly ONE exchange keyed by (cell, salt): the hot branch's
    // phase-1; the cold branch shuffles on cell alone (single phase)
    val saltedExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("salt"))
    assert(saltedExchanges == 1,
      s"expected exactly one salted exchange, got $saltedExchanges:\n$plan")
  }
}
