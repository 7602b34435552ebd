package graft

import org.apache.spark.sql.functions._

import graft.geo.{functions => G}
import graft.plans.GraftOptimizations
import graft.sources.{Fixtures, Images}

/** The PolygonBBoxPrefilter optimizer rule: constant-polygon containment
  * filters gain a bbox range prefilter (which reaches parquet scans as
  * PushedFilters on stored coordinate columns) without changing results. */
class ExtensionSpec extends SparkFunSuite {

  private def litPoly(p: Fixtures.Poly) =
    (typedLit(p.lats.toSeq), typedLit(p.lons.toSeq))

  test("rule injects bbox conjuncts and preserves the result set") {
    GraftOptimizations.install(spark)
    val imgs = Images.images(spark, SparkSpec.Sf)
    val poly = Fixtures.polys.find(_.kind == "convex").get
    val (las, los) = litPoly(poly)
    val filtered = imgs.filter(G.point_in_poly(col("lat"), col("lon"), las, los))
      .select(col("image_id"))

    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(optimized.contains("point_in_poly_refine"), "rule did not fire")
    assert(optimized.contains(">= " + poly.lats.min) ||
      optimized.contains(poly.lats.min.toString), "bbox bound missing")

    // result parity vs the un-rewritten brute predicate
    val want = imgs.collect().filter { r =>
      graft.geo.GridCell.pointInPolygon(
        r.getAs[Double]("lat"), r.getAs[Double]("lon"), poly.lats, poly.lons)
    }.map(_.getAs[String]("image_id")).toSet
    assert(filtered.collect().map(_.getString(0)).toSet == want)
    assert(want.nonEmpty)
  }

  test("naive pip theta join is rewritten into a cover equi-join") {
    GraftOptimizations.install(spark)
    val imgs = Images.images(spark, SparkSpec.Sf)
    val polys = Fixtures.polygonsDf(spark)
    val naive = imgs.crossJoin(polys)
      .filter(G.point_in_poly(col("lat"), col("lon"), col("lats"), col("lons")))
      .select(col("poly_id"), col("image_id"))
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"theta join not rewritten:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      "cover equi-join missing")
    assert(plan.contains("point_in_poly_refine"), "refine predicate missing")
    // exactness: identical pair set to the (rule-proof) brute join
    val got = naive.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val brute = graft.operators.SpatialJoin.pipBrute(imgs, spark).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == brute && got.nonEmpty)
  }

  test("pip rewrite honors the coverRes/strategy conf keys (S2, res 5)") {
    GraftOptimizations.install(spark)
    val imgs = Images.images(spark, SparkSpec.Sf)
    val polys = Fixtures.polygonsDf(spark)
    spark.conf.set(graft.plans.PipJoinToCoverJoin.ResKey, "5")
    spark.conf.set(graft.plans.PipJoinToCoverJoin.StrategyKey, "s2")
    try {
      val naive = imgs.crossJoin(polys)
        .filter(G.point_in_poly(col("lat"), col("lon"), col("lats"), col("lons")))
        .select(col("poly_id"), col("image_id"))
      val opt = naive.queryExecution.optimizedPlan.toString
      assert(opt.contains("s2_encode"), s"s2 strategy not honored:\n$opt")
      assert(opt.contains("poly_cover_cells_s2"), s"s2 cover not honored:\n$opt")
      assert(opt.contains(", 5)"), s"cover res 5 not honored:\n$opt")
      // semantics invariant under any (strategy, res): same pair set
      val got = naive.collect().map(r => (r.getString(0), r.getString(1))).toSet
      val brute = graft.operators.SpatialJoin.pipBrute(imgs, spark).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == brute && got.nonEmpty)
    } finally {
      spark.conf.unset(graft.plans.PipJoinToCoverJoin.ResKey)
      spark.conf.unset(graft.plans.PipJoinToCoverJoin.StrategyKey)
    }
  }

  test("bbox conjuncts reach the parquet scan as pushed filters") {
    GraftOptimizations.install(spark)
    val dir = tempDir("graft-ext-parquet")
    Images.images(spark, SparkSpec.Sf)
      .select("image_id", "lat", "lon").write.mode("overwrite").parquet(dir)
    val poly = Fixtures.polys.find(_.kind == "convex").get
    val (las, los) = litPoly(poly)
    val q = spark.read.parquet(dir)
      .filter(G.point_in_poly(col("lat"), col("lon"), las, los))
    val physical = q.queryExecution.executedPlan.toString
    val pushed = physical.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(lat") ||
      pushed.contains("IsNotNull(lat"),
      s"no pushdown visible: $pushed")
    assert(pushed.contains("GreaterThanOrEqual") && pushed.contains("LessThanOrEqual"),
      s"range bounds not pushed: $pushed")
  }
}
