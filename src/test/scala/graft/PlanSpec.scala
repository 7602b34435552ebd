package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Snapshot, SpatialJoin, TilePyramid}
import graft.sources.{Fixtures, Images}

/** Physical-plan audits, one named property each. A signature line
  * (src/test/resources/plan_signatures.txt, [[SignatureSpec]]) pins a
  * registry query's whole plan shape; the cases here state why a shape
  * matters (small sides broadcast, aggregates are partial+final, hot paths
  * stay inside WholeStageCodegen) and cover what a line cannot express:
  * which columns the scan reads, that merge and resume plans do not grow
  * with the level count, the join shape of the kNN and descent candidate
  * stages (built here, inside operators that checkpoint them), and which
  * filters the optimizer pushes below the dhash kernel. */
class PlanSpec extends SparkFunSuite {

  private def imgs = Images.images(spark, SparkSpec.Sf)

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE materializes WholeStageCodegen spans only in the FINAL plan —
    * run the query, then read the adapted plan. */
  private def finalPlanOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("images scan prunes to the two key columns of lineitem") {
    val plan = planOf(imgs)
    // ReadSchema in the FileScan must mention only orderkey/linenumber
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("l_orderkey") && scanLine.contains("l_linenumber"))
    val readSchema = scanLine.substring(scanLine.indexOf("ReadSchema"))
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_comment"),
      s"scan reads more than the key columns: $readSchema")
  }

  test("pip join: broadcast prefilter + codegen refine, no image-side shuffle") {
    val df = SpatialJoin.pipJoin(imgs, spark)
    val plan = finalPlanOf(df)
    assert(plan.contains("BroadcastHashJoin"), "covering index must broadcast")
    assert(!plan.contains("SortMergeJoin"), "image side must not shuffle-join")
    assert(plan.contains("point_in_poly"), "refine predicate present")
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), "hot path must be codegen'd")
  }

  test("tile rollup: partial + final hash aggregation around one exchange") {
    val plan = planOf(TilePyramid.leafTiles(imgs, 10))
    val partials = plan.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial_"))
    assert(partials > 0, "map-side combine missing")
    assert(plan.contains("Exchange hashpartitioning(cell"),
      "rollup must shuffle on the cell key")
  }

  test("pyramid: every level from one aggregation, one cell exchange") {
    // a per-level rollup chain plans one exchange per level (and, as a
    // lazy union, O(levels^2) of them before reuse). The projected input
    // keeps a pyramid cached by an earlier suite (build(images, 4, 12))
    // from being substituted into the plan.
    val cellExchanges = "Exchange hashpartitioning\\(cell".r
    val plan = planOf(TilePyramid.pyramidLazy(
      imgs.select("lat", "lon", "w", "h", "phash"), 4, 12))
    assert(cellExchanges.findAllIn(plan).length == 1,
      s"the pyramid must shuffle once, on the cell key:\n$plan")
    // the phash bit state is fixed-width: hash aggregation, no sort
    assert(!plan.contains("ObjectHashAggregate") &&
      !plan.contains("SortAggregate"), plan)
    // resume from stored leaves: every upper level from one combine
    val root = tempDir("graft-plan-resume")
    Snapshot.write(TilePyramid.leafTiles(imgs, 10), root, "leaves", 1L)
    val resume = planOf(Snapshot.rebuildFromLeaves(spark, root, 10, 6))
    assert(cellExchanges.findAllIn(resume).length == 1,
      s"resume must shuffle once, on the cell key:\n$resume")
    // delta merge: one explode to ancestors + one combine, so the plan
    // shape does not depend on the number of levels
    val slim = imgs.select("lat", "lon", "w", "h", "phash")
    val base = tempDir("graft-plan-merge")
    Snapshot.write(TilePyramid.pyramidLazy(slim, 2, 8), base, "base", 1L)
    def mergeExchanges(minRes: Int): Int = cellExchanges.findAllIn(planOf(
      Snapshot.mergePlan(Snapshot.read(spark, base),
        TilePyramid.leafTiles(slim, 8), 8, minRes,
        graft.geo.QuadkeyTiling))).length
    val (five, two) = (mergeExchanges(5), mergeExchanges(2))
    assert(five > 0 && five == two,
      s"merge cell exchanges: $five for levels 5..8, $two for 2..8")
    val mosaic = planOf(graft.operators.MosaicPyramid.levelAt(
      Images.imagesWithBytes(spark, SparkSpec.Sf), 9, 5))
    assert(cellExchanges.findAllIn(mosaic).length == 1,
      s"the mosaic level must shuffle once, on the cell key:\n$mosaic")
  }

  test("kNN candidate join broadcasts the exploded query side") {
    // Build just the candidate-join stage the iterative loop uses.
    val qs = Fixtures.knnQueries(spark)
      .withColumn("qcell", graft.geo.functions.cell_encode(
        col("qlat"), col("qlon"), 8))
    val cand = qs.withColumn("cell",
      explode(graft.geo.functions.cell_ring(col("qcell"), lit(2))))
    val lv = imgs.select(col("image_id"), col("lat"), col("lon"))
      .withColumn("cell", graft.geo.functions.cell_encode(col("lat"), col("lon"), 8))
    val joined = lv.join(broadcast(cand), Seq("cell"))
    assert(planOf(joined).contains("BroadcastHashJoin"))
  }

  test("embedding near-dup plan has no nested-loop pair generator") {
    val df = graft.similarity.Ann.lshCosNearDupPairs(spark, SparkSpec.Sf, 0.4)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), "cartesian pair generator")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "theta-join pair generator")
  }

  test("interval join is a bucket equi-join, never a theta join") {
    val df = graft.Queries.queryMap("q_interval_join")(spark, SparkSpec.Sf)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), "cartesian range join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "theta range join")
    assert(plan.contains("bucket"), "bucket key must drive the join")
  }

  test("descent child join is a broadcast equi-join on the parent cell") {
    // The operator localCheckpoints each level (so its executed plan shows
    // RDD scans); assert the join SHAPE on the candidate stage it builds:
    // level tiles joined to the previous selection must hash-join on pcell,
    // never nest-loop over the tile table.
    val tiles = TilePyramid.pyramidLazy(imgs, 4, 6)
      .select("cell", "res", "cnt", "lat_min", "lat_max", "lon_min", "lon_max")
    val parents = Fixtures.knnQueries(spark).limit(3)
      .select(col("qid"), graft.geo.functions.cell_encode(
        col("qlat"), col("qlon"), 5).as("pcell"))
    val cand = tiles.filter(col("res") === 6)
      .withColumn("pcell", graft.geo.functions.cell_parent_at(col("cell"), 5))
      .join(broadcast(parents), Seq("pcell"))
    val plan = planOf(cand)
    assert(plan.contains("BroadcastHashJoin"), "child pruning must be equi-join")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
  }

  test("chunk rows is map-only: no exchange below the generator") {
    val df = Queries.queryMap("q_chunk_rows")(spark, SparkSpec.Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), "posexplode missing")
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle — chunk rows are produced at scan speed:\n$plan")
  }

  test("trajectory raster: map-side generator, no join, only keyed " +
      "exchanges (user window + distinct-agg rollup)") {
    val df = Queries.queryMap("q_traj_raster")(spark, SparkSpec.Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), "line_cells explode missing")
    assert(!plan.contains("Join"),
      s"rasterization must be a generator, not a join:\n$plan")
    // 1 user-window exchange + the count(DISTINCT user) rollup's
    // two-phase (cell,user)->(cell) exchanges; nothing else may shuffle
    // (in particular nothing proportional to the exploded cell facts
    // beyond the keyed rollup itself)
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx <= 4,
      s"unexpected extra shuffles in the rasterization plan ($nEx):\n$plan")
  }

  test("isolation query is keyed anti-join work, never a theta anti-join") {
    val df = Queries.queryMap("q_isolated")(spark, SparkSpec.Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), "left-anti hit subtraction missing")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"isolation must stay equi-keyed:\n$plan")
  }

  test("image near-dup evaluates the dhash kernel once per side") {
    // InferFiltersFromConstraints would push isnotnull(dhash56(...)) below
    // the dedup aggregates and re-run the dominant kernel on every
    // pre-dedup row; the non-nullable coalesce wrapper prevents it.
    val plan = Queries.queryMap("q_image_neardup")(spark, SparkSpec.Sf)
      .queryExecution.optimizedPlan.toString
    plan.linesIterator.filter(_.trim.startsWith("Filter")).foreach { f =>
      assert(!f.contains("dhash56"),
        s"dhash kernel evaluated inside a pushed filter:\n$f")
    }
  }

  test("cell_encode stays inside codegen (no fallback marker)") {
    val df = imgs.select(graft.geo.functions.cell_encode(
      col("lat"), col("lon"), 8).as("cell"))
    val plan = finalPlanOf(df)
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("))
  }
}
