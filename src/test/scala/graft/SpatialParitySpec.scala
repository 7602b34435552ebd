package graft

import org.apache.spark.sql.functions._

import graft.operators.{Knn, SpatialJoin, TilePyramid}
import graft.sources.{Fixtures, Images}

/** Oracle-equivalence suite (SURVEY.md §5.2): every pruned/prefiltered
  * operator must equal its brute-force form EXACTLY (row-set equality, not
  * overlap ratio — ≙ reference overlap_calculate at forced 100%,
  * raptor `merge_distance&tree_exam.py`:334-446). */
class SpatialParitySpec extends SparkFunSuite {

  private lazy val images = Images.images(spark, SparkSpec.Sf).cache()

  test("pip prefilter+refine == brute force (incl. concave polygons)") {
    val fast = SpatialJoin.pipJoin(images, spark).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val brute = SpatialJoin.pipBrute(images, spark).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(fast.nonEmpty)
    assert(fast == brute)
    // every polygon kind matched something
    Seq("rect_", "hex_", "l_").foreach { kind =>
      assert(fast.exists(_._1.startsWith(kind)), s"no matches for $kind*")
    }
  }

  test("partitioned pip join: sort-merge plan, zero broadcast, == pipJoin") {
    val df = SpatialJoin.pipJoinPartitioned(images, spark)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"the partitioned variant must not broadcast:\n$plan")
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = SpatialJoin.pipJoin(images, spark).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("distance-radius self-join == brute all-pairs filter") {
    import org.apache.spark.sql.functions._
    val r = 0.0001
    val fast = SpatialJoin.distanceJoin(images, r).collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    val pts = images.select(col("image_id"), col("lat"), col("lon"))
    val brute = pts.toDF("a_id", "a_lat", "a_lon")
      .crossJoin(pts.toDF("b_id", "b_lat", "b_lon"))
      .filter(col("a_id") < col("b_id"))
      .filter(
        (col("a_lat") - col("b_lat")) * (col("a_lat") - col("b_lat")) +
          (col("a_lon") - col("b_lon")) * (col("a_lon") - col("b_lon"))
          <= lit(r * r))
      .select(col("a_id"), col("b_id"))
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    // the planted hot cluster guarantees a real pair population
    assert(fast.size > 100, s"fixture too sparse: ${fast.size} pairs")
    assert(fast == brute)
  }

  test("ring-expansion kNN == brute-force kNN") {
    val qs = Fixtures.knnQueries(spark)
    val fast = Knn.knnExact(images, qs, 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(3))).toSet
    val brute = Knn.knnBrute(images, qs, 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(3))).toSet
    assert(fast.size == 48 * 10)
    assert(fast == brute)
  }

  test("kNN self-join == driver replay (ring candidates, integer " +
    "micro-distances, (d2, nid) tie-break)") {
    import org.apache.spark.sql.functions._
    val k = 3
    val got = Knn.knnSelfJoin(images, k, 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    // independent replay: bin via the engine's encode (cell math pinned in
    // GridCellSpec), then candidates/distances/ranks in plain Scala
    val rows = images
      .select(col("image_id"), col("lat"), col("lon"),
        graft.geo.functions.cell_encode(col("lat"), col("lon"), 8).as("cell"))
      .collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 1000000).toLong,
        math.floor(r.getDouble(2) * 1000000).toLong, r.getLong(3)))
    val byCell = rows.groupBy(_._4)
    val want = rows.flatMap { case (qid, qlat, qlon, c) =>
      val cands = graft.geo.GridCell.ring(c, 1).flatMap(
        byCell.getOrElse(_, Array.empty)).filter(_._1 != qid)
      cands.map { case (nid, nlat, nlon, _) =>
        val d2 = (qlat - nlat) * (qlat - nlat) + (qlon - nlon) * (qlon - nlon)
        (qid, nid, d2)
      }.sortBy { case (_, nid, d2) => (d2, nid) }
        .take(k).zipWithIndex
        .map { case ((q, n, d2), i) => (q, i + 1L, n, d2) }
    }.toSet
    assert(got == want && got.size > 1000)
  }

  test("kNN self-join leaves the session conf as it found it") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val conf = spark.conf
    val prior = conf.getAll.get(key)
    try {
      val few = images.limit(200)
      conf.unset(key)
      val out = Knn.knnSelfJoin(few, 3, 8)
      assert(!conf.getAll.contains(key))
      // computed before the conf was restored: the frame is a checkpoint,
      // with no top-k aggregate left to run under the caller's conf
      assert(out.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
      assert(!out.queryExecution.executedPlan.toString
        .contains("ObjectHashAggregate"))
      conf.set(key, "77")
      Knn.knnSelfJoin(few, 3, 8)
      assert(conf.get(key) == "77")
    } finally prior match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  test("pip prefilter+refine == brute force under the S2 strategy") {
    val fast = SpatialJoin.pipJoin(images, spark,
        strategy = graft.geo.S2Tiling, res = graft.geo.S2Tiling.defaultCoverRes)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val brute = SpatialJoin.pipBrute(images, spark).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(fast.nonEmpty && fast == brute)
  }

  test("ring-expansion kNN == brute-force kNN under the S2 strategy") {
    val qs = Fixtures.knnQueries(spark)
    val fast = Knn.knnExact(images, qs, 10, res = 7,
        strategy = graft.geo.S2Tiling).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(3))).toSet
    val brute = Knn.knnBrute(images, qs, 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(3))).toSet
    assert(fast.size == 48 * 10)
    assert(fast == brute)
  }

  test("pip prefilter+refine == brute force under the HEX strategy") {
    val fast = SpatialJoin.pipJoin(images, spark,
        strategy = graft.geo.HexTiling, res = graft.geo.HexTiling.defaultCoverRes)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val brute = SpatialJoin.pipBrute(images, spark).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(fast.nonEmpty && fast == brute)
  }

  test("ring-expansion kNN == brute-force kNN under the HEX strategy") {
    val qs = Fixtures.knnQueries(spark)
    val fast = Knn.knnExact(images, qs, 10, res = 8,
        strategy = graft.geo.HexTiling).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(3))).toSet
    val brute = Knn.knnBrute(images, qs, 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(3))).toSet
    assert(fast.size == 48 * 10)
    assert(fast == brute)
  }

  test("pyramid under the HEX strategy: totals invariant, parent partition") {
    val leaves = TilePyramid.leafTiles(images, 8, graft.geo.HexTiling)
    val rolled = TilePyramid.pyramidLazy(images, 7, 8, graft.geo.HexTiling)
      .filter(col("res") === 7)
    val leafTot = leaves.agg(sum(col("cnt"))).collect()(0).getLong(0)
    val rollTot = rolled.agg(sum(col("cnt"))).collect()(0).getLong(0)
    assert(leafTot == rollTot) // every leaf lands in exactly one parent
    val l8 = leaves.select(col("cell"), col("cnt")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val l7 = rolled.select(col("cell"), col("cnt")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = l8.groupBy { case (c, _) => graft.geo.HexCell.parentOnce(c) }
      .view.mapValues(_.map(_._2).sum).toMap
    assert(want == l7)
    assert(l7.keys.forall(c => graft.geo.HexCell.resOf(c) == 7))
  }

  test("knn(k) is a prefix of knn(k+5)") {
    val qs = Fixtures.knnQueries(spark).limit(8)
    val k10 = Knn.knnExact(images, qs, 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(3))).toSet
    val k15 = Knn.knnExact(images, qs, 15).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(3))).toSet
    assert(k10.subsetOf(k15))
  }

  test("budget semantics: stop-before vs include-overflow quirk (W3)") {
    import spark.implicits._
    // one query, 4 ranked rows of 500/600/700/800 bytes, budget 2000:
    // stop-before keeps cum<=2000 -> 3 rows; include keeps prev-cum<2000 -> 4
    val ranked = Seq(
      (1, "a", 0.1, 1, 500L), (1, "b", 0.2, 2, 600L),
      (1, "c", 0.3, 3, 700L), (1, "d", 0.4, 4, 800L))
      .toDF("qid", "image_id", "dist_sq", "rnk", "bytes")
    assert(Knn.budgetStopBefore(ranked, 2000L).count() == 3)
    assert(Knn.budgetIncludeOverflow(ranked, 2000L).count() == 4)
    // exact-fit boundary: budget exactly at cum of row 3
    assert(Knn.budgetStopBefore(ranked, 1800L).count() == 3)
    assert(Knn.budgetIncludeOverflow(ranked, 1800L).count() == 3)
  }

  test("pyramid invariants: counts monotone, totals invariant, parent linkage") {
    val (pyr, counts) = TilePyramid.build(images, 4, 12)
    val levels = counts.toSeq.sortBy(_._1)
    // cell counts nondecreasing with res
    levels.sliding(2).foreach { case Seq((_, c1), (_, c2)) => assert(c1 <= c2) }
    // n_images and bytes_total identical at every level
    val m = TilePyramid.levelMetrics(pyr).collect()
    assert(m.map(_.getAs[Long]("n_images")).toSet.size == 1)
    assert(m.map(_.getAs[Long]("bytes_total")).toSet.size == 1)
    // every res-5 cell is the parentAt of its res-6 children; children sum -> parent cnt
    val l6 = pyr.filter(col("res") === 6)
      .select(col("cell"), col("cnt")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val l5 = pyr.filter(col("res") === 5)
      .select(col("cell"), col("cnt")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val rolled = l6.groupBy { case (c, _) => graft.geo.GridCell.parentAt(c, 5) }
      .view.mapValues(_.map(_._2).sum).toMap
    assert(rolled == l5)
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
