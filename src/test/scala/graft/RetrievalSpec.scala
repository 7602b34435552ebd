package graft

import org.apache.spark.sql.functions._

import graft.geo.GridCell
import graft.operators.{Retrieval, TilePyramid}
import graft.sources.{Fixtures, Images}

/** Pyramid retrieval vs an independent driver-side recomputation (plain
  * Scala, same IEEE-754 op order as the engine's center-distance column,
  * so doubles compare with ==). Pins both reference semantics:
  * per-level top-k descent into children-of-selected, and all-level
  * budgeted collapse ranking. */
class RetrievalSpec extends SparkFunSuite {

  private val K = 3
  private val CollapseK = 10
  private val CollapseBudget = 400L

  private case class Tile(cell: Long, res: Int, cnt: Long,
                          latMin: Double, latMax: Double,
                          lonMin: Double, lonMax: Double)

  private lazy val points: Array[(Double, Double)] =
    Images.images(spark, SparkSpec.Sf).select(col("lat"), col("lon"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))

  private def tilesAt(res: Int): Map[Long, Tile] =
    points.groupBy(p => GridCell.encode(p._1, p._2, res)).map { case (c, ps) =>
      c -> Tile(c, res, ps.length,
        ps.map(_._1).min, ps.map(_._1).max, ps.map(_._2).min, ps.map(_._2).max)
    }

  private def dist(t: Tile, qlat: Double, qlon: Double): Double = {
    val clat = (t.latMin + t.latMax) / 2.0
    val clon = (t.lonMin + t.lonMax) / 2.0
    (clat - qlat) * (clat - qlat) + (clon - qlon) * (clon - qlon)
  }

  private def topK(ts: Iterable[Tile], qlat: Double, qlon: Double, k: Int) =
    ts.toSeq.map(t => (t, dist(t, qlat, qlon)))
      .sortBy { case (t, d) => (d, t.cell) }.take(k)

  private lazy val queries: Array[(Int, Double, Double)] =
    Fixtures.knnQueries(spark).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))

  test("descendTopK equals driver-side per-level descent exactly") {
    val levels = (4 to 8).map(r => r -> tilesAt(r)).toMap
    val want = scala.collection.mutable.Set.empty[(Int, Int, Long, Int, Double)]
    queries.foreach { case (qid, qlat, qlon) =>
      var sel = topK(levels(4).values, qlat, qlon, K)
      sel.zipWithIndex.foreach { case ((t, d), i) =>
        want += ((qid, 4, t.cell, i + 1, d)) }
      (5 to 8).foreach { r =>
        val parents = sel.map(_._1.cell).toSet
        val cand = levels(r).values
          .filter(t => parents.contains(GridCell.parentAt(t.cell, r - 1)))
        sel = topK(cand, qlat, qlon, K)
        sel.zipWithIndex.foreach { case ((t, d), i) =>
          want += ((qid, r, t.cell, i + 1, d)) }
      }
    }
    val got = Retrieval.descendTopK(
      TilePyramid.pyramidLazy(Images.images(spark, SparkSpec.Sf), 4, 8),
      Fixtures.knnQueries(spark), 4, 8, K)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(5),
        r.getDouble(4))).toSet
    assert(got == want.toSet)
  }

  test("descendTopK under the HEX strategy equals driver-side descent") {
    import graft.geo.{HexCell, HexTiling}
    // hex hierarchy is CENTER-ROUNDED (H3 semantics): a level-r tile is
    // the parent-chain ancestor of the leaf cell, NOT the direct coarse
    // encode — the driver truth must mirror the rollup chain exactly
    val leafRes = 7
    def hexTilesAt(r: Int): Map[Long, Tile] =
      points.groupBy(p =>
        HexCell.parentAt(HexCell.encode(p._1, p._2, leafRes), r))
        .map { case (c, ps) =>
          c -> Tile(c, r, ps.length,
            ps.map(_._1).min, ps.map(_._1).max,
            ps.map(_._2).min, ps.map(_._2).max)
        }
    val levels = (4 to leafRes).map(r => r -> hexTilesAt(r)).toMap
    val want = scala.collection.mutable.Set.empty[(Int, Int, Long, Int, Double)]
    queries.foreach { case (qid, qlat, qlon) =>
      var sel = topK(levels(4).values, qlat, qlon, K)
      sel.zipWithIndex.foreach { case ((t, d), i) =>
        want += ((qid, 4, t.cell, i + 1, d)) }
      (5 to leafRes).foreach { r =>
        val parents = sel.map(_._1.cell).toSet
        val cand = levels(r).values
          .filter(t => parents.contains(HexCell.parentAt(t.cell, r - 1)))
        sel = topK(cand, qlat, qlon, K)
        sel.zipWithIndex.foreach { case ((t, d), i) =>
          want += ((qid, r, t.cell, i + 1, d)) }
      }
    }
    val got = Retrieval.descendTopK(
      TilePyramid.pyramidLazy(Images.images(spark, SparkSpec.Sf), 4, leafRes,
        HexTiling),
      Fixtures.knnQueries(spark), 4, leafRes, K, strategy = HexTiling)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(5),
        r.getDouble(4))).toSet
    assert(got == want.toSet)
  }

  test("collapseTopK equals driver-side all-level budgeted ranking exactly") {
    val all = (4 to 7).flatMap(r => tilesAt(r).values)
    val want = scala.collection.mutable.Set.empty[(Int, Int, Long, Int, Double)]
    queries.foreach { case (qid, qlat, qlon) =>
      val ranked = topK(all, qlat, qlon, CollapseK)
      var cum = 0L
      ranked.zipWithIndex.foreach { case ((t, d), i) =>
        cum += t.cnt
        if (cum <= CollapseBudget) want += ((qid, t.res, t.cell, i + 1, d))
      }
    }
    val got = Retrieval.collapseTopK(
      TilePyramid.pyramidLazy(Images.images(spark, SparkSpec.Sf), 4, 7),
      Fixtures.knnQueries(spark), CollapseK, CollapseBudget)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(5),
        r.getDouble(4))).toSet
    assert(got == want.toSet)
  }

  test("threshold mode selects the FARTHEST tiles (the reference quirk), exactly") {
    // distance > t keeps the far tail — pinned verbatim from
    // tree_builder.py:250-253 / tree_retriever.py:245-248 (the reference
    // selects nodes FARTHER than the threshold; a "fixed" engine would
    // select the near ones). rnk stays the ascending-distance rank.
    val t = 120000.0
    val levels = (4 to 5).map(r => r -> tilesAt(r)).toMap
    val want = scala.collection.mutable.Set.empty[(Int, Int, Long, Int, Double)]
    queries.foreach { case (qid, qlat, qlon) =>
      def ranked(ts: Iterable[Tile]) =
        ts.toSeq.map(x => (x, dist(x, qlat, qlon)))
          .sortBy { case (x, d) => (d, x.cell) }.zipWithIndex
      var sel = ranked(levels(4).values).filter(_._1._2 > t)
      sel.foreach { case ((x, d), i) => want += ((qid, 4, x.cell, i + 1, d)) }
      val parents = sel.map(_._1._1.cell).toSet
      val cand = levels(5).values
        .filter(x => parents.contains(GridCell.parentAt(x.cell, 4)))
      sel = ranked(cand).filter(_._1._2 > t)
      sel.foreach { case ((x, d), i) => want += ((qid, 5, x.cell, i + 1, d)) }
    }
    val got = Retrieval.descendTopK(
      TilePyramid.pyramidLazy(Images.images(spark, SparkSpec.Sf), 4, 5),
      Fixtures.knnQueries(spark), 4, 5, k = 1, threshold = Some(t))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(5),
        r.getDouble(4))).toSet
    assert(got == want.toSet)
    // the quirk is observable: at least one selected tile is farther than
    // some unselected tile (farthest-first, not nearest-first)
    assert(want.nonEmpty)
  }

  test("empty-selection fallback: a level with no children ranks ALL its tiles") {
    // Degraded mode of the kmeans/merge retrievers (kmeans_retriever.py:
    // 112-114): remove every level-5 child of the level-4 selection for
    // one query; with emptyFallback the level-5 selection comes from ALL
    // remaining level-5 tiles; without, that level is simply empty.
    val (qid, qlat, qlon) = queries.head
    val q1 = Fixtures.knnQueries(spark).filter(col("qid") === qid)
    val sel4 = topK(tilesAt(4).values, qlat, qlon, K).map(_._1.cell).toSet
    val pyramid = TilePyramid.pyramidLazy(Images.images(spark, SparkSpec.Sf), 4, 5)
      .filter(!(col("res") === 5 &&
        graft.geo.functions.cell_parent_at(col("cell"), 4)
          .isin(sel4.toSeq: _*)))
    val without = Retrieval.descendTopK(pyramid, q1, 4, 5, K)
      .filter(col("res") === 5).count()
    assert(without == 0, "without fallback the emptied level must yield nothing")
    val withFb = Retrieval.descendTopK(pyramid, q1, 4, 5, K, emptyFallback = true)
      .filter(col("res") === 5).collect()
      .map(r => (r.getLong(2), r.getInt(5), r.getDouble(4))).toSet
    val remaining = tilesAt(5).values
      .filter(t => !sel4.contains(GridCell.parentAt(t.cell, 4)))
    val want = topK(remaining, qlat, qlon, K).zipWithIndex
      .map { case ((t, d), i) => (t.cell, i + 1, d) }.toSet
    assert(withFb == want && withFb.nonEmpty)
  }

  test("snapshot-backed descent: same result, level scans partition-pruned") {
    val root = tempDir("graft-ret-snap")
    val imgs = Images.images(spark, SparkSpec.Sf)
    graft.operators.Snapshot.write(
      TilePyramid.pyramidLazy(imgs, 4, 6), root, "r1", buildTs = 7L)
    val snap = graft.operators.Snapshot.read(spark, root)
    // parity: unpersisted snapshot-backed descent == derived-pyramid descent
    val got = Retrieval.descendTopK(snap, Fixtures.knnQueries(spark),
      4, 6, K, persistTiles = false).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(5))).toSet
    val want = Retrieval.descendTopK(TilePyramid.pyramidLazy(imgs, 4, 6),
      Fixtures.knnQueries(spark), 4, 6, K).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(5))).toSet
    assert(got == want && got.nonEmpty)
    // the per-level stage the operator builds (filter res=r over the
    // snapshot scan) prunes at the partition level — res never reaches
    // the data filters because it is a partition DIRECTORY
    val levelStage = snap
      .select(col("cell"), col("res"), col("cnt"),
        col("lat_min"), col("lat_max"), col("lon_min"), col("lon_max"))
      .filter(col("res") === 6)
    val plan = levelStage.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("res") && scanLine.contains("6"),
      s"res partition filter not pushed to the scan:\n$plan")
  }

  test("soft-membership descent: a genuinely multi-parent point is " +
    "deduped and ranked once (tree DAG, U2)") {
    import graft.operators.KmeansAssign
    import graft.operators.KmeansAssign.Centroid
    val sess = spark
    import sess.implicits._
    // hand-built DAG: p1 sits between c1 and c2 (squared dists 0.2025 vs
    // 0.3025, ratio < SoftRho=4) -> TWO parents; the rest are single-parent
    val pts = Seq(
      ("p1", 0.0, 0.45), ("p2", 0.0, 0.05), ("p3", 0.0, 0.95),
      ("p4", 5.0, 5.0))
      .toDF("image_id", "lat", "lon")
    // centroids are integer micro-degree lattice points
    val cents = Seq(
      Centroid(1, 0L, 0L), Centroid(2, 0L, 1000000L),
      Centroid(3, 5000000L, 5000000L))
    val edges = KmeansAssign.softMembers(pts, cents)
    val byPoint = edges.collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getInt(1)).toSet).toMap
    assert(byPoint("p1") == Set(1, 2), s"p1 must be multi-parent: $byPoint")
    assert(byPoint("p2") == Set(1) && byPoint("p3") == Set(2) &&
      byPoint("p4") == Set(3))
    // nearest edge carries weight exactly 1.0
    val w1 = edges.filter(col("image_id") === "p2" && col("cid") === 1)
      .head().getDouble(2)
    assert(w1 == 1.0)

    // descend: both of p1's parents are selected -> without the U2 dedup
    // p1 would be ranked twice
    val clusters = cents.map(c => (c.cid, c.clat / 1e6, c.clon / 1e6))
      .toDF("cid", "clat", "clon")
    val queries = Seq((1, 0.0, 0.4)).toDF("qid", "qlat", "qlon")
    val got = Retrieval.descendSoft(pts, edges, clusters, queries,
      kc = 2, kp = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    // selected clusters for q=(0,0.4): c1 (0.16) and c2 (0.36); members
    // after dedup = {p1, p2, p3}; p4 (cluster 3 not selected) is absent
    val gotIds = got.map(_._2).toSeq
    assert(gotIds.count(_ == "p1") == 1,
      s"multi-parent p1 must appear exactly once: ${got.mkString(", ")}")
    assert(gotIds.toSet == Set("p1", "p2", "p3"))
    // ranking equals the brute-force distance order over the deduped set
    def d(la: Double, lo: Double) =
      (la - 0.0) * (la - 0.0) + (lo - 0.4) * (lo - 0.4)
    val want = Seq("p1" -> d(0.0, 0.45), "p2" -> d(0.0, 0.05),
      "p3" -> d(0.0, 0.95)).sortBy { case (id, dd) => (dd, id) }
      .zipWithIndex.map { case ((id, dd), i) => (1, id, dd, i + 1) }
    assert(got.sortBy(_._4).toSeq == want)
  }

  test("descent invariant: every selected child's parent was selected") {
    val rows = Retrieval.descendTopK(
      TilePyramid.pyramidLazy(Images.images(spark, SparkSpec.Sf), 4, 8),
      Fixtures.knnQueries(spark), 4, 8, K).collect()
    val byLevel = rows.groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (k, rs) => k -> rs.map(_.getLong(2)).toSet }
    rows.filter(_.getInt(1) > 4).foreach { r =>
      val parent = GridCell.parentAt(r.getLong(2), r.getInt(1) - 1)
      assert(byLevel((r.getInt(0), r.getInt(1) - 1)).contains(parent),
        s"orphan selection qid=${r.getInt(0)} res=${r.getInt(1)}")
    }
  }
}
