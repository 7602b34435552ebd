package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.geo.{functions => G, HexTiling, QuadkeyTiling, S2Cell,
  S2Tiling, TilingStrategy}
import graft.agg.{LevelCounts, PhashCentroid}
import graft.operators.{Retrieval, TilePyramid}
import graft.sources.{Fixtures, Images}

/** The tile pyramid over the S2-style index: the rollup shape is
  * index-agnostic (groupBy(parent-of-cell)), so swapping the cell function
  * must conserve totals and respect containment. */
class S2PyramidSpec extends SparkFunSuite {

  /** One level up, the reference way: re-key every tile to its parent
    * and combine the tiles that now share a cell. */
  private def rollupOnce(tiles: DataFrame,
                         strategy: TilingStrategy): DataFrame =
    TilePyramid.combineByCell(
      tiles.withColumn("cell", strategy.parentOnceCol(col("cell"))), strategy)

  /** Reference pyramid, collected as `cols` rows: leaf tiles, then one
    * [[rollupOnce]] per level, with the early stop dropping every level
    * coarser than the finest non-leaf level of <= 1 cell. */
  private def chainPyramid(imgs: DataFrame, lo: Int, hi: Int,
                           strategy: TilingStrategy, cols: Seq[String])
      : (Seq[Row], Map[Int, Long]) = {
    val levels = (hi until lo by -1).scanLeft(
      TilePyramid.leafTiles(imgs, hi, strategy))(
      (level, _) => rollupOnce(level, strategy))
    val all = levels.reduce(_.unionByName(_))
      .select(cols.map(col): _*).collect().toSeq
    val counts = all.groupBy(_.getAs[Int]("res"))
      .map { case (r, rs) => r -> rs.size.toLong }
    val rStop = counts.collect { case (r, n) if r < hi && n <= 1 => r }
      .maxOption.getOrElse(lo)
    (all.filter(_.getAs[Int]("res") >= rStop), counts.filter(_._1 >= rStop))
  }

  /** Every column of every row, in a stable order. */
  private def canon(rows: Seq[Row]): Seq[String] =
    rows.map(_.mkString("|")).sorted

  test("build == leafTiles + rollupOnce chain on every column, for the " +
      "quadkey, S2 and hex strategies, early stop included; the slim " +
      "pyramid is the full one's slim columns") {
    val all = Images.images(spark, SparkSpec.Sf)
    // the planted hot cluster (k % 20 == 0) spans 0.001 deg: one cell at
    // every level, so every level under the leaf is non-reducing
    val hot = all.filter(col("k") % 20 === 0)
    val cases = Seq((all, QuadkeyTiling, 9, 12), (all, S2Tiling, 8, 10),
      (all, HexTiling, 6, 8), (hot, QuadkeyTiling, 9, 12))
    val built = cases.map { case (imgs, strategy, lo, hi) =>
      val what = s"${strategy.name} $lo..$hi"
      val (pyr, counts) = TilePyramid.build(imgs, lo, hi, strategy)
      val cols = pyr.columns.toSeq
      val got = pyr.collect().toSeq
      val (want, wantCounts) = chainPyramid(imgs, lo, hi, strategy, cols)
      assert(counts == wantCounts, what)
      assert(canon(got) == canon(want), what)
      val slim = TilePyramid.pyramidLazySlim(imgs, lo, hi, strategy)
        .filter(col("res").isin(counts.keys.toSeq: _*))
      val slimCols = slim.columns.toSeq
      assert(canon(slim.collect().toSeq) ==
        canon(got.map(r => Row.fromSeq(slimCols.map(c => r.getAs[Any](c))))),
        what)
      counts
    }
    assert(built.last == Map(11 -> 1L, 12 -> 1L), "hot cluster: early stop")
  }

  test("phash bit-state and level-count aggregates == the scalar-sum " +
      "forms they replace, nulls and empty input included") {
    import spark.implicits._
    // g 0: phashes with some nulls; g 1: all null; g 2: no nulls. Random
    // longs set the sign bit too. Four partitions run partial + final.
    val rnd = new scala.util.Random(7)
    val leaf = (0 until 600).map { i =>
      val g = i % 3
      (g.toLong, if (g == 1 || (g == 0 && i % 7 == 0)) None else Some(rnd.nextLong()))
    }.toDF("g", "phash").repartition(4)
    def same(got: DataFrame, want: DataFrame): Unit = {
      assert(got.schema == want.schema)
      assert(canon(got.collect().toSeq) == canon(want.collect().toSeq))
    }
    def leafOf(df: DataFrame, keys: String*) = {
      val ref = (0 until 64).map(i =>
        sum(shiftright(col("phash"), i).bitwiseAND(lit(1L)))) :+ count(lit(1))
      (df.groupBy(keys.map(col): _*)
        .agg(PhashCentroid.bitsOf(col("phash")).as("bits")),
        df.groupBy(keys.map(col): _*).agg(array(ref: _*).as("bits")))
    }
    val (leafGot, leafRef) = leafOf(leaf, "g")
    same(leafGot, leafRef)
    same(leafOf(leaf.limit(0))._1, leafOf(leaf.limit(0))._2)
    // merge input: the leaf vectors (g 1's is 64 nulls + a count), a null
    // vector in a group with others, and a group holding only a null one
    val bits = leafRef.union(Seq(0L, 5L).toDF("g")
        .withColumn("bits", lit(null).cast("array<bigint>")))
      .withColumn("k", col("g") % 2).repartition(3)
    same(bits.groupBy("k")
        .agg(PhashCentroid.mergeBits(col("bits")).as("bits")),
      bits.groupBy("k").agg(array((1 to 65).map(i =>
        sum(element_at(col("bits"), i))): _*).as("bits")))
    // level counts: in range, out of range and null levels
    val res = Seq(Some(0), Some(30), Some(12), Some(12), Some(-1), Some(31),
      Some(45), None).toDF("res").repartition(3)
    val counts = res.agg(LevelCounts.of(col("res"))).head().getSeq[Long](0)
    val want = res.agg(array((0 to LevelCounts.MaxRes).map(r =>
      coalesce(sum(when(col("res") === r, 1L).otherwise(0L)), lit(0L))) :+
      coalesce(sum(when(col("res") < 0 || col("res") > LevelCounts.MaxRes, 1L)
        .otherwise(0L)), lit(0L)): _*)).head().getSeq[Long](0)
    assert(counts == want && counts.last == 3L)
    assert(LevelCounts.toMap(counts).isEmpty)
    assert(LevelCounts.toMap(res.filter(col("res").between(0, 30))
      .agg(LevelCounts.of(col("res"))).head().getSeq[Long](0)) ==
      Some(Map(0 -> 1L, 12 -> 2L, 30 -> 1L)))
  }

  test("s2 rollup chain conserves counts and parents contain children") {
    val imgs = Images.images(spark, SparkSpec.Sf)
    val leaf = imgs
      .withColumn("cell", G.s2_encode(col("lat"), col("lon"), 12))
      .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
    val up = leaf
      .withColumn("parent", G.s2_parent_at(col("cell"), 10))
      .groupBy(col("parent")).agg(sum(col("cnt")).as("cnt"))

    val total = imgs.count()
    assert(leaf.agg(sum(col("cnt"))).first().getLong(0) == total)
    assert(up.agg(sum(col("cnt"))).first().getLong(0) == total)
    assert(up.count() <= leaf.count())

    // spot containment: every leaf cell's level-10 parent contains it
    leaf.select(col("cell")).limit(200).collect().foreach { r =>
      val c = r.getLong(0)
      assert(S2Cell.contains(S2Cell.parentAt(c, 10), c))
      assert(S2Cell.level(c) == 12)
    }
  }

  test("TilePyramid.build under the S2 strategy: totals, levels, linkage") {
    val imgs = Images.images(spark, SparkSpec.Sf)
    val (pyr, counts) = TilePyramid.build(imgs, 6, 10, S2Tiling)
    assert(counts.keySet == (6 to 10).toSet)
    val total = imgs.count()
    val m = TilePyramid.levelMetrics(pyr).collect()
    assert(m.map(_.getAs[Long]("n_images")).toSet == Set(total))
    // engine rollup (parentOnceCol bit algebra) == independent parentAt
    val l9 = pyr.filter(col("res") === 9).select("cell", "cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val l8 = pyr.filter(col("res") === 8).select("cell", "cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val rolled = l9.groupBy { case (c, _) => S2Cell.parentAt(c, 8) }
      .view.mapValues(_.map(_._2).sum).toMap
    assert(rolled == l8)
    pyr.filter(col("res") === 9).select("cell").limit(100).collect()
      .foreach(r => assert(S2Cell.level(r.getLong(0)) == 9))
  }

  test("descent retrieval runs on the S2 pyramid and equals recomputation") {
    val imgs = Images.images(spark, SparkSpec.Sf)
    val points = imgs.select(col("lat"), col("lon")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    def tilesAt(lvl: Int) =
      points.groupBy(p => S2Cell.fromLatLng(p._1, p._2, lvl)).map { case (c, ps) =>
        c -> (ps.map(_._1).min, ps.map(_._1).max, ps.map(_._2).min, ps.map(_._2).max)
      }
    def dist(b: (Double, Double, Double, Double), qla: Double, qlo: Double) = {
      val cla = (b._1 + b._2) / 2.0; val clo = (b._3 + b._4) / 2.0
      (cla - qla) * (cla - qla) + (clo - qlo) * (clo - qlo)
    }
    val K = 3
    val levels = (5 to 8).map(r => r -> tilesAt(r)).toMap
    val want = scala.collection.mutable.Set.empty[(Int, Int, Long, Int)]
    Fixtures.knnQueries(spark).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .foreach { case (qid, qla, qlo) =>
        var sel = levels(5).toSeq.map { case (c, b) => (dist(b, qla, qlo), c) }
          .sortBy(identity).take(K).map(_._2)
        sel.zipWithIndex.foreach { case (c, i) => want += ((qid, 5, c, i + 1)) }
        (6 to 8).foreach { lvl =>
          val parents = sel.toSet
          sel = levels(lvl).toSeq
            .filter { case (c, _) => parents.contains(S2Cell.parentAt(c, lvl - 1)) }
            .map { case (c, b) => (dist(b, qla, qlo), c) }
            .sortBy(identity).take(K).map(_._2)
          sel.zipWithIndex.foreach { case (c, i) => want += ((qid, lvl, c, i + 1)) }
        }
      }
    val got = Retrieval.descendTopK(
      TilePyramid.pyramidLazy(imgs, 5, 8, S2Tiling),
      Fixtures.knnQueries(spark), 5, 8, K, S2Tiling)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(5))).toSet
    assert(got == want.toSet)
  }
}
