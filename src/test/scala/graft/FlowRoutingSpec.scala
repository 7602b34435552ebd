package graft

import org.apache.spark.sql.functions._

import graft.operators.FlowRouting

/** D8 flow routing: the driver gate proves the pointer-doubled resolution
  * equals the oracle's sequential walk on real data; these pin the
  * semantics on hand grids — steepest-descent choice, the smallest-id tie
  * break, pit self-labeling, and long-chain resolution (the pointer
  * doubling must compose distances exactly, not just reach the pit). */
class FlowRoutingSpec extends SparkFunSuite {

  private def pack(x: Long, y: Long): Long = (7L << 58) | (y << 7) | x

  test("monotone 16-cell ridge: every cell drains to the single pit with " +
    "exact hop counts and unit-neighbor drops") {
    import spark.implicits._
    val cells = (0 until 16).map(i => (pack(30 + i, 10), (160 - 10 * i).toLong))
    val got = FlowRouting.watershed(cells.toDF("cell", "cnt"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val pit = pack(45, 10)
    cells.zipWithIndex.foreach { case ((c, _), i) =>
      val (down, drop, p, len) = got(c)
      assert(p == pit && len == 15 - i, s"cell $i: pit/path wrong")
      if (i < 15) assert(down == pack(30 + i + 1, 10) && drop == 10)
      else assert(down == -1L && drop == 0L)
    }
  }

  test("accumulation on the ridge: cell i carries exactly its i+1 " +
    "upstream cells (crest 1, pit 16)") {
    import spark.implicits._
    val cells = (0 until 16).map(i => (pack(30 + i, 10), (160 - 10 * i).toLong))
    val got = FlowRouting.accumulation(cells.toDF("cell", "cnt"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("acc"))
      .toMap
    (0 until 16).foreach { i =>
      assert(got(pack(30 + i, 10)) == i + 1L, s"acc at ridge position $i")
    }
  }

  test("equal-drop tie breaks to the smaller cell id; pits label themselves") {
    import spark.implicits._
    val g = Seq(
      (pack(20, 20), 10L), // center: both flanks drop 3
      (pack(19, 20), 7L), (pack(21, 20), 7L)
    ).toDF("cell", "cnt")
    val got = FlowRouting.watershed(g).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got(pack(20, 20)) == ((pack(19, 20), 3L, pack(19, 20), 1L)))
    assert(got(pack(19, 20)) == ((-1L, 0L, pack(19, 20), 0L)))
    assert(got(pack(21, 20)) == ((-1L, 0L, pack(21, 20), 0L)))
  }

  test("shipped query: basins partition the occupied grid — every pit is " +
    "its own basin member at distance 0, paths strictly descend") {
    val rows = Queries.queryMap("q_flow_watershed")(spark, SparkSpec.Sf)
      .collect()
    assert(rows.nonEmpty)
    val byCell = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    rows.foreach { r =>
      val (cell, down, drop, pit, len) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))
      if (down == -1L) assert(pit == cell && len == 0L && drop == 0L)
      else {
        assert(drop > 0L && len >= 1L)
        // the downstream cell agrees on the basin and is one hop closer
        val (_, _, dPit, dLen) = byCell(down)
        assert(dPit == pit && dLen == len - 1)
      }
    }
  }

  test("SharedFrames.clear() lets a regenerated fixture dir be read again") {
    import graft.geo.{functions => G}
    val dir = tempDir("graft-flow-regen")
    val li = spark.read.parquet(s"${SparkSpec.Sf}/lineitem.parquet")
    li.write.parquet(s"$dir/lineitem.parquet")
    def routed(): Set[Long] =
      Queries.queryMap("q_flow_watershed")(spark, dir)
        .collect().map(_.getLong(0)).toSet
    def occupied(): Set[Long] = graft.sources.Images.images(spark, dir)
      .select(G.cell_encode(col("lat"), col("lon"), 7)).distinct()
      .collect().map(_.getLong(0)).toSet
    val before = routed()
    assert(before == occupied())
    li.filter(col("l_orderkey") % 10 === 0)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    SharedFrames.clear()
    val after = occupied()
    assert(after.nonEmpty && after.size < before.size)
    assert(routed() == after)
  }
}
