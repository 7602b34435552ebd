package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.geo.{functions => G, GridCell}
import graft.sources.Images

/** Z-curve layout (geo/GridCell.interleave + CellZValue): proves the
  * DATA-SKIPPING payoff, not just the bit math — a bbox scan over a
  * z-sorted parquet layout must read a fraction of the rows a round-robin
  * layout reads, because sorting by the Morton value tightens every row
  * group's lat AND lon min/max so parquet predicate pushdown skips the
  * groups outside the box. This is the at-rest counterpart of the bucketed
  * store: buckets kill the join shuffle, the z-layout kills cold-scan IO. */
class ZOrderSpec extends SparkFunSuite {

  test("interleave: bit-exact round trip against reference pairs") {
    // res 2: x=3 (11), y=1 (01) -> z = spread(3) | spread(1)<<1 = 0b0111
    assert(GridCell.interleave(GridCell.pack(2, 3, 1)) == 7L)
    assert(GridCell.interleave(GridCell.pack(2, 1, 3)) == 11L) // 0b1011
    assert(GridCell.interleave(GridCell.pack(12, 0, 0)) == 0L)
    val full = (1L << 12) - 1
    assert(GridCell.interleave(GridCell.pack(12, full, full)) == (1L << 24) - 1)
    // locality: adjacent x differ in low bits only
    val a = GridCell.interleave(GridCell.pack(12, 100, 200))
    val b = GridCell.interleave(GridCell.pack(12, 101, 200))
    assert((a ^ b) < 4)
  }

  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val scans = plan.collectLeaves().collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"no file scan in:\n$plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("z-sorted layout skips row groups a round-robin layout reads") {
    val tmp = tempDir("graft-zorder")
    val imgs = Images.images(spark, SparkSpec.Sf)
      .select(col("image_id"), col("lat"), col("lon"))
      .withColumn("z", G.cell_zvalue(G.cell_encode(col("lat"), col("lon"), 12)))
    // small blocks so the sandbox table has multiple prunable units
    // (parquet page column indexes do the fine-grained skipping here)
    imgs.repartitionByRange(8, col("z")).sortWithinPartitions("z")
      .write.option("parquet.block.size", 512 * 1024).parquet(s"$tmp/zsorted")
    imgs.repartition(8)
      .write.option("parquet.block.size", 512 * 1024).parquet(s"$tmp/shuffled")

    def bbox(dir: String) = spark.read.parquet(dir)
      .filter(col("lat").between(10.0, 14.0) && col("lon").between(20.0, 28.0))
      .select("image_id")
    val (zRows, rrRows) = (scanOutputRows(bbox(s"$tmp/zsorted")),
      scanOutputRows(bbox(s"$tmp/shuffled")))
    // identical answers, different IO
    assert(bbox(s"$tmp/zsorted").collect().map(_.getString(0)).sorted.toSeq ==
      bbox(s"$tmp/shuffled").collect().map(_.getString(0)).sorted.toSeq)
    assert(rrRows > 0 && zRows > 0)
    // the round-robin layout reads the WHOLE table (random per-unit
    // lat/lon bounds prune nothing); the z-sorted layout reads only the
    // prunable units whose z-range overlaps the box (3 of 8 here). The
    // sandbox table is tiny so each file is one prunable unit; at 100 TB
    // the same bounds apply per row group within every file and the skip
    // fraction tracks the bbox selectivity instead of the file count.
    assert(rrRows == imgs.count(), "expected no pruning on random layout")
    assert(zRows * 2 <= rrRows,
      s"z layout read $zRows rows vs $rrRows round-robin — no skipping?")
  }

  test("z prefix property: a leaf's z lies in exactly its parent's range " +
      "(the q_zrange_scan planning invariant)") {
    val rnd = new scala.util.Random(42)
    (0 until 300).foreach { _ =>
      val lat = -89.9 + rnd.nextDouble() * 179.8
      val lon = -179.9 + rnd.nextDouble() * 359.8
      val leaf = GridCell.encode(lat, lon, 12)
      val p = GridCell.parentAt(leaf, 7)
      val z = GridCell.interleave(leaf)
      val zlo = GridCell.interleave(p) << 10
      assert(z >= zlo && z < zlo + 1024)
      // ranges partition z space: any OTHER res-7 cell's range excludes it
      val other = GridCell.pack(7, (GridCell.xOf(p) + 1) % 128, GridCell.yOf(p))
      val olo = GridCell.interleave(other) << 10
      assert(z < olo || z >= olo + 1024)
    }
  }

  test("hilbert prefix-range property: a leaf's index lies in exactly " +
      "its parent's contiguous block (range planning works on h too)") {
    // the res-R walk's first L bit-planes match the res-L walk (the
    // reflection (2^R-1)-x restricts to (2^L-1)-xH on the high bits), so
    // parent D at res L covers exactly leaf indices [D*4^d, (D+1)*4^d)
    val rnd = new scala.util.Random(42)
    (0 until 300).foreach { _ =>
      val lat = -89.9 + rnd.nextDouble() * 179.8
      val lon = -179.9 + rnd.nextDouble() * 359.8
      val leaf = GridCell.encode(lat, lon, 12)
      val p = GridCell.parentAt(leaf, 7)
      val h = GridCell.hilbertD(leaf)
      val hlo = GridCell.hilbertD(p) << 10
      assert(h >= hlo && h < hlo + 1024)
      val other = GridCell.pack(7, (GridCell.xOf(p) + 1) % 128, GridCell.yOf(p))
      val olo = GridCell.hilbertD(other) << 10
      assert(h < olo || h >= olo + 1024)
    }
  }

  test("hilbertD: exact 4x4 reference walk") {
    // The order-2 Hilbert curve, origin lower-left, first step +x:
    // d -> (x, y) for all 16 positions.
    val want = Seq(
      (0, 0), (1, 0), (1, 1), (0, 1), (0, 2), (0, 3), (1, 3), (1, 2),
      (2, 2), (2, 3), (3, 3), (3, 2), (3, 1), (2, 1), (2, 0), (3, 0))
    want.zipWithIndex.foreach { case ((x, y), d) =>
      assert(GridCell.hilbertD(GridCell.pack(2, x, y)) == d.toLong,
        s"($x,$y) should be at Hilbert position $d")
    }
  }

  test("hilbertD: bijection and strict adjacency at res 4; Morton has " +
      "seam jumps, Hilbert has none") {
    val n = 16
    val cells = for (y <- 0 until n; x <- 0 until n)
      yield GridCell.pack(4, x, y)
    val byH = cells.sortBy(GridCell.hilbertD)
    // bijection onto [0, n^2)
    assert(cells.map(GridCell.hilbertD).sorted == (0L until (n.toLong * n)))
    // THE Hilbert property: consecutive indices are 4-neighbors
    // (Manhattan distance exactly 1) — no jump anywhere on the curve
    def manhattan(a: Long, b: Long): Long =
      math.abs(GridCell.xOf(a) - GridCell.xOf(b)) +
        math.abs(GridCell.yOf(a) - GridCell.yOf(b))
    byH.sliding(2).foreach {
      case Seq(u, v) => assert(manhattan(u, v) == 1L)
      case _ =>
    }
    // Morton, by contrast, jumps at quadrant seams — strictly worse
    // locality between consecutive sort positions
    val byZ = cells.sortBy(GridCell.interleave)
    val zJumps = byZ.sliding(2).count {
      case Seq(u, v) => manhattan(u, v) > 1L
      case _         => false
    }
    assert(zJumps > 0)
  }

  test("hilbert-sorted layout skips row groups like the z layout") {
    val tmp = tempDir("graft-hilbert")
    val imgs = Images.images(spark, SparkSpec.Sf)
      .select(col("image_id"), col("lat"), col("lon"))
      .withColumn("hd", G.cell_hvalue(G.cell_encode(col("lat"), col("lon"), 12)))
    imgs.repartitionByRange(8, col("hd")).sortWithinPartitions("hd")
      .write.option("parquet.block.size", 512 * 1024).parquet(s"$tmp/hsorted")
    imgs.repartition(8)
      .write.option("parquet.block.size", 512 * 1024).parquet(s"$tmp/shuffled")
    def bbox(dir: String) = spark.read.parquet(dir)
      .filter(col("lat").between(10.0, 14.0) && col("lon").between(20.0, 28.0))
      .select("image_id")
    val (hRows, rrRows) = (scanOutputRows(bbox(s"$tmp/hsorted")),
      scanOutputRows(bbox(s"$tmp/shuffled")))
    assert(bbox(s"$tmp/hsorted").collect().map(_.getString(0)).sorted.toSeq ==
      bbox(s"$tmp/shuffled").collect().map(_.getString(0)).sorted.toSeq)
    assert(hRows > 0 && rrRows == imgs.count())
    assert(hRows * 2 <= rrRows,
      s"hilbert layout read $hRows rows vs $rrRows round-robin — no skipping?")
  }
}
