package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.geo.{QuadkeyTiling, TilingStrategy}
import graft.multimodal.{functions => M}

/** Raster MOSAIC pyramid — GeoTIFF-overview-style downsample rollup of the
  * image CONTENT itself, the pixel-level twin of [[TilePyramid]]'s metadata
  * rollup (and the literal "recursively clustered bottom-up into coarser
  * tiles" of the north star applied to pixels, ≙ the reference's
  * cluster-then-SUMMARIZE levels, raptor/cluster_tree_builder.py:62-205,
  * where the summary here is the mosaic of the members' pixels instead of
  * a text summary).
  *
  * Each image decodes ONCE to a fixed 4x4 RGB thumb; a tile's mosaic is
  * the per-position pixel-wise MEAN of its members' thumbs, carried as
  * the exact associative partial state `(s_0..s_47, n_imgs)` — 48
  * per-position byte sums + the member count (mean_i = s_i / n). The
  * state of a tile is the columnwise sum over every image under it, so
  * any level is ONE `groupBy(cell).agg(49 sums)` keyed on each image's
  * ancestor at that level — the same whole-stage-codegen n-sum shape as
  * [[graft.agg.PhashCentroid]]'s bit-count state, and the same "explode
  * to ancestors, combine once" rule as [[TilePyramid]]: no level is
  * derived from another.
  *
  * Scale notes (100 TB design): the decode+resize runs exactly once per
  * image inside the scan projection (map-side, no shuffle); a level is
  * one keyed shuffle whose payload is 49 longs per tile regardless of
  * image sizes, and map-side partial aggregation absorbs hot cells
  * (spatially adjacent images co-locate in input splits). Nothing larger
  * than the 48-long state ever rides a shuffle — the raster bytes stay in
  * the scan stage.
  */
object MosaicPyramid {

  /** Thumb side (fixed): mosaics are ThumbPx x ThumbPx RGB. */
  val ThumbPx = 4

  /** Per-mosaic state width: ThumbPx^2 positions x 3 channels. */
  val NBytes: Int = ThumbPx * ThumbPx * 3

  /** Mosaic state per `cell` (a column over the image row): decode -> 4x4
    * thumb -> 48 per-position sums + count, one shuffle. `images` must
    * carry (bytes, fmt, w, h, lat, lon). */
  private def mosaicsBy(images: DataFrame, cell: Column): DataFrame = {
    val thumb = M.raster_resize(
      M.raster_decode(col("bytes"), col("fmt")),
      col("w"), col("h"), lit(ThumbPx), lit(ThumbPx))
    val withThumb = images
      .withColumn("cell", cell)
      .withColumn("thumb", thumb)
    val aggs: Seq[Column] = count(lit(1)).as("n_imgs") +:
      (0 until NBytes).map(i =>
        sum(M.byte_at(col("thumb"), lit(i)).cast("long")).as(s"s$i"))
    withThumb.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
  }

  /** Leaf mosaics at `res`. */
  def leafMosaics(images: DataFrame, res: Int,
                  strategy: TilingStrategy = QuadkeyTiling): DataFrame =
    mosaicsBy(images, strategy.encodeCol(col("lat"), col("lon"), res))

  /** Mosaic level at `outRes` of the pyramid whose leaves are at `leafRes`:
    * one aggregation keyed on each image's `outRes` ancestor of its leaf
    * cell (the strategy's hierarchy, which for the hex grid is not the
    * direct `outRes` encoding). */
  def levelAt(images: DataFrame, leafRes: Int, outRes: Int,
              strategy: TilingStrategy = QuadkeyTiling): DataFrame = {
    require(outRes <= leafRes, s"levelAt: outRes $outRes above leaf $leafRes")
    mosaicsBy(images, strategy.parentAtCol(
      strategy.encodeCol(col("lat"), col("lon"), leafRes), outRes))
  }

  /** Hash-stable integer summary of a mosaic state frame: per-channel
    * pixel totals + a position-weighted checksum that pins every
    * per-position sum (chk = sum_i (i+1)*s_i). Used by the driver gate,
    * where the 48 raw columns would bloat the compared output. */
  def summarize(tiles: DataFrame): DataFrame = {
    def channel(c: Int): Column =
      (0 until NBytes).filter(_ % 3 == c)
        .map(i => col(s"s$i")).reduce(_ + _)
    val chk = (0 until NBytes)
      .map(i => col(s"s$i") * lit((i + 1).toLong)).reduce(_ + _)
    tiles.select(col("cell"), col("n_imgs"),
      channel(0).as("r_sum"), channel(1).as("g_sum"), channel(2).as("b_sum"),
      chk.as("chk"))
  }
}
