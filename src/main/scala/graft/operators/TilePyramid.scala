package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.agg.PhashCentroid
import graft.geo.{QuadkeyTiling, TilingStrategy}

/** Bottom-up tile pyramid — the graft of the reference's recursive
  * cluster-then-summarize tree construction
  * (raptor/cluster_tree_builder.py:62-205 `construct_tree`). The reference
  * summarizes one level at a time; here every tile summary is associative,
  * so all levels come from ONE `groupBy(cell)` over each image's ancestor
  * cells (the Raptor idea of computing the grid intersection once, applied
  * to the grid's own hierarchy), with the reference's early-stop guard
  * when a level stops shrinking (≙ cluster_tree_builder.py:143-149).
  *
  * Tile row schema (≙ `Node`, raptor/tree_structures.py:4-14):
  *   cell: Long (res-tagged grid cell — the node id),
  *   res: Int (≙ layer), cnt, bytes_sum: Long,
  *   lat_min/lat_max/lon_min/lon_max: Double (bbox summary),
  *   phash_bits: Seq[Long] (associative partial state),
  *   phash_centroid: Long (≙ parent embedding/centroid).
  *
  * Scale notes (100 TB design):
  *  - the whole pyramid is ONE shuffle keyed on the cell; partial
  *    (map-side) aggregation absorbs the per-level explode because the
  *    images of one input split share most of their ancestor cells;
  *  - levels shrink 4x per step, so the leaf level dominates the shuffle;
  *  - hot leaf cells (the skew fixture) are absorbed by partial aggregation:
  *    a million identical-cell rows reduce map-side before shuffling.
  */
object TilePyramid {
  val LeafRes = 12

  /** Add the `cell` column at `res` via the codegen'd Catalyst expression
    * (the north_star's batched cell encoding). `strategy` picks the index
    * (quadkey default / S2) — the whole pyramid is index-agnostic because
    * every level key is the strategy's own parent function. */
  def withCell(images: DataFrame, res: Int,
               strategy: TilingStrategy = QuadkeyTiling): DataFrame =
    images.withColumn("cell", strategy.encodeCol(col("lat"), col("lon"), res))

  private def withCentroid(df: DataFrame): DataFrame =
    df.withColumn("phash_centroid", PhashCentroid.centroidCol("phash_bits"))

  /** Tile aggregates over raw image rows: count, bytes and bbox, plus the
    * 65-slot phash bit state when `full` (the slim form drops it). */
  private def imageAggs(full: Boolean): Seq[Column] = {
    val slim = Seq(
      count(lit(1)).as("cnt"),
      sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"),
      min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"),
      min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"))
    if (full) slim :+ PhashCentroid.bitsOf(col("phash")).as("phash_bits")
    else slim
  }

  /** Leaf tiles: aggregate the image table at `res`. ≙ leaf layer creation +
    * first summarize (raptor/tree_builder.py:286-328 → process_cluster).
    * `extraKeys`: additional grouping columns (e.g. a corpus-half tag) so a
    * caller needing SEVERAL tile sets over one input derives them in a
    * single scan + aggregation instead of one pass per subset. */
  def leafTiles(images: DataFrame, res: Int = LeafRes,
                strategy: TilingStrategy = QuadkeyTiling,
                extraKeys: Seq[String] = Nil): DataFrame = {
    val aggs = imageAggs(full = true)
    withCentroid(
      withCell(images, res, strategy)
        .groupBy((col("cell") +: extraKeys.map(col)): _*)
        .agg(aggs.head, aggs.tail: _*))
      .withColumn("res", lit(res))
  }

  /** Each row re-keyed to its ancestor at every level in `levels` (one
    * output row per level): the one step every pyramid producer shares.
    * Followed by ONE `groupBy(cell)` of associative summaries, it yields
    * all levels at once, since the strategy's `parentAt` equals repeated
    * `parentOnce` for every index. A level-by-level rollup chain instead
    * costs a shuffle per level and, as a lazy union, re-plans the chain
    * prefix in every branch (O(levels²) operators). */
  private[operators] def toAncestors(rows: DataFrame, levels: Seq[Int],
                                     strategy: TilingStrategy): DataFrame =
    rows.withColumn("cell", explode(array(
      levels.map(r => strategy.parentAtCol(col("cell"), r)): _*)))

  /** Every level in `levels` as ONE keyed aggregation over the images: each
    * image is encoded once at `leafRes`, re-keyed [[toAncestors]], and
    * `groupBy(cell)` aggregates the raw image rows of each tile directly
    * (long counts and sums, double min/max, phash bit counts).
    *
    * Scale shape: one shuffle for the whole pyramid, keyed on the cell;
    * the exploded rows (|levels| per image) are absorbed map-side by
    * partial aggregation, since an image's ancestors repeat across the
    * images of one input split. `res` is derived from the cell, so a
    * filter on it stays an integer test on the group key. */
  private def aggregateLevels(images: DataFrame, levels: Range, leafRes: Int,
                              strategy: TilingStrategy,
                              full: Boolean): DataFrame = {
    require(levels.nonEmpty && levels.last <= leafRes,
      s"levels $levels must be non-empty and not finer than leaf $leafRes")
    val aggs = imageAggs(full)
    val tiles = toAncestors(withCell(images, leafRes, strategy), levels,
        strategy)
      .groupBy(col("cell"))
      .agg(aggs.head, aggs.tail: _*)
    (if (full) withCentroid(tiles) else tiles)
      .withColumn("res", strategy.resCol(col("cell")))
  }

  /** Combine tile rows sharing the SAME cell into one tile: every tile
    * summary is an associative combiner (sums, min/max bbox, phash bit
    * counts), so tiles of one cell from disjoint image sets — an old tile
    * and a delta tile, or the leaf tiles re-keyed to a common ancestor —
    * fold into the tile a from-scratch build would produce. */
  def combineByCell(tiles: DataFrame,
                    strategy: TilingStrategy = QuadkeyTiling): DataFrame = {
    val aggs = Seq(
      sum(col("cnt")).as("cnt"),
      sum(col("bytes_sum")).as("bytes_sum"),
      min(col("lat_min")).as("lat_min"), max(col("lat_max")).as("lat_max"),
      min(col("lon_min")).as("lon_min"), max(col("lon_max")).as("lon_max"),
      PhashCentroid.mergeBits(col("phash_bits")).as("phash_bits"))
    withCentroid(tiles.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*))
      .withColumn("res", strategy.resCol(col("cell")))
  }

  /** Build the full pyramid `minRes..maxRes` as one persisted DataFrame
    * (one aggregation, see [[aggregateLevels]]) and count its levels from
    * the cache, so a later [[Snapshot.write]] scans the cache instead of
    * re-aggregating. The early stop (≙ cluster_tree_builder.py:143-149)
    * drops every level coarser than the first non-reducing (<= 1 cell)
    * level. Returns (pyramid, per-level row counts). */
  def build(images: DataFrame, minRes: Int = 4, maxRes: Int = LeafRes,
            strategy: TilingStrategy = QuadkeyTiling)
      : (DataFrame, Map[Int, Long]) = {
    val all = aggregateLevels(images, minRes to maxRes, maxRes, strategy,
      full = true).persist(StorageLevel.MEMORY_AND_DISK)
    val counts = all.groupBy(col("res")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tiny = counts.filter { case (r, n) => r < maxRes && n <= 1 }.keys
    if (tiny.isEmpty) (all, counts)
    else {
      val rStop = tiny.max
      (all.filter(col("res") >= rStop), counts.filter(_._1 >= rStop))
    }
  }

  /** Single level at `res` of the pyramid whose leaves are at `maxRes`:
    * one aggregation keyed on each image's `res` ancestor, no counts and
    * no persist (the query-side path; [[build]] is the instrumented one). */
  def levelAt(images: DataFrame, res: Int, maxRes: Int = LeafRes,
              strategy: TilingStrategy = QuadkeyTiling): DataFrame =
    aggregateLevels(images, res to res, maxRes, strategy, full = true)

  /** Lazy pyramid of levels minRes..maxRes (no counts, no persist). */
  def pyramidLazy(images: DataFrame, minRes: Int, maxRes: Int = LeafRes,
                  strategy: TilingStrategy = QuadkeyTiling): DataFrame =
    aggregateLevels(images, minRes to maxRes, maxRes, strategy, full = true)

  /** SLIM pyramid (count/bytes/bbox only — no phash centroid state): the
    * retrieval queries never read the centroid, and the 65-slot phash
    * state is most of the full aggregation's cost. Every value equals the
    * full pyramid's corresponding column. */
  def pyramidLazySlim(images: DataFrame, minRes: Int, maxRes: Int = LeafRes,
                      strategy: TilingStrategy = QuadkeyTiling): DataFrame =
    aggregateLevels(images, minRes to maxRes, maxRes, strategy, full = false)

  /** Variable-depth pyramid by budget — the reference's oversize-cluster
    * recursive re-clustering (cluster_utils.py:186-196: clusters exceeding
    * the token budget are recursively re-clustered) grafted onto the tile
    * pyramid: a tile whose `cnt` exceeds `budget` is SPLIT to res+1,
    * recursively, until it fits or `maxRes` bounds the depth. The fixed
    * grid pyramid sidesteps this with uniform fan-out, but at 100 TB hot
    * tiles exceed any per-tile budget — adaptive depth is the fix, and the
    * hot-cell histogram (A3) is exactly what motivates where it deepens.
    *
    * The recursion COLLAPSES TO A CLOSED FORM over the pyramid levels
    * because a parent's count is the sum of its children's (counts are
    * non-negative, so parent.cnt ≥ every child's): "all ancestors of this
    * tile were over budget" is equivalent to "this tile's immediate parent
    * is over budget". A tile at res r is therefore EMITTED iff
    *
    *   (r == startRes  OR  parent.cnt > budget)       — it was materialized
    *   AND (cnt <= budget  OR  r == maxRes)           — and it is final
    *
    * which is one parent-key equi-join per level (batched here as a single
    * self-join of the pyramid on the parent cell) — no driver recursion, no
    * iterative re-clustering jobs; the oracle replays the same predicate
    * per level (q_adaptive_split). Emitted tiles partition the corpus:
    * every point lies under exactly one emitted tile (AdaptiveSplitSpec).
    *
    * `pyramid` must contain levels `startRes..maxRes` (slim or full
    * schema; only `res`, `cell`, `cnt` are consulted, all columns pass
    * through). Scale shape: the parent side is a projection of the same
    * pyramid (ReuseExchange dedups the shared scan; snapshot-backed
    * pyramids prune both sides by `res` partitions); the join is a keyed
    * equi-join on the parent cell — never a theta join. */
  def adaptiveSplit(pyramid: DataFrame, startRes: Int, maxRes: Int,
                    budget: Long,
                    strategy: TilingStrategy = QuadkeyTiling): DataFrame = {
    require(startRes <= maxRes, s"startRes $startRes > maxRes $maxRes")
    val parents = pyramid
      .filter(col("res").between(startRes, maxRes - 1))
      .select(col("cell").as("pcell"), col("cnt").as("pcnt"))
    pyramid.filter(col("res").between(startRes, maxRes))
      .withColumn("pcell",
        when(col("res") > startRes, strategy.parentOnceCol(col("cell"))))
      .join(parents, Seq("pcell"), "left_outer")
      .filter((col("res") === startRes || col("pcnt") > budget) &&
        (col("cnt") <= budget || col("res") === maxRes))
      .drop("pcell", "pcnt")
  }

  /** Per-level metrics (≙ log_tree_structure, raptor/utils.py:222-271):
    * cells, images, avg/max images per cell, bbox spread. The max/avg ratio
    * is the skew signal (≙ index_count hotness) that drives salting. */
  def levelMetrics(pyramid: DataFrame): DataFrame =
    pyramid.groupBy(col("res"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("cnt")).as("n_images"),
        avg(col("cnt")).as("avg_per_cell"),
        max(col("cnt")).as("max_per_cell"),
        sum(col("bytes_sum")).as("bytes_total"))
      .orderBy(col("res"))
}
