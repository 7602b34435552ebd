package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Components.ckptRdd

/** D8-style FLOW ROUTING + WATERSHED LABELING over the occupied density
  * grid — the hydrology operator family (flow direction, pit detection,
  * basin delineation) applied to the density raster: "water" flows from
  * each occupied res-7 cell to its steepest-descent occupied queen
  * neighbor (strictly lower count; max drop, ties to the smallest cell
  * id), pits (no lower occupied neighbor) terminate flow, and every
  * cell's flow path is resolved to its PIT — the basin label — plus the
  * path length.
  *
  * Downstream pointers form a forest (elevation strictly decreases along
  * every edge, so no cycles); the pit resolution is POINTER DOUBLING over
  * that forest — (next, steps) composed with itself each round, so a
  * depth-L path settles in O(log L) rounds, the [[graft.dedup.Components]]
  * device with a distance accumulator. Each round localCheckpoints (eager)
  * to truncate the exponentially growing self-join lineage, and frees the
  * previous round's checkpoint RDD explicitly.
  *
  * Scale shape: the pointer table is bounded by the OCCUPIED grid, the
  * scatter is the same 9x ring fanout as the spatial-stats family, and
  * each doubling round is two keyed shuffles over |cells| rows — at 10^12
  * points nothing downstream of the res-7 groupBy sees point-sized data.
  * All arithmetic is integer (counts and their differences), so the
  * routing replays exactly in ANSI SQL. */
object FlowRouting {

  /** Downstream pointer per occupied cell over a `(cell, cnt)` grid:
    * `(cell, cnt, down, drop)` with `down = -1, drop = 0` for pits. */
  def downstream(g: DataFrame): DataFrame = {
    import graft.geo.{functions => G}
    val n = 128L
    def xOf(c: org.apache.spark.sql.Column) = c.bitwiseAND(lit(n - 1))
    def yOf(c: org.apache.spark.sql.Column) =
      shiftright(c, 7).bitwiseAND(lit(n - 1))
    val nbr = g.select(col("cell").as("src"), col("cnt"),
        explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
      .where(col("cell") =!= col("src"))
      .join(g.select(col("cell"), col("cnt").as("ncnt")), Seq("cell"))
      .where(col("ncnt") < col("cnt"))
    val w = Window.partitionBy("src")
      .orderBy((col("cnt") - col("ncnt")).desc, col("cell"))
    val down = nbr.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("src").as("cell"), col("cell").as("down"),
        (col("cnt") - col("ncnt")).as("drop"))
    g.join(down, Seq("cell"), "left_outer")
      .select(col("cell"), col("cnt"),
        coalesce(col("down"), lit(-1L)).as("down"),
        coalesce(col("drop"), lit(0L)).as("drop"))
  }

  /** Full routing: `(cell, down, drop, pit, path_len)` — `pit` is the
    * basin label (the terminal cell of the flow path; a pit labels
    * itself), `path_len` the number of hops to it. */
  def watershed(g: DataFrame, maxIters: Int = 24): DataFrame = {
    // eager checkpoint: the pointer table seeds the loop AND joins the
    // final output — one materialization serves both without recompute
    val d = downstream(g).localCheckpoint(true)
    // jump table: (cell -> nxt, steps); pits self-loop at distance 0, so
    // composition is the identity once a path has resolved
    var j = d.select(col("cell"),
        when(col("down") === -1L, col("cell")).otherwise(col("down"))
          .as("nxt"),
        when(col("down") === -1L, 0L).otherwise(1L).as("steps"))
      .localCheckpoint(true)
    var jRdd = ckptRdd(j)
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      val next = j
        .join(j.select(col("cell").as("nxt"), col("nxt").as("nxt2"),
          col("steps").as("steps2")), Seq("nxt"))
        .select(col("cell"), col("nxt2").as("nxt"),
          (col("steps") + col("steps2")).as("steps"))
        .localCheckpoint(true)
      val nextRdd = ckptRdd(next)
      // steps are monotone non-decreasing and bounded by the path depth:
      // fixpoint == no step count grew this round
      done = next.select(col("cell"), col("steps").as("ns"))
        .join(j, Seq("cell"))
        .filter(col("ns") > col("steps"))
        .isEmpty
      jRdd.foreach(_.unpersist(blocking = false))
      j = next
      jRdd = nextRdd
      it += 1
    }
    d.join(j, Seq("cell"))
      .select(col("cell"), col("down"), col("drop"),
        col("nxt").as("pit"), col("steps").as("path_len"))
  }

  /** FLOW ACCUMULATION: per cell, the number of cells whose flow path
    * passes through it (itself included) — the stream-network extraction
    * statistic (high accumulation = channel, 1 = ridge). Exact bottom-up
    * push over the downstream forest: acc ← 1 + Σ_{u: down(u)=c} acc(u),
    * iterated DEPTH rounds where depth = max path length — read from the
    * already-resolved [[watershed]] (one scalar collect), so the loop
    * runs exactly as many keyed agg+join rounds as the terrain needs.
    * Each round localCheckpoints to truncate lineage. O(depth · |cells|)
    * keyed work, grid-bounded — never point-sized. */
  def accumulation(g: DataFrame): DataFrame =
    accumulationFrom(watershed(g).localCheckpoint(true))

  /** [[accumulation]] over an already-resolved (and materialized)
    * [[watershed]] frame — the sharing point when several queries ride one
    * routing pass. */
  def accumulationFrom(ws: DataFrame): DataFrame = {
    val depth = ws.agg(max(col("path_len"))).head().getLong(0)
    val down = ws.select(col("cell"), col("down"))
    var acc = ws.select(col("cell"), lit(1L).as("acc"))
      .localCheckpoint(true)
    var i = 0L
    while (i < depth) {
      val pushed = down.join(acc, Seq("cell"))
        .where(col("down") =!= -1L)
        .groupBy(col("down").as("cell"))
        .agg(sum(col("acc")).as("up"))
      acc = down.select(col("cell"))
        .join(pushed, Seq("cell"), "left_outer")
        .select(col("cell"), (lit(1L) + coalesce(col("up"), lit(0L)))
          .as("acc"))
        .localCheckpoint(true)
      i += 1
    }
    ws.join(acc, Seq("cell"))
      .select(col("cell"), col("down"), col("pit"), col("path_len"),
        col("acc"))
  }
}
