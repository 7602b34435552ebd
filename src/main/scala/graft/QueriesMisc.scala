package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.multimodal.{functions => M}
import graft.operators.{Knn, TilePyramid}
import graft.sources.{Fixtures, Images}

/** Breadth queries: multimodal fidelity invariants, event-time windowing /
  * sessionization, deterministic sampling, per-level metrics, and the
  * prefilter-vs-brute recall harness (SURVEY.md §2 families S7/A8/A9/O5/W3,
  * plus the events table for event-time operators). */
object QueriesMisc {

  private val cte = Images.oracleCte
  private def cellSql(res: Int) = Images.oracleCellSql("lat", "lon", res)

  /** Every row of `images` with its decoded `n×n` RGB thumbnail as
    * `thumb`, and the gray sum (R + G + B as BIGINT, 0..765) of thumb
    * pixel `p` — the input of every gray-level raster query. */
  private def grayThumbs(images: DataFrame,
                         n: Int): (DataFrame, Int => Column) = (
    images.withColumn("thumb", M.raster_resize(
      M.raster_decode(col("bytes"), col("fmt")),
      col("w"), col("h"), lit(n), lit(n))),
    p => (M.byte_at(col("thumb"), lit(3 * p)) +
      M.byte_at(col("thumb"), lit(3 * p + 1)) +
      M.byte_at(col("thumb"), lit(3 * p + 2))).cast("long"))

  // ------------------------------------------------------ multimodal fidelity

  /** North-rule per-row invariant (BASELINE.json input_hint): decode every
    * stored image, check PSNR vs the ground-truth raster (>= 40 dB for
    * lossy, lossless for raw), caption byte-equality vs the generation
    * template, and byte-length consistency — aggregated per fmt. The oracle
    * states the invariant: every row must pass (n_pass == n_rows), so any
    * decode/PSNR/caption regression breaks the count compare.
    * (≙ raptor/FaissRetriever.py:147-164 sanity_check: re-embed and
    * allclose-compare stored vectors.) */
  private val qImageFidelity = Q(
    "q_image_fidelity",
    (s, dir) => Images.imagesWithBytes(s, dir)
      .withColumn("px", M.raster_decode(col("bytes"), col("fmt")))
      .withColumn("truth",
        M.synthetic_raster(col("k"), col("w"), col("h"), lit("raw")))
      .withColumn("psnr", M.psnr_db(col("px"), col("truth")))
      .withColumn("ok",
        col("psnr") >= 40.0 &&
          col("caption") === concat(lit("caption for img"),
            lpad(col("k").cast("string"), 12, "0")) &&
          length(col("bytes")) === col("w") * col("h") * 3)
      .groupBy(col("fmt"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_pass")),
    Some(
      s"""$cte
         |SELECT fmt, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_pass
         |FROM images GROUP BY fmt""".stripMargin))

  /** Thumbnail pipeline (decode -> resize 4x4 -> stats): exercises the
    * binary-column plumbing end-to-end. The oracle replays the FULL pixel
    * path relationally: a recursive CTE advances the per-image splitmix64
    * seed chain ([[graft.multimodal.Raster.duckMixSql]] — 32-bit-limb
    * wrapping multiplies in HUGEINT), variant 0 = truth bytes, variant 1 =
    * the lossy noise stream (only materialized for lossy rows), then joins
    * the 48 nearest-neighbor-sampled positions of the 4x4 thumb to their
    * seed blocks and aggregates the mean — bit-identical to the engine's
    * byte kernels (sum of <=48 ints in double is exact). */
  private val qThumbStats = Q(
    "q_thumb_stats",
    (s, dir) => Images.imagesWithBytes(s, dir)
      .withColumn("thumb", M.raster_resize(
        M.raster_decode(col("bytes"), col("fmt")),
        col("w"), col("h"), lit(4), lit(4)))
      .withColumn("st", M.raster_stats(col("thumb")))
      .select(col("image_id"), col("st.n_bytes").as("n_bytes"),
        col("st.mean_px").as("mean_px")),
    Some(
      s"""${pixelChainCtes(grid = 4, v1Where = "WHERE fmt = 'lossy'")}
         |SELECT image_id, CAST(48 AS INTEGER) AS n_bytes,
         |  CAST(SUM(CASE WHEN fmt = 'raw' THEN truth
         |    ELSE least(255, greatest(0, truth + delta)) END) AS DOUBLE) / 48 AS mean_px
         |FROM px GROUP BY image_id""".stripMargin))

  /** PER-IMAGE OTSU BINARIZATION THRESHOLD — the classic histogram-based
    * segmentation operator, run on the 16 gray values (R+G+B per position,
    * 0..765) of each image's decoded 4×4 thumb. Otsu maximizes the
    * between-class variance w0·w1·(μ0−μ1)², which on integer counts is
    * the rational num²/(W0·W1) with num = S0·W1 − S1·W0 — emitted as the
    * exact integer `score_q = (num²·10⁴) div (W0·W1)` (|num| ≤ 765·16·16
    * ⇒ num²·10⁴ ≤ 3.8e14, comfortably BIGINT; ties after the floor-div
    * break to the SMALLER threshold, deterministically on both engines —
    * no float op anywhere). Candidates are the image's distinct gray
    * values with a non-empty upper class (w0 < 16); a uniform image has
    * no candidate and is absent (documented inner semantics). Output:
    * per image the argmax threshold, its class-0 mass, and the score.
    *
    * Scale shape: decode → 16 ByteAt sums is map-side in the scan stage
    * (bytes never leave it); the histogram is one keyed groupBy; the
    * cumulative/argmax windows are IMAGE-keyed (≤16 rows per partition,
    * never partitionless). At 10^12 images this is scan + one shuffle of
    * 16-row histograms — the same contract as the dHash family. */
  private val qOtsuThreshold = Q(
    "q_otsu_threshold",
    (s, dir) => {
      val (thumb, gray) = grayThumbs(Images.imagesWithBytes(s, dir), 4)
      val grays = array((0 until 16).map(gray): _*)
      val hist = thumb.select(col("image_id"), explode(grays).as("g"))
        .groupBy(col("image_id"), col("g"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("image_id").orderBy("g")
      val wa = Window.partitionBy("image_id")
      val scored = hist
        .withColumn("w0", sum(col("cnt")).over(wc))
        .withColumn("s0", sum(col("g") * col("cnt")).over(wc))
        .withColumn("s", sum(col("g") * col("cnt")).over(wa))
        .where(col("w0") < 16)
        .withColumn("num",
          col("s0") * (lit(16L) - col("w0")) -
            (col("s") - col("s0")) * col("w0"))
        .withColumn("score_q",
          expr("(num * num * 10000) div (w0 * (16 - w0))"))
      val wr = Window.partitionBy("image_id")
        .orderBy(col("score_q").desc, col("g"))
      scored.withColumn("rn", row_number().over(wr))
        .where(col("rn") === 1)
        .select(col("image_id"), col("g").as("t_opt"),
          col("w0"), col("score_q"))
    },
    Some(
      s"""${pixelChainCtes(grid = 4, v1Where = "WHERE fmt = 'lossy'")}, gray AS (
         |  SELECT image_id, oy, ox,
         |    CAST(SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS BIGINT) AS g
         |  FROM px GROUP BY 1, 2, 3
         |), hist AS (
         |  SELECT image_id, g, CAST(count(*) AS BIGINT) AS cnt
         |  FROM gray GROUP BY 1, 2
         |), cum AS (
         |  SELECT image_id, g, cnt,
         |    CAST(sum(cnt) OVER
         |      (PARTITION BY image_id ORDER BY g) AS BIGINT) AS w0,
         |    CAST(sum(g * cnt) OVER
         |      (PARTITION BY image_id ORDER BY g) AS BIGINT) AS s0,
         |    CAST(sum(g * cnt) OVER (PARTITION BY image_id) AS BIGINT) AS s
         |  FROM hist
         |), sc AS (
         |  SELECT image_id, g, w0,
         |    ((s0 * (16 - w0) - (s - s0) * w0)
         |      * (s0 * (16 - w0) - (s - s0) * w0)
         |      * 10000) // (w0 * (16 - w0)) AS score_q
         |  FROM cum WHERE w0 < 16
         |)
         |SELECT image_id, g AS t_opt, w0, score_q
         |FROM sc
         |QUALIFY row_number() OVER
         |  (PARTITION BY image_id ORDER BY score_q DESC, g) = 1""".stripMargin))

  /** ORDERED (BAYER) DITHERING — the classic 1-bit halftone over each
    * image's 8×8 thumb grays (0..765): pixel (y, x) is ON iff its gray
    * beats the tiled Bayer-4×4 threshold, decided by the EXACT integer
    * comparison `32·g > 765·(2·B(y%4, x%4) + 1)` (the midpoint scaling
    * `(B+0.5)/16·765` cross-multiplied — no division, no float,
    * identical on both engines). Emitted per image: the ON count (the
    * halftone's ink density — tracks mean luma by construction) and the
    * position-weighted checksum Σ (y·8+x+1)·on (the rot90-parity device:
    * a hash match proves every PIXEL's bit, not just the count).
    *
    * Scale shape: the entire dither is ONE map-side projection in the
    * scan stage — 64 byte reads + 64 integer comparisons per row, no
    * explode, no shuffle, no window; output is one row per image. The
    * cheapest possible plan shape for a per-image kernel. */
  private val qBayerDither = Q(
    "q_bayer_dither",
    (s, dir) => {
      val bayer = Seq(
        Seq(0, 8, 2, 10), Seq(12, 4, 14, 6),
        Seq(3, 11, 1, 9), Seq(15, 7, 13, 5))
      val (thumb, gray) = grayThumbs(Images.imagesWithBytes(s, dir), 8)
      def on(p: Int) = {
        val thr = 765L * (2L * bayer(p / 8 % 4)(p % 8 % 4) + 1L)
        when(gray(p) * 32L > thr, 1L).otherwise(0L)
      }
      thumb.select(col("image_id"),
        (0 until 64).map(on).reduce(_ + _).as("n_on"),
        (0 until 64).map(p => on(p) * (p + 1L)).reduce(_ + _)
          .as("checksum"))
    },
    Some {
      val bayer = Seq(
        Seq(0, 8, 2, 10), Seq(12, 4, 14, 6),
        Seq(3, 11, 1, 9), Seq(15, 7, 13, 5))
      val bRows = (for (y <- 0 until 4; x <- 0 until 4)
        yield s"($y, $x, ${bayer(y)(x)})").mkString(", ")
      s"""${pixelChainCtes(grid = 8, v1Where = "WHERE fmt = 'lossy'")}, gray AS (
         |  SELECT image_id, oy, ox,
         |    CAST(SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS BIGINT)
         |      AS g
         |  FROM px GROUP BY 1, 2, 3
         |), bay(by, bx, bv) AS (VALUES $bRows
         |), bits AS (
         |  SELECT gray.image_id, gray.oy, gray.ox,
         |    CASE WHEN gray.g * 32 > 765 * (2 * bay.bv + 1)
         |      THEN 1 ELSE 0 END AS onb
         |  FROM gray JOIN bay
         |    ON bay.by = gray.oy % 4 AND bay.bx = gray.ox % 4
         |)
         |SELECT image_id, CAST(sum(onb) AS BIGINT) AS n_on,
         |  CAST(sum(onb * (oy * 8 + ox + 1)) AS BIGINT) AS checksum
         |FROM bits GROUP BY 1""".stripMargin
    })

  /** PER-IMAGE RUN-LENGTH COMPRESSIBILITY — the storage-planning metric of
    * an image lakehouse (how well would this tile RLE-compress? long runs
    * → flat content → cheap; 64 runs → noise → incompressible): the 64
    * gray values of the 8x8 thumb in raster-scan order, counted as
    * maximal equal-value runs. Emitted per image: run count, longest run,
    * and the distinct-value count (the dictionary-size estimate). All
    * integer; the change-flag/run-id windows are IMAGE-keyed (64 rows per
    * key — never partitionless), so at 10^12 images this is scan + one
    * keyed shuffle, the same contract as the dHash family. */
  private val qRleRuns = Q(
    "q_rle_runs",
    (s, dir) => {
      val (thumb, gray) = grayThumbs(Images.imagesWithBytes(s, dir), 8)
      val grays = array((0 until 64).map(gray): _*)
      val px = thumb.select(col("image_id"),
        posexplode(grays).as(Seq("pos", "g")))
      val w = Window.partitionBy("image_id").orderBy("pos")
      // single chain: carrying g through the run aggregate (constant
      // within a run) lets ONE pipeline produce runs AND the distinct-
      // value count — a runs ⋈ vals join would replan the decode twice
      px.withColumn("prev", lag(col("g"), 1).over(w))
        .withColumn("chg",
          when(col("prev").isNull || col("prev") =!= col("g"), 1L)
            .otherwise(0L))
        .withColumn("run_id", sum(col("chg")).over(w))
        .groupBy(col("image_id"), col("run_id"))
        .agg(count(lit(1)).as("len"), max(col("g")).as("g"))
        .groupBy("image_id")
        .agg(count(lit(1)).as("n_runs"), max("len").as("max_run"),
          countDistinct(col("g")).as("n_vals"))
    },
    Some(
      s"""${pixelChainCtes(grid = 8, v1Where = "WHERE fmt = 'lossy'")}, gray AS (
         |  SELECT image_id, oy, ox,
         |    SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS g
         |  FROM px GROUP BY 1, 2, 3
         |), sq AS (
         |  SELECT image_id, oy * 8 + ox AS pos, g FROM gray
         |), ch AS (
         |  SELECT image_id, pos, g,
         |    CASE WHEN lag(g) OVER (PARTITION BY image_id ORDER BY pos)
         |      IS DISTINCT FROM g THEN 1 ELSE 0 END AS chg
         |  FROM sq
         |), rid AS (
         |  SELECT image_id,
         |    sum(chg) OVER (PARTITION BY image_id ORDER BY pos) AS run_id
         |  FROM ch
         |), runs AS (
         |  SELECT image_id, run_id, count(*) AS len FROM rid GROUP BY 1, 2
         |), a AS (
         |  SELECT image_id, CAST(count(*) AS BIGINT) AS n_runs,
         |    CAST(max(len) AS BIGINT) AS max_run
         |  FROM runs GROUP BY 1
         |), v AS (
         |  SELECT image_id, CAST(count(DISTINCT g) AS BIGINT) AS n_vals
         |  FROM sq GROUP BY 1
         |)
         |SELECT a.image_id, n_runs, max_run, n_vals
         |FROM a JOIN v ON v.image_id = a.image_id""".stripMargin))

  /** PER-IMAGE GLCM TEXTURE (Haralick gray-level co-occurrence) — the
    * texture leg of the image-quality family ([[qImageSharpness]] = edge
    * energy, [[qLbpTexture]] = local patterns; this = second-order
    * statistics of the gray distribution): quantize the 64 gray values of
    * the 8×8 thumb to 6 levels (g >> 7, g ∈ 0..765 — a pure bit shift, no
    * division), count horizontally-adjacent ordered level pairs (8 rows ×
    * 7 = 56 pairs), and emit the two classic integer Haralick features:
    * `contrast = Σ cnt·(qa−qb)²` and `energy = Σ cnt²`, plus the occupied
    * co-occurrence-cell count. All BIGINT end-to-end — no float ever
    * touches the hashed output.
    *
    * Scale shape: the 56 (qa, qb) pairs are built IN ONE PROJECTION from
    * the thumb bytes (a 56-element array of structs over byte_at — a
    * raster self-join on (oy, ox+1) would replan the decode+resize kernel
    * twice, the q_image_neardup trap; the oracle, which has the gray CTE
    * materialized, uses the join form), then two IMAGE-keyed groupBys of
    * ≤56/≤36 rows per key. At 10^12 images: scan-stage decode + one keyed
    * shuffle of tiny histograms — the dHash family's contract. */
  private val qGlcmTexture = Q(
    "q_glcm_texture",
    (s, dir) => {
      val (thumb, gray) = grayThumbs(Images.imagesWithBytes(s, dir), 8)
      def lvl(p: Int) = shiftright(gray(p), 7)
      val pairs = array((for { y <- 0 until 8; x <- 0 until 7 } yield
        struct(lvl(y * 8 + x).as("qa"), lvl(y * 8 + x + 1).as("qb"))): _*)
      thumb.select(col("image_id"), explode(pairs).as("pr"))
        .groupBy(col("image_id"), col("pr.qa").as("qa"),
          col("pr.qb").as("qb"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("image_id")
        .agg(
          sum(col("cnt") * (col("qa") - col("qb")) * (col("qa") - col("qb")))
            .as("contrast"),
          sum(col("cnt") * col("cnt")).as("energy"),
          count(lit(1)).as("n_cells"))
    },
    Some(
      s"""${pixelChainCtes(grid = 8, v1Where = "WHERE fmt = 'lossy'")}, gray AS (
         |  SELECT image_id, oy, ox,
         |    CAST(SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS BIGINT)
         |      >> 7 AS q
         |  FROM px GROUP BY 1, 2, 3
         |), co AS (
         |  SELECT a.image_id, a.q AS qa, b.q AS qb,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM gray a JOIN gray b
         |    ON b.image_id = a.image_id AND b.oy = a.oy AND b.ox = a.ox + 1
         |  GROUP BY 1, 2, 3
         |)
         |SELECT image_id,
         |  CAST(sum(cnt * (qa - qb) * (qa - qb)) AS BIGINT) AS contrast,
         |  CAST(sum(cnt * cnt) AS BIGINT) AS energy,
         |  CAST(count(*) AS BIGINT) AS n_cells
         |FROM co GROUP BY 1""".stripMargin))

  /** MIN-ENERGY VERTICAL SEAM (seam carving, Avidan–Shamir) — the
    * content-aware-resize primitive: over each image's 8×8 gray grid, the
    * cheapest top-to-bottom 8-connected path
    * `dp(r,x) = g(r,x) + min(dp(r−1, x−1..x+1))`, emitted as the exact
    * integer seam cost (≤ 8·765 — pure BIGINT) and the argmin end column
    * (ties → smallest x, deterministic on both engines). The DP is
    * STATICALLY UNROLLED — 8 chained array `transform`s over the 64-gray
    * array in ONE map-side projection (no per-row iteration, no joins;
    * the oracle, which has the gray CTE materialized, unrolls the same 8
    * steps as chained grouped joins).
    *
    * Scale shape: decode → grays → 8 transforms all live in the scan
    * stage; the query is map-only until the final dump. At 10^12 images
    * this is pure scan throughput — no shuffle at all. */
  private val qSeamCarve = Q(
    "q_seam_carve",
    (s, dir) => {
      val (thumb, gray) = grayThumbs(Images.imagesWithBytes(s, dir), 8)
      val grays = array((0 until 64).map(gray): _*)
      var df = thumb.select(col("image_id"), grays.as("ga"))
        .withColumn("dp0", expr("slice(ga, 1, 8)"))
      for (r <- 1 to 7) df = df.withColumn(s"dp$r", expr(
        s"""transform(sequence(0, 7), x ->
           |  element_at(ga, ${r * 8} + x + 1) + least(
           |    element_at(dp${r - 1}, greatest(x, 1)),
           |    element_at(dp${r - 1}, x + 1),
           |    element_at(dp${r - 1}, least(x + 2, 8))))""".stripMargin))
      df.select(col("image_id"),
        expr("array_min(dp7)").as("seam_cost"),
        (expr("array_position(dp7, array_min(dp7))") - 1L).as("end_x"))
    },
    Some {
      val steps = (1 to 7).map { r =>
        s"""dp$r AS (
           |  SELECT g.image_id, g.ox, g.g + min(d.c) AS c
           |  FROM gray g JOIN dp${r - 1} d
           |    ON d.image_id = g.image_id AND abs(d.ox - g.ox) <= 1
           |  WHERE g.oy = $r GROUP BY g.image_id, g.ox, g.g
           |)""".stripMargin
      }.mkString(", ")
      s"""${pixelChainCtes(grid = 8, v1Where = "WHERE fmt = 'lossy'")}, gray AS (
         |  SELECT image_id, oy, ox,
         |    CAST(SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS BIGINT) AS g
         |  FROM px GROUP BY 1, 2, 3
         |), dp0 AS (
         |  SELECT image_id, ox, g AS c FROM gray WHERE oy = 0
         |), $steps
         |SELECT image_id, c AS seam_cost, CAST(ox AS BIGINT) AS end_x
         |FROM dp7
         |QUALIFY row_number() OVER
         |  (PARTITION BY image_id ORDER BY c, ox) = 1""".stripMargin
    })

  /** PER-IMAGE BLOB LABELING — connected-component analysis INSIDE the
    * raster (the object-counting / lesion-counting primitive; the missing
    * composition between the raster family and the graph family): over a
    * 1-in-50 deterministic image sample, threshold the 8×8 gray grid at
    * 384 (the mid-gray binarization), build the rook-adjacency graph of
    * mask cells with GLOBALLY DISJOINT node ids (`k·64 + pos` — every
    * image's blob graph lives in its own id range, so ONE distributed CC
    * pass labels every image's blobs simultaneously), and run the
    * existing [[graft.dedup.Components]] pointer-jumping CC. Emitted per
    * sampled image with a non-empty mask: mask size, blob count, largest
    * blob — the percolation profile of the noise raster.
    *
    * The mask is localCheckpoint'ed before use: it feeds the node set,
    * BOTH edge sides, and the final id→image join, and each reference
    * would otherwise replan the decode+resize kernel (the audited
    * double-evaluation trap). Scale shape: decode is map-side in the
    * scan stage; edges come from keyed (k, pos) equi-joins of the tiny
    * checkpointed mask; CC is O(log d) keyed rounds (Components'
    * contract); rollups are image-keyed. The 1-in-50 sample is a
    * configuration constant — the operator itself is corpus-sized. */
  private val qBlobLabels = Q(
    "q_blob_labels",
    (s, dir) => {
      val (base, gray) = grayThumbs(
        Images.imagesWithBytes(s, dir).where(col("k") % 50 === 0), 8)
      val grays = array((0 until 64).map(gray): _*)
      val mask = base
        .select(col("k"), col("image_id"), posexplode(grays).as(Seq("pos", "g")))
        .where(col("g") >= 384)
        .select(col("k"), col("image_id"), col("pos"),
          (col("k") * 64 + col("pos")).as("id"))
        .localCheckpoint(true)
      val right = mask.where(col("pos") % 8 =!= 7)
        .select(col("k"), (col("pos") + 1).as("pos"), col("id").as("a"))
      val down = mask.where(col("pos") < 56)
        .select(col("k"), (col("pos") + 8).as("pos"), col("id").as("a"))
      val edges = right.unionAll(down)
        .join(mask.select(col("k"), col("pos"), col("id").as("b")),
          Seq("k", "pos"))
        .select("a", "b")
      val lab = graft.dedup.Components
        .connectedComponents(mask.select("id"), edges)
      val sz = lab.groupBy("rep").agg(count(lit(1)).as("sz"))
      lab.join(sz, "rep")
        .join(mask.select("id", "image_id"), "id")
        .groupBy("image_id")
        .agg(count(lit(1)).as("n_mask"),
          countDistinct(col("rep")).as("n_blobs"),
          max(col("sz")).as("max_blob"))
    },
    Some(
      s"""${pixelChainCtes(grid = 8, v1Where = "WHERE fmt = 'lossy'")}, gray AS MATERIALIZED (
         |  SELECT image_id, k, oy, ox,
         |    CAST(SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS BIGINT) AS g
         |  FROM px GROUP BY 1, 2, 3, 4
         |), mask AS MATERIALIZED (
         |  SELECT image_id, k, oy, ox,
         |    CAST(k * 64 + oy * 8 + ox AS BIGINT) AS id
         |  FROM gray WHERE g >= 384 AND k % 50 = 0
         |), ed AS MATERIALIZED (
         |  SELECT m.id AS a, n.id AS b
         |  FROM mask m JOIN mask n ON n.k = m.k
         |    AND ((n.oy = m.oy AND n.ox = m.ox + 1)
         |      OR (n.ox = m.ox AND n.oy = m.oy + 1))
         |), ed2 AS MATERIALIZED (
         |  SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed
         |), r AS (
         |  SELECT id, id AS rep FROM mask
         |  UNION
         |  SELECT e.b AS id, r.rep FROM r JOIN ed2 e ON e.a = r.id
         |), lab AS MATERIALIZED (
         |  SELECT id, min(rep) AS rep FROM r GROUP BY 1
         |), bsz AS (
         |  SELECT rep, CAST(count(*) AS BIGINT) AS sz FROM lab GROUP BY 1
         |)
         |SELECT m.image_id,
         |  CAST(count(*) AS BIGINT) AS n_mask,
         |  CAST(count(DISTINCT l.rep) AS BIGINT) AS n_blobs,
         |  CAST(max(b.sz) AS BIGINT) AS max_blob
         |FROM lab l
         |JOIN bsz b ON b.rep = l.rep
         |JOIN mask m ON m.id = l.id
         |GROUP BY 1""".stripMargin))

  /** BIT-PLANE COMPLEXITY (BPCS segmentation profile) — which bit planes
    * of the gray raster carry STRUCTURE and which carry NOISE (the
    * steganography/compression planning metric): for each of the 8 low
    * bit planes of the 8×8 gray grid, the number of adjacent (horizontal
    * + vertical = 112) cell pairs whose bits differ. The per-plane
    * counts come from ONE pass via the XOR trick — plane b of a pair
    * transitions iff bit b of `ga XOR gb` is set — so the 112 pairs are
    * built in one map-side array projection (the GLCM device; no raster
    * self-join, no 8× plane explode) and ONE image-keyed groupBy emits
    * all 8 plane sums as separate aggregates. Output per image: the
    * noisiest plane (argmax transitions, tie → lower plane), its count,
    * and the total across planes — all BIGINT.
    *
    * Scale shape: decode → pair array → explode(112) → one keyed
    * groupBy with 8 sum aggregates; the argmax is a plain 8-way CASE in
    * the same projection (no window at all). The dHash family's
    * contract at 10^12 images. */
  private val qBitplaneComplexity = Q(
    "q_bitplane_complexity",
    (s, dir) => {
      val (thumb, gray) = grayThumbs(Images.imagesWithBytes(s, dir), 8)
      val hp = for { y <- 0 until 8; x <- 0 until 7 }
        yield (y * 8 + x, y * 8 + x + 1)
      val vp = for { y <- 0 until 7; x <- 0 until 8 }
        yield (y * 8 + x, (y + 1) * 8 + x)
      val pairs = array((hp ++ vp).map { case (a, b) =>
        gray(a).bitwiseXOR(gray(b)).as("x")
      }: _*)
      val planeSums = (0 until 8).map(b =>
        sum(expr(s"shiftright(x, $b) & 1")).as(s"t$b"))
      val agged = thumb
        .select(col("image_id"), explode(pairs).as("x"))
        .groupBy("image_id")
        .agg(planeSums.head, planeSums.tail: _*)
      val best = (0 until 8).foldLeft((lit(-1L), lit(0))) {
        case ((bt, bp), b) =>
          val better = col(s"t$b") > bt
          (when(better, col(s"t$b")).otherwise(bt),
            when(better, lit(b)).otherwise(bp))
      }
      agged.select(col("image_id"),
        best._2.as("best_plane"), best._1.as("best_trans"),
        (0 until 8).map(b => col(s"t$b")).reduce(_ + _).as("total_trans"))
    },
    Some {
      val planeCols = (0 until 8).map(b =>
        s"CAST(sum((x >> $b) & 1) AS BIGINT) AS t$b").mkString(",\n  ")
      val bestExpr = (1 until 8).foldLeft(("t0", "0")) {
        case ((bt, bp), b) =>
          (s"CASE WHEN t$b > $bt THEN t$b ELSE $bt END",
            s"CASE WHEN t$b > $bt THEN $b ELSE $bp END")
      }
      s"""${pixelChainCtes(grid = 8, v1Where = "WHERE fmt = 'lossy'")}, gray AS (
         |  SELECT image_id, oy, ox,
         |    CAST(SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS BIGINT) AS g
         |  FROM px GROUP BY 1, 2, 3
         |), pr AS (
         |  SELECT a.image_id, xor(a.g, b.g) AS x
         |  FROM gray a JOIN gray b ON b.image_id = a.image_id
         |    AND ((b.oy = a.oy AND b.ox = a.ox + 1)
         |      OR (b.ox = a.ox AND b.oy = a.oy + 1))
         |), pl AS (
         |  SELECT image_id,
         |  $planeCols
         |  FROM pr GROUP BY 1
         |)
         |SELECT image_id,
         |  CAST(${bestExpr._2} AS INTEGER) AS best_plane,
         |  ${bestExpr._1} AS best_trans,
         |  t0 + t1 + t2 + t3 + t4 + t5 + t6 + t7 AS total_trans
         |FROM pl""".stripMargin
    })

  /** SYMSPELL EDIT-DISTANCE DEDUP — the spelling-variant near-dup family
    * member the Jaccard/MinHash/SimHash text operators can't see (they
    * shingle on tokens; a one-character typo is invisible below the
    * shingle width): find all caption pairs at Levenshtein distance
    * exactly 1 via the SymSpell deletion neighborhood (Garbe's symmetric
    * delete: if lev(a,b) ≤ 1 then {a} ∪ deletes₁(a) intersects
    * {b} ∪ deletes₁(b)) — each caption emits its 27 single-deletion
    * variants, candidates come from a variant EQUI-join KEYED BY THE
    * DELETION INDEX: over an equal-length corpus lev = 1 means exactly
    * one substitution, and a substitution-at-i pair collides at
    * deletion index i and NOWHERE else — so `(i, delete_i(caption))` is
    * a PERFECT banding key: every true pair produced exactly once, the
    * "refine" is one character comparison (a.caption[i] ≠ b.caption[i],
    * which only rejects identical captions), and no dedup is needed.
    * Emitted as the differing-position histogram: each pair contributes
    * exactly one (pos, 1) — any missing or phantom pair shifts a count.
    * All integer. (Round-5 perf fix: the previous form joined on the
    * variant alone and refined with `levenshtein` — at sf0.1 that put a
    * 27²-op refine on all ~25M candidates, 434 s in-suite; the indexed
    * key makes the refine O(1) per pair, 434 s → ~14 s. The
    * variable-length general case — insertions/deletions — re-adds the
    * v-only join + levenshtein refine as the documented upgrade path.)
    *
    * Scale shape: variants are a 27× map-side fanout of the (id, caption)
    * projection (no decode, no bytes); the join is an equi-join on the
    * (index, variant) pair — AQE-splittable, output-bounded by the true
    * pair count; the histogram is one keyed count. At 10^12 captions
    * this is the LSH-banding contract with the deletion variant as the
    * band key. */
  private val qSymspellPairs = Q(
    "q_symspell_pairs",
    (s, dir) => {
      val vexpr = "transform(sequence(1, length(caption)), i -> " +
        "struct(i as i, concat(substring(caption, 1, i - 1), " +
        "substring(caption, i + 1)) as v))"
      val vs = Images.images(s, dir)
        .select(col("image_id"), col("caption"),
          explode(expr(vexpr)).as("m"))
        .select(col("image_id"), col("caption"),
          col("m.i").as("i"), col("m.v").as("v"))
      vs.as("a").join(vs.as("b"),
          col("a.i") === col("b.i") && col("a.v") === col("b.v") &&
            col("a.image_id") < col("b.image_id"))
        .where(expr("substring(a.caption, a.i, 1)") =!=
          expr("substring(b.caption, b.i, 1)"))
        .groupBy(col("a.i").as("pos"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    Some(
      s"""$cte, vs AS (
         |  SELECT image_id, caption, CAST(i.r AS INTEGER) AS i,
         |    substring(caption, 1, CAST(i.r AS INTEGER) - 1)
         |      || substring(caption, CAST(i.r AS INTEGER) + 1) AS v
         |  FROM images, range(1, 28) i(r)
         |)
         |SELECT a.i AS pos, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM vs a JOIN vs b
         |  ON b.i = a.i AND b.v = a.v AND a.image_id < b.image_id
         |WHERE substring(a.caption, a.i, 1) <> substring(b.caption, b.i, 1)
         |GROUP BY 1""".stripMargin))

  /** Raster ZONAL STATISTICS — the classic raster↔vector operator (zone
    * layer × raster layer → per-zone aggregates of decoded pixel content;
    * the north star's "raster↔vector" axis beyond pure assignment).
    * Containment comes from the same broadcast covering-cell index +
    * codegen ray-cast refine as [[graft.operators.SpatialJoin.pipJoin]];
    * the pixel side decodes each image ONCE in the same map-side
    * projection (decode → 4×4 thumb → stats kernels), reduced to an
    * integer pixel sum BEFORE the per-zone shuffle (doubles must not ride
    * a shuffle into a sum — order-dependent; `round(mean_px·48)` recovers
    * the exact integer pixel total since mean_px = sum/48 with
    * sum ≤ 48·255). Per-zone result: image count + total pixel mass. The
    * oracle replays decode (splitmix64 pixel chain), containment (the
    * polygon predicates), and the aggregation relationally — the full
    * raster→vector chain proven cross-engine. At scale: the zone index is
    * the pip join's (broadcast or partitioned) index; everything before
    * the final keyed agg is map-only. */
  private val qZonalStats = Q(
    "q_zonal_stats",
    (s, dir) => {
      import graft.geo.{functions => G}
      import graft.operators.SpatialJoin
      val px = Images.imagesWithBytes(s, dir)
        .withColumn("thumb", M.raster_resize(
          M.raster_decode(col("bytes"), col("fmt")),
          col("w"), col("h"), lit(4), lit(4)))
        .withColumn("st", M.raster_stats(col("thumb")))
        .select(col("image_id"), col("lat"), col("lon"),
          expr("cast(round(st.mean_px * 48) as bigint)").as("px_sum"))
        .withColumn("cell",
          G.cell_encode(col("lat"), col("lon"), SpatialJoin.CoverRes))
      px.join(broadcast(SpatialJoin.coverIndex(
          s, Fixtures.polys, SpatialJoin.CoverRes)), Seq("cell"))
        .filter(G.point_in_poly(col("lat"), col("lon"),
          col("lats"), col("lons")))
        .groupBy(col("poly_id"))
        .agg(count(lit(1)).as("n_images"), sum(col("px_sum")).as("px_sum"))
    },
    Some(
      s"""${pixelChainCtes(grid = 4, v1Where = "WHERE fmt = 'lossy'")}, img_px AS (
         |  SELECT image_id, CAST(SUM(CASE WHEN fmt = 'raw' THEN truth
         |    ELSE least(255, greatest(0, truth + delta)) END) AS BIGINT) AS px_sum
         |  FROM px GROUP BY image_id
         |), matched AS (
         |${Fixtures.pipMatchedSql}
         |)
         |SELECT poly_id, CAST(count(*) AS BIGINT) AS n_images,
         |  CAST(sum(px_sum) AS BIGINT) AS px_sum
         |FROM matched JOIN img_px USING (image_id)
         |GROUP BY poly_id""".stripMargin))

  /** Raster MOSAIC PYRAMID — GeoTIFF-overview-style content rollup
    * ([[graft.operators.MosaicPyramid]]): decode each image ONCE to a 4x4
    * thumb at leaf res 7, carry the exact associative mosaic state
    * (48 per-position pixel sums + count) bottom-up through three keyed
    * rollups to res 4, then emit the hash-stable integer summary
    * (per-channel totals + position-weighted checksum). The oracle groups
    * the per-pixel CTE stream at res 4 DIRECTLY, so a hash match proves
    * the whole chain — synthetic bytes, lossy decode, nearest-neighbor
    * resize, and the 3-level mosaic rollup's exact associativity —
    * cross-engine. (≙ the reference's recursive cluster-then-summarize
    * levels, cluster_tree_builder.py:62-205, with pixels as the summary.) */
  private val qRasterPyramid = Q(
    "q_raster_pyramid",
    (s, dir) => graft.operators.MosaicPyramid.summarize(
      graft.operators.MosaicPyramid.levelAt(
        Images.imagesWithBytes(s, dir), leafRes = 7, outRes = 4)),
    Some {
      val np = graft.operators.MosaicPyramid.NBytes
      s"""${pixelChainCtes(grid = 4, v1Where = "WHERE fmt = 'lossy'")}, pxv AS (
         |  SELECT k, (oy * 4 + ox) * 3 + ch AS i,
         |    CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END AS v
         |  FROM px
         |)
         |SELECT ${cellSql(4)} AS cell,
         |  CAST(count(*) // $np AS BIGINT) AS n_imgs,
         |  CAST(sum(CASE WHEN p.i % 3 = 0 THEN p.v ELSE 0 END) AS BIGINT) AS r_sum,
         |  CAST(sum(CASE WHEN p.i % 3 = 1 THEN p.v ELSE 0 END) AS BIGINT) AS g_sum,
         |  CAST(sum(CASE WHEN p.i % 3 = 2 THEN p.v ELSE 0 END) AS BIGINT) AS b_sum,
         |  CAST(sum((p.i + 1) * p.v) AS BIGINT) AS chk
         |FROM images i JOIN pxv p USING (k)
         |GROUP BY 1""".stripMargin
    })

  /** SHARED oracle pixel machinery (q_thumb_stats + the dHash queries):
    * `WITH RECURSIVE ... seeds/chain/pos/px` — a recursive CTE advances the
    * per-image splitmix64 seed chain ([[graft.multimodal.Raster.duckMixSql]]
    * — 32-bit-limb wrapping multiplies in HUGEINT; variant 0 = truth bytes,
    * variant 1 = the lossy noise stream, materialized only for `v1Where`
    * rows), then `pos`/`px` sample the grid x grid nearest-neighbor
    * positions (x3 channels) and expose each as (truth, delta) plus its
    * channel `ch` = idx % 3 (q_raster_pyramid's per-channel sums). nb = the
    * highest seed-block index any sampled position touches, +1: max idx =
    * (((g-1)h/g)*w + (g-1)w/g)*3 + 2 (integer div), block = idx/8; chain
    * row m holds mix^m(seed), block j reads m = j + 2. */
  private def pixelChainCtes(grid: Int, v1Where: String,
                             flipX: Boolean = false): String = {
    val mixS = graft.multimodal.Raster.duckMixSql("s")
    val g1 = grid - 1
    // flipX: the grid samples a horizontally MIRRORED raster — position
    // (oy, ox) of the flipped image is original column w-1-(ox*w//grid).
    // nb must then cover the max idx over the whole row (sx up to w-1).
    val sx =
      if (flipX) s"(i.w - 1 - (ox.r * i.w // $grid))"
      else s"(ox.r * i.w // $grid)"
    val nb =
      if (flipX) s"CAST((((($g1*h)//$grid)*w + (w - 1))*3 + 2) // 8 + 1" +
        " AS INTEGER)"
      else s"CAST((((($g1*h)//$grid)*w + ($g1*w)//$grid)*3 + 2) // 8 + 1" +
        " AS INTEGER)"
    s"""${cte.replaceFirst("WITH ", "WITH RECURSIVE ")}, seeds AS (
       |  SELECT k, 0 AS variant, CAST(k AS UBIGINT) AS s0, $nb AS nb
       |  FROM images
       |  UNION ALL
       |  SELECT k, 1, xor(CAST(k AS UBIGINT), CAST(25214903917 AS UBIGINT)),
       |    $nb
       |  FROM images $v1Where
       |), chain AS (
       |  SELECT k, variant, 0 AS m, s0 AS s, nb FROM seeds
       |  UNION ALL
       |  SELECT k, variant, m + 1, $mixS, nb FROM chain WHERE m <= nb
       |), pos AS (
       |  SELECT i.k, i.image_id, i.fmt, oy.r AS oy, ox.r AS ox,
       |    ((oy.r * i.h // $grid) * i.w + $sx) * 3 + c.r AS idx
       |  FROM images i, range(0,$grid) oy(r), range(0,$grid) ox(r), range(0,3) c(r)
       |), px AS (
       |  SELECT p.k, p.image_id, p.fmt, p.oy, p.ox, p.idx % 3 AS ch,
       |    CAST((c0.s >> CAST((p.idx % 8) * 8 AS INTEGER)) % 256 AS INTEGER) AS truth,
       |    CAST((c1.s >> CAST((p.idx % 8) * 8 AS INTEGER)) % 256 AS INTEGER) % 5 - 2 AS delta
       |  FROM pos p
       |  JOIN chain c0 ON c0.k = p.k AND c0.variant = 0 AND c0.m = p.idx // 8 + 2
       |  LEFT JOIN chain c1 ON c1.k = p.k AND c1.variant = 1 AND c1.m = p.idx // 8 + 2
       |)""".stripMargin
  }

  /** Oracle CTE chunk for the dHash queries: WITH RECURSIVE ... ending in
    * `dh(image_id, dhash)` — the 56-bit difference hash of every image's
    * STORED bytes, replayed fully relationally (the q_thumb_stats pixel
    * machinery: splitmix64 chain, truth + lossy-delta variants, 8x8
    * nearest-neighbor grid, gray = R+G+B, adjacent-compare bits summed as
    * powers of two). With `dupSide` also `dhd(dup_id, dhash)` over the
    * forced-lossy re-encode of the k%20=0 subset. */
  private def dhashOracleCtes(dupSide: Boolean,
                              flipX: Boolean = false): String = {
    val v1Where =
      if (dupSide) "WHERE fmt = 'lossy' OR k % 20 = 0" else "WHERE fmt = 'lossy'"
    val dupCtes = if (!dupSide) "" else s""", grayd AS (
      |  SELECT image_id, oy, ox,
      |    SUM(least(255, greatest(0, truth + delta))) AS g
      |  FROM px WHERE k % 20 = 0 GROUP BY 1, 2, 3
      |), bitsd AS (
      |  SELECT a.image_id, a.oy * 7 + a.ox AS j
      |  FROM grayd a JOIN grayd b
      |    ON b.image_id = a.image_id AND b.oy = a.oy AND b.ox = a.ox + 1
      |  WHERE a.ox < 7 AND a.g > b.g
      |), dhd AS (
      |  SELECT concat(i.image_id, '_d') AS dup_id,
      |    CAST(coalesce(SUM(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0)
      |      AS BIGINT) AS dhash
      |  FROM images i LEFT JOIN bitsd b ON b.image_id = i.image_id
      |  WHERE i.k % 20 = 0 GROUP BY i.image_id
      |)""".stripMargin
    s"""${pixelChainCtes(grid = 8, v1Where = v1Where, flipX = flipX)}, gray AS (
       |  SELECT image_id, oy, ox,
       |    SUM(CASE WHEN fmt = 'raw' THEN truth
       |      ELSE least(255, greatest(0, truth + delta)) END) AS g
       |  FROM px GROUP BY 1, 2, 3
       |), bits AS (
       |  SELECT a.image_id, a.oy * 7 + a.ox AS j
       |  FROM gray a JOIN gray b
       |    ON b.image_id = a.image_id AND b.oy = a.oy AND b.ox = a.ox + 1
       |  WHERE a.ox < 7 AND a.g > b.g
       |), dh AS (
       |  SELECT i.image_id,
       |    CAST(coalesce(SUM(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0)
       |      AS BIGINT) AS dhash
       |  FROM images i LEFT JOIN bits b ON b.image_id = i.image_id
       |  GROUP BY i.image_id
       |)$dupCtes""".stripMargin
  }

  /** REAL perceptual hash from pixels (the table's `phash` is synthesized
    * metadata; this computes one): 56-bit dHash of every stored image via
    * the codegen'd [[graft.multimodal.Raster.dhash]] kernel — 8x8
    * nearest-neighbor gray grid, adjacent-compare bits. The oracle replays
    * the ENTIRE pixel path relationally, so a hash match proves the
    * perceptual-hash kernel bit-for-bit cross-engine. Map-only at any
    * scale. */
  private val qImageDhash = Q(
    "q_image_dhash",
    (s, dir) => Images.imagesWithBytes(s, dir)
      .select(col("image_id"),
        M.dhash56(M.raster_decode(col("bytes"), col("fmt")),
          col("w"), col("h")).as("dhash")),
    Some(s"""${dhashOracleCtes(dupSide = false)}
            |SELECT image_id, dhash FROM dh""".stripMargin))

  /** LOCAL BINARY PATTERN texture fingerprint — the classic texture
    * descriptor (Ojala et al. LBP: per interior pixel an 8-bit code with
    * bit i set iff the i-th clockwise neighbor's gray ≥ the center's),
    * over the same 8x8 gray grid as the dHash/Sobel kernels
    * ([[graft.multimodal.Raster.lbpCodes]]). Per image the code histogram
    * is summarized as: the MODE code (ties → smaller code), its count,
    * the distinct-code count, and the mass of UNIFORM patterns (≤ 2
    * circular bit transitions — Ojala's uniform-LBP class: flats, edges,
    * corners; computed as bit_count(code XOR rot1(code)) on integers, so
    * the whole statistic replays exactly). The oracle recomputes every
    * code relationally from the pixel chain — a hash match proves the
    * kernel's 288 comparisons bit-for-bit on every image.
    *
    * Scale shape: decode → 36 codes is map-side in the scan stage (the
    * codes array never exceeds 144 bytes); the histogram groupBy is keyed
    * by (image, code) with map-side combine, and every window is
    * IMAGE-keyed (≤ 36 rows per key — never partitionless). At 10^12
    * images: one scan + one keyed shuffle of ≤36-row groups. */
  private val qLbpTexture = Q(
    "q_lbp_texture",
    (s, dir) => {
      val codes = Images.imagesWithBytes(s, dir)
        .select(col("image_id"),
          explode(M.lbp_codes(M.raster_decode(col("bytes"), col("fmt")),
            col("w"), col("h"))).as("code"))
      val hist = codes.groupBy(col("image_id"), col("code"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("trans",
          expr("bit_count(code ^ ((code * 2) % 256 + code div 128))"))
      val wi = Window.partitionBy("image_id")
      val wr = wi.orderBy(col("cnt").desc, col("code"))
      hist
        .withColumn("rn", row_number().over(wr))
        .withColumn("n_codes", count(lit(1)).over(wi))
        .withColumn("uniform_cnt",
          sum(when(col("trans") <= 2, col("cnt")).otherwise(0L)).over(wi))
        .where(col("rn") === 1)
        .select(col("image_id"), col("code").as("mode_code"),
          col("cnt").as("mode_cnt"), col("n_codes"), col("uniform_cnt"))
    },
    Some(
      s"""${pixelChainCtes(grid = 8, v1Where = "WHERE fmt = 'lossy'")}, gray AS (
         |  SELECT image_id, oy, ox,
         |    SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS g
         |  FROM px GROUP BY 1, 2, 3
         |), offs AS (
         |  SELECT * FROM (VALUES (-1,-1,0),(-1,0,1),(-1,1,2),(0,1,3),
         |    (1,1,4),(1,0,5),(1,-1,6),(0,-1,7)) t(dy, dx, bit)
         |), code AS (
         |  SELECT c.image_id, c.oy, c.ox,
         |    CAST(SUM(CASE WHEN n.g >= c.g THEN 1 << o.bit ELSE 0 END)
         |      AS INTEGER) AS code
         |  FROM gray c
         |  CROSS JOIN offs o
         |  JOIN gray n ON n.image_id = c.image_id
         |    AND n.oy = c.oy + o.dy AND n.ox = c.ox + o.dx
         |  WHERE c.oy BETWEEN 1 AND 6 AND c.ox BETWEEN 1 AND 6
         |  GROUP BY 1, 2, 3
         |), hist AS (
         |  SELECT image_id, code, CAST(count(*) AS BIGINT) AS cnt,
         |    bit_count(xor(code, (code * 2) % 256 + code // 128)) AS trans
         |  FROM code GROUP BY 1, 2
         |)
         |SELECT image_id, code AS mode_code, cnt AS mode_cnt,
         |  CAST(count(*) OVER (PARTITION BY image_id) AS BIGINT) AS n_codes,
         |  CAST(sum(CASE WHEN trans <= 2 THEN cnt ELSE 0 END)
         |    OVER (PARTITION BY image_id) AS BIGINT) AS uniform_cnt
         |FROM hist
         |QUALIFY row_number() OVER
         |  (PARTITION BY image_id ORDER BY cnt DESC, code) = 1""".stripMargin))

  /** IMAGE AUGMENTATION, proven cross-engine — decode → horizontal flip
    * ([[graft.multimodal.Raster.hflip]], the canonical label-preserving
    * augmentation) → perceptual hash of the AUGMENTED image. The oracle
    * replays the full chain relationally with MIRRORED grid sampling
    * (position (oy, ox) of the flipped raster reads original column
    * w-1-(ox·w/8) of the splitmix64 pixel stream), so a hash match proves
    * the flip kernel's byte remap bit-for-bit on every image — not just a
    * stats-level invariant. Map-only at any scale; at 10^12 rows the
    * augmented variants are generated in the same scan that reads the
    * originals (no second pass, no materialized copy). */
  private val qAugmentFlip = Q(
    "q_augment_flip",
    (s, dir) => Images.imagesWithBytes(s, dir)
      .select(col("image_id"),
        M.dhash56(
          M.raster_hflip(M.raster_decode(col("bytes"), col("fmt")),
            col("w"), col("h")),
          col("w"), col("h")).as("dhash")),
    Some(s"""${dhashOracleCtes(dupSide = false, flipX = true)}
            |SELECT image_id, dhash FROM dh""".stripMargin))

  /** IMAGE SHARPNESS SCORING — the image-modality QUALITY heuristic of a
    * training-data pipeline (the analog of q_doc_quality's text ratios:
    * filter/stratify the corpus on it before training): integer Sobel
    * gradient energy of every stored image via the codegen'd
    * [[graft.multimodal.Raster.sobelEnergy]] kernel — the dHash 8x8 gray
    * grid, then the 3x3 Sobel pair over the interior 6x6 and
    * energy = Σ|gx|+|gy|. All integer (no division, bound < 2^18), so the
    * score replays EXACTLY in ANSI SQL: the oracle rebuilds the gray grid
    * from the splitmix64 pixel chain and evaluates the convolution as a
    * scatter — each gray pixel joins the interior centers within Chebyshev
    * 1 and CASE weights recover the two kernels — proving the full
    * decode→gray→convolve chain cross-engine. Map-only at any scale.
    * (≙ raptor/utils.py quality gating before tree construction.) */
  private val qImageSharpness = Q(
    "q_image_sharpness",
    (s, dir) => Images.imagesWithBytes(s, dir)
      .select(col("image_id"),
        M.sobel_energy(M.raster_decode(col("bytes"), col("fmt")),
          col("w"), col("h")).as("sharpness")),
    Some(
      s"""${pixelChainCtes(grid = 8, v1Where = "WHERE fmt = 'lossy'")}, gray AS (
         |  SELECT image_id, oy, ox,
         |    SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS g
         |  FROM px GROUP BY 1, 2, 3
         |), sob AS (
         |  SELECT gr.image_id, cy.r AS cy, cx.r AS cx,
         |    SUM(gr.g * (CASE gr.ox - cx.r WHEN 1 THEN 1 WHEN -1 THEN -1 ELSE 0 END)
         |             * (CASE gr.oy - cy.r WHEN 0 THEN 2 ELSE 1 END)) AS gx,
         |    SUM(gr.g * (CASE gr.oy - cy.r WHEN 1 THEN 1 WHEN -1 THEN -1 ELSE 0 END)
         |             * (CASE gr.ox - cx.r WHEN 0 THEN 2 ELSE 1 END)) AS gy
         |  FROM gray gr, range(1,7) cy(r), range(1,7) cx(r)
         |  WHERE abs(gr.oy - cy.r) <= 1 AND abs(gr.ox - cx.r) <= 1
         |  GROUP BY 1, 2, 3
         |)
         |SELECT image_id, CAST(SUM(abs(gx) + abs(gy)) AS BIGINT) AS sharpness
         |FROM sob GROUP BY image_id""".stripMargin))

  /** EDGE-ORIENTATION HISTOGRAM (HOG-lite) — the orientation half of the
    * HOG descriptor family, integer-exact: the 36 interior Sobel
    * gradients per image ([[graft.multimodal.Raster.sobelSectors]] — same
    * gray grid as sharpness/dHash), each quantized to a compass sector by
    * sign/dominance tests alone (the q_traj_headings decision tree; no
    * atan2, so the descriptor replays digit-for-digit in SQL). Per image:
    * flat mass, edge mass, and the DOMINANT edge orientation (ties →
    * smaller sector; −1 when the image has no gradient anywhere) — the
    * cheap pose/texture facet a curation pipeline stratifies on.
    * Map-side decode → one (image, sector)-keyed groupBy with ≤9 rows
    * per image; windows image-keyed. Same 10^12 contract as the dHash
    * family. */
  private val qEdgeOrient = Q(
    "q_edge_orient",
    (s, dir) => {
      val hist = Images.imagesWithBytes(s, dir)
        .select(col("image_id"),
          explode(M.sobel_sectors(M.raster_decode(col("bytes"), col("fmt")),
            col("w"), col("h"))).as("sector"))
        .groupBy(col("image_id"), col("sector"))
        .agg(count(lit(1)).as("cnt"))
      // ONE pass: a base-aggregate + dominant-pick LEFT JOIN would replan
      // the decode + Sobel kernel once per branch (the q_image_neardup
      // trap; plan_signatures.txt counts the joins) — image-keyed windows
      // over the ≤9-row histogram read it once. Edge rows sort before
      // flat, so rn=1 IS the dominant edge when any edge exists.
      val wi = Window.partitionBy("image_id")
      val wr = wi.orderBy(when(col("sector") < 8, 0).otherwise(1),
        col("cnt").desc, col("sector"))
      hist
        .withColumn("flat_cnt",
          sum(when(col("sector") === 8, col("cnt")).otherwise(0L)).over(wi))
        .withColumn("edge_cnt",
          sum(when(col("sector") < 8, col("cnt")).otherwise(0L)).over(wi))
        .withColumn("rn", row_number().over(wr))
        .where(col("rn") === 1)
        .select(col("image_id"), col("flat_cnt"), col("edge_cnt"),
          when(col("sector") < 8, col("sector")).otherwise(-1)
            .as("dom_sector"),
          when(col("sector") < 8, col("cnt")).otherwise(0L).as("dom_cnt"))
    },
    Some(
      s"""${pixelChainCtes(grid = 8, v1Where = "WHERE fmt = 'lossy'")}, gray AS (
         |  SELECT image_id, oy, ox,
         |    SUM(CASE WHEN fmt = 'raw' THEN truth
         |      ELSE least(255, greatest(0, truth + delta)) END) AS g
         |  FROM px GROUP BY 1, 2, 3
         |), sob AS (
         |  SELECT gr.image_id, cy.r AS cy, cx.r AS cx,
         |    SUM(gr.g * (CASE gr.ox - cx.r WHEN 1 THEN 1 WHEN -1 THEN -1 ELSE 0 END)
         |             * (CASE gr.oy - cy.r WHEN 0 THEN 2 ELSE 1 END)) AS gx,
         |    SUM(gr.g * (CASE gr.oy - cy.r WHEN 1 THEN 1 WHEN -1 THEN -1 ELSE 0 END)
         |             * (CASE gr.ox - cx.r WHEN 0 THEN 2 ELSE 1 END)) AS gy
         |  FROM gray gr, range(1,7) cy(r), range(1,7) cx(r)
         |  WHERE abs(gr.oy - cy.r) <= 1 AND abs(gr.ox - cx.r) <= 1
         |  GROUP BY 1, 2, 3
         |), sec AS (
         |  SELECT image_id, CASE
         |    WHEN gx = 0 AND gy = 0 THEN 8
         |    WHEN abs(gx) > abs(gy) AND gx > 0 THEN 0
         |    WHEN abs(gx) > abs(gy) THEN 4
         |    WHEN abs(gy) > abs(gx) AND gy > 0 THEN 2
         |    WHEN abs(gy) > abs(gx) THEN 6
         |    WHEN gx > 0 AND gy > 0 THEN 1
         |    WHEN gx > 0 THEN 7
         |    WHEN gy > 0 THEN 3
         |    ELSE 5 END AS sector
         |  FROM sob
         |), hist AS (
         |  SELECT image_id, sector, CAST(count(*) AS BIGINT) AS cnt
         |  FROM sec GROUP BY 1, 2
         |), base AS (
         |  SELECT image_id,
         |    CAST(sum(CASE WHEN sector = 8 THEN cnt ELSE 0 END) AS BIGINT)
         |      AS flat_cnt,
         |    CAST(sum(CASE WHEN sector < 8 THEN cnt ELSE 0 END) AS BIGINT)
         |      AS edge_cnt
         |  FROM hist GROUP BY 1
         |), dom AS (
         |  SELECT image_id, sector AS dom_sector, cnt AS dom_cnt FROM (
         |    SELECT image_id, sector, cnt, row_number() OVER (
         |      PARTITION BY image_id ORDER BY cnt DESC, sector) AS rk
         |    FROM hist WHERE sector < 8
         |  ) WHERE rk = 1
         |)
         |SELECT b.image_id, b.flat_cnt, b.edge_cnt,
         |  CAST(coalesce(d.dom_sector, -1) AS INTEGER) AS dom_sector,
         |  coalesce(d.dom_cnt, 0) AS dom_cnt
         |FROM base b LEFT JOIN dom d ON d.image_id = b.image_id""".stripMargin))

  /** IMAGE NEAR-DUP DETECTION — the image-modality dedup operator of a
    * training-data pipeline: plant a perturbed re-encode (forced-lossy
    * variant, same ground truth) of 5% of the corpus, then find each
    * dup's original by dHash: 4 pigeonhole bands of 14 bits generate
    * candidates as an EQUI-JOIN (hamming <= 3 can leave at most 3 bands
    * differing, so one band must match — lossless for the threshold,
    * linear, AQE-splittable; the simhash device over the image hash),
    * exact `bit_count(xor)` refine. The BAND WIDTH is the radius/cost
    * dial: 14-bit bands collide at ~1/16384 per band (candidates ~
    * |A||B|/4096 — scale-safe), where 8-bit bands (radius 6) collide at
    * 1/256 and degrade to |A||B|/36 — effectively quadratic, measured 20 s
    * at sf0.1 before this was tuned. Random 56-bit hashes inside hamming 3
    * are ~1e-12, so the output is exactly the planted pairs whose noise
    * stayed within the radius — and the oracle replays hash + banding +
    * refine, so the row set is deterministic, not statistical. */
  private val qImageNeardup = Q(
    "q_image_neardup",
    (s, dir) => {
      val bands = "transform(sequence(0, 3), " +
        "b -> struct(b AS b, shiftright(dh, b * 14) & 16383 AS v))"
      // coalesce(-, 0): dhash56 never returns null here, but marking the
      // column NON-NULLABLE stops InferFiltersFromConstraints from pushing
      // an isnotnull(dhash56(...)) filter below the dedup aggregates on
      // both join inputs — which would evaluate the query's dominant
      // kernel (raster synthesis + hash) TWICE per image; PlanSpec pins
      // the single evaluation (the pushed filter is not in a signature).
      val dh = Images.imagesWithBytes(s, dir)
        .select(col("image_id"),
          coalesce(M.dhash56(M.raster_decode(col("bytes"), col("fmt")),
            col("w"), col("h")), lit(0L)).as("dh"))
        .select(col("image_id"), col("dh").as("dhash"),
          explode(expr(bands)).as("bd"))
        .select(col("image_id"), col("dhash"),
          col("bd.b").as("b"), col("bd.v").as("v"))
      val dhd = Images.images(s, dir).filter(col("k") % 20 === 0)
        .select(concat(col("image_id"), lit("_d")).as("dup_id"),
          coalesce(M.dhash56(
            M.synthetic_raster(col("k"), col("w"), col("h"), lit("lossy")),
            col("w"), col("h")), lit(0L)).as("dh"))
        .select(col("dup_id"), col("dh").as("ddhash"),
          explode(expr(bands)).as("bd"))
        .select(col("dup_id"), col("ddhash"),
          col("bd.b").as("b"), col("bd.v").as("v"))
      dhd.join(dh, Seq("b", "v"))
        // emit-once: keep a multi-band-colliding pair only in its FIRST
        // matching band — both full hashes are in hand, so this replaces
        // the former distinct() (a full shuffle of the pairs) with a
        // stateless per-row filter (identical output; the oracle keeps
        // its SELECT DISTINCT, a no-op on the already-unique set)
        .filter(expr("array_position(transform(sequence(0, 3), k -> " +
          "(shiftright(dhash, k * 14) & 16383) = " +
          "(shiftright(ddhash, k * 14) & 16383)), true) = b + 1"))
        .withColumn("hamming",
          expr("cast(bit_count(dhash ^ ddhash) as int)"))
        .filter(col("hamming") <= 3)
        .select(col("dup_id"), col("image_id").as("orig_id"), col("hamming"))
    },
    Some(s"""${dhashOracleCtes(dupSide = true)},
            |aband AS (
            |  SELECT image_id, dhash, b.r AS b,
            |    (dhash >> (b.r * 14)) & 16383 AS v
            |  FROM dh, range(0,4) b(r)
            |), dband AS (
            |  SELECT dup_id, dhash AS ddhash, b.r AS b,
            |    (dhash >> (b.r * 14)) & 16383 AS v
            |  FROM dhd, range(0,4) b(r)
            |)
            |SELECT DISTINCT d.dup_id, a.image_id AS orig_id,
            |  CAST(bit_count(xor(a.dhash, d.ddhash)) AS INTEGER) AS hamming
            |FROM dband d JOIN aband a ON a.b = d.b AND a.v = d.v
            |WHERE bit_count(xor(a.dhash, d.ddhash)) <= 3""".stripMargin))

  /** Video-modality pipeline: synthesize an 8-frame video blob per image,
    * sample every 2nd frame, run the per-frame stats kernel — the
    * frame-sampling step of a video-training pipeline over the same binary
    * plumbing (frame decode = the stubbed codec boundary). The oracle
    * states the structural invariant (4 sampled frames, each w*h*3 bytes,
    * video 8x that) as n_pass == n_rows per fmt. */
  private val qFrameSample = Q(
    "q_frame_sample",
    (s, dir) => Images.images(s, dir)
      .withColumn("video",
        M.synthetic_video(col("k"), col("w"), col("h"), lit(8)))
      .withColumn("frames", M.frame_sample(col("video"),
        col("w") * col("h") * lit(3), lit(2)))
      .withColumn("st", M.raster_stats(element_at(col("frames"), 1)))
      .withColumn("ok",
        size(col("frames")) === 4 &&
          expr("forall(frames, f -> length(f) = w * h * 3)") &&
          length(col("video")) === col("w") * col("h") * 3 * 8 &&
          col("st.n_bytes") === col("w") * col("h") * 3)
      .groupBy(col("fmt"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_pass")),
    Some(
      s"""$cte
         |SELECT fmt, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_pass
         |FROM images GROUP BY fmt""".stripMargin))

  /** VIDEO SCENE-CUT DETECTION — the shot-boundary step of a video
    * training pipeline (sample frames, perceptual-hash each, a cut is a
    * large adjacent-frame hash distance): synthesize the 8-frame video
    * ([[graft.multimodal.Raster.videoBytes]]), dHash every frame with the
    * same codegen kernel as q_image_dhash, hamming via the built-in
    * `bit_count(a ^ b)` over an image-keyed lag window, threshold at 28
    * (the independent-frame median, so per-video cut counts genuinely
    * vary). Emitted per video: transitions, cuts, max/total hamming —
    * all integers. Runs on the deterministic k%100 audit slice: the
    * kernel chain is map-only + one keyed window at any scale; the slice
    * keeps the ORACLE tractable, which must replay the full
    * per-frame pixel stream (frame f's seed is k + 1000003·(f+1) — 8
    * recursive splitmix64 chains per video) through grid → gray → dhash
    * → lag → hamming, proving the entire video path cross-engine. */
  private val qSceneCuts = Q(
    "q_scene_cuts", {
      val CutThresh = 28
      (s, dir) => {
        val frames = Images.images(s, dir)
          .filter(col("k") % 100 === 0)
          .withColumn("video",
            M.synthetic_video(col("k"), col("w"), col("h"), lit(8)))
          .select(col("image_id"), col("w"), col("h"),
            posexplode(M.frame_sample(col("video"),
              col("w") * col("h") * lit(3), lit(1))).as(Seq("f", "frame")))
          .withColumn("dhash", M.dhash56(col("frame"), col("w"), col("h")))
        val wnd = Window.partitionBy(col("image_id")).orderBy(col("f"))
        frames
          .withColumn("prev", lag(col("dhash"), 1).over(wnd))
          .where(col("prev").isNotNull)
          .withColumn("ham", expr("bit_count(dhash ^ prev)").cast("long"))
          .groupBy(col("image_id"))
          .agg(count(lit(1)).as("n_trans"),
            sum(when(col("ham") > CutThresh, 1L).otherwise(0L)).as("n_cuts"),
            max(col("ham")).as("max_ham"),
            sum(col("ham")).as("ham_sum"))
      }
    },
    Some {
      val mixS = graft.multimodal.Raster.duckMixSql("s")
      val nb = "CAST(((((7*h)//8)*w + (7*w)//8)*3 + 2) // 8 + 1 AS INTEGER)"
      s"""${cte.replaceFirst("WITH ", "WITH RECURSIVE ")}, fr AS (
         |  SELECT k, image_id, w, h, f.r AS f,
         |    CAST(k + 1000003 * (f.r + 1) AS UBIGINT) AS s0, $nb AS nb
         |  FROM images, range(0,8) f(r)
         |  WHERE k % 100 = 0
         |), chain AS (
         |  SELECT k, f, 0 AS m, s0 AS s, nb FROM fr
         |  UNION ALL
         |  SELECT k, f, m + 1, $mixS, nb FROM chain WHERE m <= nb
         |), pos AS (
         |  SELECT fr.k, fr.image_id, fr.f, oy.r AS oy, ox.r AS ox,
         |    ((oy.r * fr.h // 8) * fr.w + (ox.r * fr.w // 8)) * 3 + c.r AS idx
         |  FROM fr, range(0,8) oy(r), range(0,8) ox(r), range(0,3) c(r)
         |), gray AS (
         |  SELECT p.k, p.image_id, p.f, p.oy, p.ox,
         |    SUM(CAST((c0.s >> CAST((p.idx % 8) * 8 AS INTEGER)) % 256
         |      AS INTEGER)) AS g
         |  FROM pos p
         |  JOIN chain c0 ON c0.k = p.k AND c0.f = p.f AND c0.m = p.idx // 8 + 2
         |  GROUP BY 1, 2, 3, 4, 5
         |), bits AS (
         |  SELECT a.k, a.f, a.oy * 7 + a.ox AS j
         |  FROM gray a JOIN gray b
         |    ON b.k = a.k AND b.f = a.f AND b.oy = a.oy AND b.ox = a.ox + 1
         |  WHERE a.ox < 7 AND a.g > b.g
         |), dh AS (
         |  SELECT fr.k, fr.image_id, fr.f,
         |    CAST(coalesce(SUM(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0)
         |      AS BIGINT) AS dhash
         |  FROM fr LEFT JOIN bits b ON b.k = fr.k AND b.f = fr.f
         |  GROUP BY 1, 2, 3
         |), tr AS (
         |  SELECT image_id,
         |    ${graft.text.TextOps.DuckD.bitCount(
               graft.text.TextOps.DuckD.xor("dhash",
                 "lag(dhash) OVER (PARTITION BY k ORDER BY f)"))} AS ham
         |  FROM dh
         |  QUALIFY lag(dhash) OVER (PARTITION BY k ORDER BY f) IS NOT NULL
         |)
         |SELECT image_id, CAST(count(*) AS BIGINT) AS n_trans,
         |  CAST(sum(CASE WHEN ham > 28 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cuts,
         |  CAST(max(ham) AS BIGINT) AS max_ham,
         |  CAST(sum(ham) AS BIGINT) AS ham_sum
         |FROM tr GROUP BY image_id""".stripMargin
    })

  /** AS-OF JOIN over the events table ([[graft.operators.AsOfJoin]]):
    * every non-purchase event picks up the user's most recent purchase
    * value at or before its own timestamp. The engine runs the scalable
    * union+carry window; the DuckDB oracle is the NATIVE `ASOF JOIN`
    * operator — two entirely independent implementations of the temporal
    * semantics hash-matching each other. Inner form (unmatched events
    * dropped) because DuckDB's bare ASOF JOIN is inner. */
  private val qAsofJoin = Q(
    "q_asof_join",
    (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval")) // unique per (key, ts): contract
      val probes = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsOfJoin.asOf(probes, purchases, "user_id", "ts", "pval")
        .filter(col("pval").isNotNull)
        .select(col("event_id"), col("user_id"), col("pval"))
    },
    Some(
      """WITH p AS (
        |  SELECT user_id, ts, max(value) AS pval
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), l AS (
        |  SELECT event_id, user_id, ts
        |  FROM events WHERE event_type <> 'purchase'
        |)
        |SELECT l.event_id, l.user_id, p.pval
        |FROM l ASOF JOIN p
        |  ON l.user_id = p.user_id AND l.ts >= p.ts""".stripMargin))

  /** INTERVAL-OVERLAP (RANGE) JOIN — the scale-safe plan for an UNKEYED
    * temporal containment predicate: error events open an interval
    * [ts, ts + (event_id%7 + 1) min); every click event landing inside an
    * interval is credited to it (count + integer milli-value), zero-hit
    * intervals kept. Written naively this is a theta join (the oracle's
    * form — |iv| x |pt| nested loop, a non-starter at 10^12 rows). The
    * engine BUCKETIZES: bucket width B = the max interval length (7 min),
    * so each interval covers <= 2 buckets (`sequence(s div B, (e-1) div B)`
    * — bounded fan-out) and each point exactly one; the overlap join
    * becomes one bucket equi-join + a residual refine, each (iv, pt) pair
    * meeting in exactly the point's bucket (no pair dedup needed). This is
    * the bin-bucketed range-join plan (the Databricks range-join
    * optimization shape); hot buckets split under AQE like any skewed
    * equi-join. A hash match against the theta-join oracle proves the
    * bucketization loses and invents nothing. */
  private val qIntervalJoin = Q(
    "q_interval_join",
    (s, dir) => {
      val B = 420000000L // 7 min in micros == the max interval duration
      val ev = s.read.parquet(s"$dir/events.parquet")
      val iv = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("iv_id"),
          unix_micros(col("ts").cast("timestamp")).as("s"))
        .withColumn("e", col("s") + (col("iv_id") % 7 + 1) * 60000000L)
      val pt = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("pt_id"),
          unix_micros(col("ts").cast("timestamp")).as("t"),
          expr("cast(floor(value * 1000) as bigint)").as("vm"))
      val hits = iv
        .withColumn("bucket",
          explode(expr(s"sequence(s div $B, (e - 1) div $B)")))
        .join(pt.withColumn("bucket", expr(s"t div $B")), Seq("bucket"))
        .filter(col("t") >= col("s") && col("t") < col("e"))
        .groupBy(col("iv_id"))
        .agg(count(lit(1)).as("n_hits"), sum(col("vm")).as("val_milli"))
      iv.select(col("iv_id")).join(hits, Seq("iv_id"), "left_outer")
        .select(col("iv_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("val_milli"), lit(0L)).as("val_milli"))
    },
    Some(
      """WITH iv AS (
        |  SELECT event_id AS iv_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + ((event_id % 7) + 1) * 60000000 AS e
        |  FROM events WHERE event_type = 'error'
        |), pt AS (
        |  SELECT event_id AS pt_id, epoch_us(ts) AS t,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT iv_id, CAST(count(pt_id) AS BIGINT) AS n_hits,
        |  CAST(coalesce(sum(vm), 0) AS BIGINT) AS val_milli
        |FROM iv LEFT JOIN pt ON pt.t >= iv.s AND pt.t < iv.e
        |GROUP BY 1""".stripMargin))

  // ------------------------------------------------------- event-time windows

  private val HourUs = 3600000000L
  private val GapUs = 1800000000L // 30 min session gap

  /** Tumbling 1h event-time windows per event type. Value sums are
    * floor-quantized to integer milli-units — exact under any aggregation
    * order (the float-sum nondeterminism trap at 1000-executor scale). */
  private val qEventsWindow = Q(
    "q_events_window",
    (s, dir) => s.read.parquet(s"$dir/events.parquet")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts").cast("timestamp")) / lit(HourUs)).cast("long").as("win"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(floor(value * 1000) as bigint)")).as("value_milli")),
    Some(
      s"""SELECT event_type,
         |  CAST(floor(epoch_us(ts) / $HourUs) AS BIGINT) AS win,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
         |FROM events GROUP BY 1, 2""".stripMargin))

  /** Sessionization: per-user sessions split on >30min gaps (lag + running
    * break-count — the W-family stateful pattern in pure window algebra). */
  private val qEventsSessions = Q(
    "q_events_sessions",
    (s, dir) => {
      val o = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("t"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      o.withColumn("pt", lag(col("t"), 1).over(w))
        .withColumn("brk",
          when(col("pt").isNull || col("t") - col("pt") > GapUs, 1L).otherwise(0L))
        .withColumn("sess", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("n_events"),
          min(col("t")).as("start_us"), max(col("t")).as("end_us"))
    },
    Some(
      s"""WITH o AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
         |), l AS (
         |  SELECT user_id, event_id, t,
         |    lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
         |  FROM o
         |), f AS (
         |  SELECT user_id, event_id, t,
         |    CASE WHEN pt IS NULL OR t - pt > $GapUs THEN 1 ELSE 0 END AS brk
         |  FROM l
         |), se AS (
         |  SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id
         |    ORDER BY t, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
         |  FROM f)
         |SELECT user_id, CAST(sess AS BIGINT) AS sess,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  min(t) AS start_us, max(t) AS end_us
         |FROM se GROUP BY 1, 2""".stripMargin))

  /** Semi-structured extraction: pull the integer `k` out of the JSON
    * `props` column and aggregate per event type — the F-family JSON path
    * (all-integer outputs, exact in both engines). */
  private val qEventsJson = Q(
    "q_events_json",
    (s, dir) => s.read.parquet(s"$dir/events.parquet")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max")),
    Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
        |  min(CAST(props->>'k' AS BIGINT)) AS k_min,
        |  max(CAST(props->>'k' AS BIGINT)) AS k_max
        |FROM events GROUP BY 1""".stripMargin))

  // ------------------------------------------------- sampling / level metrics

  /** Deterministic seeded sample (SURVEY.md O5): order by a content hash,
    * not rand() — reproducible across engines and re-runs. */
  private val qSampleTopN = Q(
    "q_sample_topn",
    (s, dir) => Images.images(s, dir)
      .orderBy(md5(col("image_id")), col("image_id"))
      .limit(50)
      .select(col("image_id"), col("lat"), col("lon")),
    Some(
      s"""$cte
         |SELECT image_id, lat, lon FROM images
         |ORDER BY md5(image_id), image_id LIMIT 50""".stripMargin))

  /** WEIGHTED deterministic sampling — PRIORITY SAMPLING (Duffield, Lund
    * & Thorup, JACM 2007): per tile at res 6, keep the k images of
    * highest priority `q_i = w_i / u_i` (weight = stored byte size,
    * u_i = a seeded uniform from md5(image_id)) — the quality/size-
    * weighted corpus subsampling step of a training pipeline (uniform
    * sampling is q_sample_topn; this biases retention toward heavy
    * items with a principled inclusion-probability story).
    *
    * Determinism + parity: u derives from the cross-engine md5 device
    * ((m + 0.5) / 2^32, never 0), and the priority uses ONLY division —
    * IEEE-754 division is correctly rounded, so both engines compute
    * bit-identical priorities (no transcendentals: the Efraimidis-
    * Spirakis u^(1/w) key would ride on `pow`, whose last ulp is not
    * portable — the q_bic_k lesson). Output is integer/string columns
    * only. Plan: map-only projection + ONE keyed window per cell —
    * partition-parallel, no global sort (SignatureSpec forbids
    * partitionless windows). */
  private val qWeightedSample = Q(
    "q_weighted_sample", {
      val k = 3
      (s, dir) => {
        val m = conv(substring(md5(col("image_id")), 1, 8), 16, 10)
          .cast("long")
        val u = (m.cast("double") + lit(0.5)) / lit(4294967296.0)
        val pri = (col("w") * col("h") * lit(3)).cast("double") / u
        val wnd = Window
          .partitionBy(col("cell"))
          .orderBy(col("pri").desc, col("image_id"))
        Images.images(s, dir)
          .withColumn("cell",
            graft.geo.functions.cell_encode(col("lat"), col("lon"), 6))
          .withColumn("pri", pri)
          .withColumn("rnk", row_number().over(wnd))
          .filter(col("rnk") <= k)
          .select(col("cell"), col("image_id"), col("rnk").cast("int").as("rnk"))
      }
    },
    Some(
      s"""$cte
         |SELECT cell, image_id, CAST(rnk AS INTEGER) AS rnk FROM (
         |  SELECT cell, image_id, row_number() OVER (
         |      PARTITION BY cell ORDER BY pri DESC, image_id) AS rnk
         |  FROM (
         |    SELECT ${cellSql(6)} AS cell, image_id,
         |      CAST(w * h * 3 AS DOUBLE) /
         |        ((CAST(('0x' || substr(md5(image_id), 1, 8))::BIGINT AS DOUBLE)
         |          + 0.5) / 4294967296.0) AS pri
         |    FROM images
         |  )
         |) WHERE rnk <= 3""".stripMargin))

  /** KMV distinct-count sketch per res-5 tile ([[graft.agg.Kmv]]):
    * approximate cardinality that is a pure function of the hash set, so
    * — unlike HLL — the oracle replays it exactly (distinct -> per-cell
    * k-smallest -> (k-1)/h_k estimate, one correctly-rounded division).
    * Cells under k distinct values report exactly. */
  private val qKmvDistinct = Q(
    "q_kmv_distinct", {
      val k = 32
      (s, dir) =>
        graft.agg.Kmv.cellSketches(Images.images(s, dir), 5, k)
    },
    Some {
      val k = 32
      val scale = (k - 1).toLong * (1L << 32)
      s"""$cte,
         |hh AS (
         |  SELECT DISTINCT ${cellSql(5)} AS cell,
         |    ('0x' || substr(md5(image_id), 1, 8))::BIGINT AS h
         |  FROM images
         |), rk AS (
         |  SELECT cell, h,
         |    row_number() OVER (PARTITION BY cell ORDER BY h) AS rnk
         |  FROM hh
         |), ag AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk
         |  FROM rk WHERE rnk <= $k GROUP BY cell
         |)
         |SELECT cell, n_kept, hk,
         |  CAST(CASE WHEN n_kept < $k THEN n_kept
         |    ELSE CAST(floor(CAST($scale AS DOUBLE) / CAST(hk AS DOUBLE))
         |      AS BIGINT) END AS BIGINT) AS est
         |FROM ag""".stripMargin
    })

  /** HLL REGISTER TABLE — the sketch family's third member, stated at
    * the level that IS exactly reproducible: Spark's own
    * `approx_count_distinct` HLL is implementation-defined (register
    * layout and bias tables are engine-internal — the reason
    * [[qKmvDistinct]] exists), but the REGISTERS of a textbook HLL
    * (Flajolet et al. 2007) are a pure function of the hash set: bucket
    * = the md5 device's first 8 bits, register = leading-zero rank
    * `33 − bitlen(v)` of the next 32 bits (v = 0 → 32 by the shared
    * bitlen convention — both engines state the same formula, so even
    * the degenerate case matches). Emitted per occupied bucket with the
    * bucket's row count; the harmonic-mean ESTIMATE is deliberately NOT
    * emitted — it chains transcendentals (2^-reg sums, bias correction)
    * and belongs driver-side, while the register table is the mergeable
    * distributed carrier (register max is associative — 1000 executors
    * sketch independently, a 256-row reduce merges; the same
    * partial-merge contract KmvSpec pins for KMV).
    *
    * Scale shape: map-only hash projection + a 256-group max/count
    * aggregate with map-side combine — the cheapest shuffle the engine
    * has; output is ≤256 rows at any input scale. */
  private val qHllRegisters = Q(
    "q_hll_registers",
    (s, dir) => {
      val h = Images.images(s, dir).select(
        conv(substring(md5(col("image_id")), 1, 2), 16, 10)
          .cast("long").as("b"),
        conv(substring(md5(col("image_id")), 3, 8), 16, 10)
          .cast("long").as("v"))
      h.withColumn("reg", lit(33L) - length(bin(col("v"))).cast("long"))
        .groupBy(col("b"))
        .agg(max(col("reg")).as("max_reg"), count(lit(1)).as("n_rows"))
    },
    Some(
      s"""$cte, hv AS (
         |  SELECT ('0x' || substr(md5(image_id), 1, 2))::BIGINT AS b,
         |    ('0x' || substr(md5(image_id), 3, 8))::BIGINT AS v
         |  FROM images
         |)
         |SELECT b, CAST(max(33 - length(bin(v))) AS BIGINT) AS max_reg,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM hv GROUP BY 1""".stripMargin))

  /** HLL REGISTER MERGE — the distributed contract of [[qHllRegisters]]
    * PROVEN AT THE GATE, not just in a spec: the corpus is split into
    * two disjoint halves (even/odd k — the q_time_travel split device),
    * each half sketches independently, and the halves merge by
    * per-bucket register max + count sum. The oracle is the WHOLE-CORPUS
    * register table computed in one pass — so a hash match is the merge
    * identity `merge(sketch(A), sketch(B)) = sketch(A ∪ B)` verified
    * cross-engine, which is exactly the property that lets 1000
    * executors sketch 100 TB independently and a 256-row reduce combine
    * them (and lets a snapshot store keep per-partition sketches and
    * serve corpus-level cardinality from metadata).
    *
    * Scale shape: two map-only hash projections + two 256-group
    * aggregates + one 512-row merge — nothing here exceeds the
    * q_hll_registers cost. */
  private val qHllMerge = Q(
    "q_hll_merge",
    (s, dir) => {
      def half(filter: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
        val h = Images.images(s, dir)
          .where(filter(col("k") % 2))
          .select(
            conv(substring(md5(col("image_id")), 1, 2), 16, 10)
              .cast("long").as("b"),
            conv(substring(md5(col("image_id")), 3, 8), 16, 10)
              .cast("long").as("v"))
        h.withColumn("reg", lit(33L) - length(bin(col("v"))).cast("long"))
          .groupBy(col("b"))
          .agg(max(col("reg")).as("max_reg"), count(lit(1)).as("n_rows"))
      }
      half(_ === 0).unionByName(half(_ =!= 0))
        .groupBy(col("b"))
        .agg(max(col("max_reg")).as("max_reg"),
          sum(col("n_rows")).as("n_rows"))
    },
    Some(
      s"""$cte, hv AS (
         |  SELECT ('0x' || substr(md5(image_id), 1, 2))::BIGINT AS b,
         |    ('0x' || substr(md5(image_id), 3, 8))::BIGINT AS v
         |  FROM images
         |)
         |SELECT b, CAST(max(33 - length(bin(v))) AS BIGINT) AS max_reg,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM hv GROUP BY 1""".stripMargin))

  /** Per-level pyramid metrics (≙ log_tree_structure,
    * raptor/utils.py:222-271): cells, images, avg/max occupancy per level —
    * the skew dashboard. Plan: ONE scan + ONE shuffle for all levels via
    * the batched multi-res projection (`cell_encode_multi` -> explode ->
    * groupBy cell) instead of a chain of dependent rollup stages — the
    * right shape for count-only payloads (the full tile pyramid keeps the
    * rollup chain, whose per-level aggregate state is reused). The explode
    * triples rows BEFORE the shuffle, but map-side partial aggregation
    * compacts them to the distinct-cell count, so shuffled bytes stay
    * proportional to cells, not images x levels. */
  private val qLevelMetrics = Q(
    "q_level_metrics",
    (s, dir) => {
      Images.images(s, dir)
        .select(explode(graft.geo.functions.cell_encode_multi(
          col("lat"), col("lon"), 10, 12)).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
        .groupBy(shiftrightunsigned(col("cell"), 58).cast("int").as("res"))
        .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_images"),
          max(col("cnt")).as("max_per_cell"))
        .withColumn("avg_per_cell",
          col("n_images").cast("double") / col("n_cells").cast("double"))
    },
    Some {
      val lvls = (10 to 12).map { r =>
        s"""SELECT $r AS res, cell, count(*) AS c
           |  FROM (SELECT ${cellSql(r)} AS cell FROM images) GROUP BY cell""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$cte, lv AS (
         |$lvls
         |)
         |SELECT res, CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(c) AS BIGINT) AS n_images,
         |  CAST(max(c) AS BIGINT) AS max_per_cell,
         |  CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_per_cell
         |FROM lv GROUP BY res""".stripMargin
    })

  /** Multi-granularity aggregation via GROUPING SETS (the §2.4 note: the
    * pyramid IS an unrolled rollup; this exposes the one-query form). */
  private val qGroupingSets = Q(
    "q_grouping_sets",
    (s, dir) => {
      Images.images(s, dir).createOrReplaceTempView("imgs_gs")
      s.sql(
        """SELECT fmt, w, count(*) AS cnt,
          |  cast(grouping(fmt) AS INT) AS g_fmt, cast(grouping(w) AS INT) AS g_w
          |FROM imgs_gs
          |GROUP BY GROUPING SETS ((fmt), (fmt, w), ())""".stripMargin)
    },
    Some(
      s"""$cte
         |SELECT fmt, w, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(grouping(fmt) AS INT) AS g_fmt, CAST(grouping(w) AS INT) AS g_w
         |FROM images
         |GROUP BY GROUPING SETS ((fmt), (fmt, w), ())""".stripMargin))

  /** Anti join (U5/P6 exclusion semantics as a first-class query): res-8
    * cells holding images but containing NO kNN query point. */
  private val qOrphanCells = Q(
    "q_orphan_cells",
    (s, dir) => {
      val cells = TilePyramid.leafTiles(Images.images(s, dir), 8)
        .select(col("cell"), col("cnt"))
      val qcells = Fixtures.knnQueries(s)
        .select(graft.geo.functions.cell_encode(col("qlat"), col("qlon"), 8)
          .as("cell"))
      cells.join(qcells, Seq("cell"), "left_anti")
    },
    Some(
      s"""$cte,
         |${Fixtures.knnOracleCte}
         |SELECT cell, CAST(count(*) AS BIGINT) AS cnt
         |FROM (SELECT ${cellSql(8)} AS cell FROM images) t
         |WHERE cell NOT IN (
         |  SELECT ${Images.oracleCellSql("qlat", "qlon", 8)} FROM queries)
         |GROUP BY cell""".stripMargin))

  // ------------------------------------------------------ recall harness (A9)

  private val K = 10

  /** Prefilter-vs-brute overlap harness (≙ raptor
    * `merge_distance&tree_exam.py`:334-446 overlap_calculate): intersection
    * size of ring-kNN and brute-kNN per query. The engine computes a REAL
    * intersection of the two methods; the oracle knows the answer must be
    * k for every query (the ring expansion is provably exact), so any
    * pruning bug shows up as a count mismatch. */
  private val qKnnOverlap = Q(
    "q_knn_overlap",
    (s, dir) => {
      val imgs = Images.images(s, dir)
      val qs = Fixtures.knnQueries(s)
      // same ranked set as q_knn (same k, queries, corpus) — shared pass
      val ring = Queries.knnRanked(s, dir)
      // brute side bounded by the ring's k-th distance (a real candidate
      // distance, hence >= the true k-th): keeps the brute scan map-only.
      // If ring pruning ever lost a true neighbor, brute-within-bound still
      // finds it and the intersection drops below k -> oracle mismatch.
      val bounds = ring.groupBy(col("qid")).agg(max(col("dist_sq")).as("bnd"))
      val brute = Knn.knnBruteBounded(imgs, qs.join(bounds, "qid"), K)
      ring.select(col("qid"), col("image_id"))
        .join(brute.select(col("qid"), col("image_id")), Seq("qid", "image_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_common"))
    },
    Some(
      s"""$cte,
         |${Fixtures.knnOracleCte}
         |SELECT qid, CAST(count(*) AS BIGINT) AS n_common FROM (
         |  SELECT q.qid, i.image_id,
         |    row_number() OVER (PARTITION BY q.qid ORDER BY
         |      ((i.lat - q.qlat) * (i.lat - q.qlat)
         |        + (i.lon - q.qlon) * (i.lon - q.qlon)), i.image_id) AS rnk
         |  FROM images i CROSS JOIN queries q
         |) WHERE rnk <= $K GROUP BY qid""".stripMargin))

  /** PER-TILE PERCEPTUAL DIVERSITY — the geo × image cross: for every
    * res-5 tile, image count and DISTINCT perceptual hashes (the full
    * pixel-derived dHash, not the synthetic phash column) — the spatial
    * dedup-pressure map that tells a curation pipeline WHERE near-dup
    * mining will pay (tiles with n_images >> n_distinct). Decode + hash
    * stay map-side in the scan projection; one composite rollup (the
    * distinct aggregate is two-phase keyed). The oracle joins the full
    * pixel-replay dhash CTE back to the binning — the kernel AND the
    * grid proven together. */
  private val qTileDiversity = Q(
    "q_tile_diversity",
    (s, dir) => Images.imagesWithBytes(s, dir)
      .select(graft.geo.functions
          .cell_encode(col("lat"), col("lon"), 5).as("cell"),
        M.dhash56(M.raster_decode(col("bytes"), col("fmt")),
          col("w"), col("h")).as("dhash"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_images"),
        countDistinct(col("dhash")).as("n_distinct")),
    Some(s"""${dhashOracleCtes(dupSide = false)}
            |SELECT c.cell, CAST(count(*) AS BIGINT) AS n_images,
            |  CAST(count(DISTINCT dh.dhash) AS BIGINT) AS n_distinct
            |FROM dh JOIN (SELECT image_id,
            |    ${Images.oracleCellSql("lat", "lon", 5)} AS cell
            |  FROM images) c ON c.image_id = dh.image_id
            |GROUP BY 1""".stripMargin))

  /** ZONAL LUMA DISTRIBUTION — per res-4 tile the 4-bin luminance
    * histogram of its images' decoded 4x4 thumbs ([[RasterHist4]] —
    * bins sum associatively, so the tile histogram is ONE keyed
    * aggregation over map-side decode+hist; the radiometric profile
    * layer of a map service). The oracle bins the same clamped pixel
    * values from the recursive splitmix64 pixel chain — decode, resize
    * sampling, clamping and binning all proven cross-engine. */
  private val qTileLuma = Q(
    "q_tile_luma",
    (s, dir) => Images.imagesWithBytes(s, dir)
      .withColumn("hist", M.raster_hist4(M.raster_resize(
        M.raster_decode(col("bytes"), col("fmt")),
        col("w"), col("h"), lit(4), lit(4))))
      .groupBy(graft.geo.functions
        .cell_encode(col("lat"), col("lon"), 4).as("cell"))
      .agg(count(lit(1)).as("n_images"),
        sum(element_at(col("hist"), 1)).as("b0"),
        sum(element_at(col("hist"), 2)).as("b1"),
        sum(element_at(col("hist"), 3)).as("b2"),
        sum(element_at(col("hist"), 4)).as("b3")),
    Some(
      s"""${pixelChainCtes(grid = 4, v1Where = "WHERE fmt = 'lossy'")}, pxv AS (
         |  SELECT image_id, CASE WHEN fmt = 'raw' THEN truth
         |    ELSE least(255, greatest(0, truth + delta)) END AS v
         |  FROM px
         |), hb AS (
         |  SELECT image_id,
         |    sum(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS b0,
         |    sum(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS b1,
         |    sum(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS b2,
         |    sum(CASE WHEN v // 64 = 3 THEN 1 ELSE 0 END) AS b3
         |  FROM pxv GROUP BY 1
         |), ic AS (
         |  SELECT image_id,
         |    ${Images.oracleCellSql("lat", "lon", 4)} AS cell
         |  FROM images
         |)
         |SELECT ic.cell, CAST(count(*) AS BIGINT) AS n_images,
         |  CAST(sum(b0) AS BIGINT) AS b0, CAST(sum(b1) AS BIGINT) AS b1,
         |  CAST(sum(b2) AS BIGINT) AS b2, CAST(sum(b3) AS BIGINT) AS b3
         |FROM hb JOIN ic ON ic.image_id = hb.image_id
         |GROUP BY 1""".stripMargin))

  /** GRAY-WORLD WHITE BALANCE — per-image color-cast estimation: channel
    * byte sums of the decoded 4x4 thumb ([[graft.multimodal.expressions
    * .RasterChannelSums]] over the same decode→resize chain as
    * [[qTileLuma]]) and the integer gray-world gains `gain_c =
    * (total · 10000) div (3 · s_c + 1)` (the +1 makes the all-dark channel
    * well-defined identically in both engines). The radiometric
    * normalization pass a 10^12-image ingest runs before augmentation;
    * map-only — bytes never leave the scan stage, the emitted row is 4
    * integers. The oracle replays the full splitmix64 pixel chain per
    * channel, so decode, sampling, clamping AND the gain arithmetic are
    * hash-proven. */
  private val qGrayWorld = Q(
    "q_gray_world",
    (s, dir) => Images.imagesWithBytes(s, dir)
      .withColumn("cs", M.raster_channel_sums(M.raster_resize(
        M.raster_decode(col("bytes"), col("fmt")),
        col("w"), col("h"), lit(4), lit(4))))
      .select(col("image_id"),
        element_at(col("cs"), 1).as("s_r"),
        element_at(col("cs"), 2).as("s_g"),
        element_at(col("cs"), 3).as("s_b"))
      .withColumn("tot", col("s_r") + col("s_g") + col("s_b"))
      .select(col("image_id"), col("s_r"), col("s_g"), col("s_b"),
        expr("(tot * 10000) div (3 * s_r + 1)").as("gain_r"),
        expr("(tot * 10000) div (3 * s_g + 1)").as("gain_g"),
        expr("(tot * 10000) div (3 * s_b + 1)").as("gain_b")),
    Some(
      s"""${pixelChainCtes(grid = 4, v1Where = "WHERE fmt = 'lossy'")}, pxv AS (
         |  SELECT image_id, ch, CASE WHEN fmt = 'raw' THEN truth
         |    ELSE least(255, greatest(0, truth + delta)) END AS v
         |  FROM px
         |), cs AS (
         |  SELECT image_id,
         |    CAST(sum(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT) AS s_r,
         |    CAST(sum(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT) AS s_g,
         |    CAST(sum(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT) AS s_b
         |  FROM pxv GROUP BY 1
         |)
         |SELECT image_id, s_r, s_g, s_b,
         |  ((s_r + s_g + s_b) * 10000) // (3 * s_r + 1) AS gain_r,
         |  ((s_r + s_g + s_b) * 10000) // (3 * s_g + 1) AS gain_g,
         |  ((s_r + s_g + s_b) * 10000) // (3 * s_b + 1) AS gain_b
         |FROM cs""".stripMargin))

  /** AFFINE WARP PARITY — the geometric-transform leg of the augmentation
    * family ([[qAugmentFlip]] pins the mirror via dHash; this pins the
    * 90°-clockwise ROTATION via the position-weighted checksum
    * [[graft.multimodal.expressions.RasterChk]], the layout-sensitive
    * fingerprint a permutation-invariant stat can't provide): per image,
    * `chk` of the decoded 4×4 thumb and of its rot90. The oracle remaps
    * each sampled pixel to its rotated index — out(y,x) = in(g−1−x, y),
    * so src (oy,ox) lands at dst (ox, g−1−oy) — and re-weights; a hash
    * match proves decode, resize, the rotation's exact byte layout AND
    * the checksum kernel cross-engine. Map-only (bytes never leave the
    * scan stage); at 10^12 images this is the augmentation pass shape. */
  private val qAffineWarp = Q(
    "q_affine_warp",
    (s, dir) => Images.imagesWithBytes(s, dir)
      .withColumn("thumb", M.raster_resize(
        M.raster_decode(col("bytes"), col("fmt")),
        col("w"), col("h"), lit(4), lit(4)))
      .select(col("image_id"),
        M.raster_chk(col("thumb")).as("chk_orig"),
        M.raster_chk(M.raster_rot90(col("thumb"), lit(4), lit(4)))
          .as("chk_rot")),
    Some(
      s"""${pixelChainCtes(grid = 4, v1Where = "WHERE fmt = 'lossy'")}, pxv AS (
         |  SELECT image_id, oy, ox, ch, CASE WHEN fmt = 'raw' THEN truth
         |    ELSE least(255, greatest(0, truth + delta)) END AS v
         |  FROM px
         |)
         |SELECT image_id,
         |  CAST(sum(((oy * 4 + ox) * 3 + ch + 1) * v) AS BIGINT) AS chk_orig,
         |  CAST(sum(((ox * 4 + (3 - oy)) * 3 + ch + 1) * v) AS BIGINT) AS chk_rot
         |FROM pxv GROUP BY 1""".stripMargin))

  /** HISTOGRAM-EQUALIZATION LUT — the radiometric-normalization leg
    * beyond [[qGrayWorld]]'s color cast: per image, the 4-bin luminance
    * histogram of the decoded 4×4 thumb and the equalization lookup
    * table `eq_i = (cdf_i · 255) div 48` (48 = thumb byte count; the
    * classic `round(cdf·L)` remap on exact integers — a bin's equalized
    * level is where its cumulative mass lands on the byte scale). All
    * integer; the CDF of 4 bins is three additions, not a window.
    * Map-only at any scale — the LUT is the per-image artifact an
    * equalize-on-read ingest stores alongside the bytes. */
  private val qHistEqualize = Q(
    "q_hist_equalize",
    (s, dir) => {
      val withHist = Images.imagesWithBytes(s, dir)
        .withColumn("hist", M.raster_hist4(M.raster_resize(
          M.raster_decode(col("bytes"), col("fmt")),
          col("w"), col("h"), lit(4), lit(4))))
        .select(col("image_id"),
          element_at(col("hist"), 1).as("b0"),
          element_at(col("hist"), 2).as("b1"),
          element_at(col("hist"), 3).as("b2"),
          element_at(col("hist"), 4).as("b3"))
      withHist.select(col("image_id"),
        col("b0"), col("b1"), col("b2"), col("b3"),
        expr("(b0 * 255) div 48").as("eq0"),
        expr("((b0 + b1) * 255) div 48").as("eq1"),
        expr("((b0 + b1 + b2) * 255) div 48").as("eq2"),
        expr("((b0 + b1 + b2 + b3) * 255) div 48").as("eq3"))
    },
    Some(
      s"""${pixelChainCtes(grid = 4, v1Where = "WHERE fmt = 'lossy'")}, pxv AS (
         |  SELECT image_id, CASE WHEN fmt = 'raw' THEN truth
         |    ELSE least(255, greatest(0, truth + delta)) END AS v
         |  FROM px
         |), hb AS (
         |  SELECT image_id,
         |    CAST(sum(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
         |    CAST(sum(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         |    CAST(sum(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         |    CAST(sum(CASE WHEN v // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3
         |  FROM pxv GROUP BY 1
         |)
         |SELECT image_id, b0, b1, b2, b3,
         |  (b0 * 255) // 48 AS eq0,
         |  ((b0 + b1) * 255) // 48 AS eq1,
         |  ((b0 + b1 + b2) * 255) // 48 AS eq2,
         |  ((b0 + b1 + b2 + b3) * 255) // 48 AS eq3
         |FROM hb""".stripMargin))

  // ------------------------------------------------------ schema inspection

  /** S3 — SCHEMA-INSPECTION SCAN (≙ analyse_dataset_tokens.py:34-62: load
    * the dataset, enumerate its fields before any processing): the engine
    * reports (table, position, column, type) for the three RAW corpus
    * tables from the parquet FOOTERS alone — `spark.read.parquet(...)
    * .schema` plans no jobs and reads no data pages, exactly the metadata
    * scan a 100 TB catalog browse must be. The oracle is DuckDB's own
    * DESCRIBE of the same files, with the documented engine-name mapping
    * (varchar→string, integer→int, blob→binary, float[]→array<float>,
    * timestamp→timestamp_ntz) applied on the SQL side — a hash match
    * proves both engines derive the identical logical schema from the
    * same footers. The previously one untested §2 row (S3, VERDICT r4). */
  private val SchemaTables = Seq("documents", "embeddings", "events")

  private val qSchemaInspect = Q(
    "q_schema_inspect",
    (s, dir) => {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val rows = SchemaTables.flatMap { t =>
        s.read.parquet(s"$dir/$t.parquet").schema.fields.zipWithIndex.map {
          case (f, i) => Row(t, i + 1, f.name, f.dataType.simpleString)
        }
      }
      val schema = StructType(Seq(
        StructField("tbl", StringType, nullable = false),
        StructField("pos", IntegerType, nullable = false),
        StructField("col_name", StringType, nullable = false),
        StructField("dtype", StringType, nullable = false)))
      s.createDataFrame(rows.asJava, schema)
    },
    Some {
      val per = SchemaTables.map { t =>
        s"""SELECT '$t' AS tbl, CAST(row_number() OVER () AS INT) AS pos,
           |  column_name AS col_name,
           |  CASE lower(column_type)
           |    WHEN 'varchar' THEN 'string'
           |    WHEN 'integer' THEN 'int'
           |    WHEN 'blob' THEN 'binary'
           |    WHEN 'float[]' THEN 'array<float>'
           |    WHEN 'timestamp' THEN 'timestamp_ntz'
           |    ELSE lower(column_type) END AS dtype
           |FROM (DESCRIBE SELECT * FROM $t)""".stripMargin
      }.mkString("\nUNION ALL\n")
      per
    })

  // ------------------------------------------------ round-5 breadth additions

  /** PROPORTIONAL stratified sampling: stratum = (res-5 tile, fmt), each
    * stratum keeps ceil(n/10) rows — the fixed-RATE companion of the
    * fixed-k samplers (q_sample_topn global, q_weighted_sample per-tile
    * priority): allocation follows stratum mass, so the sample preserves
    * the corpus's spatial x format distribution (what a training-data
    * curriculum samples by). Row choice inside a stratum is the md5
    * content-hash order (O5 determinism device — no rand()).
    *
    * Plan: ONE keyed window pair (count + row_number over the same
    * stratum key — one shuffle, no partitionless window), ceil-div in
    * integers (`(n + 9) div 10`, exact cross-engine). At 100 TB the
    * stratum key bounds every partition; no global sort exists. */
  private val qStratSample = Q(
    "q_strat_sample",
    (s, dir) => {
      val strat = Window.partitionBy(col("cell"), col("fmt"))
      val ord = strat.orderBy(md5(col("image_id")), col("image_id"))
      Images.images(s, dir)
        .withColumn("cell",
          graft.geo.functions.cell_encode(col("lat"), col("lon"), 5))
        .withColumn("n_strat", count(lit(1)).over(strat))
        .withColumn("rnk", row_number().over(ord).cast("long"))
        .filter(col("rnk") <= (col("n_strat") + lit(9L)) / lit(10L))
        .select(col("cell"), col("fmt"), col("image_id"), col("rnk"),
          col("n_strat"))
    },
    Some(
      s"""$cte
         |SELECT cell, fmt, image_id, rnk, n_strat FROM (
         |  SELECT cell, fmt, image_id,
         |    CAST(row_number() OVER (PARTITION BY cell, fmt
         |      ORDER BY md5(image_id), image_id) AS BIGINT) AS rnk,
         |    CAST(count(*) OVER (PARTITION BY cell, fmt) AS BIGINT)
         |      AS n_strat
         |  FROM (SELECT ${cellSql(5)} AS cell, fmt, image_id FROM images)
         |) WHERE rnk <= (n_strat + 9) // 10""".stripMargin))

  private val HopUs = 1800000000L // 30 min hop, 1h windows => overlap 2

  /** HOPPING (sliding) event-time windows: size 1h, hop 30min — every
    * event belongs to exactly two windows (win = hop index of each
    * covering window start). The tumbling q_events_window is the
    * degenerate hop == size case; the hopping form is what rate/trend
    * dashboards aggregate by. Plan: a 2-element array explode BEFORE the
    * keyed agg (map-side fanout, partial aggregation compacts it), so
    * shuffled bytes stay proportional to (type x window) groups — never
    * events x 2. Value sums floor-quantized to integer milli-units (the
    * cross-engine float-sum device of q_events_window). */
  private val qHoppingWindow = Q(
    "q_hopping_window",
    (s, dir) => s.read.parquet(s"$dir/events.parquet")
      .withColumn("hi",
        floor(unix_micros(col("ts").cast("timestamp")) / lit(HopUs)).cast("long"))
      .withColumn("win", explode(array(col("hi") - 1, col("hi"))))
      .groupBy(col("event_type"), col("win"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(floor(value * 1000) as bigint)")).as("value_milli")),
    Some(
      s"""WITH h AS (
         |  SELECT event_type,
         |    CAST(floor(epoch_us(ts) / $HopUs) AS BIGINT) AS hi,
         |    CAST(floor(value * 1000) AS BIGINT) AS vm
         |  FROM events
         |), w AS (
         |  SELECT event_type, unnest([hi - 1, hi]) AS win, vm FROM h
         |)
         |SELECT event_type, win, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(vm) AS BIGINT) AS value_milli
         |FROM w GROUP BY 1, 2""".stripMargin))

  val all: Seq[Q] = Seq(
    qImageFidelity, qThumbStats, qOtsuThreshold, qBayerDither, qRleRuns,
    qGlcmTexture,
    qSeamCarve, qBlobLabels, qBitplaneComplexity, qSymspellPairs, qZonalStats,
    qRasterPyramid,
    qFrameSample,
    qImageDhash, qLbpTexture, qImageSharpness, qEdgeOrient, qAugmentFlip,
    qImageNeardup,
    qTileDiversity,
    qTileLuma, qSceneCuts, qGrayWorld, qAffineWarp, qHistEqualize,
    qEventsWindow, qEventsSessions, qEventsJson, qAsofJoin, qIntervalJoin,
    qSampleTopN, qWeightedSample, qKmvDistinct, qHllRegisters, qHllMerge,
    qLevelMetrics, qKnnOverlap,
    qGroupingSets, qOrphanCells, qSchemaInspect,
    qStratSample, qHoppingWindow)
}
