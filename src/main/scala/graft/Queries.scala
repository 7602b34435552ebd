package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.{E18, PhashCentroid}
import graft.operators._
import graft.sources.{Fixtures, Images}

/** Registry of every named operator query the engine exposes (SURVEY.md §2
  * inventory → SparkEntry contract). Each entry carries the Spark plan
  * builder and, where expressible, the DuckDB oracle SQL over the same
  * parquet tables. */
object Queries {

  case class Q(name: String,
               fn: (SparkSession, String) => DataFrame,
               oracle: Option[String])

  private val cte = Images.oracleCte
  private def cellSql(res: Int) = Images.oracleCellSql("lat", "lon", res)

  /** Events with a deterministic geo-position
    * ([[graft.sources.Events.withPosition]] — the ONE definition shared
    * with the streaming source and the spec replays) and their
    * `res`-cell — the shared input of the trajectory/co-location
    * queries. */
  private def eventPositions(s: SparkSession, dir: String, res: Int): DataFrame = {
    import graft.geo.{functions => G}
    graft.sources.Events.withPosition(s.read.parquet(s"$dir/events.parquet"))
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), res))
  }

  /** Oracle twin of [[eventPositions]]: CTE chain ending in
    * `pc(event_id, user_id, event_type, ts, cell)`. The LCG/position
    * fragments interpolate from [[graft.sources.Events]], never copies. */
  private def eventCellCtes(res: Int): String =
    s"""eh1 AS (
       |  SELECT event_id, user_id, event_type, ts,
       |    ${graft.sources.Events.oracleH1Sql} AS h1
       |  FROM events
       |), eh2 AS (
       |  SELECT event_id, user_id, event_type, ts,
       |    h1, ${graft.sources.Events.oracleH2Sql} AS h2
       |  FROM eh1
       |), pos AS (
       |  SELECT event_id, user_id, event_type, ts,
       |    ${graft.sources.Events.oracleLatSql} AS lat,
       |    ${graft.sources.Events.oracleLonSql} AS lon
       |  FROM eh2
       |), pc AS (
       |  SELECT event_id, user_id, event_type, ts,
       |    ${Images.oracleCellSql("lat", "lon", res)} AS cell
       |  FROM pos
       |)""".stripMargin

  // -------------------------------------------------------- tile assignment

  /** Raster<->vector tile assignment + per-tile rollup at res 7 — the
    * "minimum slice" flagship (SURVEY.md §7.2 M2; ≙ node->cluster assignment,
    * raptor/kmeans_tree_builder.py:104-105). */
  private val qTileAssign = Q(
    "q_tile_assign",
    (s, dir) => TilePyramid.leafTiles(Images.images(s, dir), 7)
      .select("cell", "cnt", "bytes_sum", "lat_min", "lat_max",
        "lon_min", "lon_max", "phash_centroid"),
    Some(
      s"""$cte
         |SELECT cell,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum,
         |  min(lat) AS lat_min, max(lat) AS lat_max,
         |  min(lon) AS lon_min, max(lon) AS lon_max,
         |  ${PhashCentroid.oracleCentroidSql("phash")} AS phash_centroid
         |FROM (SELECT ${cellSql(7)} AS cell, * FROM images) t
         |GROUP BY cell""".stripMargin))

  /** The res-5 level of the pyramid with res-12 leaves: each image's
    * res-12 cell is lifted to its res-5 ancestor by `parentAt`. The oracle
    * encodes at res 5 directly, so equality proves the grid nests exactly
    * and the tile summaries are exactly associative. */
  private val qPyramidRes5 = Q(
    "q_pyramid_res5",
    (s, dir) => TilePyramid.levelAt(Images.images(s, dir), 5)
      .select("cell", "cnt", "bytes_sum", "lat_min", "lat_max",
        "lon_min", "lon_max", "phash_centroid"),
    Some(
      s"""$cte
         |SELECT cell,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum,
         |  min(lat) AS lat_min, max(lat) AS lat_max,
         |  min(lon) AS lon_min, max(lon) AS lon_max,
         |  ${PhashCentroid.oracleCentroidSql("phash")} AS phash_centroid
         |FROM (SELECT ${cellSql(5)} AS cell, * FROM images) t
         |GROUP BY cell""".stripMargin))

  /** Tile assignment under the HEXAGONAL grid ([[graft.geo.HexTiling]] —
    * the literal "H3 cells" of the north star): same leaf rollup as
    * q_tile_assign but keyed by the pointy-top hex id. The oracle replays
    * the fractional-axial + cube-rounding encode double-for-double
    * ([[graft.geo.HexCell.oracleHexCtes]]), so a hash match proves the
    * hex math cross-engine, not just the aggregation. */
  private val qHexAssign = Q(
    "q_hex_assign",
    (s, dir) => Images.images(s, dir)
      .withColumn("cell",
        graft.geo.functions.hex_encode(col("lat"), col("lon"), 8))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"),
        sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum")),
    Some {
      val (hx, last) = graft.geo.HexCell.oracleHexCtes("images", 8, Seq("w", "h"))
      s"""$cte
         |$hx
         |SELECT cell, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
         |FROM $last
         |GROUP BY cell""".stripMargin
    })

  // --------------------------------------------------------- spatial queries

  /** Point-in-polygon join: broadcast covering-cell prefilter + ray-casting
    * refine (SURVEY.md J3/M3). Oracle: per-polygon half-plane/range SQL. */
  private val qPipJoin = Q(
    "q_pip_join",
    (s, dir) => SpatialJoin.pipJoin(Images.images(s, dir), s),
    Some(Fixtures.pipOracleSql(cte)))

  /** [[qPipJoin]] through the NON-broadcast plan ([[SpatialJoin
    * .pipJoinPartitioned]]): sort-merge on the covering cell, for vector
    * layers too big for any executor to hold. Same oracle — a hash match
    * proves the shuffle plan computes the identical relation. */
  private val qPipPart = Q(
    "q_pip_part",
    (s, dir) => SpatialJoin.pipJoinPartitioned(Images.images(s, dir), s),
    Some(Fixtures.pipOracleSql(cte)))

  /** Raster<->vector assignment: per-(polygon, tile) image counts. */
  private val qPolyTileCov = Q(
    "q_poly_tile_cov",
    (s, dir) => SpatialJoin.polyTileCoverage(Images.images(s, dir), s),
    Some(Fixtures.polyTileCovOracleSql(cte, cellSql(SpatialJoin.CoverRes))))

  /** Polygon↔polygon overlay join ([[SpatialJoin.polyJoin]] — the
    * vector↔vector join the point-based joins don't cover): the 15 mixed
    * fixture polygons against the 192-polygon dense bench layer. The
    * oracle replays proper-crossing double-for-double and the
    * witness-vertex containment through the kind-exact predicates, over
    * literal vertex rows — fully independent of the engine's cover-cell
    * prefilter, so a hash match proves the prefilter + emit-once filter
    * lose/invent no pair. */
  private val qPolyJoin = Q(
    "q_poly_join",
    (s, _) => SpatialJoin.polyJoin(
      s, Fixtures.polys, Fixtures.benchPolys(192)),
    Some(Fixtures.polyJoinOracleSql(Fixtures.polys, Fixtures.benchPolys(192))))

  /** VECTOR GEOMETRY MEASURES — the ST_Area / ST_Centroid analog over an
    * array-geometry polygon table (the realistic vector-layer shape: one
    * row per feature, vertices as array columns). Shoelace on coordinates
    * quantized to integer millidegrees, so every measure is exact BIGINT
    * arithmetic on both engines: a2_q = Σ(xᵢyⱼ − xⱼyᵢ) (signed; area =
    * |a2_q|/2 milli², orientation = sign), centroid numerators
    * c*_num = Σ(vᵢ+vⱼ)·crossᵢ (centroid = num/(3·a2_q) — the consumer's
    * one division). Entirely map-only higher-order-function work (no
    * explode, no shuffle below the scan): at a billion-feature layer this
    * runs at scan speed. Bounds: |x|≤1.9e5, |cross|≤3.4e10,
    * |c-term|≤1.3e16·24 — far inside BIGINT; quantization overflow-checked
    * at millidegrees (microdegrees would overflow the centroid terms).
    * Runs over the 15 mixed fixtures + the 192-feature dense bench layer;
    * the oracle replays per-EDGE rows (the polyJoin literal-vertex
    * discipline) and re-aggregates. */
  private val qPolyMetrics = Q(
    "q_poly_metrics",
    (s, _) => {
      import s.implicits._
      val pdf = (Fixtures.polys ++ Fixtures.benchPolys(192))
        .map(p => (p.polyId, p.lats.toSeq, p.lons.toSeq))
        .toDF("poly_id", "lats", "lons")
      pdf
        .withColumn("xs",
          expr("transform(lons, v -> cast(floor(v * 1000) as bigint))"))
        .withColumn("ys",
          expr("transform(lats, v -> cast(floor(v * 1000) as bigint))"))
        .withColumn("n", size(col("lats")))
        .withColumn("cr", expr(
          """transform(sequence(1, n), i ->
            |  element_at(xs, i) * element_at(ys, i % n + 1)
            |  - element_at(xs, i % n + 1) * element_at(ys, i))""".stripMargin))
        .select(col("poly_id"), col("n").as("n_vertices"),
          expr("aggregate(cr, cast(0 as bigint), (acc, x) -> acc + x)")
            .as("a2_q"),
          expr("""aggregate(transform(sequence(1, n), i ->
                |  (element_at(xs, i) + element_at(xs, i % n + 1))
                |  * element_at(cr, i)),
                |  cast(0 as bigint), (acc, x) -> acc + x)""".stripMargin)
            .as("cx_num"),
          expr("""aggregate(transform(sequence(1, n), i ->
                |  (element_at(ys, i) + element_at(ys, i % n + 1))
                |  * element_at(cr, i)),
                |  cast(0 as bigint), (acc, x) -> acc + x)""".stripMargin)
            .as("cy_num"))
    },
    Some {
      // STRING-cast literals, not bare ::DOUBLE: DuckDB parses a bare
      // numeric literal as DECIMAL first, which can lose the last ulp
      // (10.299999999999999::DOUBLE == 10.3::DOUBLE) — fatal when the
      // value sits on a floor(v*1000) quantization boundary. A quoted
      // string goes through the correctly-rounded strtod path and lands
      // on the identical double the JVM holds.
      val edgeRows = (Fixtures.polys ++ Fixtures.benchPolys(192)).flatMap { p =>
        val n = p.lats.length
        (0 until n).map { i =>
          val j = (i + 1) % n
          s"('${p.polyId}', '${p.lons(i)}'::DOUBLE, '${p.lats(i)}'::DOUBLE, " +
            s"'${p.lons(j)}'::DOUBLE, '${p.lats(j)}'::DOUBLE)"
        }
      }.mkString(",\n    ")
      s"""WITH e(poly_id, ax, ay, bx, by) AS (VALUES
         |    $edgeRows
         |), q AS (
         |  SELECT poly_id,
         |    CAST(floor(ax * 1000) AS BIGINT) AS xa,
         |    CAST(floor(ay * 1000) AS BIGINT) AS ya,
         |    CAST(floor(bx * 1000) AS BIGINT) AS xb,
         |    CAST(floor(by * 1000) AS BIGINT) AS yb
         |  FROM e
         |), c AS (
         |  SELECT poly_id, xa, ya, xb, yb, xa * yb - xb * ya AS cr FROM q
         |)
         |SELECT poly_id, CAST(count(*) AS INTEGER) AS n_vertices,
         |  CAST(sum(cr) AS BIGINT) AS a2_q,
         |  CAST(sum((xa + xb) * cr) AS BIGINT) AS cx_num,
         |  CAST(sum((ya + yb) * cr) AS BIGINT) AS cy_num
         |FROM c GROUP BY 1""".stripMargin
    })

  /** Radius for [[qDistPairs]] — small enough that the planted hot
    * cluster (0.001 deg box) contributes thousands, not millions, of
    * pairs, and the background stays sparse. */
  private val DistR = 0.0001

  /** Distance-radius self-join ([[SpatialJoin.distanceJoin]]): all
    * unordered point pairs within planar [[DistR]] degrees. The oracle is
    * STRUCTURALLY INDEPENDENT: a lat-band inequality join (DuckDB IEJoin)
    * + exact refine, vs the engine's cell-bucket + Chebyshev-ring
    * equi-join — a hash match proves the bucketed plan loses/invents no
    * pair. dist_sq mirrors op order double-for-double (the q_knn
    * discipline). */
  private val qDistPairs = Q(
    "q_dist_pairs",
    (s, dir) => SpatialJoin.distanceJoin(Images.images(s, dir), DistR),
    Some(
      s"""$cte
         |SELECT a.image_id AS a_id, b.image_id AS b_id,
         |  (a.lat - b.lat) * (a.lat - b.lat) +
         |  (a.lon - b.lon) * (a.lon - b.lon) AS dist_sq
         |FROM images a JOIN images b
         |  ON a.image_id < b.image_id
         | AND b.lat >= a.lat - $DistR AND b.lat <= a.lat + $DistR
         |WHERE (a.lat - b.lat) * (a.lat - b.lat) +
         |      (a.lon - b.lon) * (a.lon - b.lon) <= $DistR * $DistR"""
        .stripMargin))

  /** POINT-PATTERN ANISOTROPY FACTORS — does local clustering have a
    * preferred ORIENTATION (fracture/road/coastline alignment — the
    * directional sibling of Ripley's K): over the radius-bounded
    * neighbor pairs of [[qDistPairs]]' kernel, the displacement
    * second-moment sums Σdx², Σdy², Σdx·dy on the integer MICRO-DEGREE
    * lattice (the proven floor(coord·1e6) quantization — every hashed
    * value BIGINT-exact; the consumer forms the orientation tensor's
    * eigen pair from these three sums), the pair count, and the
    * axis-dominance verdict `sxx > syy`. Displacement sign follows the
    * (a_id < b_id) pair orientation — a documented convention; the
    * quadratic sums are orientation-invariant, dxy's sign convention is
    * fixed by it.
    *
    * Scale shape: the pair kernel is the proven forward-half Chebyshev
    * ring equi-join; the coordinate re-join is keyed on the pair ids;
    * the rollup is one global single-row aggregate with map-side
    * partials. */
  private val qAnisotropy = Q(
    "q_anisotropy",
    (s, dir) => {
      val imgs = Images.images(s, dir)
      val coords = imgs.select(col("image_id"),
        floor(col("lat") * 1e6).cast("long").as("latq"),
        floor(col("lon") * 1e6).cast("long").as("lonq"))
      SpatialJoin.distanceJoin(imgs, DistR)
        .select("a_id", "b_id")
        .join(coords.toDF("a_id", "a_latq", "a_lonq"), Seq("a_id"))
        .join(coords.toDF("b_id", "b_latq", "b_lonq"), Seq("b_id"))
        .select((col("b_lonq") - col("a_lonq")).as("dx"),
          (col("b_latq") - col("a_latq")).as("dy"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"),
          sum(col("dx") * col("dy")).as("sxy"))
        .select(col("n_pairs"), col("sxx"), col("syy"), col("sxy"),
          (col("sxx") > col("syy")).as("x_dominant"))
    },
    Some(
      s"""$cte, pr AS (
         |  SELECT a.image_id AS a_id, b.image_id AS b_id,
         |    floor(b.lon * 1e6) - floor(a.lon * 1e6) AS dx,
         |    floor(b.lat * 1e6) - floor(a.lat * 1e6) AS dy
         |  FROM images a JOIN images b
         |    ON a.image_id < b.image_id
         |   AND b.lat >= a.lat - $DistR AND b.lat <= a.lat + $DistR
         |  WHERE (a.lat - b.lat) * (a.lat - b.lat) +
         |        (a.lon - b.lon) * (a.lon - b.lon) <= $DistR * $DistR
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(dx * dx) AS BIGINT) AS sxx,
         |  CAST(sum(dy * dy) AS BIGINT) AS syy,
         |  CAST(sum(dx * dy) AS BIGINT) AS sxy,
         |  CAST(sum(dx * dx) AS BIGINT) > CAST(sum(dy * dy) AS BIGINT)
         |    AS x_dominant
         |FROM pr""".stripMargin))

  /** RFM USER SEGMENTATION — the classic recency/frequency/monetary
    * quartile taxonomy over the event log, rank-free and partitionless-
    * window-free: per user r_day = last active day, f = event count,
    * m = exact milli-value spend; each metric is quartiled against
    * BOUNDARIES from the equidepth device (q_equidepth_bounds' shape:
    * keyed value histogram → broadcast cumulative self-join → min value
    * with cum ≥ ⌈k·n/4⌉), and the bucket is `1 + Σ_k [x > boundary_k]`
    * — pure integer comparisons against 9 driver-held scalars (the
    * Lloyd/codebook driver-state pattern). A global rank window would
    * funnel all users through one task (a SignatureSpec rule); the
    * histogram route is cumulation over the DISTINCT-VALUE lattice,
    * whose size is domain-bounded (days / per-user counts / milli
    * sums), not user-bounded.
    *
    * Scale shape: one event-sized keyed rollup, three histogram-sized
    * cumulative joins (broadcast small side), one map-only bucket
    * projection with literal boundaries. */
  private val qRfmSegments = Q(
    "q_rfm_segments",
    (s, dir) => {
      // one eager per-user rollup feeds both the bounds and the final
      // projection, so the event scan and rollup run once
      val um = s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("user_id"))
        .agg(max(floor(unix_micros(col("ts").cast("timestamp")) /
            lit(86400000000L)).cast("long")).as("r_day"),
          count(lit(1)).as("f"),
          sum(expr("cast(floor(value * 1000) as bigint)")).as("m_milli"))
        .localCheckpoint(true)
      val n = um.count()
      def bounds(c: String): Seq[Long] = {
        val h = um.groupBy(col(c).as("x")).agg(count(lit(1)).as("cnt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val cum = h.as("a").join(
              broadcast(h.select(col("x").as("x2"), col("cnt").as("n2"))),
              col("x2") <= col("a.x"))
            .groupBy(col("a.x").as("x")).agg(sum(col("n2")).as("cum"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try (1 to 3).map { k =>
            val target = (k * n + 3) / 4
            cum.where(col("cum") >= target)
              .agg(min(col("x"))).first().getLong(0)
          } finally cum.unpersist(blocking = false)
        } finally h.unpersist(blocking = false)
      }
      val (bR, bF, bM) = (bounds("r_day"), bounds("f"), bounds("m_milli"))
      def bucket(c: String, bs: Seq[Long]) =
        lit(1L) + bs.map(bd => when(col(c) > bd, 1L).otherwise(0L))
          .reduce(_ + _)
      um.select(col("user_id"), col("r_day"), col("f"), col("m_milli"),
        bucket("r_day", bR).as("r_b"), bucket("f", bF).as("f_b"),
        bucket("m_milli", bM).as("m_b"))
    },
    Some {
      def metricCtes(p: String, x: String) =
        s"""${p}h AS (
           |  SELECT $x AS x, CAST(count(*) AS BIGINT) AS cnt
           |  FROM um GROUP BY 1
           |), ${p}c AS (
           |  SELECT a.x, CAST(sum(b.cnt) AS BIGINT) AS cum
           |  FROM ${p}h a JOIN ${p}h b ON b.x <= a.x GROUP BY 1
           |), ${p}b AS (
           |  SELECT CAST(k.r AS BIGINT) AS k, min(c.x) AS bd
           |  FROM range(1, 4) k(r), nn, ${p}c c
           |  WHERE c.cum >= (k.r * nn.n + 3) // 4
           |  GROUP BY 1
           |), ${p}u AS (
           |  SELECT um.user_id,
           |    1 + CAST(sum(CASE WHEN um.$x > b.bd THEN 1 ELSE 0 END)
           |      AS BIGINT) AS bkt
           |  FROM um CROSS JOIN ${p}b b GROUP BY 1
           |)""".stripMargin
      s"""WITH um AS (
         |  SELECT user_id,
         |    CAST(max(floor(epoch_us(ts) / 86400000000)) AS BIGINT)
         |      AS r_day,
         |    CAST(count(*) AS BIGINT) AS f,
         |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
         |      AS m_milli
         |  FROM events GROUP BY 1
         |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM um),
         |${metricCtes("r", "r_day")},
         |${metricCtes("f", "f")},
         |${metricCtes("m", "m_milli")}
         |SELECT um.user_id, um.r_day, um.f, um.m_milli,
         |  ru.bkt AS r_b, fu.bkt AS f_b, mu.bkt AS m_b
         |FROM um
         |JOIN ru ON ru.user_id = um.user_id
         |JOIN fu ON fu.user_id = um.user_id
         |JOIN mu ON mu.user_id = um.user_id""".stripMargin
    })

  /** DBSCAN minPts: a point is CORE with ≥ this many radius-[[DistR]]
    * neighbors (self excluded). */
  private val DbscanMinPts = 4

  /** DBSCAN POINT LABELING — the density-clustering taxonomy over the
    * ε-neighbor graph (core / border / noise; Ester et al. 1996): a
    * point is CORE with ≥ [[DbscanMinPts]] neighbors within [[DistR]],
    * BORDER if not core but ε-adjacent to a core, NOISE otherwise
    * (including the isolated points the pair join never sees — the
    * left-join default). Cluster EXPANSION (connected components over
    * core-core adjacency) is deliberately not re-emitted: it is exactly
    * the pointer-jumping CC device q_hotspot_regions/q_dedup_groups
    * already gate; this query gates the labeling semantics.
    *
    * Scale shape: the ε-join is the proven cell-bucket Chebyshev-ring
    * equi-join ([[SpatialJoin.distanceJoin]] — never a theta join; the
    * oracle's lat-band IEJoin is structurally independent, so a hash
    * match proves the bucketing loses/invents no pair); degrees are one
    * keyed rollup of the exploded pair list; core/border resolution is
    * two keyed semi/anti-joins on the id. The known DBSCAN cost shape:
    * everything is O(ε-pairs), nothing is O(n²). */
  private val qDbscanLabels = Q(
    "q_dbscan_labels",
    (s, dir) => {
      val imgs = Images.images(s, dir)
      val pairs = SpatialJoin.distanceJoin(imgs, DistR).select("a_id", "b_id")
      val nbr = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
        .unionAll(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
      val deg = nbr.groupBy("id").agg(count(lit(1)).as("deg"))
      val core = deg.where(col("deg") >= DbscanMinPts).select("id")
      val border = nbr.join(core.withColumnRenamed("id", "nb"), Seq("nb"))
        .select("id").distinct()
        .join(core, Seq("id"), "left_anti")
      imgs.select(col("image_id"))
        .join(deg.withColumnRenamed("id", "image_id"), Seq("image_id"),
          "left_outer")
        .join(core.withColumnRenamed("id", "image_id")
          .withColumn("is_core", lit(1)), Seq("image_id"), "left_outer")
        .join(border.withColumnRenamed("id", "image_id")
          .withColumn("is_border", lit(1)), Seq("image_id"), "left_outer")
        .select(col("image_id"),
          coalesce(col("deg"), lit(0L)).as("deg"),
          when(col("is_core") === 1, "core")
            .when(col("is_border") === 1, "border")
            .otherwise("noise").as("label"))
    },
    Some(
      s"""$cte, pr AS (
         |  SELECT a.image_id AS a_id, b.image_id AS b_id
         |  FROM images a JOIN images b
         |    ON a.image_id < b.image_id
         |   AND b.lat >= a.lat - $DistR AND b.lat <= a.lat + $DistR
         |  WHERE (a.lat - b.lat) * (a.lat - b.lat) +
         |        (a.lon - b.lon) * (a.lon - b.lon) <= $DistR * $DistR
         |), nb AS (
         |  SELECT a_id AS id, b_id AS nb FROM pr
         |  UNION ALL SELECT b_id, a_id FROM pr
         |), deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY 1
         |), core AS (
         |  SELECT id FROM deg WHERE deg >= $DbscanMinPts
         |), border AS (
         |  SELECT DISTINCT nb.id FROM nb JOIN core c ON c.id = nb.nb
         |  WHERE nb.id NOT IN (SELECT id FROM core)
         |)
         |SELECT i.image_id, coalesce(d.deg, 0) AS deg,
         |  CASE WHEN i.image_id IN (SELECT id FROM core) THEN 'core'
         |    WHEN i.image_id IN (SELECT id FROM border) THEN 'border'
         |    ELSE 'noise' END AS label
         |FROM images i LEFT JOIN deg d ON d.id = i.image_id""".stripMargin))

  /** MANN–WHITNEY U PER CELL (A/B shift test, rank-based) — the
    * nonparametric two-sample comparison of the monitoring family: per
    * res-4 cell, does `click` spend (A) stochastically dominate
    * `purchase` spend (B)? Entirely integer-exact via DOUBLED midranks:
    * with ties, the average rank of value v is `rank_min + (cnt_eq−1)/2`
    * — a half-integer, so every rank is carried ×2
    * (`r2 = 2·rank() + cnt_eq − 1`, two keyed windows), making the rank
    * sum, `2·U_A = R2_A − n_a·(n_a+1)`, and the shift verdict
    * (`2·U_A > n_a·n_b` ⟺ U above its null mean) exact BIGINTs on both
    * engines. Values compare in exact milli-units (the geofence
    * device). Cells missing either arm are absent (a one-armed test is
    * undefined).
    *
    * Scale shape: one event-sized projection, rank windows keyed by
    * CELL over each cell's own ~n rows, one keyed rollup — the
    * q_interarrival contract (thousands of independent partitions, no
    * global sort). */
  private val qMwuAb = Q(
    "q_mwu_ab",
    (s, dir) => {
      val ev = eventPositions(s, dir, 4)
        .where(col("event_type").isin("click", "purchase"))
      val vals = ev.select(col("cell"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is_a"),
        expr("cast(floor(value * 1000) as bigint)").as("v"))
      val wv = Window.partitionBy("cell").orderBy("v")
      val we = Window.partitionBy("cell", "v")
      val ranked = vals
        .withColumn("r2",
          lit(2L) * rank().over(wv).cast("long") +
            count(lit(1)).over(we) - lit(1L))
      ranked.groupBy("cell")
        .agg(sum(col("is_a")).as("n_a"),
          sum(lit(1L) - col("is_a")).as("n_b"),
          sum(when(col("is_a") === 1L, col("r2"))).as("r2a"))
        .where(col("n_a") > 0 && col("n_b") > 0)
        .withColumn("u2a", col("r2a") - col("n_a") * (col("n_a") + 1L))
        .select(col("cell"), col("n_a"), col("n_b"), col("u2a"),
          (col("u2a") > col("n_a") * col("n_b")).as("a_shift"))
    },
    Some(
      s"""WITH ${eventCellCtes(4)}, ev AS (
         |  SELECT pc.cell,
         |    CASE WHEN pc.event_type = 'click' THEN 1 ELSE 0 END AS is_a,
         |    CAST(floor(e.value * 1000) AS BIGINT) AS v
         |  FROM pc JOIN events e ON e.event_id = pc.event_id
         |  WHERE pc.event_type IN ('click', 'purchase')
         |), rk AS (
         |  SELECT cell, is_a,
         |    2 * CAST(rank() OVER (PARTITION BY cell ORDER BY v) AS BIGINT)
         |      + CAST(count(*) OVER (PARTITION BY cell, v) AS BIGINT) - 1
         |      AS r2
         |  FROM ev
         |), ag AS (
         |  SELECT cell, CAST(sum(is_a) AS BIGINT) AS n_a,
         |    CAST(sum(1 - is_a) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN is_a = 1 THEN r2 END) AS BIGINT) AS r2a
         |  FROM rk GROUP BY 1
         |)
         |SELECT cell, n_a, n_b, r2a - n_a * (n_a + 1) AS u2a,
         |  (r2a - n_a * (n_a + 1)) > n_a * n_b AS a_shift
         |FROM ag WHERE n_a > 0 AND n_b > 0""".stripMargin))

  /** KOLMOGOROV–SMIRNOV TWO-SAMPLE STATISTIC PER CELL — the SHAPE
    * companion of [[qMwuAb]] (MWU detects a location shift; KS detects
    * ANY distributional difference): per res-4 cell, the sup-distance
    * between the click and purchase empirical CDFs, cross-multiplied
    * into exact integers — `d_num = max_v |n_b·A(v) − n_a·B(v)|` where
    * A/B are inclusive cumulative counts (the step-function sup is
    * attained at data points, so scanning data values covers every
    * step). Emitted with the attaining value (tie → smallest v). The
    * classical D divides by n_a·n_b — left to the consumer, keeping the
    * hashed output division-free.
    *
    * Scale shape: cumulative + total windows keyed by CELL (default
    * RANGE frame includes value peers — the tie semantics both engines
    * share), one keyed argmax window. The q_interarrival contract. */
  private val qKsTest = Q(
    "q_ks_test",
    (s, dir) => {
      val vals = eventPositions(s, dir, 4)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("cell"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("is_a"),
          expr("cast(floor(value * 1000) as bigint)").as("v"))
      val wv = Window.partitionBy("cell").orderBy("v")
      val wc = Window.partitionBy("cell")
      val scored = vals
        .withColumn("cum_a", sum(col("is_a")).over(wv))
        .withColumn("cum_b", sum(lit(1L) - col("is_a")).over(wv))
        .withColumn("n_a", sum(col("is_a")).over(wc))
        .withColumn("n_b", sum(lit(1L) - col("is_a")).over(wc))
        .where(col("n_a") > 0 && col("n_b") > 0)
        .withColumn("d",
          abs(col("n_b") * col("cum_a") - col("n_a") * col("cum_b")))
      val wr = Window.partitionBy("cell").orderBy(col("d").desc, col("v"))
      scored.withColumn("rn", row_number().over(wr)).where(col("rn") === 1)
        .select(col("cell"), col("n_a"), col("n_b"), col("v").as("at_v"),
          col("d").as("d_num"))
    },
    Some(
      s"""WITH ${eventCellCtes(4)}, ev AS (
         |  SELECT pc.cell,
         |    CASE WHEN pc.event_type = 'click' THEN 1 ELSE 0 END AS is_a,
         |    CAST(floor(e.value * 1000) AS BIGINT) AS v
         |  FROM pc JOIN events e ON e.event_id = pc.event_id
         |  WHERE pc.event_type IN ('click', 'purchase')
         |), sc AS (
         |  SELECT cell, v,
         |    CAST(sum(is_a) OVER (PARTITION BY cell ORDER BY v)
         |      AS BIGINT) AS cum_a,
         |    CAST(sum(1 - is_a) OVER (PARTITION BY cell ORDER BY v)
         |      AS BIGINT) AS cum_b,
         |    CAST(sum(is_a) OVER (PARTITION BY cell) AS BIGINT) AS n_a,
         |    CAST(sum(1 - is_a) OVER (PARTITION BY cell) AS BIGINT) AS n_b
         |  FROM ev
         |  QUALIFY n_a > 0 AND n_b > 0
         |)
         |SELECT cell, n_a, n_b, v AS at_v,
         |  abs(n_b * cum_a - n_a * cum_b) AS d_num
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cell
         |    ORDER BY abs(n_b * cum_a - n_a * cum_b) DESC, v) AS rn
         |  FROM sc
         |) WHERE rn = 1""".stripMargin))

  /** ROBUST OUTLIER DETECTION PER CELL (median / MAD) — the
    * heavy-tail-safe anomaly screen of the monitoring family
    * ([[qAnomalyCells]] is mean/variance-based; one extreme corrupts
    * both moments, while the median/MAD pair has a 50% breakdown
    * point): per res-4 cell, the LOWER median of the milli-values
    * (exact rank ⌈n/2⌉ — the q_interarrival order-statistic device, no
    * interpolation), the MAD (lower median of |v − med|), and the count
    * of values beyond the 3·MAD fence — every hashed number an exact
    * BIGINT. NESTED rank statistics: the second median ranks the
    * deviations FROM the first, something no single-pass moment
    * aggregate expresses.
    *
    * Scale shape: three keyed windows, all partitioned by CELL — one
    * exchange total (same key ⇒ Catalyst reuses the partitioning;
    * re-sorts within partitions are local). The q_interarrival
    * contract. */
  private val qOutlierMad = Q(
    "q_outlier_mad",
    (s, dir) => {
      val vals = eventPositions(s, dir, 4)
        .select(col("cell"),
          expr("cast(floor(value * 1000) as bigint)").as("v"))
      val wc = Window.partitionBy("cell")
      val wv = wc.orderBy(col("v"))
      val withMed = vals
        .withColumn("n", count(lit(1)).over(wc))
        .withColumn("rn", row_number().over(wv).cast("long"))
        .withColumn("med",
          max(when(col("rn") === expr("(n + 1) div 2"), col("v"))).over(wc))
        .withColumn("dev", abs(col("v") - col("med")))
      val wd = wc.orderBy(col("dev"), col("v"))
      val withMad = withMed
        .withColumn("rd", row_number().over(wd).cast("long"))
        .withColumn("mad",
          max(when(col("rd") === expr("(n + 1) div 2"), col("dev"))).over(wc))
      withMad.groupBy("cell")
        .agg(max(col("n")).as("n"), max(col("med")).as("med"),
          max(col("mad")).as("mad"),
          sum(when(col("dev") > lit(3L) * col("mad"), 1L).otherwise(0L))
            .as("n_out"))
    },
    Some(
      s"""WITH ${eventCellCtes(4)}, ev AS (
         |  SELECT pc.cell, CAST(floor(e.value * 1000) AS BIGINT) AS v
         |  FROM pc JOIN events e ON e.event_id = pc.event_id
         |), m1 AS (
         |  SELECT cell, v,
         |    CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n,
         |    CAST(row_number() OVER (PARTITION BY cell ORDER BY v)
         |      AS BIGINT) AS rn
         |  FROM ev
         |), m2 AS (
         |  SELECT cell, v, n,
         |    max(CASE WHEN rn = (n + 1) // 2 THEN v END)
         |      OVER (PARTITION BY cell) AS med
         |  FROM m1
         |), m3 AS (
         |  SELECT cell, n, med, abs(v - med) AS dev,
         |    CAST(row_number() OVER (PARTITION BY cell
         |      ORDER BY abs(v - med), v) AS BIGINT) AS rd
         |  FROM m2
         |), m4 AS (
         |  SELECT cell, n, med, dev,
         |    max(CASE WHEN rd = (n + 1) // 2 THEN dev END)
         |      OVER (PARTITION BY cell) AS mad
         |  FROM m3
         |)
         |SELECT cell, CAST(max(n) AS BIGINT) AS n,
         |  CAST(max(med) AS BIGINT) AS med,
         |  CAST(max(mad) AS BIGINT) AS mad,
         |  CAST(sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_out
         |FROM m4 GROUP BY 1""".stripMargin))

  private val KnnK = 10

  private def knnBruteOracle(extra: String): String =
    s"""$cte,
       |${Fixtures.knnOracleCte},
       |ranked AS (
       |  SELECT qid, image_id, dist_sq, CAST(rnk AS INTEGER) AS rnk, bytes FROM (
       |    SELECT q.qid, i.image_id,
       |      ((i.lat - q.qlat) * (i.lat - q.qlat)
       |        + (i.lon - q.qlon) * (i.lon - q.qlon)) AS dist_sq,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ((i.lat - q.qlat) * (i.lat - q.qlat)
       |          + (i.lon - q.qlon) * (i.lon - q.qlon)), i.image_id) AS rnk,
       |      CAST(i.w * i.h * 3 AS BIGINT) AS bytes
       |    FROM images i CROSS JOIN queries q
       |  ) WHERE rnk <= $KnnK
       |)
       |$extra""".stripMargin

  /** The three kNN-family queries (top-k + two budget variants) derive from
    * the SAME ranked set — compute the settle loop once per (session, sf
    * dir) and share the materialized result through [[SharedFrames]]
    * (VERDICT r2 #3: the suite ran the identical loop three times).
    * localCheckpoint cuts the loop's lineage; re-reads are RDD-cache scans,
    * immune to `catalog.clearCache()` between bench queries. */
  private[graft] def knnRanked(s: SparkSession, dir: String): DataFrame =
    SharedFrames("knnRanked", s, dir)(
      Knn.knnExact(Images.images(s, dir), Fixtures.knnQueries(s), KnnK)
        .localCheckpoint(true))

  /** The AkNN edge list (k=3, res 8) feeds FOUR queries — q_knn_join,
    * q_mutual_knn, q_pagerank, q_label_prop — and its hot-cell join is
    * the single most expensive derivation in the suite (131.9 s for
    * q_knn_join at sf0.1 in the `graft.Bench` suite, `BENCH_r05.json`, even
    * after the salted+TopK rewrite); shared through [[SharedFrames]]
    * ([[Knn.knnSelfJoin]] returns its result already checkpointed). */
  private[graft] def aknnRanked(s: SparkSession, dir: String): DataFrame =
    SharedFrames("aknnRanked", s, dir)(
      Knn.knnSelfJoin(Images.images(s, dir), 3, 8))

  /** The res-8 leaf-tile table is the input of FOUR queries
    * (q_resume_res6, q_files_prune, q_pair_merge, q_merge_tree2 — the
    * snapshot/merge family), each of which previously re-derived it with
    * its own corpus scan + 70-aggregate rollup (VERDICT r4 task 8: ~22%
    * of the suite). [[SharedFrames]] holds one derivation per (session,
    * dir), localCheckpoint so re-reads are RDD-cache scans immune to the
    * bench's `catalog.clearCache()`. The frame is tiny (≤ 4^8 cells x ~70
    * columns), so the resident cost is noise; what it saves is three
    * corpus scans. */
  private[graft] def leafTiles8(s: SparkSession, dir: String): DataFrame =
    SharedFrames("leafTiles8", s, dir)(
      TilePyramid.leafTiles(Images.images(s, dir), 8).localCheckpoint(true))

  /** Exact kNN: ring expansion + window top-k; the oracle is the brute-force
    * cross join — equality proves ring pruning is lossless (≙ reference's
    * prefilter-vs-brute-force overlap harness at overlap=100%,
    * raptor `merge_distance&tree_exam.py`:334-446). */
  private val qKnn = Q(
    "q_knn",
    (s, dir) => knnRanked(s, dir),
    Some(knnBruteOracle("SELECT * FROM ranked")))

  /** REVERSE kNN — the influence-set operator (RkNN: for each corpus
    * image, WHICH queries rank it among their k nearest, inverted to
    * per-image facts): influence size |{q : i ∈ kNN(q)}|, the best rank
    * it achieves, and its closest query distance. The classic
    * facility-location / cache-placement analytic — an image with a large
    * influence set is a hot representative worth pinning. Pure inversion
    * of the SHARED ranked set ([[knnRanked]] — candidate-bounded ring
    * expansion, never a theta join): one image-keyed groupBy on an
    * already-materialized frame, so the marginal cost at 100 TB is a
    * single keyed shuffle of k·|queries| rows. */
  private val qReverseKnn = Q(
    "q_reverse_knn",
    (s, dir) => knnRanked(s, dir)
      .groupBy(col("image_id"))
      .agg(count(lit(1)).as("n_rknn"),
        min(col("rnk")).as("best_rnk"),
        min(col("dist_sq")).as("min_dist_sq")),
    Some(knnBruteOracle(
      """SELECT image_id, CAST(count(*) AS BIGINT) AS n_rknn,
        |  CAST(min(rnk) AS BIGINT) AS best_rnk,
        |  min(dist_sq) AS min_dist_sq
        |FROM ranked GROUP BY 1""".stripMargin)))

  /** kNN CLASSIFICATION — majority vote over the shared ranked set: each
    * query point labeled by the most common `fmt` among its k nearest
    * images (tie-break: label order — deterministic). The classic
    * lazy-learning classifier as three keyed ops over the ALREADY
    * materialized kNN result (one payload join, one (q,label) count, one
    * q-keyed argmax window) — the marginal cost of classification on top
    * of retrieval is near zero, which is the point at 100 TB: label
    * propagation rides the existing ranked set. */
  private val qKnnClassify = Q(
    "q_knn_classify",
    (s, dir) => {
      val lbl = knnRanked(s, dir)
        .join(Images.images(s, dir).select("image_id", "fmt"),
          Seq("image_id"))
        .groupBy(col("qid"), col("fmt"))
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy("qid")
        .orderBy(col("votes").desc, col("fmt"))
      lbl.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("qid"), col("fmt").as("label"), col("votes"))
    },
    Some(knnBruteOracle(
      """SELECT qid, fmt AS label, votes FROM (
        |  SELECT r.qid, i.fmt, CAST(count(*) AS BIGINT) AS votes,
        |    row_number() OVER (PARTITION BY r.qid
        |      ORDER BY count(*) DESC, i.fmt) AS rk
        |  FROM ranked r JOIN images i USING (image_id)
        |  GROUP BY r.qid, i.fmt
        |) t WHERE rk = 1""".stripMargin)))

  private val BudgetBytes = 2000L

  /** Budgeted top-k, stop-before-overflow (raptor/tree_retriever.py:197-209). */
  private val qKnnBudget = Q(
    "q_knn_budget",
    (s, dir) => Knn.budgetStopBefore(knnRanked(s, dir), BudgetBytes),
    Some(knnBruteOracle(
      s"""SELECT qid, image_id, dist_sq, rnk, bytes FROM (
         |  SELECT *, sum(bytes) OVER (PARTITION BY qid ORDER BY rnk
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM ranked) WHERE cum <= $BudgetBytes""".stripMargin)))

  /** Budgeted top-k, include-first-overflow (FaissRetriever.py:195-199 quirk,
    * pinned per SURVEY.md W3). */
  private val qKnnBudgetIncl = Q(
    "q_knn_budget_incl",
    (s, dir) => Knn.budgetIncludeOverflow(knnRanked(s, dir), BudgetBytes),
    Some(knnBruteOracle(
      s"""SELECT qid, image_id, dist_sq, rnk, bytes FROM (
         |  SELECT *, sum(bytes) OVER (PARTITION BY qid ORDER BY rnk
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM ranked) WHERE cum - bytes < $BudgetBytes""".stripMargin)))

  /** All-pairs kNN self-join ([[Knn.knnSelfJoin]], k=3 at res 8): the
    * whole-corpus similarity-graph edge list — candidate-bounded to the
    * ring-1 cell neighborhood, integer micro-degree distances (the
    * q_bic_k lattice device), one keyed equi-join + one query-keyed
    * window. The oracle replays the ring from the cell bit layout (the
    * q_focal_stats device at res 8) and the quantized distances, so a
    * hash match proves candidate generation, dedup-free pairing AND
    * ranking cross-engine. */
  // NOTE: aknnCtes is interpolated WITHOUT an outer stripMargin — its ring
  // construction has bit-ors at line starts, which a re-strip would eat.
  private val qKnnJoin = Q(
    "q_knn_join",
    (s, dir) => aknnRanked(s, dir),
    Some(aknnCtes + "\nSELECT qid, rnk, nid, d2 FROM r WHERE rnk <= 3"))

  /** Shared DuckDB replay of [[Knn.knnSelfJoin]] at (k-unbounded) res 8:
    * CTE chain ending in `r(qid, nid, d2, rnk)` — the edge-list source of
    * q_knn_join and the graph-analytics oracles (q_pagerank,
    * q_label_prop). The ring comes from the cell bit layout (the
    * q_focal_stats device), distances are integer micro-degrees. */
  private lazy val aknnCtes: String =
    s"""$cte, b AS (
       |  SELECT image_id, ${cellSql(8)} AS cell,
       |    CAST(floor(lat * 1000000) AS BIGINT) AS mlat,
       |    CAST(floor(lon * 1000000) AS BIGINT) AS mlon
       |  FROM images
       |), xy AS (
       |  SELECT image_id, mlat, mlon,
       |    cell & 255 AS x, (cell >> 8) & 255 AS y
       |  FROM b
       |), pr AS (
       |  SELECT image_id AS qid, mlat AS qlat, mlon AS qlon,
       |    ((CAST(8 AS BIGINT) << 58)
       |      | (CAST(y + dy.r AS BIGINT) << 8)
       |      | CAST(((x + dx.r) % 256 + 256) % 256 AS BIGINT)) AS cell
       |  FROM xy, range(-1,2) dy(r), range(-1,2) dx(r)
       |  WHERE y + dy.r BETWEEN 0 AND 255
       |), cd AS (
       |  SELECT pr.qid, b.image_id AS nid,
       |    (qlat - mlat) * (qlat - mlat)
       |      + (qlon - mlon) * (qlon - mlon) AS d2
       |  FROM pr JOIN b USING (cell)
       |  WHERE b.image_id <> pr.qid
       |), r AS (
       |  SELECT qid, nid, d2, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY d2, nid) AS BIGINT) AS rnk
       |  FROM cd
       |)""".stripMargin

  /** AkNN edges as a directed graph relation, shared by the two graph
    * queries: `(src, dst)` = every image's k=3 ring-1 neighbors. */
  private def aknnEdges(s: SparkSession, dir: String): DataFrame =
    aknnRanked(s, dir)
      .select(col("qid").as("src"), col("nid").as("dst"))

  private val aknnEdgesSql: String =
    "e AS (SELECT qid AS src, nid AS dst FROM r WHERE rnk <= 3)"

  /** Integer PageRank over the AkNN similarity graph
    * ([[graft.graph.Graph.pageRank]], 3 unrolled rounds, damping 0.85 at
    * scale 1e6) — node importance over the near-duplicate neighborhood
    * graph, the curriculum/sampling weight a training-data pipeline
    * derives from its similarity structure (≙ walking the reference's
    * retrieval graph, raptor/tree_retriever.py:86-130, taken to
    * whole-graph analytics). The oracle unrolls the same three rounds as
    * CTEs over the same replayed edge list; every step is integer `div`,
    * so the fixpoint is digit-exact cross-engine. */
  private val qPagerank = Q(
    "q_pagerank",
    (s, dir) => graft.graph.Graph.pageRank(
      Images.images(s, dir).select(col("image_id").as("id")),
      aknnEdges(s, dir), iters = 3)
      .select(col("id").as("image_id"), col("pr").as("pr_q"), col("out_deg")),
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.dst AS id, sum(r${i - 1}.pr // d.deg) AS c
           |  FROM e JOIN deg d USING (src) JOIN r${i - 1} ON r${i - 1}.id = e.src
           |  GROUP BY e.dst
           |), r$i AS (
           |  SELECT n.id,
           |    CAST(150000 + (85 * COALESCE(c$i.c, 0)) // 100 AS BIGINT) AS pr
           |  FROM n LEFT JOIN c$i USING (id)
           |)""".stripMargin
      }.mkString(",\n")
      // concatenated, not re-stripMargin'd: aknnCtes carries line-start
      // bit-ors a second strip would corrupt
      aknnCtes + ", " + aknnEdgesSql + ",\n" +
        s"""deg AS (
           |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
           |),
           |n AS (SELECT image_id AS id FROM images),
           |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM n),
           |""".stripMargin +
        iterCtes + "\n" +
        s"""SELECT r3.id AS image_id, r3.pr AS pr_q,
           |  COALESCE(deg.deg, 0) AS out_deg
           |FROM r3 LEFT JOIN deg ON deg.src = r3.id""".stripMargin
    })

  /** One-round majority LABEL PROPAGATION over the AkNN graph
    * ([[graft.graph.Graph.labelPropagate]]): each image adopts the most
    * frequent `fmt` among its k=3 nearest neighbors (tie → smallest
    * label; isolated nodes keep their own with 0 votes) — label smoothing
    * over near-duplicate neighborhoods, the semi-supervised device that
    * spreads sparse annotations through a 10^12-image corpus. The window
    * is NODE-keyed (≤ |labels| partitions of ≤ k rows). */
  private val qLabelProp = Q(
    "q_label_prop",
    (s, dir) => graft.graph.Graph.labelPropagate(
      Images.images(s, dir).select(col("image_id").as("id"), col("fmt").as("lbl")),
      aknnEdges(s, dir))
      .select(col("id").as("image_id"), col("lbl"), col("new_lbl"), col("votes")),
    Some(
      aknnCtes + ", " + aknnEdgesSql + ",\n" +
        s"""lab AS (SELECT image_id AS id, fmt AS lbl FROM images),
           |v AS (
           |  SELECT e.src, lab.lbl AS nlbl, CAST(count(*) AS BIGINT) AS votes
           |  FROM e JOIN lab ON lab.id = e.dst
           |  GROUP BY e.src, lab.lbl
           |), win AS (
           |  SELECT src AS id, nlbl, votes FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY src ORDER BY votes DESC, nlbl) AS rn FROM v)
           |  WHERE rn = 1
           |)
           |SELECT lab.id AS image_id, lab.lbl,
           |  COALESCE(win.nlbl, lab.lbl) AS new_lbl,
           |  COALESCE(win.votes, 0) AS votes
           |FROM lab LEFT JOIN win USING (id)""".stripMargin))

  // -------------------------------------------------------- snapshot / resume

  /** Checkpoint the leaf level to an Iceberg-style snapshot, then RESUME
    * from it: re-read only the leaves, rebuild the rollup chain to res 6,
    * emit the rebuilt level (≙ raptor/transform_tree.py:24-142 — reload
    * pickle, keep layer 0, reconstruct upper layers). The oracle aggregates
    * the raw images directly, so equality proves the write -> partition-
    * pruned read -> rebuild path loses nothing. */
  private val qResumeRes6 = Q(
    "q_resume_res6",
    (s, dir) => {
      val root = SnapRoots.fresh()
      // res-8 leaves: the same write -> partition-pruned read -> rebuild
      // path at a fraction of the IO (the res-12 variant spent ~9.5 s of
      // the suite writing 450k leaf rows; resume semantics are identical).
      val leaves = leafTiles8(s, dir)
      Snapshot.write(leaves, root, snapshotId = "s1", buildTs = 42L)
      Snapshot.rebuildFromLeaves(s, root, leafRes = 8, minRes = 6)
        .filter(col("res") === 6)
        .select("cell", "cnt", "bytes_sum", "lat_min", "lat_max",
          "lon_min", "lon_max", "phash_centroid")
    },
    Some(
      s"""$cte
         |SELECT cell,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum,
         |  min(lat) AS lat_min, max(lat) AS lat_max,
         |  min(lon) AS lon_min, max(lon) AS lon_max,
         |  ${PhashCentroid.oracleCentroidSql("phash")} AS phash_centroid
         |FROM (SELECT ${cellSql(6)} AS cell, * FROM images) t
         |GROUP BY cell""".stripMargin))

  /** Per-query scratch snapshot roots: each invocation needs a FRESH root
    * (committed snapshot ids are immutable, so a reused root would refuse
    * a re-commit), but an unbounded trail of materialized parquet under
    * /tmp is a leak — so each fresh() deletes the previous invocation's
    * root (the driver contract consumes each query's result before
    * building the next), and a shutdown hook removes the last. */
  private final class ScratchRoots(prefix: String) {
    private var last: Option[java.nio.file.Path] = None
    private def drop(p: java.nio.file.Path): Unit =
      try operators.Snapshot.deleteRecursively(p)
      catch { case _: java.io.IOException => () } // best-effort scratch GC
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      this.synchronized { last.foreach(drop) }))
    def fresh(): String = synchronized {
      last.foreach(drop)
      val p = java.nio.file.Files.createTempDirectory(prefix)
      last = Some(p)
      p.toString
    }
  }
  private val TtRoots = new ScratchRoots("graft-tt")
  private val DmRoots = new ScratchRoots("graft-dm")
  private val TagRoots = new ScratchRoots("graft-tag")
  private val SnapRoots = new ScratchRoots("graft-snap")
  private val XferRoots = new ScratchRoots("graft-xfer")
  private val MigRoots = new ScratchRoots("graft-mig")

  /** NAMED SNAPSHOT REFS (tags) — the deploy-pin semantic on top of time
    * travel ([[qTimeTravel]] reads by raw version id; real consumers pin
    * a NAME): two committed versions (v1 = the even-hash half at res 7,
    * v2 = the full rollup), `stable` tagged at v1, `latest` tagged at v1
    * then RETAGGED to v2 (the atomic repoint is exercised inside the
    * gated path — `latest` must serve v2's content or the hash breaks).
    * Refs are metadata-only: the retag moves one tiny `_refs` file,
    * touches zero data files, and the by-name read partition-prunes to
    * its pinned version exactly like [[Snapshot.readAsOf]].
    *
    * Scale shape: identical to q_time_travel (two keyed res-7 rollups +
    * two pruned snapshot reads); the ref layer adds O(1) metadata IO. */
  private val qSnapshotTag = Q(
    "q_snapshot_tag", {
      val h = "cast(conv(substring(md5(image_id), 1, 8), 16, 10) as bigint) % 2"
      (s, dir) => {
        val root = TagRoots.fresh()
        val imgs = Images.images(s, dir)
        val partials = TilePyramid.withCell(imgs, 7)
          .withColumn("half", expr(h))
          .groupBy(col("cell"), col("half"))
          .agg(count(lit(1)).as("cnt"),
            sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"))
          .withColumn("res", lit(7))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Snapshot.writeVersioned(partials.filter(col("half") === 0)
          .drop("half"), root, snapshotId = "v1", buildTs = 1L)
        Snapshot.writeVersioned(partials.groupBy(col("res"), col("cell"))
          .agg(sum(col("cnt")).as("cnt"),
            sum(col("bytes_sum")).as("bytes_sum")),
          root, snapshotId = "v2", buildTs = 2L)
        partials.unpersist(blocking = false)
        Snapshot.setRef(root, "stable", "v1")
        Snapshot.setRef(root, "latest", "v1")
        Snapshot.setRef(root, "latest", "v2") // atomic repoint
        def pick(tag: String) = Snapshot.readByRef(s, root, tag)
          .select(lit(tag).as("tag"), col("cell"), col("cnt"),
            col("bytes_sum"))
        pick("stable").unionByName(pick("latest"))
      }
    },
    Some {
      val h = "(('0x' || substr(md5(image_id), 1, 8))::BIGINT) % 2"
      def half(tag: String, where: String) =
        s"""SELECT '$tag' AS tag, cell, CAST(count(*) AS BIGINT) AS cnt,
           |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
           |FROM (SELECT ${cellSql(7)} AS cell, w, h FROM images $where) t
           |GROUP BY cell""".stripMargin
      s"""$cte
         |${half("stable", s"WHERE $h = 0")}
         |UNION ALL
         |${half("latest", "")}""".stripMargin
    })

  /** Snapshot TIME TRAVEL (the Iceberg semantic the north rule's
    * "resumable from Iceberg-snapshot checkpoints" implies): two versioned
    * builds land under one root ([[Snapshot.writeVersioned]] — append
    * under a snapshot_id partition), and a reader pinned to v1 still sees
    * EXACTLY the v1 tiles after v2 lands (only v1's files are even
    * listed). The output unions both pinned reads tagged by snapshot; the
    * oracle recomputes each version's tile set from the raw corpus, so a
    * hash match proves versions neither leak into each other nor drift.
    * Both versions derive from ONE corpus pass (the qStatsTransfer
    * extraKeys device): v1 is the half-0 slice of the (cell, half)
    * partials, v2 re-aggregates the partials — count/byte sums are
    * associative, so the merge is exact. */
  private val qTimeTravel = Q(
    "q_time_travel", {
      val h = "cast(conv(substring(md5(image_id), 1, 8), 16, 10) as bigint) % 2"
      (s, dir) => {
        val root = TtRoots.fresh()
        val imgs = Images.images(s, dir)
        val partials = TilePyramid.withCell(imgs, 7)
          .withColumn("half", expr(h))
          .groupBy(col("cell"), col("half"))
          .agg(count(lit(1)).as("cnt"),
            sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"))
          .withColumn("res", lit(7))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Snapshot.writeVersioned(partials.filter(col("half") === 0)
          .drop("half"), root, snapshotId = "v1", buildTs = 1L)
        Snapshot.writeVersioned(partials.groupBy(col("res"), col("cell"))
          .agg(sum(col("cnt")).as("cnt"),
            sum(col("bytes_sum")).as("bytes_sum")),
          root, snapshotId = "v2", buildTs = 2L)
        partials.unpersist(blocking = false)
        def pick(id: String) = Snapshot.readAsOf(s, root, id)
          .select(lit(id).as("snap"), col("cell"), col("cnt"),
            col("bytes_sum"))
        pick("v1").unionByName(pick("v2"))
      }
    },
    Some {
      val h = "(('0x' || substr(md5(image_id), 1, 8))::BIGINT) % 2"
      def half(id: String, where: String) =
        s"""SELECT '$id' AS snap, cell, CAST(count(*) AS BIGINT) AS cnt,
           |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
           |FROM (SELECT ${cellSql(7)} AS cell, w, h FROM images $where) t
           |GROUP BY cell""".stripMargin
      s"""$cte
         |${half("v1", s"WHERE $h = 0")}
         |UNION ALL
         |${half("v2", "")}""".stripMargin
    })

  private val EqRoots = new ScratchRoots("graft-eqd")

  /** ROW-LEVEL DELETES, merge-on-read — the Iceberg v2 semantic the store
    * was missing (S4/S5 so far cover append, time travel, compaction,
    * retention, schema/partition evolution; this adds DELETE without
    * rewriting data files): commit the res-7 leaf snapshot, then two
    * EQUALITY-DELETE files against it ([[Snapshot.writeEqualityDeletes]]
    * — a predicate's distinct keys, the delete file's schema being its
    * equality key set per the Iceberg v2 contract): d1 = sparse cells
    * (cnt ≤ 2), d2 = a lon band ((cell & 127) ∈ [40, 60]). The read path
    * ([[Snapshot.readMergeOnRead]]) applies them in commit order as
    * BROADCAST anti-joins. The oracle recomputes the surviving set from
    * the raw corpus with the two predicates negated — a hash match
    * proves the delete files removed EXACTLY the predicate rows and the
    * anti-join chain lost nothing else.
    *
    * Scale shape: each delete commit is O(its key set) — data files
    * untouched; the read adds map-side hash probes (broadcast, no
    * shuffle of the base). Folding accumulated deletes into data files
    * is the compaction job's business, exactly Iceberg's split. */
  private val qEqualityDeletes = Q(
    "q_equality_deletes",
    (s, dir) => {
      val root = EqRoots.fresh()
      val leaves = TilePyramid.leafTiles(Images.images(s, dir), 7)
        .select(col("cell"), col("cnt"), col("bytes_sum"))
        .withColumn("res", lit(7))
      Snapshot.writeVersioned(leaves, root, snapshotId = "v1", buildTs = 1L)
      val base = Snapshot.readAsOf(s, root, "v1")
      Snapshot.writeEqualityDeletes(
        base.where(col("cnt") <= 2).select("cell"), root, "v1", "d1")
      Snapshot.writeEqualityDeletes(
        base.where(col("cell").bitwiseAND(lit(127L)).between(40, 60))
          .select("cell"), root, "v1", "d2")
      Snapshot.readMergeOnRead(s, root, "v1")
        .select(col("cell"), col("cnt"), col("bytes_sum"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
         |  FROM images GROUP BY 1
         |)
         |SELECT cell, cnt, bytes_sum FROM g
         |WHERE NOT (cnt <= 2)
         |  AND NOT ((cell & 127) BETWEEN 40 AND 60)""".stripMargin))

  private val PeRoots = new ScratchRoots("graft-pe")

  /** PARTITION EVOLUTION across snapshot versions — the Iceberg
    * spec-change semantic (v2 of a table adds a partition column; v1's
    * files are NOT rewritten; readers span both layouts): v1 of the tile
    * store is laid out `snapshot_id/res`, v2 adds a coarse res-3 bucket
    * `pcell` derived from `cell` ([[Snapshot.writeVersionedPartitioned]]).
    * [[Snapshot.readEvolved]] reads each version under its own layout and
    * unions by name; v1 rows re-derive `pcell` from the data (HIDDEN
    * partitioning — the transform is a pure function of `cell`, so old
    * versions answer the same partition predicate, just without pruning).
    * The output rolls the union up per bucket with the per-version
    * provenance count; the oracle recomputes both halves from the raw
    * corpus, so a hash match proves no rows were lost, duplicated, or
    * re-bucketed crossing the two layouts.
    *
    * Scale shape: one corpus pass builds both versions (extraKeys
    * grouping); the store union is grid-bounded; at 10^12 rows the win
    * this gate protects is exactly Iceberg's — evolving the layout of a
    * petabyte table without rewriting history, while new queries prune on
    * the new column for new data. */
  private val qPartitionEvolve = Q(
    "q_partition_evolve", {
      val h = "cast(conv(substring(md5(image_id), 1, 8), 16, 10) as bigint) % 2"
      (s, dir) => {
        import graft.geo.{functions => G}
        val root = PeRoots.fresh()
        val both = TilePyramid.withCell(Images.images(s, dir), 6)
          .withColumn("half", expr(h))
          .groupBy(col("cell"), col("half"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("res", lit(6))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Snapshot.writeVersioned(both.filter(col("half") === 0).drop("half"),
          root, snapshotId = "v1", buildTs = 1L)
        Snapshot.writeVersionedPartitioned(
          both.filter(col("half") === 1).drop("half")
            .withColumn("pcell", G.cell_parent_at(col("cell"), 3)),
          root, snapshotId = "v2", buildTs = 2L, extraPartCols = Seq("pcell"))
        both.unpersist(blocking = false)
        Snapshot.readEvolved(s, root)
          .withColumn("pcell",
            coalesce(col("pcell"), G.cell_parent_at(col("cell"), 3)))
          .groupBy(col("pcell"))
          .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_pts"),
            countDistinct(col("snapshot_id")).as("n_snaps"))
      }
    },
    Some {
      val h = "(('0x' || substr(md5(image_id), 1, 8))::BIGINT) % 2"
      s"""$cte, t AS (
         |  SELECT ${cellSql(6)} AS cell, $h AS half FROM images
         |), g AS (
         |  SELECT cell, half, CAST(count(*) AS BIGINT) AS cnt
         |  FROM t GROUP BY 1, 2
         |)
         |SELECT ((CAST(3 AS BIGINT) << 58)
         |    | ((((cell >> 6) & 63) >> 3) << 3)
         |    | ((cell & 63) >> 3)) AS pcell,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(cnt) AS BIGINT) AS n_pts,
         |  CAST(count(DISTINCT half) AS BIGINT) AS n_snaps
         |FROM g GROUP BY 1""".stripMargin
    })

  /** Stats maintenance across snapshots (≙ `update_kmean_with_index`,
    * raptor/merge_distance&tree_exam.py:687-766): split the corpus into two
    * halves by md5(image_id) parity (spatially UNCORRELATED — a k-parity
    * split would be disjoint by the LCG lattice structure), snapshot each,
    * transfer half A's per-cell counts into half B as `hot_cnt` (default
    * 0), persist the merged snapshot, emit it. The oracle is the direct
    * two-groupby left join, so equality proves the write -> join ->
    * rewrite -> read chain is lossless. */
  private val qStatsTransfer = Q(
    "q_stats_transfer", {
      val h = "cast(conv(substring(md5(image_id), 1, 8), 16, 10) as bigint) % 2"
      (s, dir) => {
        // ONE scan + ONE aggregation derives BOTH half-corpora's tile sets
        // (extraKeys grouping), cached so each snapshot write filters the
        // tiny aggregated frame instead of re-scanning + re-aggregating
        // the corpus per half (round-2 shape: two full passes).
        val imgs = Images.images(s, dir)
        val tmp = XferRoots.fresh()
        val both = TilePyramid.leafTiles(imgs.withColumn("half", expr(h)), 7,
            extraKeys = Seq("half"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Snapshot.write(both.filter(col("half") === 0).drop("half"),
          s"$tmp/a", snapshotId = "a1", buildTs = 1L)
        Snapshot.write(both.filter(col("half") === 1).drop("half"),
          s"$tmp/b", snapshotId = "b1", buildTs = 2L)
        both.unpersist(blocking = false)
        Snapshot.transferStats(s, s"$tmp/a", s"$tmp/b", s"$tmp/out",
          snapshotId = "m1", buildTs = 3L)
          .select(col("cell"), col("cnt"), col("bytes_sum"), col("hot_cnt"))
      }
    },
    Some {
      val h = "(('0x' || substr(md5(image_id), 1, 8))::BIGINT) % 2"
      s"""$cte,
         |a AS (
         |  SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS c
         |  FROM images WHERE $h = 0 GROUP BY 1),
         |b AS (
         |  SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
         |  FROM images WHERE $h = 1 GROUP BY 1)
         |SELECT b.cell, b.cnt, b.bytes_sum, coalesce(a.c, 0) AS hot_cnt
         |FROM b LEFT JOIN a ON a.cell = b.cell""".stripMargin
    })

  /** Schema migration on read ([[Snapshot.readMigrated]] ≙
    * `migrate_tree_schema`, reference merge_distance&tree_exam.py:769-810 —
    * load an old-schema snapshot, add missing columns with defaults,
    * leave present columns untouched): write a res-7 snapshot that
    * PREDATES the `hot_cnt` column, read it back with BOTH a
    * missing-column default (hot_cnt -> 0) and a present-column default
    * (cnt -> -999, which must NOT apply). The oracle is the direct
    * aggregate with a literal hot_cnt, so a hash match proves the
    * defaulted projection is exact and non-destructive — the last S4/S5
    * semantic without a driver gate (VERDICT r4 task 4). */
  private val qReadMigrated = Q(
    "q_read_migrated",
    (s, dir) => {
      val tmp = MigRoots.fresh()
      val tiles = TilePyramid.withCell(Images.images(s, dir), 7)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("cnt"),
          sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"))
        .withColumn("res", lit(7))
      Snapshot.write(tiles, tmp, snapshotId = "v1", buildTs = 1L)
      Snapshot.readMigrated(s, tmp, Seq(
          "hot_cnt" -> lit(0L),    // missing -> defaulted
          "cnt" -> lit(-999L)))    // present -> untouched
        .select(col("cell"), col("cnt"), col("bytes_sum"), col("hot_cnt"))
    },
    Some(
      s"""$cte
         |SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum,
         |  CAST(0 AS BIGINT) AS hot_cnt
         |FROM images GROUP BY 1""".stripMargin))

  /** Incremental delta-merge ([[Snapshot.mergeDelta]]): snapshot a pyramid
    * of the md5-parity-0 half, fold the parity-1 half in as a DELTA —
    * recomputing only the branches the delta touches, untouched tiles pass
    * through from the snapshot — and emit the merged res-6 level. The
    * oracle is the DIRECT res-6 groupBy over the FULL corpus, so a hash
    * match proves merged == from-scratch rebuild: the incremental path is
    * exact, not approximate (a parity split touches most branches at this
    * tiny scale; the cost model is |delta| x levels, not corpus size).
    *
    * Measured alternative, rejected: deriving BOTH halves' leaf tiles in
    * one (cell, half)-keyed corpus pass (the q_stats_transfer shape) and
    * feeding [[Snapshot.mergeDeltaInto]] saves two corpus scans but is
    * net SLOWER here (24.9 s vs 21.9 s at sf0.1) — caching the 2x-wider
    * combined leaf frame costs more than the scans it saves; the query is
    * small-stage-overhead bound, not scan bound. mergeDeltaInto remains
    * the right entry point when the delta genuinely arrives pre-tiled. */
  private val qDeltaMerge = Q(
    "q_delta_merge", {
      val h = "cast(conv(substring(md5(image_id), 1, 8), 16, 10) as bigint) % 2"
      (s, dir) => {
        val root = DmRoots.fresh()
        val imgs = Images.images(s, dir)
        // lazy pyramid: the write is the only consumer, so skip build()'s
        // instrumented counts pass — one scan feeds the snapshot
        val pyr = TilePyramid.pyramidLazy(imgs.filter(expr(h) === 0), 5, 8)
        Snapshot.write(pyr, root, snapshotId = "base", buildTs = 1L)
        Snapshot.mergeDelta(s, root, imgs.filter(expr(h) === 1),
          leafRes = 8, minRes = 5)
          .filter(col("res") === 6)
          .select("cell", "cnt", "bytes_sum", "lat_min", "lat_max",
            "lon_min", "lon_max", "phash_centroid")
      }
    },
    Some(
      s"""$cte
         |SELECT cell,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum,
         |  min(lat) AS lat_min, max(lat) AS lat_max,
         |  min(lon) AS lon_min, max(lon) AS lon_max,
         |  ${PhashCentroid.oracleCentroidSql("phash")} AS phash_centroid
         |FROM (SELECT ${cellSql(6)} AS cell, * FROM images) t
         |GROUP BY cell""".stripMargin))

  /** Adaptive tile splitting ([[TilePyramid.adaptiveSplit]] ≙ the
    * reference's oversize-cluster recursive re-clustering,
    * cluster_utils.py:186-196): tiles over the count budget split to
    * res+1 recursively, bounded by maxRes — a variable-depth pyramid.
    * The oracle replays the CLOSED FORM per level: emitted iff
    * (first level OR parent over budget) AND (within budget OR last
    * level) — one per-level aggregate + parent join in SQL, the same
    * predicate the engine evaluates. At sf0.01 the fixture exercises
    * every depth: most smooth cells settle at res 4-5, the planted hot
    * cluster chains over-budget all the way to the forced res-8 leaf.
    *
    * The slim pyramid is MATERIALIZED (localCheckpoint) before the
    * self-join: adaptiveSplit consumes it twice (tiles + parents), and
    * lazily each side would re-run the pyramid aggregation from the
    * images. The pyramid is #cells
    * rows (orders of magnitude under the corpus), so this is exactly the
    * snapshot-materialization a 100 TB run does anyway; both join sides
    * then read the tiny cached frame. */
  private val qAdaptiveSplit = Q(
    "q_adaptive_split", {
      val (startRes, maxRes, budget) = (4, 8, 200L)
      (s, dir) => TilePyramid.adaptiveSplit(
        TilePyramid.pyramidLazySlim(Images.images(s, dir), startRes, maxRes)
          .localCheckpoint(true),
        startRes, maxRes, budget)
        .select("res", "cell", "cnt", "bytes_sum")
    },
    Some {
      val (startRes, maxRes, budget) = (4, 8, 200L)
      val lvls = (startRes to maxRes).map { r =>
        val pc = if (r == startRes) ""
        else s", ${cellSql(r - 1)} AS pcell"
        s"""ad$r AS (
           |  SELECT ${cellSql(r)} AS cell$pc,
           |    CAST(count(*) AS BIGINT) AS cnt,
           |    CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
           |  FROM images GROUP BY ${if (r == startRes) "1" else "1, 2"})"""
          .stripMargin
      }.mkString(",\n")
      val sel = (startRes to maxRes).map { r =>
        if (r == startRes)
          s"SELECT $r AS res, cell, cnt, bytes_sum FROM ad$r WHERE cnt <= $budget"
        else {
          val cap = if (r == maxRes) "" else s" AND c.cnt <= $budget"
          s"""SELECT $r AS res, c.cell, c.cnt, c.bytes_sum
             |FROM ad$r c JOIN ad${r - 1} p ON p.cell = c.pcell
             |WHERE p.cnt > $budget$cap""".stripMargin
        }
      }.mkString("\nUNION ALL ")
      s"""$cte,
         |$lvls
         |$sel""".stripMargin
    })

  /** Co-located tile-profile join over the BUCKETED tile store
    * ([[BucketStore]]): two per-cell aggregates of the corpus at res 8 are
    * persisted as catalog tables bucketed+sorted by `cell` (the SCALE.md
    * store layout), then equi-joined on `cell` — a join that plans with
    * ZERO shuffle exchanges because both scans inherit the catalog's
    * HashPartitioning (BucketStoreSpec pins the plan). ≙ the reference's
    * same-key tree-stats joins (merge_distance&tree_exam.py:687-766),
    * which at 100 TB should zip co-located buckets, not re-shuffle both
    * corpora. The oracle is the direct two-aggregate join, so a hash match
    * proves the write → catalog → bucketed-scan → join chain is lossless. */
  private val qBucketJoin = Q(
    "q_bucket_join",
    (s, dir) => {
      val imgs = TilePyramid.withCell(Images.images(s, dir), 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      BucketStore.write(
        imgs.groupBy(col("cell"))
          .agg(count(lit(1)).as("cnt"),
            sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum")),
        "graft_bkt_counts", nBuckets = 8)
      BucketStore.write(
        imgs.groupBy(col("cell"))
          .agg(min(col("phash")).as("phash_min"),
            max(col("phash")).as("phash_max"),
            sum(when(col("fmt") === "lossy", 1L).otherwise(0L)).as("n_lossy")),
        "graft_bkt_profile", nBuckets = 8)
      imgs.unpersist(blocking = false)
      BucketStore.colocatedJoin(s, "graft_bkt_counts", "graft_bkt_profile")
        .select("cell", "cnt", "bytes_sum", "phash_min", "phash_max", "n_lossy")
    },
    Some(
      s"""$cte,
         |t AS (SELECT ${cellSql(8)} AS cell, w, h, fmt, phash FROM images),
         |a AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
         |  FROM t GROUP BY cell),
         |b AS (
         |  SELECT cell, min(phash) AS phash_min, max(phash) AS phash_max,
         |    CAST(sum(CASE WHEN fmt = 'lossy' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_lossy
         |  FROM t GROUP BY cell)
         |SELECT a.cell, a.cnt, a.bytes_sum, b.phash_min, b.phash_max,
         |  b.n_lossy
         |FROM a JOIN b ON a.cell = b.cell""".stripMargin))

  /** Z-curve layout facts ([[graft.geo.CellZValue]]): per-image Morton
    * value of the res-12 cell, bucketed by the top z-range bits — the sort
    * key a data-skipping write clusters by (ZOrderSpec proves the skipping
    * itself: a bbox scan over a z-sorted layout reads a fraction of the
    * row groups a round-robin layout reads). The oracle replays the
    * bit-spreading exactly as a 5-step integer CTE chain, so a hash match
    * proves the interleave kernel cross-engine. */
  private val qZcurve = Q(
    "q_zcurve",
    (s, dir) => Images.images(s, dir)
      .withColumn("z", graft.geo.functions.cell_zvalue(
        graft.geo.functions.cell_encode(col("lat"), col("lon"), 12)))
      .groupBy(shiftright(col("z"), 14).as("zbucket"))
      .agg(count(lit(1)).as("cnt"), min(col("z")).as("z_min"),
        max(col("z")).as("z_max")),
    Some {
      val spread = Seq(
        16 -> "281470681808895",      // 0x0000FFFF0000FFFF
        8 -> "71777214294589695",     // 0x00FF00FF00FF00FF
        4 -> "1085102592571150095",   // 0x0F0F0F0F0F0F0F0F
        2 -> "3689348814741910323",   // 0x3333333333333333
        1 -> "6148914691236517205")   // 0x5555555555555555
      val steps = spread.zipWithIndex.map { case ((sh, mask), i) =>
        s"""z${i + 1} AS (SELECT
           |  ((x | (x << $sh)) & $mask) AS x,
           |  ((y | (y << $sh)) & $mask) AS y FROM z$i)""".stripMargin
      }.mkString(",\n")
      s"""$cte,
         |cells AS (SELECT ${cellSql(12)} AS cell FROM images),
         |z0 AS (SELECT (cell & 4095) AS x, ((cell >> 12) & 4095) AS y
         |       FROM cells),
         |$steps,
         |zz AS (SELECT (x | (y << 1)) AS z FROM z5)
         |SELECT (z >> 14) AS zbucket, CAST(count(*) AS BIGINT) AS cnt,
         |  min(z) AS z_min, max(z) AS z_max
         |FROM zz GROUP BY 1""".stripMargin
    })

  /** Hilbert-curve layout facts ([[graft.geo.CellHValue]]): the same
    * bucketed shape as [[qZcurve]] but keyed by the Hilbert index of the
    * res-12 cell — the layout key with the STRICT adjacency guarantee
    * (consecutive indices are always 4-neighbors, so a Hilbert-sorted
    * layout has no Morton seam jumps and the tightest per-row-group
    * lat/lon envelopes; ZOrderSpec measures both layouts' skipping).
    * The oracle replays the full per-bit quadrant walk — reflect +
    * transpose rotation and all — as a 12-step integer CTE chain over
    * (x, y, d) state, so a hash match proves every rotation branch of
    * the kernel cross-engine. */
  private val qHilbert = Q(
    "q_hilbert",
    (s, dir) => Images.images(s, dir)
      .withColumn("hd", graft.geo.functions.cell_hvalue(
        graft.geo.functions.cell_encode(col("lat"), col("lon"), 12)))
      .groupBy(shiftright(col("hd"), 14).as("hbucket"))
      .agg(count(lit(1)).as("cnt"), min(col("hd")).as("h_min"),
        max(col("hd")).as("h_max")),
    Some {
      // h{i+1}: one Hilbert bit-plane step at s = 2048 >> i. All three
      // outputs read the step's INPUT row, so d uses the pre-rotation
      // (x, y) exactly like the Scala kernel. rx=1 -> quad = 3 - ry;
      // rx=0 -> quad = ry (the (3*rx) XOR ry identity on 0/1 bits).
      val steps = (0 until 12).map { i =>
        val s = 2048 >> i
        s"""h${i + 1} AS (SELECT
           |  CASE WHEN (y & $s) = 0 THEN
           |    (CASE WHEN (x & $s) > 0 THEN 4095 - y ELSE y END)
           |  ELSE x END AS x,
           |  CASE WHEN (y & $s) = 0 THEN
           |    (CASE WHEN (x & $s) > 0 THEN 4095 - x ELSE x END)
           |  ELSE y END AS y,
           |  d + ${s.toLong * s} * (CASE WHEN (x & $s) > 0
           |    THEN 3 - (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)
           |    ELSE (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) END) AS d
           |  FROM h$i)""".stripMargin
      }.mkString(",\n")
      s"""$cte,
         |cells AS (SELECT ${cellSql(12)} AS cell FROM images),
         |h0 AS (SELECT (cell & 4095) AS x, ((cell >> 12) & 4095) AS y,
         |       CAST(0 AS BIGINT) AS d FROM cells),
         |$steps
         |SELECT (d >> 14) AS hbucket, CAST(count(*) AS BIGINT) AS cnt,
         |  min(d) AS h_min, max(d) AS h_max
         |FROM h12 GROUP BY 1""".stripMargin
    })

  /** BBOX -> Z-RANGE SCAN PLANNING: the query-side consumer of the
    * [[qZcurve]]/[[qHilbert]] layout keys. A lat/lon bbox becomes a SHORT
    * LIST OF CONTIGUOUS 1-D RANGES on the Morton key: cover the box with
    * coarse res-7 cells (driver-held, like the pip broadcast index — the
    * planner's split list), map each to its leaf-z prefix range
    * `[z7 << 10, (z7 << 10) + 2^10)` (exact by the interleave prefix
    * property: a child's z is its parent's z with 2·Δres suffix bits),
    * then probe the res-12 z of every image against the broadcast ranges.
    * Emitted per range: index hits (`cnt`) and exact-refine survivors
    * (`n_exact`) — the range scan's false-positive measure. At 100 TB
    * this is how a bbox query reads a z-sorted table: K contiguous scans
    * instead of a 2-D filter over everything; the BroadcastNestedLoop
    * range probe here stands in for the planner handing byte ranges to
    * the reader. The oracle replays the cover floors ('…'::DOUBLE guards
    * the decimal-literal trap), the 5-mask spread, the prefix shift, and
    * the refine — full cross-engine planning proof. */
  private val qZrangeScan = Q(
    "q_zrange_scan",
    (s, dir) => {
      import graft.geo.GridCell
      val ranges = GridCell.cover(10.0, 14.0, 20.0, 28.0, 7)
        .map(c => (GridCell.interleave(c) << 10,
          (GridCell.interleave(c) << 10) + 1023L))
      val rdf = s.createDataFrame(ranges.toSeq).toDF("z_lo", "z_hi")
      val img = Images.images(s, dir)
        .withColumn("z", graft.geo.functions.cell_zvalue(
          graft.geo.functions.cell_encode(col("lat"), col("lon"), 12)))
      img.join(broadcast(rdf), col("z").between(col("z_lo"), col("z_hi")))
        .groupBy("z_lo", "z_hi")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("lat").between(10.0, 14.0) &&
            col("lon").between(20.0, 28.0), 1L).otherwise(0L)).as("n_exact"))
    },
    Some {
      val spread = Seq(
        16 -> "281470681808895", 8 -> "71777214294589695",
        4 -> "1085102592571150095", 2 -> "3689348814741910323",
        1 -> "6148914691236517205")
      def chain(pfx: String, src: String, carry: Seq[String]) = {
        val keep = carry.map(c => s"$c, ").mkString
        spread.zipWithIndex.map { case ((sh, mask), i) =>
          s"""$pfx${i + 1} AS (SELECT $keep
             |  ((x | (x << $sh)) & $mask) AS x,
             |  ((y | (y << $sh)) & $mask) AS y
             |  FROM ${if (i == 0) src else s"$pfx$i"})""".stripMargin
        }.mkString(",\n")
      }
      s"""$cte,
         |xr AS (SELECT
         |  CAST(floor((('20.0'::DOUBLE) + 180.0) / 360.0 * 128) AS BIGINT) AS x0,
         |  CAST(floor((('28.0'::DOUBLE) + 180.0) / 360.0 * 128) AS BIGINT) AS x1,
         |  CAST(floor((('10.0'::DOUBLE) + 90.0) / 180.0 * 128) AS BIGINT) AS y0,
         |  CAST(floor((('14.0'::DOUBLE) + 90.0) / 180.0 * 128) AS BIGINT) AS y1),
         |cov0 AS (SELECT rx.r AS x, ry.r AS y
         |  FROM xr, range(0,128) rx(r), range(0,128) ry(r)
         |  WHERE rx.r BETWEEN x0 AND x1 AND ry.r BETWEEN y0 AND y1),
         |${chain("cov", "cov0", Seq.empty)},
         |ranges AS (SELECT ((x | (y << 1)) << 10) AS z_lo,
         |  ((x | (y << 1)) << 10) + 1023 AS z_hi FROM cov5),
         |img0 AS (SELECT lat, lon,
         |  (${cellSql(12)} & 4095) AS x,
         |  ((${cellSql(12)} >> 12) & 4095) AS y FROM images),
         |${chain("img", "img0", Seq("lat", "lon"))},
         |zz AS (SELECT lat, lon, (x | (y << 1)) AS z FROM img5)
         |SELECT r.z_lo, r.z_hi, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(CASE WHEN lat BETWEEN 10.0 AND 14.0
         |    AND lon BETWEEN 20.0 AND 28.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact
         |FROM zz JOIN ranges r ON zz.z BETWEEN r.z_lo AND r.z_hi
         |GROUP BY 1, 2""".stripMargin
    })

  /** QUADTREE COMPACTION ([[graft.operators.CellCompact]], ≙ H3
    * `compact`): the occupied res-7 cell set rewritten as the minimal
    * mixed-resolution set — every fully-occupied 2x2 quad collapses into
    * its parent, recursively down to res 4. Output is the compact set
    * with its per-cell resolution; CompactSpec pins the invariants
    * (uncompact∘compact == identity, no ancestor pairs). The oracle
    * replays each level's complete-quad substitution as a
    * group-having-4 + NOT IN pair, unrolled res 7 -> 4. */
  private val qCompact = Q(
    "q_compact",
    (s, dir) => {
      import graft.geo.{functions => G}
      val leaves = Images.images(s, dir)
        .select(G.cell_encode(col("lat"), col("lon"), 7).as("cell"))
        .distinct()
      graft.operators.CellCompact.compact(leaves, 7, 4)
        .withColumn("res", shiftrightunsigned(col("cell"), 58))
    },
    Some {
      val levels = (7 until 4 by -1).map { r =>
        val m = (1L << r) - 1
        s"""k$r AS (SELECT cell,
           |  ((CAST(${r - 1} AS BIGINT) << 58) |
           |   ((((cell >> $r) & $m) >> 1) << ${r - 1}) |
           |   ((cell & $m) >> 1)) AS p FROM l$r),
           |f$r AS (SELECT p FROM k$r GROUP BY p HAVING count(*) = 4),
           |keep$r AS (SELECT cell FROM k$r
           |  WHERE p NOT IN (SELECT p FROM f$r)),
           |l${r - 1} AS (SELECT p AS cell FROM f$r)""".stripMargin
      }.mkString(",\n")
      s"""$cte,
         |l7 AS (SELECT DISTINCT ${cellSql(7)} AS cell FROM images),
         |$levels
         |SELECT cell, cell >> 58 AS res FROM (
         |  SELECT cell FROM keep7 UNION ALL SELECT cell FROM keep6
         |  UNION ALL SELECT cell FROM keep5 UNION ALL SELECT cell FROM l4
         |) u""".stripMargin
    })

  /** POLYGON BUFFER VIA CELL MORPHOLOGY — geofencing with tolerance: each
    * fixture polygon's res-7 bbox cover (the driver-held prefilter index,
    * same shape as the pip join's) is DILATED by one ring step (≈ one
    * cell ≈ 40 km at the equator) — the raster-morphology analog of
    * ST_Buffer at cell granularity. Emitted per polygon: images inside
    * the core cover vs. images in the one-cell tolerance band (dilation
    * minus core) — the geofence-with-hysteresis shape. All set algebra is
    * keyed: ring explode over the tiny driver-held cover (broadcast),
    * distinct, anti-join for the band, then one equi-join against the
    * binned corpus per set. The oracle recomputes the bbox floors from
    * literal vertex rows, the clamped cover enumeration, the wrapped
    * dilation and the band subtraction — the full morphology
    * cross-engine. */
  private val qPolyBuffer = Q(
    "q_poly_buffer",
    (s, dir) => {
      import graft.geo.{functions => G, GridCell}
      import s.implicits._
      val core = Fixtures.polys.flatMap { p =>
        val (la0, la1, lo0, lo1) = GridCell.polyBounds(p.lats, p.lons)
        GridCell.cover(la0, la1, lo0, lo1, 7).map(c => (p.polyId, c))
      }.toSeq.toDF("poly_id", "cell")
      val dil = core.select(col("poly_id"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .distinct()
      val band = dil.join(core, Seq("poly_id", "cell"), "left_anti")
      val img = Images.images(s, dir)
        .select(G.cell_encode(col("lat"), col("lon"), 7).as("cell"))
      val nCore = img.join(broadcast(core), Seq("cell"))
        .groupBy("poly_id").agg(count(lit(1)).as("n_core"))
      val nBand = img.join(broadcast(band), Seq("cell"))
        .groupBy("poly_id").agg(count(lit(1)).as("n_band"))
      Fixtures.polys.map(_.polyId).toDF("poly_id")
        .join(nCore, Seq("poly_id"), "left_outer")
        .join(nBand, Seq("poly_id"), "left_outer")
        .select(col("poly_id"),
          coalesce(col("n_core"), lit(0L)).as("n_core"),
          coalesce(col("n_band"), lit(0L)).as("n_band"))
    },
    Some {
      val vrows = Fixtures.polys.flatMap { p =>
        p.lats.indices.map(i =>
          s"('${p.polyId}', ${p.lats(i)}::DOUBLE, ${p.lons(i)}::DOUBLE)")
      }.mkString(",\n    ")
      s"""$cte,
         |pv(poly_id, lat, lon) AS (VALUES
         |    $vrows
         |), bb AS (
         |  SELECT poly_id, min(lat) AS la0, max(lat) AS la1,
         |    min(lon) AS lo0, max(lon) AS lo1 FROM pv GROUP BY 1
         |), ix AS (
         |  SELECT poly_id,
         |    GREATEST(0, LEAST(127,
         |      CAST(floor(((lo0 + 180.0) / 360.0) * 128) AS BIGINT))) AS x0,
         |    GREATEST(0, LEAST(127,
         |      CAST(floor(((lo1 + 180.0) / 360.0) * 128) AS BIGINT))) AS x1,
         |    GREATEST(0, LEAST(127,
         |      CAST(floor(((la0 + 90.0) / 180.0) * 128) AS BIGINT))) AS y0,
         |    GREATEST(0, LEAST(127,
         |      CAST(floor(((la1 + 90.0) / 180.0) * 128) AS BIGINT))) AS y1
         |  FROM bb
         |), core AS (
         |  SELECT poly_id, rx.r AS x, ry.r AS y
         |  FROM ix, range(0,128) rx(r), range(0,128) ry(r)
         |  WHERE rx.r BETWEEN x0 AND x1 AND ry.r BETWEEN y0 AND y1
         |), dil AS (
         |  SELECT DISTINCT poly_id,
         |    ((x + dx.r) % 128 + 128) % 128 AS x, y + dy.r AS y
         |  FROM core, range(-1,2) dx(r), range(-1,2) dy(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |), band AS (
         |  SELECT poly_id, x, y FROM dil
         |  WHERE NOT EXISTS (SELECT 1 FROM core c
         |    WHERE c.poly_id = dil.poly_id AND c.x = dil.x AND c.y = dil.y)
         |), icxy AS (
         |  SELECT (${cellSql(7)} & 127) AS x,
         |    ((${cellSql(7)} >> 7) & 127) AS y FROM images
         |), nc AS (
         |  SELECT poly_id, CAST(count(*) AS BIGINT) AS n_core
         |  FROM core JOIN icxy ON icxy.x = core.x AND icxy.y = core.y
         |  GROUP BY 1
         |), nb AS (
         |  SELECT poly_id, CAST(count(*) AS BIGINT) AS n_band
         |  FROM band JOIN icxy ON icxy.x = band.x AND icxy.y = band.y
         |  GROUP BY 1
         |)
         |SELECT bb.poly_id, coalesce(n_core, 0) AS n_core,
         |  coalesce(n_band, 0) AS n_band
         |FROM bb LEFT JOIN nc ON nc.poly_id = bb.poly_id
         |LEFT JOIN nb ON nb.poly_id = bb.poly_id""".stripMargin
    })

  /** SPATIAL CO-LOCATION JOIN — the cross-DATASET grid join: the event
    * stream (deterministic positions, [[eventPositions]]) against the
    * image corpus, co-binned at res 6. Per event type: total events,
    * events landing in an image-occupied cell, and distinct shared cells
    * — the participation-index numerators of co-location pattern mining
    * (ratios are the consumer's division; only integers are hashed).
    * Scale shape: both sides reduce BEFORE the join (the image side to
    * its occupied-cell set — at 100 TB a persisted snapshot level, not a
    * rescan), then one keyed equi-join and a partial-aggregated rollup.
    * No theta join anywhere. */
  private val qColoc = Q(
    "q_coloc",
    (s, dir) => {
      val ev = eventPositions(s, dir, 6)
      val occ = Images.images(s, dir)
        .select(graft.geo.functions
          .cell_encode(col("lat"), col("lon"), 6).as("cell"))
        .distinct().withColumn("hit", lit(1))
      ev.join(occ, Seq("cell"), "left_outer")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_ev"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_ev_coloc"),
          countDistinct(when(col("hit") === 1, col("cell"))).as("n_cells"))
    },
    Some(
      s"""$cte, ${eventCellCtes(6)}, occ AS (
         |  SELECT DISTINCT ${cellSql(6)} AS cell FROM images
         |)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_ev,
         |  CAST(sum(CASE WHEN occ.cell IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_ev_coloc,
         |  CAST(count(DISTINCT CASE WHEN occ.cell IS NOT NULL
         |    THEN pc.cell END) AS BIGINT) AS n_cells
         |FROM pc LEFT JOIN occ ON occ.cell = pc.cell
         |GROUP BY 1""".stripMargin))

  /** SPATIOTEMPORAL HOTSPOTS — the space × time composition: events
    * co-binned by (hour window, res-5 cell), then the top-3 cells PER
    * HOUR by a keyed rank window ((cnt DESC, cell) — deterministic under
    * ties). The monitoring query of a geo event stream ("where was hot,
    * hour by hour"). Scale shape: one partial-aggregated groupBy on the
    * composite key, then a window KEYED by the hour (thousands of
    * independent partitions — never a partitionless global sort);
    * integer hour index, no timestamps hashed. */
  private val qStHotspots = Q(
    "q_st_hotspots",
    (s, dir) => {
      val ev = eventPositions(s, dir, 5)
      val binned = ev.groupBy(
          floor(unix_micros(col("ts").cast("timestamp")) / lit(3600000000L))
            .cast("long").as("win"),
          col("cell"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("win").orderBy(col("cnt").desc, col("cell"))
      binned.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, b AS (
         |  SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS win,
         |    cell, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pc GROUP BY 1, 2
         |), r AS (
         |  SELECT win, cell, cnt,
         |    CAST(row_number() OVER (PARTITION BY win
         |      ORDER BY cnt DESC, cell) AS INTEGER) AS rk
         |  FROM b
         |)
         |SELECT win, cell, cnt, rk FROM r WHERE rk <= 3""".stripMargin))

  /** ORIGIN-DESTINATION FLOW MATRIX — the flow-map aggregate over the
    * trajectory segments: consecutive per-user event positions rolled up
    * to coarse res-4 cells, counted per (from_cell, to_cell) ordered
    * pair, self-flows included (intra-cell movement is the diagonal).
    * Scale shape: the same ONE keyed window as [[qTrajRaster]] (parents
    * are bit-slices — no second encode), then a partial-aggregated
    * groupBy on the composite key; an OD matrix over 10^12 events is two
    * keyed shuffles, bounded output (≤ occupied² pairs, sparse in
    * practice). */
  private val qOdFlows = Q(
    "q_od_flows",
    (s, dir) => {
      import graft.geo.{functions => G}
      val ev = eventPositions(s, dir, 7)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev.withColumn("prev", lag(col("cell"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(G.cell_parent_at(col("prev"), 4).as("from_cell"),
          G.cell_parent_at(col("cell"), 4).as("to_cell"),
          col("user_id"))
        .groupBy("from_cell", "to_cell")
        .agg(count(lit(1)).as("n_segs"),
          countDistinct(col("user_id")).as("n_users"))
    },
    Some(
      s"""WITH ${eventCellCtes(7)}, seg AS (
         |  SELECT user_id, cell,
         |    lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS prev
         |  FROM pc
         |)
         |SELECT ((CAST(4 AS BIGINT) << 58)
         |    | ((((prev >> 7) & 127) >> 3) << 4)
         |    | ((prev & 127) >> 3)) AS from_cell,
         |  ((CAST(4 AS BIGINT) << 58)
         |    | ((((cell >> 7) & 127) >> 3) << 4)
         |    | ((cell & 127) >> 3)) AS to_cell,
         |  CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM seg WHERE prev IS NOT NULL
         |GROUP BY 1, 2""".stripMargin))

  /** FIRST-ORDER MARKOV NEXT-CELL MODEL — the predictive leg of the
    * trajectory family ([[qOdFlows]] = the flow MATRIX; this = the
    * per-state transition MODE, the "where does traffic from this cell
    * go next" model a mobility pipeline trains): per-user consecutive
    * res-5 cell transitions (the same keyed lead/lag window as OD flows,
    * self-transitions included — the chain's diagonal), rolled to per
    * from_cell: total outgoing mass, the argmax next cell (ties break to
    * the smaller cell id — deterministic on both engines), its count,
    * and the transition probability as EXACT integer permille
    * `(top_cnt·1000) div n_trans` (positive truncating division, pinned
    * identical in Spark `div` / DuckDB `//` — no float in the hashed
    * output).
    *
    * Scale shape: one USER-keyed window (per-user event sequences), one
    * partial-aggregated groupBy on the (from, to) composite, then
    * FROM_CELL-keyed windows over ≤|occupied| rows. At 10^12 events the
    * event-sized stages are the window + first groupBy, both keyed. */
  private val qMarkovNext = Q(
    "q_markov_next",
    (s, dir) => {
      val ev = eventPositions(s, dir, 5)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = ev.withColumn("next_cell", lead(col("cell"), 1).over(w))
        .where(col("next_cell").isNotNull)
        .groupBy(col("cell").as("from_cell"), col("next_cell").as("to_cell"))
        .agg(count(lit(1)).as("cnt"))
      val wf = Window.partitionBy("from_cell")
      val wr = wf.orderBy(col("cnt").desc, col("to_cell"))
      trans.withColumn("n_trans", sum(col("cnt")).over(wf))
        .withColumn("rn", row_number().over(wr))
        .where(col("rn") === 1)
        .select(col("from_cell"), col("n_trans"),
          col("to_cell").as("top_to"), col("cnt").as("top_cnt"),
          expr("(cnt * 1000) div n_trans").as("p_permille"))
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, tr AS (
         |  SELECT cell AS from_cell,
         |    lead(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS to_cell
         |  FROM pc
         |), tc AS (
         |  SELECT from_cell, to_cell, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tr WHERE to_cell IS NOT NULL GROUP BY 1, 2
         |)
         |SELECT from_cell, n_trans, to_cell AS top_to, cnt AS top_cnt,
         |  (cnt * 1000) // n_trans AS p_permille
         |FROM (
         |  SELECT from_cell, to_cell, cnt,
         |    CAST(sum(cnt) OVER (PARTITION BY from_cell) AS BIGINT)
         |      AS n_trans,
         |    row_number() OVER
         |      (PARTITION BY from_cell ORDER BY cnt DESC, to_cell) AS rn
         |  FROM tc
         |) WHERE rn = 1""".stripMargin))

  /** TRAJECTORY HEADING HISTOGRAM — per-segment compass sector from PURE
    * INTEGER grid displacement (no atan2 — the transcendental-hash
    * lesson): sector 0..7 = E NE N NW W SW S SE decided by the signs of
    * (dx, dy) and the |dx| vs |dy| dominance test, 8 = stationary
    * (same cell). dx is the WRAPPED shortest x-displacement (a hop
    * across the antimeridian heads the short way). One keyed window +
    * one 9-bucket aggregation — movement-pattern analytics at scan
    * speed.
    *
    * SEAM CONVENTION (ADVICE r4): this query is the one trajectory fact
    * that treats the antimeridian as a WRAP — a seam-crossing segment's
    * heading points the short way round. The rasterizing/length facts
    * (q_traj_raster, q_route_corridor, q_user_profiles path length) are
    * PLANAR by the documented lineCells contract: the same segment walks
    * the long way across the grid. Both conventions are deterministic
    * and oracle-mirrored, so no hash is at risk; the divergence is a
    * semantic choice — headings answer "which compass direction did the
    * user move", rasters answer "which cells does the drawn polyline
    * cover on the [-180,180] plane". Unifying them would mean splitting
    * seam-crossing segments at ±180 before rasterization, which changes
    * every downstream corridor/coverage oracle for the ~0 fixture
    * segments that cross; documented instead as the cheaper honest
    * contract. */
  private val qTrajHeadings = Q(
    "q_traj_headings",
    (s, dir) => {
      val ev = eventPositions(s, dir, 7)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val seg = ev.withColumn("prev", lag(col("cell"), 1).over(w))
        .where(col("prev").isNotNull)
        .withColumn("rawdx",
          (col("cell").bitwiseAND(lit(127L))) -
            (col("prev").bitwiseAND(lit(127L))))
        .withColumn("dx",
          when(col("rawdx") > 64, col("rawdx") - 128)
            .when(col("rawdx") < -64, col("rawdx") + 128)
            .otherwise(col("rawdx")))
        .withColumn("dy",
          (shiftrightunsigned(col("cell"), 7).bitwiseAND(lit(127L))) -
            (shiftrightunsigned(col("prev"), 7).bitwiseAND(lit(127L))))
      seg.withColumn("sector",
          when(col("dx") === 0 && col("dy") === 0, 8)
            .when(abs(col("dx")) > abs(col("dy")) && col("dx") > 0, 0)
            .when(abs(col("dx")) > abs(col("dy")), 4)
            .when(abs(col("dy")) > abs(col("dx")) && col("dy") > 0, 2)
            .when(abs(col("dy")) > abs(col("dx")), 6)
            .when(col("dx") > 0 && col("dy") > 0, 1)
            .when(col("dx") > 0, 7)
            .when(col("dy") > 0, 3)
            .otherwise(5))
        .groupBy("sector")
        .agg(count(lit(1)).as("n_segs"),
          countDistinct(col("user_id")).as("n_users"))
    },
    Some(
      s"""WITH ${eventCellCtes(7)}, seg AS (
         |  SELECT user_id, cell,
         |    lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS prev
         |  FROM pc
         |), d0 AS (
         |  SELECT user_id,
         |    (cell & 127) - (prev & 127) AS rawdx,
         |    ((cell >> 7) & 127) - ((prev >> 7) & 127) AS dy
         |  FROM seg WHERE prev IS NOT NULL
         |), d AS (
         |  SELECT user_id, dy,
         |    CASE WHEN rawdx > 64 THEN rawdx - 128
         |      WHEN rawdx < -64 THEN rawdx + 128 ELSE rawdx END AS dx
         |  FROM d0
         |)
         |SELECT CAST(CASE
         |    WHEN dx = 0 AND dy = 0 THEN 8
         |    WHEN abs(dx) > abs(dy) AND dx > 0 THEN 0
         |    WHEN abs(dx) > abs(dy) THEN 4
         |    WHEN abs(dy) > abs(dx) AND dy > 0 THEN 2
         |    WHEN abs(dy) > abs(dx) THEN 6
         |    WHEN dx > 0 AND dy > 0 THEN 1
         |    WHEN dx > 0 THEN 7
         |    WHEN dy > 0 THEN 3
         |    ELSE 5 END AS INTEGER) AS sector,
         |  CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM d GROUP BY 1""".stripMargin))

  /** TRAJECTORY SIMILARITY JOIN — bounded-radius directed HAUSDORFF over
    * user footprints (the movement-analytics "which users travel alike"
    * operator). A footprint is the user's DISTINCT res-7 cell set; for
    * every ordered pair that comes within Chebyshev radius 2 anywhere,
    * the per-cell nearest-other-trajectory distance md(a) = min_{b∈B}
    * d(a,b) is computed exactly for the cells it exists on (d = wrapped
    * Chebyshev), giving: cov_ab = |{a : md(a) ≤ 2}| (the directed
    * coverage), h_ab = the exact directed Hausdorff max md WHEN the
    * coverage is total (else −1 = "exceeds the radius" — the bounded
    * evaluation a 10^12-row engine can afford: h ≤ r is decidable from
    * radius-r candidates alone; the exact value beyond r is not, and is
    * deliberately not approximated), and mind = the closest approach.
    * Both directions emitted once per unordered pair.
    *
    * Scale shape: footprints are grid-bounded distinct sets (one keyed
    * dedup); candidates come from the same 25x ring scatter + keyed
    * equi-join as the spatial-stats family — never |users|² — and every
    * aggregation is keyed by (ua, ub[, acell]). Work is O(co-located
    * pairs × footprint), the candidate-bounded cost any near-join at
    * scale must have. */
  private val qTrajHausdorff = Q(
    "q_traj_hausdorff",
    (s, dir) => trajHausdorffFrom(
      eventPositions(s, dir, 7).select(col("user_id"), col("cell"))),
    Some(trajHausdorffOracleSql))

  /** Core of [[qTrajHausdorff]] over arbitrary `(user_id, cell)` points —
    * factored out so the spec can drive it with hand-built footprints. */
  private[graft] def trajHausdorffFrom(points: DataFrame): DataFrame = {
      import graft.geo.{functions => G}
      val n = 128L
      val uc = points.distinct()
      val sz = uc.groupBy("user_id").agg(count(lit(1)).as("n"))
      def xOf(c: org.apache.spark.sql.Column) = c.bitwiseAND(lit(n - 1))
      def yOf(c: org.apache.spark.sql.Column) =
        shiftright(c, 7).bitwiseAND(lit(n - 1))
      val rawDx = abs(xOf(col("acell")) - xOf(col("cell")))
      val sc = uc.select(col("user_id").as("ua"), col("cell").as("acell"),
          explode(G.cell_ring(col("cell"), lit(2))).as("cell"))
        .withColumn("d", greatest(least(rawDx, lit(n) - rawDx),
          abs(yOf(col("acell")) - yOf(col("cell")))))
      val m = sc
        .join(uc.select(col("user_id").as("ub"), col("cell")), Seq("cell"))
        .where(col("ub") =!= col("ua"))
        .groupBy("ua", "ub", "acell").agg(min(col("d")).as("md"))
      val h = m.groupBy("ua", "ub")
        .agg(count(lit(1)).as("ncov"), max("md").as("hh"),
          min("md").as("mind"))
      h.as("a")
        .join(h.as("r"),
          col("a.ua") === col("r.ub") && col("a.ub") === col("r.ua"))
        .join(sz.as("za"), col("a.ua") === col("za.user_id"))
        .join(sz.as("zb"), col("a.ub") === col("zb.user_id"))
        .where(col("a.ua") < col("a.ub"))
        .select(col("a.ua").as("ua"), col("a.ub").as("ub"),
          col("za.n").as("n_a"), col("zb.n").as("n_b"),
          col("a.ncov").as("cov_ab"), col("r.ncov").as("cov_ba"),
          when(col("a.ncov") === col("za.n"), col("a.hh"))
            .otherwise(lit(-1L)).as("h_ab"),
          when(col("r.ncov") === col("zb.n"), col("r.hh"))
            .otherwise(lit(-1L)).as("h_ba"),
          col("a.mind").as("mind"))
  }

  private def trajHausdorffOracleSql: String =
    s"""WITH ${eventCellCtes(7)}, uc AS (
         |  SELECT DISTINCT user_id, cell FROM pc
         |), sz AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM uc GROUP BY 1
         |), xy AS (
         |  SELECT user_id, cell, cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM uc
         |), sc AS (
         |  SELECT u.user_id AS ua, u.cell AS acell,
         |    ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS cell,
         |    greatest(abs(dx.r), abs(dy.r)) AS d
         |  FROM xy u, range(-2,3) dy(r), range(-2,3) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |), m AS (
         |  SELECT s.ua, b.user_id AS ub, s.acell, CAST(min(s.d) AS BIGINT) AS md
         |  FROM sc s JOIN uc b ON b.cell = s.cell AND b.user_id != s.ua
         |  GROUP BY 1, 2, 3
         |), h AS (
         |  SELECT ua, ub, CAST(count(*) AS BIGINT) AS ncov,
         |    CAST(max(md) AS BIGINT) AS hh, CAST(min(md) AS BIGINT) AS mind
         |  FROM m GROUP BY 1, 2
         |)
         |SELECT a.ua, a.ub, za.n AS n_a, zb.n AS n_b,
         |  a.ncov AS cov_ab, r.ncov AS cov_ba,
         |  CASE WHEN a.ncov = za.n THEN a.hh ELSE -1 END AS h_ab,
         |  CASE WHEN r.ncov = zb.n THEN r.hh ELSE -1 END AS h_ba,
         |  a.mind
         |FROM h a JOIN h r ON r.ua = a.ub AND r.ub = a.ua
         |JOIN sz za ON za.user_id = a.ua
         |JOIN sz zb ON zb.user_id = a.ub
         |WHERE a.ua < a.ub""".stripMargin

  /** STAY-POINT DETECTION + REVISITS — the trajectory STOP analysis: a
    * "stay" is a maximal run of consecutive same-cell events of one user
    * (the gap-sessionization pattern applied SPATIALLY: break on cell
    * change instead of time gap, run id = running break count). Emitted
    * per (user, cell): number of distinct stays (revisit count — how
    * often the user RETURNED after leaving), the longest stay's event
    * count, and total events there; only revisited-or-dwelled cells
    * (n_stays > 1 OR longest >= 2) survive — the interesting movement
    * facts. One keyed window + two keyed aggs; no joins. */
  private val qStayPoints = Q(
    "q_stay_points",
    (s, dir) => {
      val ev = eventPositions(s, dir, 5)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev.withColumn("prev", lag(col("cell"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("prev") =!= col("cell"), 1L)
            .otherwise(0L))
        .withColumn("run", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("cell"), col("run"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"), col("cell"))
        .agg(count(lit(1)).as("n_stays"), max(col("n")).as("longest"),
          sum(col("n")).as("n_events"))
        .where(col("n_stays") > 1 || col("longest") >= 2)
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, seg AS (
         |  SELECT user_id, cell, ts, event_id,
         |    lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS prev
         |  FROM pc
         |), runs AS (
         |  SELECT user_id, cell,
         |    sum(CASE WHEN prev IS NULL OR prev != cell THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS UNBOUNDED PRECEDING) AS run
         |  FROM seg
         |), per_run AS (
         |  SELECT user_id, cell, run, count(*) AS n
         |  FROM runs GROUP BY 1, 2, 3
         |)
         |SELECT user_id, cell, CAST(count(*) AS BIGINT) AS n_stays,
         |  CAST(max(n) AS BIGINT) AS longest,
         |  CAST(sum(n) AS BIGINT) AS n_events
         |FROM per_run GROUP BY 1, 2
         |HAVING count(*) > 1 OR max(n) >= 2""".stripMargin))

  /** TREND SURFACE (first-order spatial regression) — fit a plane
    * z = a + b·x + c·y to the binned density (z = cnt of res-6 cell
    * (x, y)) by least squares, emitted as the INTEGER normal-equation
    * sufficient statistics (n, Σx, Σy, Σz, Σx², Σy², Σxy, Σxz, Σyz —
    * all exact BIGINTs; the 3x3 solve is the consumer's driver-side
    * linear algebra, the geostatistics "trend removal" step before
    * kriging the residuals with [[qVariogram]]). One corpus-scan
    * groupBy, then a single 9-sum whole-stage-codegen aggregate over the
    * occupied grid — the same reduce-to-sufficient-pieces discipline as
    * the Moran family, associative under any partitioning. */
  private val qTrendSurface = Q(
    "q_trend_surface",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("z"))
        .select(col("cell").bitwiseAND(lit(63L)).as("x"),
          shiftrightunsigned(col("cell"), 6).bitwiseAND(lit(63L)).as("y"),
          col("z"))
      g.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("z")).as("sz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS z
         |  FROM images GROUP BY 1
         |), xyz AS (
         |  SELECT cell & 63 AS x, (cell >> 6) & 63 AS y, z FROM g
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(z) AS BIGINT) AS sz,
         |  CAST(sum(x * x) AS BIGINT) AS sxx,
         |  CAST(sum(y * y) AS BIGINT) AS syy,
         |  CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(x * z) AS BIGINT) AS sxz,
         |  CAST(sum(y * z) AS BIGINT) AS syz
         |FROM xyz""".stripMargin))

  /** ANTIMERIDIAN-CROSSING BBOX QUERY — the seam edge case pinned on
    * data: a box with lonMin > lonMax (170°E .. -170°W) goes through
    * [[graft.geo.GridCell.cover]]'s split path (two x-ranges), the
    * driver-held cover cells broadcast into one equi-join, exact refine
    * with the wrapped OR-predicate on top. Per cover cell: index hits
    * and refined survivors. At 100 TB the seam box is where naive
    * BETWEEN-filter plans silently return wrong (empty) answers; the
    * cover-join plan is seam-agnostic by construction. */
  private val qBboxWrap = Q(
    "q_bbox_wrap",
    (s, dir) => {
      import graft.geo.{functions => G, GridCell}
      import s.implicits._
      val cov = GridCell.cover(-20.0, 20.0, 170.0, -170.0, 6)
        .toSeq.toDF("cell")
      val img = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
      img.join(broadcast(cov), Seq("cell"))
        .groupBy("cell")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("lat").between(-20.0, 20.0) &&
            (col("lon") >= 170.0 || col("lon") <= -170.0), 1L)
            .otherwise(0L)).as("n_exact"))
    },
    Some(
      s"""$cte, ic AS (
         |  SELECT ${cellSql(6)} AS cell, lat, lon FROM images
         |), xr AS (
         |  SELECT
         |    CAST(floor((('170.0'::DOUBLE) + 180.0) / 360.0 * 64) AS BIGINT)
         |      AS xa,
         |    CAST(floor((('-170.0'::DOUBLE) + 180.0) / 360.0 * 64) AS BIGINT)
         |      AS xb,
         |    CAST(floor((('-20.0'::DOUBLE) + 90.0) / 180.0 * 64) AS BIGINT)
         |      AS y0,
         |    CAST(floor((('20.0'::DOUBLE) + 90.0) / 180.0 * 64) AS BIGINT)
         |      AS y1
         |), cov AS (
         |  SELECT ((CAST(6 AS BIGINT) << 58) | (ry.r << 6) | rx.r) AS cell
         |  FROM xr, range(0,64) rx(r), range(0,64) ry(r)
         |  WHERE ry.r BETWEEN y0 AND y1
         |    AND (rx.r >= xa OR rx.r <= xb)
         |)
         |SELECT ic.cell, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(CASE WHEN lat BETWEEN -20.0 AND 20.0
         |    AND (lon >= 170.0 OR lon <= -170.0) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_exact
         |FROM ic JOIN cov ON cov.cell = ic.cell
         |GROUP BY 1""".stripMargin))

  /** RASTER ALGEBRA / CHANGE DETECTION — per-pixel arithmetic between
    * TWO rasters: the image-density grid vs the event-density grid at
    * res 6, full-outer joined on the pixel, emitting both bands plus
    * their integer difference and a 3-state change class (the
    * before/after map-algebra shape: band math over co-registered
    * rasters). Scale shape: each raster is its own partial-aggregated
    * groupBy; the pixel join is keyed and bounded by the occupied grid
    * (≤ 4^res), not the point counts. */
  private val qRasterDiff = Q(
    "q_raster_diff",
    (s, dir) => {
      import graft.geo.{functions => G}
      val a = Images.images(s, dir)
        .groupBy(G.cell_encode(col("lat"), col("lon"), 6).as("cell"))
        .agg(count(lit(1)).as("n_img"))
      val b = eventPositions(s, dir, 6)
        .groupBy("cell").agg(count(lit(1)).as("n_ev"))
      a.join(b, Seq("cell"), "full_outer")
        .select(col("cell"),
          coalesce(col("n_img"), lit(0L)).as("n_img"),
          coalesce(col("n_ev"), lit(0L)).as("n_ev"))
        .withColumn("diff", col("n_img") - col("n_ev"))
        .withColumn("chg",
          when(col("diff") > 0, 1).when(col("diff") < 0, -1).otherwise(0))
    },
    Some(
      s"""$cte, ${eventCellCtes(6)}, a AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS n_img
         |  FROM images GROUP BY 1
         |), b AS (
         |  SELECT cell, count(*) AS n_ev FROM pc GROUP BY 1
         |)
         |SELECT coalesce(a.cell, b.cell) AS cell,
         |  CAST(coalesce(n_img, 0) AS BIGINT) AS n_img,
         |  CAST(coalesce(n_ev, 0) AS BIGINT) AS n_ev,
         |  CAST(coalesce(n_img, 0) - coalesce(n_ev, 0) AS BIGINT) AS diff,
         |  CAST(CASE WHEN coalesce(n_img, 0) - coalesce(n_ev, 0) > 0 THEN 1
         |    WHEN coalesce(n_img, 0) - coalesce(n_ev, 0) < 0 THEN -1
         |    ELSE 0 END AS INTEGER) AS chg
         |FROM a FULL OUTER JOIN b ON a.cell = b.cell""".stripMargin))

  /** TRIANGLE COUNTING + local clustering factors over the occupied-grid
    * QUEEN adjacency at res 6 — the graph-analytics staple (the rook
    * grid graph is BIPARTITE and trivially triangle-free; queen
    * adjacency's diagonals make triangles real). Canonical-order edge
    * enumeration (a < b < c): wedges from E⋈E on the middle vertex,
    * closed by an equi-join back to E — each triangle found EXACTLY once,
    * then credited to all 3 corners. Emitted per occupied cell: queen
    * degree among occupied cells, incident-triangle count (0 included),
    * and the wedge count `deg·(deg−1) div 2` (exact — consecutive-integer
    * product is even), the local-clustering denominator, so the consumer
    * forms 2·n_tri/wedges without a float ever touching the hash.
    *
    * Scale shape: adjacency is the stats family's grid-bounded ring
    * scatter (degree ≤ 8, so the wedge join fans out ≤ 8× per edge and
    * the closing join is keyed on (a, c)); everything after the one
    * event-sized groupBy is occupied-grid-bounded. */
  private val qTriangles = Q(
    "q_triangles",
    (s, dir) => {
      import graft.geo.{functions => G}
      val occ = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .select("cell")
      val adj = occ.select(col("cell").as("a"),
          explode(G.cell_ring(col("cell"), lit(1))).as("b"))
        .where(col("b") =!= col("a"))
        .join(occ.select(col("cell").as("b")), Seq("b"))
      val deg = adj.groupBy(col("a").as("cell"))
        .agg(count(lit(1)).as("deg"))
      val e = adj.where(col("a") < col("b")).select("a", "b")
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("a"), col("e1.b").as("b"),
          col("e2.b").as("c"))
        .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      val corners = tri.select(col("a").as("cell"))
        .unionAll(tri.select(col("b").as("cell")))
        .unionAll(tri.select(col("c").as("cell")))
        .groupBy("cell").agg(count(lit(1)).as("n_tri"))
      deg.join(corners, Seq("cell"), "left_outer")
        .select(col("cell"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          expr("(deg * (deg - 1)) div 2").as("wedges"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), sc AS (
         |  SELECT cell AS src, ((CAST(6 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 6)
         |      | CAST(((x + dx.r) % 64 + 64) % 64 AS BIGINT)) AS ocell
         |  FROM (SELECT cell, cell & 63 AS x, (cell >> 6) & 63 AS y
         |        FROM g) c,
         |    range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 63
         |    AND (dx.r != 0 OR dy.r != 0)
         |), adj AS (
         |  SELECT sc.src AS a, sc.ocell AS b
         |  FROM sc JOIN g ON g.cell = sc.ocell
         |), deg AS (
         |  SELECT a AS cell, CAST(count(*) AS BIGINT) AS deg
         |  FROM adj GROUP BY 1
         |), e AS (
         |  SELECT a, b FROM adj WHERE a < b
         |), tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM e e1
         |  JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
         |), corners AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |    SELECT a AS cell FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri
         |  ) GROUP BY 1
         |)
         |SELECT deg.cell, deg.deg, coalesce(corners.n_tri, 0) AS n_tri,
         |  (deg.deg * (deg.deg - 1)) // 2 AS wedges
         |FROM deg LEFT JOIN corners ON corners.cell = deg.cell""".stripMargin))

  /** ONION DECOMPOSITION (k-core peel rounds) — the degeneracy-ordering
    * shell profile of the graph family ([[qTriangles]] = local density;
    * this = GLOBAL cohesion structure): iterate the k = 6 degree-
    * threshold peel on the res-6 queen-adjacency occupied grid and
    * record, per cell, its ONION LAYER — the round in which it was
    * peeled (1..K), or K+1 if it survives all K = 24 rounds. On this
    * corpus the occupied region is a near-solid band, so the true 6-core
    * fixpoint is EMPTY (boundary rows have ≤5 in-set neighbors; removing
    * them exposes the next row — measured exactly 128 cells peel per
    * round at sf0.01, a frontier eating inward) — which is precisely why
    * the LAYER, not the survivor set, is the informative output: it is
    * the erosion depth / distance-to-boundary profile under the
    * degeneracy ordering. K = 24 is sized so the peel COMPLETES at the
    * test scales (the band is ≤22 erosion rounds deep; late rounds peel
    * empty frontiers at no cost), making [[qMedialAxis]]'s local-maxima
    * reading the true grassfire ridge rather than a truncation plateau.
    * K is a configuration constant; both engines run EXACTLY K rounds,
    * so the result is deterministic at any scale.
    *
    * Scale shape: each round is one grid-bounded ring scatter + keyed
    * semi-join + HAVING-filtered groupBy over ≤|occupied| rows, plus one
    * anti-join to tag the round's peeled cells; K is constant, so the
    * whole peel is O(K · occupied · 9) after the one event-sized
    * groupBy. The iterated plan is cut per round with localCheckpoint
    * (the Components.scala pointer-jump device) so lineage stays flat. */
  /** Shared engine for [[qOnionLayers]] and [[qMedialAxis]]: the K = 24
    * k = 6 peel run to completion, returning (cell, layer). Shared per
    * (session, dir) through [[SharedFrames]] — the 24-round loop is
    * job-count-heavy (each round a localCheckpoint), and the medial axis
    * reads the SAME layers, so one derivation serves both. */
  private def onion6(s: SparkSession, dir: String): DataFrame =
    SharedFrames("onion6", s, dir)(onion6Derive(s, dir))

  // Round-5 perf note: the original peel chained 24 eager localCheckpoints
  // (each round's frame checkpointed from the previous round's checkpoint).
  // Checkpoint GENERATIONS compound a per-generation overhead (growing
  // serialized task binaries — the bench log's "Broadcasting large task
  // binary" warnings): measured round times were geometric at ~2.6×/round
  // past generation ~19, 107 s for round 24 alone on an EMPTY frontier,
  // 118 s for the query. Unpersisting prior checkpoints does not help; a
  // log-depth chain (FlowRouting's pointer doubling, ≤ ~12 generations)
  // stays under the knee, a 24-deep sequential chain does not. The
  // frontier here is GRID-BOUNDED (≤ 4^6 occupied cells by construction),
  // so each round round-trips the survivor set through the driver — the
  // Lloyd/codebook driver-state pattern — making every round's input a
  // fresh LocalRelation with zero plan/lineage history: 24 rounds ≈ 5 s,
  // same result (Round5OpsSpec pins the sequential-peel replay). At a
  // finer grid this becomes collect-per-G-rounds with a checkpoint chain
  // of depth G kept under the knee.
  private def onion6Derive(s: SparkSession, dir: String): DataFrame = {
    import graft.geo.{functions => G}
    import s.implicits._
    var aliveCells: Array[Long] = Images.images(s, dir)
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .select("cell").collect().map(_.getLong(0))
    val layer = scala.collection.mutable.Map.empty[Long, Int]
    aliveCells.foreach(c => layer(c) = 1)
    var r = 0
    while (r < 24 && aliveCells.nonEmpty) {
      val aliveDf = s.createDataset(aliveCells.toSeq).toDF("cell")
      val next = aliveDf.select(col("cell").as("src"),
          explode(G.cell_ring(col("cell"), lit(1))).as("dst"))
        .where(col("dst") =!= col("src"))
        .join(aliveDf.select(col("cell").as("dst")), Seq("dst"))
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= 6)
        .select(col("src").as("cell"))
        .collect().map(_.getLong(0))
      // survivors accrue one layer per survived round: peeled-in-round-r
      // cells end at layer r, 24-round survivors at 25 — identical to the
      // per-round anti-join labeling (alive sets are nested)
      next.foreach(c => layer(c) = layer(c) + 1)
      aliveCells = next
      r += 1
    }
    s.createDataset(layer.toSeq).toDF("cell", "layer")
      .select(col("cell"), col("layer").cast("int").as("layer"))
      .localCheckpoint(true)
  }

  private val qOnionLayers = Q(
    "q_onion_layers",
    (s, dir) => onion6(s, dir),
    Some(s"""$onion6Ctes
         |SELECT cell, layer FROM lay""".stripMargin))

  /** Shared oracle CTE chain for the onion family: images -> g (res-6
    * density) -> sc (queen scatter) -> alive0..alive12 (the bounded
    * peel, MATERIALIZED: each round references its predecessor twice) ->
    * lay(cell, layer). */
  private lazy val onion6Ctes: String = {
    val rounds = (1 to 24).map { r =>
      s"""alive$r AS MATERIALIZED (
         |  SELECT sc.src AS cell
         |  FROM sc
         |  JOIN alive${r - 1} a ON a.cell = sc.src
         |  JOIN alive${r - 1} b ON b.cell = sc.ocell
         |  GROUP BY 1 HAVING count(*) >= 6
         |)""".stripMargin
    }.mkString(", ")
    val mem = (1 to 24).map(r => s"SELECT cell FROM alive$r")
      .mkString(" UNION ALL ")
    s"""$cte, g AS (
       |  SELECT ${cellSql(6)} AS cell, count(*) AS cnt
       |  FROM images GROUP BY 1
       |), sc AS MATERIALIZED (
       |  SELECT cell AS src, ((CAST(6 AS BIGINT) << 58) |
       |      (CAST(y + dy.r AS BIGINT) << 6) |
       |      CAST(((x + dx.r) % 64 + 64) % 64 AS BIGINT)) AS ocell
       |  FROM (SELECT cell, cell & 63 AS x, (cell >> 6) & 63 AS y
       |        FROM g) c,
       |    range(-1,2) dy(r), range(-1,2) dx(r)
       |  WHERE y + dy.r BETWEEN 0 AND 63
       |    AND (dx.r != 0 OR dy.r != 0)
       |), alive0 AS MATERIALIZED (SELECT cell FROM g),
       |$rounds, mem AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS rounds_in
       |  FROM ($mem) GROUP BY 1
       |), lay AS MATERIALIZED (
       |  SELECT g.cell,
       |    CAST(1 + coalesce(mem.rounds_in, 0) AS INTEGER) AS layer
       |  FROM g LEFT JOIN mem ON mem.cell = g.cell
       |)""".stripMargin
  }

  /** MEDIAL AXIS (erosion-depth skeleton) — the centerline extraction
    * the onion decomposition was built for (grassfire transform: the
    * skeleton is where erosion fronts COLLIDE, i.e. the local maxima of
    * erosion depth): cells whose [[onion6]] layer is >= every occupied
    * queen neighbor's layer and > 1 (boundary cells excluded), emitted
    * with layer and neighbor count. Isolated cells have no adjacency
    * row and are absent (inner semantics, oracle-mirrored).
    *
    * Scale shape: the peel's K grid-bounded rounds + ONE more ring
    * scatter and keyed max-groupBy — the focal-stats contract on top of
    * the onion pass. */
  private val qMedialAxis = Q(
    "q_medial_axis",
    (s, dir) => {
      import graft.geo.{functions => G}
      val lay = onion6(s, dir) // already checkpointed by the memo
      lay.select(col("cell").as("src"), col("layer"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .where(col("cell") =!= col("src"))
        .join(lay.select(col("cell"), col("layer").as("nl")), Seq("cell"))
        .groupBy(col("src").as("cell"), col("layer"))
        .agg(count(lit(1)).as("n_nbrs"), max(col("nl")).as("max_nl"))
        .where(col("layer") > 1 && col("max_nl") <= col("layer"))
        .select(col("cell"), col("layer"), col("n_nbrs"))
    },
    Some(s"""$onion6Ctes
         |SELECT l.cell, l.layer, CAST(count(*) AS BIGINT) AS n_nbrs
         |FROM lay l
         |JOIN sc ON sc.src = l.cell
         |JOIN lay n ON n.cell = sc.ocell
         |GROUP BY 1, 2
         |HAVING l.layer > 1 AND max(n.layer) <= l.layer""".stripMargin))

  /** WEIGHTED COST DISTANCE (bounded-hop Bellman–Ford) — the terrain-
    * aware companion of the uniform-cost grid BFS (q_grid_bfs counts
    * HOPS; this accumulates per-cell ENTRY COSTS — the GIS cost-distance
    * / least-cost-path surface): from the single densest res-6 cell
    * (argmax cnt, tie → smallest id), relax over queen adjacency for
    * K = 12 rounds with integer friction `w(c) = 1 + min(cnt(c), 3)`
    * (denser cells cost more to cross — the congestion model), emitting
    * every cell's exact minimal cost over paths of ≤ K hops. K bounds
    * BOTH engines identically, so the operator — "cost within a K-hop
    * horizon" — is deterministic at any scale; the unbounded surface is
    * K = diameter, the same loop.
    *
    * Scale shape: per round ONE grid-bounded ring scatter + two keyed
    * joins + a min-groupBy over ≤|occupied| rows; the frontier frame is
    * localCheckpoint'ed per round (flat lineage). The event-sized work
    * remains the one density groupBy. */
  private val qCostDistance = Q(
    "q_cost_distance",
    (s, dir) => {
      import graft.geo.{functions => G}
      val occ = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .select(col("cell"),
          (lit(1L) + least(col("cnt"), lit(3L))).as("w"),
          col("cnt"))
        .localCheckpoint(true)
      // top-1 source via TakeOrderedAndProject (per-partition top-1 +
      // driver merge) — a partitionless row_number window here would
      // funnel the grid through one task and trip the WindowExec warning
      // the suite bans
      val src = occ.orderBy(col("cnt").desc, col("cell")).limit(1)
      var dist = src.select(col("cell"), lit(0L).as("cost"))
        .localCheckpoint(true)
      for (_ <- 1 to 12) {
        val cand = dist.select(col("cell").as("src"), col("cost"),
            explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
          .where(col("cell") =!= col("src"))
          .join(occ.select("cell", "w"), Seq("cell"))
          .select(col("cell"), (col("cost") + col("w")).as("cost"))
        dist = dist.select("cell", "cost").unionAll(cand)
          .groupBy("cell").agg(min(col("cost")).as("cost"))
          .localCheckpoint(true)
      }
      dist
    },
    Some {
      val rounds = (1 to 12).map { r =>
        s"""d$r AS MATERIALIZED (
           |  SELECT cell, min(cost) AS cost FROM (
           |    SELECT cell, cost FROM d${r - 1}
           |    UNION ALL
           |    SELECT wt.cell, d.cost + wt.w AS cost
           |    FROM d${r - 1} d
           |    JOIN sc ON sc.src = d.cell
           |    JOIN wt ON wt.cell = sc.ocell
           |  ) GROUP BY 1
           |)""".stripMargin
      }.mkString(", ")
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), wt AS MATERIALIZED (
         |  SELECT cell, CAST(1 + least(cnt, 3) AS BIGINT) AS w FROM g
         |), sc AS MATERIALIZED (
         |  SELECT cell AS src, ((CAST(6 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 6)
         |      | CAST(((x + dx.r) % 64 + 64) % 64 AS BIGINT)) AS ocell
         |  FROM (SELECT cell, cell & 63 AS x, (cell >> 6) & 63 AS y
         |        FROM g) c,
         |    range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 63
         |    AND (dx.r != 0 OR dy.r != 0)
         |), d0 AS MATERIALIZED (
         |  SELECT cell, CAST(0 AS BIGINT) AS cost FROM g
         |  QUALIFY row_number() OVER (ORDER BY cnt DESC, cell) = 1
         |), $rounds
         |SELECT cell, cost FROM d12""".stripMargin
    })

  /** SHORTEST-PATH COUNTING (σ labels — the Brandes forward pass) — the
    * centrality leg of the graph family ([[qCostDistance]] = HOW FAR;
    * this = HOW MANY equally-short ways, the stress/betweenness
    * precursor): from the densest res-6 cell, label every cell reached
    * within K = 12 hops of queen adjacency with its BFS distance AND its
    * exact shortest-path count `σ(v) = Σ σ(u)` over predecessors u at
    * distance d(v)−1 — computed level-synchronously: round r scatters
    * ONLY the (r−1)-frontier, so the keyed sum collects exactly the
    * predecessor contributions, and an anti-join against the labeled set
    * keeps first-touch distances. σ on a diagonal grid grows like
    * lattice-path binomials (≤ C(24,12) ≈ 2.7e6 at K = 12) — exact in
    * BIGINT with orders of magnitude to spare.
    *
    * Scale shape: per round one grid-bounded ring scatter + keyed sum +
    * anti-join, frontier localCheckpoint'ed; K constant. The oracle
    * unrolls the same 12 rounds as MATERIALIZED CTE pairs. */
  private val qPathCounts = Q(
    "q_path_counts",
    (s, dir) => {
      import graft.geo.{functions => G}
      val occ = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      // top-1 source via TakeOrderedAndProject (see q_cost_distance)
      var lab = occ.orderBy(col("cnt").desc, col("cell")).limit(1)
        .select(col("cell"), lit(0L).as("dist"), lit(1L).as("sigma"))
        .localCheckpoint(true)
      var frontier = lab
      for (r <- 1 to 12) {
        val cand = frontier
          .select(col("cell").as("src"), col("sigma"),
            explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
          .where(col("cell") =!= col("src"))
          .join(occ.select("cell"), Seq("cell"))
          .groupBy("cell").agg(sum(col("sigma")).as("sigma"))
        frontier = cand
          .join(lab.select("cell"), Seq("cell"), "left_anti")
          .select(col("cell"), lit(r.toLong).as("dist"), col("sigma"))
          .localCheckpoint(true)
        lab = lab.unionAll(frontier).localCheckpoint(true)
      }
      lab
    },
    Some {
      val rounds = (1 to 12).map { r =>
        s"""f$r AS MATERIALIZED (
           |  SELECT cand.cell, CAST($r AS BIGINT) AS dist, cand.sigma
           |  FROM (
           |    SELECT sc.ocell AS cell, CAST(sum(f.sigma) AS BIGINT) AS sigma
           |    FROM f${r - 1} f
           |    JOIN sc ON sc.src = f.cell
           |    JOIN g ON g.cell = sc.ocell
           |    GROUP BY 1
           |  ) cand
           |  WHERE cand.cell NOT IN (SELECT cell FROM lab${r - 1})
           |), lab$r AS MATERIALIZED (
           |  SELECT * FROM lab${r - 1} UNION ALL SELECT * FROM f$r
           |)""".stripMargin
      }.mkString(", ")
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), sc AS MATERIALIZED (
         |  SELECT cell AS src, ((CAST(6 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 6)
         |      | CAST(((x + dx.r) % 64 + 64) % 64 AS BIGINT)) AS ocell
         |  FROM (SELECT cell, cell & 63 AS x, (cell >> 6) & 63 AS y
         |        FROM g) c,
         |    range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 63
         |    AND (dx.r != 0 OR dy.r != 0)
         |), f0 AS MATERIALIZED (
         |  SELECT cell, CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS sigma
         |  FROM g QUALIFY row_number() OVER (ORDER BY cnt DESC, cell) = 1
         |), lab0 AS MATERIALIZED (SELECT * FROM f0), $rounds
         |SELECT cell, dist, sigma FROM lab12""".stripMargin
    })

  /** DIURNAL PROFILE PER CELL — the periodicity leg of the temporal
    * family (Mann-Kendall/Theil–Sen = day-over-day trend; this =
    * WITHIN-day rhythm): per occupied res-4 cell the hour-of-day event
    * histogram, rolled to total mass, peak hour (argmax, tie → smallest
    * hour), peak count, and an integer concentration verdict
    * `peak_cnt·24 > 2·n` (is the peak more than 2× the uniform share —
    * exact cross-multiplication, no division). One event-sized
    * (cell, hour) groupBy with map-side combine, then CELL-keyed ≤24-row
    * windows — the dense-daily contract with hours as the panel. */
  private val qDiurnalProfile = Q(
    "q_diurnal_profile",
    (s, dir) => {
      val eh = eventPositions(s, dir, 4)
        .groupBy(col("cell"),
          (floor(unix_micros(col("ts").cast("timestamp")) / lit(3600000000L))
            % 24).cast("long").as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("cell")
      val wr = wc.orderBy(col("cnt").desc, col("hour"))
      eh.withColumn("n", sum(col("cnt")).over(wc))
        .withColumn("rn", row_number().over(wr))
        .where(col("rn") === 1)
        .select(col("cell"), col("n"), col("hour").as("peak_hour"),
          col("cnt").as("peak_cnt"),
          (col("cnt") * 24 > col("n") * 2).as("concentrated"))
    },
    Some(
      s"""WITH ${eventCellCtes(4)}, eh AS (
         |  SELECT cell,
         |    CAST(floor(epoch_us(ts) / 3600000000) % 24 AS BIGINT) AS hour,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM pc GROUP BY 1, 2
         |)
         |SELECT cell, n, hour AS peak_hour, cnt AS peak_cnt,
         |  cnt * 24 > n * 2 AS concentrated
         |FROM (
         |  SELECT cell, hour, cnt,
         |    CAST(sum(cnt) OVER (PARTITION BY cell) AS BIGINT) AS n,
         |    row_number() OVER
         |      (PARTITION BY cell ORDER BY cnt DESC, hour) AS rn
         |  FROM eh
         |) WHERE rn = 1""".stripMargin))

  /** BANDED DTW RHYTHM CONFORMITY — dynamic time warping (Sakoe–Chiba
    * band ±2h) between each occupied res-5 cell's 24-hour event profile
    * and its res-4 PARENT's profile: does the sub-tile follow its
    * region's diurnal rhythm, tolerating small phase shifts a pointwise
    * distance would punish? Scale-free integer cost
    * `c(i,j) = |a_i·B − b_j·A|` (cross-multiplied proportions — exact
    * BIGINT, ≤ ~1e10 per step, no division), DP over the banded 24×24
    * grid. The recurrence is evaluated in its WITHIN-ROW-EXPANDED form
    * `dp[i][j] = min_m [ Σ_{t=m..j} c(i,t) + min(dp[i−1][m], dp[i−1][m−1]) ]`
    * (≤ 5 terms per cell of the ±2 band) so each row depends only on
    * the previous row — both engines evaluate the IDENTICAL static
    * expression tree: Spark as one generated 24-step column fold,
    * DuckDB as 24 generated chained CTEs over a wide cost table.
    * Emitted per cell: its parent and the exact DTW cost `dtw_q`.
    *
    * Scale shape: one event-sized (cell, hour) groupBy; the profile
    * arrays are 24 conditional sums in the same aggregate; the
    * cell→parent join is keyed and grid-bounded; the whole DP is a
    * map-side projection over |occupied| rows. */
  private val qDtwProfile = Q(
    "q_dtw_profile",
    (s, dir) => {
      import graft.geo.{functions => G}
      val hourly = eventPositions(s, dir, 5)
        .groupBy(col("cell"),
          (floor(unix_micros(col("ts").cast("timestamp")) / lit(3600000000L))
            % 24).cast("long").as("hour"))
        .agg(count(lit(1)).as("cnt"))
      def profile(df: DataFrame, key: org.apache.spark.sql.Column, keyName: String) = df
        .groupBy(key.as(keyName))
        .agg(
          array((0 until 24).map(h =>
            sum(when(col("hour") === h, col("cnt")).otherwise(0L))): _*)
            .as(s"p_$keyName"),
          sum(col("cnt")).as(s"t_$keyName"))
      val pa = profile(hourly, col("cell"), "cell")
      val pb = profile(
        hourly.withColumn("p4", G.cell_parent_at(col("cell"), 4)),
        col("p4"), "p4")
      val joined = pa
        .withColumn("p4", G.cell_parent_at(col("cell"), 4))
        .join(pb, Seq("p4"))
      def aAt(i: Int) = element_at(col("p_cell"), i + 1)
      def bAt(j: Int) = element_at(col("p_p4"), j + 1)
      def cost(i: Int, j: Int) =
        abs(aAt(i) * col("t_p4") - bAt(j) * col("t_cell"))
      def band(i: Int) = math.max(0, i - 2) to math.min(23, i + 2)
      // each dp cell is a NAMED column (d<i>_<j>) so cross-row references
      // are attributes, not inlined Column trees — inlining multiplies the
      // expression DAG ~5x per row and OOMs the analyzer by row ~10
      // (measured); CollapseProject keeps multiply-referenced non-cheap
      // aliases un-collapsed, so the plan stays linear in rows x band
      var df = joined
      for (j <- band(0)) df = df.withColumn(s"d0_$j",
        (0 to j).map(t => cost(0, t)).reduce(_ + _))
      for (i <- 1 to 23; j <- band(i)) {
        val terms = band(i).filter(_ <= j).flatMap { m =>
          val prevRefs = Seq(m, m - 1).filter(band(i - 1).contains)
            .map(k => col(s"d${i - 1}_$k"))
          if (prevRefs.isEmpty) None
          else {
            val pmin = prevRefs.reduce((x, y) => least(x, y))
            Some((m to j).map(t => cost(i, t)).reduce(_ + _) + pmin)
          }
        }
        df = df.withColumn(s"d${i}_$j",
          terms.reduce((x, y) => least(x, y)))
      }
      df.select(col("cell"), col("p4"), col("d23_23").as("dtw_q"))
    },
    Some {
      def band(i: Int) = math.max(0, i - 2) to math.min(23, i + 2)
      // wide cost table: one row per cell, columns c_<i>_<j> over the band
      val costCols = (0 to 23).flatMap(i => band(i).map(j =>
        s"abs(a$i * tb - b$j * ta) AS c_${i}_$j")).mkString(",\n    ")
      val r0 = band(0).map { j =>
        val sum = (0 to j).map(t => s"c_0_$t").mkString(" + ")
        s"$sum AS d$j"
      }.mkString(", ")
      val rows = (1 to 23).map { i =>
        val cols = band(i).map { j =>
          val terms = band(i).filter(_ <= j).flatMap { m =>
            val prevRefs = Seq(m, m - 1).filter(band(i - 1).contains)
              .map(k => s"p.d$k")
            if (prevRefs.isEmpty) None
            else {
              val pmin =
                if (prevRefs.size == 1) prevRefs.head
                else s"least(${prevRefs.mkString(", ")})"
              val csum = (m to j).map(t => s"cw.c_${i}_$t").mkString(" + ")
              Some(s"($csum + $pmin)")
            }
          }
          val body =
            if (terms.size == 1) terms.head else s"least(${terms.mkString(", ")})"
          s"$body AS d$j"
        }.mkString(", ")
        s"""r$i AS (
           |  SELECT cw.cell, $cols
           |  FROM r${i - 1} p JOIN cw ON cw.cell = p.cell
           |)""".stripMargin
      }.mkString(", ")
      val aCols = (0 to 23).map(h =>
        s"CAST(sum(CASE WHEN hour = $h THEN cnt ELSE 0 END) AS BIGINT) AS a$h")
        .mkString(",\n    ")
      val bCols = (0 to 23).map(h =>
        s"CAST(sum(CASE WHEN hour = $h THEN cnt ELSE 0 END) AS BIGINT) AS b$h")
        .mkString(",\n    ")
      s"""WITH ${eventCellCtes(5)}, eh AS (
         |  SELECT cell,
         |    CAST(floor(epoch_us(ts) / 3600000000) % 24 AS BIGINT) AS hour,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM pc GROUP BY 1, 2
         |), pa AS (
         |  SELECT cell,
         |    $aCols,
         |    CAST(sum(cnt) AS BIGINT) AS ta
         |  FROM eh GROUP BY 1
         |), pb AS (
         |  SELECT ((CAST(4 AS BIGINT) << 58)
         |      | ((((cell >> 5) & 31) >> 1) << 4)
         |      | ((cell & 31) >> 1)) AS p4,
         |    $bCols,
         |    CAST(sum(cnt) AS BIGINT) AS tb
         |  FROM eh GROUP BY 1
         |), cw AS MATERIALIZED (
         |  SELECT pa.cell,
         |    ((CAST(4 AS BIGINT) << 58)
         |      | ((((pa.cell >> 5) & 31) >> 1) << 4)
         |      | ((pa.cell & 31) >> 1)) AS p4,
         |    $costCols
         |  FROM pa JOIN pb ON pb.p4 = ((CAST(4 AS BIGINT) << 58)
         |      | ((((pa.cell >> 5) & 31) >> 1) << 4)
         |      | ((pa.cell & 31) >> 1))
         |), r0 AS (
         |  SELECT cell, $r0 FROM cw
         |), $rows
         |SELECT cw.cell, cw.p4, r23.d23 AS dtw_q
         |FROM r23 JOIN cw ON cw.cell = r23.cell""".stripMargin
    })

  /** QUADRAT VARIANCE-TO-MEAN TEST — the oldest point-pattern statistic
    * (Student 1907; clustered vs uniform vs regular): counts over the
    * FULL fixed res-5 grid (32×32 = 1024 quadrats, empties included —
    * a fixed universe makes the test well-defined; occupied-only would
    * bias VMR toward uniform), emitting the exact integer factors of
    * VMR = s²/x̄: n, Σx, Σx², the variance numerator
    * `n·Σx² − (Σx)²`, and the clustered verdict
    * `n·Σx² − (Σx)² > Σx·(n−1)` (⇔ VMR > 1, cross-multiplied — no
    * division). One event-sized groupBy then a single-row rollup. */
  private val qQuadrat = Q(
    "q_quadrat",
    (s, dir) => {
      import graft.geo.{functions => G}
      Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 5))
        .groupBy("cell").agg(count(lit(1)).as("x"))
        .agg(sum(col("x")).as("sum_x"),
          sum(col("x") * col("x")).as("sum_x2"))
        .select(lit(1024L).as("n"), col("sum_x"), col("sum_x2"),
          (lit(1024L) * col("sum_x2") - col("sum_x") * col("sum_x"))
            .as("var_num"),
          (lit(1024L) * col("sum_x2") - col("sum_x") * col("sum_x") >
            col("sum_x") * lit(1023L)).as("clustered"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(5)} AS cell, CAST(count(*) AS BIGINT) AS x
         |  FROM images GROUP BY 1
         |), a AS (
         |  SELECT CAST(sum(x) AS BIGINT) AS sum_x,
         |    CAST(sum(x * x) AS BIGINT) AS sum_x2 FROM g
         |)
         |SELECT CAST(1024 AS BIGINT) AS n, sum_x, sum_x2,
         |  1024 * sum_x2 - sum_x * sum_x AS var_num,
         |  1024 * sum_x2 - sum_x * sum_x > sum_x * 1023 AS clustered
         |FROM a""".stripMargin))

  /** MAXIMAL OCCUPIED SQUARE — the largest-contiguous-block analytic
    * (site selection / coverage QA: "where could an s×s fully-covered
    * window sit?"), computed with SEPARABLE EROSION instead of the
    * classic sequential DP (dp needs the left/up/diag neighbor — a
    * recurrence a distributed engine can't run row-major): per cell the
    * horizontal run ending there (gaps-and-islands: x − row_number
    * groups each row's consecutive stretch, all ROW-keyed windows),
    * then for k ≤ 8 a windowed MIN of runs over the k vertically
    * CONTIGUOUS rows above (vertical islands by y − row_number keep
    * holes out of the frame; count == k guards short windows):
    * `s = max k: count_k = k ∧ min_k(run) ≥ k` anchors a full k×k
    * block with (x, y) its bottom-right corner. Emits the top-10
    * anchors by (s, cell). Everything is a cell-, row- or
    * column-keyed window over the occupied grid — no partitionless
    * window, no theta join, no iteration.
    *
    * K = 8 is the configured cap (both engines identical); the top-k is
    * TakeOrderedAndProject (per-partition heap). */
  private val qMaxSquare = Q(
    "q_max_square",
    (s, dir) => {
      import graft.geo.{functions => G}
      val occ = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .select(col("cell"),
          col("cell").bitwiseAND(lit(63L)).as("x"),
          shiftright(col("cell"), 6).bitwiseAND(lit(63L)).as("y"))
      val wRow = Window.partitionBy("y").orderBy("x")
      val withRun = occ
        .withColumn("hgrp", col("x") - row_number().over(wRow))
        .withColumn("run", row_number().over(
          Window.partitionBy("y", "hgrp").orderBy("x")))
        .withColumn("vgrp", col("y") - row_number().over(
          Window.partitionBy("x").orderBy("y")))
      def wk(k: Int) = Window.partitionBy("x", "vgrp").orderBy("y")
        .rowsBetween(-(k - 1), 0)
      val withMins = (2 to 8).foldLeft(withRun) { (df, k) =>
        df.withColumn(s"m$k", min(col("run")).over(wk(k)))
          .withColumn(s"c$k", count(lit(1)).over(wk(k)))
      }
      val sCol = (2 to 8).foldLeft(lit(1)) { (acc, k) =>
        when(col(s"c$k") === k && col(s"m$k") >= k, lit(k)).otherwise(acc)
      }
      withMins.select(col("cell"), col("x"), col("y"), sCol.as("s"))
        .orderBy(col("s").desc, col("cell"))
        .limit(10)
    },
    Some {
      val minCols = (2 to 8).map(k =>
        s"""min(run) OVER (PARTITION BY x, vgrp ORDER BY y
           |      ROWS BETWEEN ${k - 1} PRECEDING AND CURRENT ROW) AS m$k,
           |    count(*) OVER (PARTITION BY x, vgrp ORDER BY y
           |      ROWS BETWEEN ${k - 1} PRECEDING AND CURRENT ROW) AS c$k"""
          .stripMargin).mkString(",\n    ")
      val sExpr = (8 to 2 by -1).map(k =>
        s"WHEN c$k = $k AND m$k >= $k THEN $k").mkString(
        "CASE ", " ", " ELSE 1 END")
      s"""$cte, occ AS (
         |  SELECT cell, cell & 63 AS x, (cell >> 6) & 63 AS y
         |  FROM (SELECT DISTINCT ${cellSql(6)} AS cell FROM images)
         |), runs AS (
         |  SELECT cell, x, y,
         |    row_number() OVER (PARTITION BY y, hgrp ORDER BY x) AS run,
         |    y - row_number() OVER (PARTITION BY x ORDER BY y) AS vgrp
         |  FROM (
         |    SELECT cell, x, y,
         |      x - row_number() OVER (PARTITION BY y ORDER BY x) AS hgrp
         |    FROM occ
         |  )
         |), wins AS (
         |  SELECT cell, x, y,
         |    $minCols
         |  FROM runs
         |)
         |SELECT cell, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
         |  CAST($sExpr AS INTEGER) AS s
         |FROM wins
         |ORDER BY s DESC, cell LIMIT 10""".stripMargin
    })

  /** QUADTREE PACKING of the occupancy mask — the R-tree/quadtree node
    * coalescing step of a spatial index build (store ONE node for a
    * fully-occupied quad instead of 4^d leaves): bottom-up over res
    * 7 → 6 → 5 → 4, a parent is FULL iff all 4 children are full
    * (leaves: occupied), and the emitted covering set is every full
    * node whose parent is NOT full plus every occupied leaf whose
    * parent is not full — a disjoint exact cover of the occupied set,
    * proven by the oracle hash (any wrong merge changes the cover).
    * Emitted: (res, cell, n_leaves) with n_leaves = 4^(7−res).
    *
    * Scale shape: three keyed parent groupBys (each a 4-row count per
    * parent, grid-bounded and shrinking 4× per level) + keyed anti
    * joins — the pyramid-rollup contract applied to the index itself. */
  private val qQuadtreePack = Q(
    "q_quadtree_pack",
    (s, dir) => {
      import graft.geo.{functions => G}
      val l7 = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .select("cell").localCheckpoint(true)
      // parent id of a res-`res` cell (layout: res<<58 | y<<res | x,
      // res-bit axes; the parent halves both axes)
      def up(res: Int) = {
        val m = (1 << res) - 1
        expr(s"(cast(${res - 1} as bigint) << 58)" +
          s" | ((((cell >> $res) & $m) >> 1) << ${res - 1})" +
          s" | (((cell & $m) >> 1))")
      }
      def fulls(children: DataFrame, res: Int): DataFrame =
        children.select(up(res).as("cell"))
          .groupBy("cell").agg(count(lit(1)).as("nc"))
          .where(col("nc") === 4).select("cell").localCheckpoint(true)
      val f6 = fulls(l7, 7)
      val f5 = fulls(f6, 6)
      val f4 = fulls(f5, 5)
      // emit: nodes whose PARENT is not in the next full set
      def emit(nodes: DataFrame, res: Int, nextFull: DataFrame) =
        nodes.withColumn("p", up(res))
          .join(nextFull.select(col("cell").as("p")), Seq("p"), "left_anti")
          .select(lit(res).as("res"), col("cell"),
            lit(math.pow(4, 7 - res).toLong).as("n_leaves"))
      emit(l7, 7, f6)
        .unionAll(emit(f6, 6, f5))
        .unionAll(emit(f5, 5, f4))
        .unionAll(f4.select(lit(4).as("res"), col("cell"),
          lit(64L).as("n_leaves")))
    },
    Some {
      def upSql(res: Int) = {
        val m = (1 << res) - 1
        s"((CAST(${res - 1} AS BIGINT) << 58) |" +
          s" ((((cell >> $res) & $m) >> 1) << ${res - 1}) |" +
          s" ((cell & $m) >> 1))"
      }
      s"""$cte, l7 AS (
         |  SELECT ${cellSql(7)} AS cell FROM images GROUP BY 1
         |), f6 AS (
         |  SELECT cell FROM (
         |    SELECT ${upSql(7)} AS cell, count(*) AS nc FROM l7 GROUP BY 1
         |  ) WHERE nc = 4
         |), f5 AS (
         |  SELECT cell FROM (
         |    SELECT ${upSql(6)} AS cell, count(*) AS nc FROM f6 GROUP BY 1
         |  ) WHERE nc = 4
         |), f4 AS (
         |  SELECT cell FROM (
         |    SELECT ${upSql(5)} AS cell, count(*) AS nc FROM f5 GROUP BY 1
         |  ) WHERE nc = 4
         |)
         |SELECT CAST(7 AS INTEGER) AS res, cell, CAST(1 AS BIGINT) AS n_leaves
         |FROM l7 WHERE ${upSql(7)} NOT IN (SELECT cell FROM f6)
         |UNION ALL
         |SELECT 6, cell, 4 FROM f6
         |WHERE ${upSql(6)} NOT IN (SELECT cell FROM f5)
         |UNION ALL
         |SELECT 5, cell, 16 FROM f5
         |WHERE ${upSql(5)} NOT IN (SELECT cell FROM f4)
         |UNION ALL
         |SELECT 4, cell, 64 FROM f4""".stripMargin
    })

  /** INTER-ARRIVAL PROFILE PER USER — the traffic-shape statistic of the
    * events family (bursty vs steady senders; the rate-limiting /
    * anomaly-baseline input): per user the event count, exact integer
    * MICROSECOND gaps between consecutive events (one user-keyed lead
    * window), and the rank-based LOWER median and lower p90 gap (rank
    * ⌈n/2⌉ and ⌈9n/10⌉ — integer order statistics; an interpolated
    * percentile would hash a float). Users with one event have no gap
    * and are absent (inner semantics).
    *
    * Scale shape: one user-keyed window + user-keyed rank windows over
    * each user's own gaps — thousands of independent partitions, no
    * global sort. */
  private val qInterarrival = Q(
    "q_interarrival",
    (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gaps = ev
        .withColumn("nxt",
          lead(unix_micros(col("ts").cast("timestamp")), 1).over(w))
        .where(col("nxt").isNotNull)
        .select(col("user_id"),
          (col("nxt") - unix_micros(col("ts").cast("timestamp")))
            .as("gap_us"))
      val wu = Window.partitionBy("user_id")
      val wr = wu.orderBy(col("gap_us"))
      gaps
        .withColumn("n_gaps", count(lit(1)).over(wu))
        .withColumn("rn", row_number().over(wr))
        .withColumn("med",
          max(when(col("rn") === expr("(n_gaps + 1) div 2"),
            col("gap_us"))).over(wu))
        .withColumn("p90",
          max(when(col("rn") === expr("(9 * n_gaps + 9) div 10"),
            col("gap_us"))).over(wu))
        .where(col("rn") === 1)
        .select(col("user_id"), col("n_gaps"),
          col("med").as("med_gap_us"), col("p90").as("p90_gap_us"))
    },
    Some(
      s"""WITH gaps AS (
         |  SELECT user_id,
         |    lead(epoch_us(ts)) OVER
         |      (PARTITION BY user_id ORDER BY ts, event_id)
         |      - epoch_us(ts) AS gap_us
         |  FROM events
         |  QUALIFY gap_us IS NOT NULL
         |), rk AS (
         |  SELECT user_id, gap_us,
         |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_gaps,
         |    row_number() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn
         |  FROM gaps
         |)
         |SELECT user_id, n_gaps,
         |  CAST(max(CASE WHEN rn = (n_gaps + 1) // 2 THEN gap_us END)
         |    AS BIGINT) AS med_gap_us,
         |  CAST(max(CASE WHEN rn = (9 * n_gaps + 9) // 10 THEN gap_us END)
         |    AS BIGINT) AS p90_gap_us
         |FROM rk GROUP BY 1, 2""".stripMargin))

  /** MARKET-BASKET PAIR MINING ON THE GRID (Apriori level 2) — the
    * co-occurrence miner of the events family: baskets are (res-5 cell,
    * user) pairs, items their distinct event types; per cell the TOP
    * co-occurring type pair by support (# users exhibiting both types in
    * the cell; tie → lexicographic pair), with the basket count. The
    * within-basket pair join is keyed on the BASKET (≤5 items ⇒ ≤10
    * pairs per basket — bounded fanout, never a theta join); the argmax
    * is a cell-keyed ≤10-row window. All counting, all integer.
    *
    * Scale shape: one event-sized distinct (cell, user, type) pass, one
    * basket-keyed equi-join with constant fanout, one composite-key
    * groupBy with map-side combine — the OD-matrix contract with item
    * pairs as the composite. */
  private val qBasketPairs = Q(
    "q_basket_pairs",
    (s, dir) => {
      val items = eventPositions(s, dir, 5)
        .select(col("cell"), col("user_id"), col("event_type")).distinct()
      val sup = items.as("a")
        .join(items.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.cell").as("cell"),
          col("a.event_type").as("t1"), col("b.event_type").as("t2"))
        .agg(count(lit(1)).as("support"))
      val baskets = items.select("cell", "user_id").distinct()
        .groupBy("cell").agg(count(lit(1)).as("n_baskets"))
      val wr = Window.partitionBy("cell")
        .orderBy(col("support").desc, col("t1"), col("t2"))
      sup.withColumn("rn", row_number().over(wr))
        .where(col("rn") === 1)
        .join(baskets, Seq("cell"))
        .select(col("cell"), col("t1"), col("t2"), col("support"),
          col("n_baskets"))
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, items AS (
         |  SELECT DISTINCT cell, user_id, event_type FROM pc
         |), sup AS (
         |  SELECT a.cell, a.event_type AS t1, b.event_type AS t2,
         |    CAST(count(*) AS BIGINT) AS support
         |  FROM items a JOIN items b
         |    ON b.cell = a.cell AND b.user_id = a.user_id
         |      AND a.event_type < b.event_type
         |  GROUP BY 1, 2, 3
         |), bk AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_baskets
         |  FROM (SELECT DISTINCT cell, user_id FROM items) GROUP BY 1
         |)
         |SELECT s.cell, s.t1, s.t2, s.support, bk.n_baskets
         |FROM (
         |  SELECT cell, t1, t2, support, row_number() OVER
         |    (PARTITION BY cell ORDER BY support DESC, t1, t2) AS rn
         |  FROM sup
         |) s JOIN bk ON bk.cell = s.cell
         |WHERE s.rn = 1""".stripMargin))

  /** RENDEZVOUS (HRW) HASH ASSIGNMENT — the consistent-placement
    * operator of a distributed tile store (which worker owns which
    * tile, stable under worker churn: removing one worker moves ONLY its
    * own tiles — the property plain modulo hashing lacks): per occupied
    * res-6 cell the argmax over 8 workers of the integer LCG score
    * `((cell + w·1000003)·A + C) mod 2³¹` (the corpus's public LCG
    * constants; exact BIGINT on both engines), tie → smaller worker.
    * Emitted per cell with its winning score — a hash match proves every
    * single placement, not just the load histogram.
    *
    * Scale shape: the 8-way candidate fanout is a literal explode,
    * scored map-side; the argmax is a CELL-keyed 8-row window. Beyond
    * the one density groupBy nothing is event-sized. */
  private val qHrwAssign = Q(
    "q_hrw_assign",
    (s, dir) => {
      import graft.geo.{functions => G}
      val occ = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val wr = Window.partitionBy("cell")
        .orderBy(col("score").desc, col("wkr"))
      occ.select(col("cell"),
          explode(expr("sequence(0L, 7L)")).as("wkr"))
        .withColumn("score",
          expr("((cell % 2147483648 + wkr * 1000003) * 1103515245 + 12345)" +
            " % 2147483648"))
        .withColumn("rn", row_number().over(wr))
        .where(col("rn") === 1)
        .select(col("cell"), col("wkr"), col("score"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), cand AS (
         |  SELECT cell, CAST(w.r AS BIGINT) AS wkr,
         |    ((cell % 2147483648 + w.r * 1000003) * 1103515245 + 12345)
         |      % 2147483648 AS score
         |  FROM g, range(0, 8) w(r)
         |)
         |SELECT cell, wkr, CAST(score AS BIGINT) AS score
         |FROM cand
         |QUALIFY row_number() OVER
         |  (PARTITION BY cell ORDER BY score DESC, wkr) = 1""".stripMargin))

  /** EQUI-DEPTH RANGE BOUNDARIES — the range-partitioner PLANNING step
    * (the 32 split keys that would balance a sort/range-shuffle of the
    * corpus over its cell-key order; what Spark's RangePartitioner
    * samples for, computed exactly): boundary i (1..32) = the smallest
    * res-7 cell whose cumulative row count reaches ⌈i·N/32⌉. The
    * cumulative distribution uses the q_token_dist device — a keyed
    * histogram plus a BROADCAST range join over the grid-bounded cell
    * set (SignatureSpec forbids partitionless windows, and none is
    * used here). All integer: targets by ceil-division
    * `(i·N + 31) div 32`, boundaries by min-cell-over-threshold.
    *
    * Scale shape: one event-sized keyed groupBy to the occupied grid;
    * the cumulative join is |grid|² worst-case but BROADCAST and
    * grid-bounded (never event-sized); the 32 targets are a literal. */
  private val qEquidepthBounds = Q(
    "q_equidepth_bounds",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val cum = g.as("a")
        .join(broadcast(g.select(col("cell").as("c2"), col("cnt").as("n2"))),
          col("c2") <= col("a.cell"))
        .groupBy(col("a.cell").as("cell"))
        .agg(sum(col("n2")).as("cum"))
      val tot = g.agg(sum(col("cnt")).as("n"))
      val targets = tot.select(col("n"),
        explode(expr("sequence(1L, 32L)")).as("i"))
        .select(col("i"), col("n"),
          expr("(i * n + 31) div 32").as("target"))
      broadcast(targets).join(cum, col("cum") >= col("target"))
        .groupBy(col("i"), col("n"), col("target"))
        .agg(min(col("cell")).as("boundary"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS cnt
         |  FROM images GROUP BY 1
         |), cum AS (
         |  SELECT a.cell, CAST(sum(b.cnt) AS BIGINT) AS cum
         |  FROM g a JOIN g b ON b.cell <= a.cell GROUP BY 1
         |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM g),
         |targets AS (
         |  SELECT CAST(i.r AS BIGINT) AS i, n,
         |    (i.r * n + 31) // 32 AS target
         |  FROM tot, range(1, 33) i(r)
         |)
         |SELECT t.i, t.n, CAST(t.target AS BIGINT) AS target,
         |  min(c.cell) AS boundary
         |FROM targets t JOIN cum c ON c.cum >= t.target
         |GROUP BY 1, 2, 3""".stripMargin))

  /** HIERARCHICAL CHILD-OCCUPANCY BITMAP — the bitmap-index leg of the
    * pyramid family (per res-4 parent, WHICH of its 64 res-7 descendants
    * are occupied — the roaring-bitmap-style membership summary that
    * answers "does this coarse tile have data in sub-region X" without
    * touching leaves): child index `(y₇ & 7)·8 + (x₇ & 7)`, packed as
    * two 32-bit halves (`mask_lo`, `mask_hi` — BIGINT shifts of 1<<63
    * overflow differently across engines; two positive halves are
    * portable), each the SUM of distinct one-hot bits (children are
    * distinct after the grid groupBy, so sum ≡ bit_or), plus the
    * popcount. Map-side bit math on the occupied grid + one parent-keyed
    * groupBy — grid-bounded end to end after the density pass. */
  private val qChildBitmap = Q(
    "q_child_bitmap",
    (s, dir) => {
      import graft.geo.{functions => G}
      Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .select(
          expr("(cast(4 as bigint) << 58) | ((((cell >> 7) & 127) >> 3) << 4)" +
            " | ((cell & 127) >> 3)").as("p4"),
          expr("((cell >> 7) & 7) * 8 + (cell & 7)").as("idx"))
        .groupBy("p4")
        .agg(
          sum(expr("case when idx < 32 then shiftleft(1L, cast(idx as int))" +
            " else 0L end")).as("mask_lo"),
          sum(expr("case when idx >= 32 then" +
            " shiftleft(1L, cast(idx as int) - 32) else 0L end"))
            .as("mask_hi"),
          count(lit(1)).as("n_child"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), ch AS (
         |  SELECT ((CAST(4 AS BIGINT) << 58)
         |      | ((((cell >> 7) & 127) >> 3) << 4)
         |      | ((cell & 127) >> 3)) AS p4,
         |    ((cell >> 7) & 7) * 8 + (cell & 7) AS idx
         |  FROM g
         |)
         |SELECT p4,
         |  CAST(sum(CASE WHEN idx < 32
         |    THEN (CAST(1 AS BIGINT) << CAST(idx AS INTEGER))
         |    ELSE 0 END) AS BIGINT) AS mask_lo,
         |  CAST(sum(CASE WHEN idx >= 32
         |    THEN (CAST(1 AS BIGINT) << (CAST(idx AS INTEGER) - 32))
         |    ELSE 0 END) AS BIGINT) AS mask_hi,
         |  CAST(count(*) AS BIGINT) AS n_child
         |FROM ch GROUP BY 1""".stripMargin))

  /** REGION BOUNDARY EXTRACTION — the perimeter of the dense-cell mask
    * (the raster step toward vectorizing [[qHotspotRegions]]'s regions):
    * a dense res-7 cell (cnt >= 6, the DBSCAN core predicate) is a
    * BOUNDARY cell iff fewer than all 8 queen neighbors are dense
    * (morphological erosion complement). Emitted with its dense-neighbor
    * count. Same grid-bounded scatter + keyed join as the whole stats
    * family; the corpus is scanned once. */
  private val qRegionEdges = Q(
    "q_region_edges",
    (s, dir) => {
      import graft.geo.{functions => G}
      val dense = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 6)
      val nbrs = dense.select(col("cell").as("src"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .where(col("cell") =!= col("src"))
        .join(dense.select("cell"), Seq("cell"))
        .groupBy(col("src")).agg(count(lit(1)).as("n_dense_nbrs"))
      dense.join(nbrs, dense("cell") === nbrs("src"), "left_outer")
        .select(col("cell"), col("cnt"),
          coalesce(col("n_dense_nbrs"), lit(0L)).as("n_dense_nbrs"))
        .where(col("n_dense_nbrs") < 8)
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), dense AS (
         |  SELECT cell, cnt, cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g WHERE cnt >= 6
         |), sc AS (
         |  SELECT cell AS src, ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell
         |  FROM dense, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |    AND (dx.r != 0 OR dy.r != 0)
         |), nb AS (
         |  SELECT sc.src, CAST(count(*) AS BIGINT) AS n_dense_nbrs
         |  FROM sc JOIN dense d ON d.cell = sc.ocell GROUP BY 1
         |)
         |SELECT dense.cell, CAST(cnt AS BIGINT) AS cnt,
         |  coalesce(n_dense_nbrs, 0) AS n_dense_nbrs
         |FROM dense LEFT JOIN nb ON nb.src = dense.cell
         |WHERE coalesce(n_dense_nbrs, 0) < 8""".stripMargin))

  /** BIVARIATE SPATIAL CROSS-CORRELATION FACTORS — the two-variable LISA
    * (bivariate Moran shape): does IMAGE density co-locate with
    * neighboring EVENT density? Universe = occupied image cells at res 6
    * (documented; empty-image cells carry no x value). Emitted per cell,
    * all integer-scaled: dev_x = n·xᵢ − Σx (image deviation over its
    * universe) and dev_lagy, the sign of the neighbors' event mean minus
    * the global event mean over the EVENT raster's own occupied-cell
    * universe: sign(lag_y/n_nbrs − Σy/n_yc) = sign(n_yc·lag_y −
    * n_nbrs·Σy) — exact integer cross-multiplication, no division.
    * Quadrant from the two signs as in [[qLisaQuadrants]]. Two binning
    * scans (one per
    * dataset), grid-bounded scatter, keyed joins — the cross-variable
    * generalization costs one extra groupBy. */
  private val qBivarMoran = Q(
    "q_bivar_moran",
    (s, dir) => {
      import graft.geo.{functions => G}
      val gx = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("x"))
      val gy = eventPositions(s, dir, 6)
        .groupBy("cell").agg(count(lit(1)).as("y"))
      val lag = gx.select(col("cell").as("src"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .where(col("cell") =!= col("src"))
        .join(gy, Seq("cell"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_nbrs"), sum(col("y")).as("lag_y"))
      val sx = gx.agg(count(lit(1)).as("n"), sum(col("x")).as("sumx"))
      val sy = gy.agg(count(lit(1)).as("n_yc"), sum(col("y")).as("sumy"))
      gx.join(lag, gx("cell") === lag("src"), "left_outer")
        .crossJoin(sx).crossJoin(sy)
        .select(col("cell"), col("x"),
          coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"),
          coalesce(col("lag_y"), lit(0L)).as("lag_y"),
          (col("n") * col("x") - col("sumx")).as("dev_x"),
          (col("n_yc") * coalesce(col("lag_y"), lit(0L)) -
            coalesce(col("n_nbrs"), lit(0L)) * col("sumy")).as("dev_lagy"))
        .withColumn("quadrant",
          when(col("dev_x") > 0 && col("dev_lagy") > 0, 1)
            .when(col("dev_x") <= 0 && col("dev_lagy") <= 0, 2)
            .when(col("dev_x") > 0, 3).otherwise(4))
    },
    Some(
      s"""$cte, ${eventCellCtes(6)}, gx AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS x
         |  FROM images GROUP BY 1
         |), gy AS (
         |  SELECT cell, count(*) AS y FROM pc GROUP BY 1
         |), sc AS (
         |  SELECT cell AS src, ((CAST(6 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 6)
         |      | CAST(((x + dx.r) % 64 + 64) % 64 AS BIGINT)) AS ocell
         |  FROM (SELECT cell, cell & 63 AS x, (cell >> 6) & 63 AS y
         |        FROM gx) c,
         |    range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 63
         |    AND (dx.r != 0 OR dy.r != 0)
         |), lag AS (
         |  SELECT sc.src, CAST(count(*) AS BIGINT) AS n_nbrs,
         |    CAST(sum(gy.y) AS BIGINT) AS lag_y
         |  FROM sc JOIN gy ON gy.cell = sc.ocell GROUP BY 1
         |), sx AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sumx FROM gx
         |), sy AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_yc,
         |    CAST(sum(y) AS BIGINT) AS sumy FROM gy
         |), f AS (
         |  SELECT gx.cell, CAST(gx.x AS BIGINT) AS x,
         |    coalesce(n_nbrs, 0) AS n_nbrs,
         |    coalesce(lag_y, 0) AS lag_y,
         |    sx.n * gx.x - sx.sumx AS dev_x,
         |    sy.n_yc * coalesce(lag_y, 0)
         |      - coalesce(n_nbrs, 0) * sy.sumy AS dev_lagy
         |  FROM gx LEFT JOIN lag ON lag.src = gx.cell
         |  CROSS JOIN sx CROSS JOIN sy
         |)
         |SELECT cell, x, n_nbrs, lag_y, dev_x, dev_lagy,
         |  CAST(CASE WHEN dev_x > 0 AND dev_lagy > 0 THEN 1
         |    WHEN dev_x <= 0 AND dev_lagy <= 0 THEN 2
         |    WHEN dev_x > 0 THEN 3 ELSE 4 END AS INTEGER) AS quadrant
         |FROM f""".stripMargin))

  /** LANDSCAPE EVENNESS (Simpson concentration pieces) — per res-4
    * parent region, how evenly are its points spread over its res-6
    * child cells? Emitted ALL-INTEGER per parent: occupied child count,
    * point total N, and Σc(c−1) — Simpson's concentration λ =
    * Σc(c−1)/(N(N−1)) (the landscape-ecology dominance/evenness metric;
    * the consumer's one division). Two nested keyed rollups (child bin,
    * then parent — parents are bit-slices). */
  private val qEvenness = Q(
    "q_evenness",
    (s, dir) => {
      import graft.geo.{functions => G}
      Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("c"))
        .groupBy(G.cell_parent_at(col("cell"), 4).as("parent"))
        .agg(count(lit(1)).as("n_children"),
          sum(col("c")).as("n_pts"),
          sum(col("c") * (col("c") - 1)).as("simpson_num"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS c
         |  FROM images GROUP BY 1
         |)
         |SELECT ((CAST(4 AS BIGINT) << 58)
         |    | ((((cell >> 6) & 63) >> 2) << 4)
         |    | ((cell & 63) >> 2)) AS parent,
         |  CAST(count(*) AS BIGINT) AS n_children,
         |  CAST(sum(c) AS BIGINT) AS n_pts,
         |  CAST(sum(c * (c - 1)) AS BIGINT) AS simpson_num
         |FROM g GROUP BY 1""".stripMargin))

  /** Literal route polylines for [[qRouteCorridor]] — three fixtures
    * crossing the uniform-point domain (a long diagonal, an equatorial
    * east–west run, a short hook near the hotspot). Vertex rows are
    * inlined into the oracle (the polyJoin literal-vertex discipline). */
  private val routeFixtures: Seq[(String, Seq[(Double, Double)])] = Seq(
    "r_diag" -> Seq((-40.0, -120.0), (-10.0, -60.0), (20.0, 0.0),
      (50.0, 60.0)),
    "r_equator" -> Seq((0.5, -90.0), (0.5, -30.0), (2.0, 30.0),
      (0.5, 90.0)),
    "r_hook" -> Seq((30.0, -130.0), (37.0, -122.0), (45.0, -115.0)))

  /** ROUTE-CORRIDOR JOIN (map-matching-lite) — which images lie along a
    * route? Each route polyline is rasterized edge-by-edge with the
    * Bresenham kernel ([[graft.geo.LineCells]]) at res 7, the corridor
    * is the ring-1 MORPHOLOGICAL DILATION of the line cells (≈ one-cell
    * tolerance, the [[qPolyBuffer]] operation applied to a line), and
    * membership is ONE broadcast equi-join of the binned corpus against
    * the distinct corridor cells. Per route: corridor size, images in
    * corridor. The 100 TB shape of "find assets near a route": the
    * route side is driver-small, the corpus joins keyed, nothing
    * scans geometry per point. The oracle replays vertex floors, the
    * per-edge recursive Bresenham walk, the wrapped dilation and the
    * join — the whole corridor construction cross-engine. */
  private val qRouteCorridor = Q(
    "q_route_corridor",
    (s, dir) => {
      import graft.geo.{functions => G}
      import s.implicits._
      val verts = routeFixtures.flatMap { case (rid, vs) =>
        vs.zipWithIndex.map { case ((la, lo), i) => (rid, i, la, lo) }
      }.toDF("route_id", "vidx", "lat", "lon")
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
      val w = Window.partitionBy("route_id").orderBy("vidx")
      val lineCells = verts.withColumn("prev", lag(col("cell"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("route_id"),
          explode(G.line_cells(col("prev"), col("cell"))).as("cell"))
      val corridor = lineCells
        .select(col("route_id"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .distinct()
      val img = Images.images(s, dir)
        .select(G.cell_encode(col("lat"), col("lon"), 7).as("cell"))
      img.join(broadcast(corridor), Seq("cell"))
        .groupBy("route_id").agg(count(lit(1)).as("n_images"))
        .join(corridor.groupBy("route_id")
          .agg(count(lit(1)).as("n_cells")), Seq("route_id"))
        .select("route_id", "n_cells", "n_images")
    },
    Some {
      val vrows = routeFixtures.flatMap { case (rid, vs) =>
        vs.zipWithIndex.map { case ((la, lo), i) =>
          s"('$rid', $i, ${la}::DOUBLE, ${lo}::DOUBLE)"
        }
      }.mkString(",\n    ")
      s"""${cte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |rv(route_id, vidx, lat, lon) AS (VALUES
         |    $vrows
         |), vc AS (
         |  SELECT route_id, vidx, ${cellSql(7)} AS cell FROM rv
         |), seg AS (
         |  SELECT route_id, cell,
         |    lag(cell) OVER (PARTITION BY route_id ORDER BY vidx) AS prev
         |  FROM vc
         |), segs AS (
         |  SELECT route_id, row_number() OVER () AS seg_id,
         |    prev & 127 AS x, (prev >> 7) & 127 AS y,
         |    cell & 127 AS x1, (cell >> 7) & 127 AS y1
         |  FROM seg WHERE prev IS NOT NULL
         |), walk AS (
         |  SELECT route_id, seg_id, x, y, x1, y1,
         |    abs(x1 - x) AS dx, -abs(y1 - y) AS dy,
         |    CASE WHEN x < x1 THEN 1 ELSE -1 END AS sx,
         |    CASE WHEN y < y1 THEN 1 ELSE -1 END AS sy,
         |    abs(x1 - x) - abs(y1 - y) AS err
         |  FROM segs
         |  UNION ALL
         |  SELECT route_id, seg_id,
         |    CASE WHEN 2 * err >= dy THEN x + sx ELSE x END,
         |    CASE WHEN 2 * err <= dx THEN y + sy ELSE y END,
         |    x1, y1, dx, dy, sx, sy,
         |    err + CASE WHEN 2 * err >= dy THEN dy ELSE 0 END
         |        + CASE WHEN 2 * err <= dx THEN dx ELSE 0 END
         |  FROM walk
         |  WHERE NOT (x = x1 AND y = y1)
         |), corridor AS (
         |  SELECT DISTINCT route_id,
         |    ((CAST(7 AS BIGINT) << 58)
         |     | (CAST(y + dy.r AS BIGINT) << 7)
         |     | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS cell
         |  FROM walk, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |), nc AS (
         |  SELECT route_id, CAST(count(*) AS BIGINT) AS n_cells
         |  FROM corridor GROUP BY 1
         |), ic AS (
         |  SELECT ${cellSql(7)} AS cell FROM images
         |), ni AS (
         |  SELECT route_id, CAST(count(*) AS BIGINT) AS n_images
         |  FROM corridor JOIN ic ON ic.cell = corridor.cell
         |  GROUP BY 1
         |)
         |SELECT nc.route_id, n_cells, n_images
         |FROM nc JOIN ni ON ni.route_id = nc.route_id""".stripMargin
    })

  /** USER MOVEMENT PROFILES — the per-entity feature table a downstream
    * model trains on, composed from the trajectory family in ONE pass
    * shape: per user the event count, distinct res-5 cells visited,
    * stay count (same-cell run count — the [[qStayPoints]] run algebra),
    * and total res-7 grid path length in cells (Σ Chebyshev segment
    * lengths + 1 per segment ≡ Σ Bresenham cell counts — closed form, no
    * explode needed for the LENGTH). One keyed window + one keyed
    * aggregation; every column integer. */
  private val qUserProfiles = Q(
    "q_user_profiles",
    (s, dir) => {
      val ev = eventPositions(s, dir, 7)
        .withColumn("c5", graft.geo.functions.cell_parent_at(col("cell"), 5))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev.withColumn("prev", lag(col("cell"), 1).over(w))
        .withColumn("p5", lag(col("c5"), 1).over(w))
        .withColumn("brk5",
          when(col("p5").isNull || col("p5") =!= col("c5"), 1L).otherwise(0L))
        .withColumn("path",
          when(col("prev").isNull, 0L).otherwise(greatest(
            abs(col("cell").bitwiseAND(lit(127L)) -
              col("prev").bitwiseAND(lit(127L))),
            abs(shiftrightunsigned(col("cell"), 7).bitwiseAND(lit(127L)) -
              shiftrightunsigned(col("prev"), 7).bitwiseAND(lit(127L))))
            + 1))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("c5")).as("n_cells5"),
          sum(col("brk5")).as("n_stays5"),
          sum(col("path")).as("path_cells"))
    },
    Some(
      s"""WITH ${eventCellCtes(7)}, e AS (
         |  SELECT user_id, ts, event_id, cell,
         |    ((CAST(5 AS BIGINT) << 58)
         |     | ((((cell >> 7) & 127) >> 2) << 5)
         |     | ((cell & 127) >> 2)) AS c5
         |  FROM pc
         |), lagd AS (
         |  SELECT user_id, cell, c5,
         |    lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS prev,
         |    lag(c5) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS p5
         |  FROM e
         |)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT c5) AS BIGINT) AS n_cells5,
         |  CAST(sum(CASE WHEN p5 IS NULL OR p5 != c5 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_stays5,
         |  CAST(sum(CASE WHEN prev IS NULL THEN 0 ELSE
         |    GREATEST(abs((cell & 127) - (prev & 127)),
         |      abs(((cell >> 7) & 127) - ((prev >> 7) & 127))) + 1 END)
         |    AS BIGINT) AS path_cells
         |FROM lagd GROUP BY 1""".stripMargin))

  /** SPATIAL CONCENTRATION (Gini) — how unequally are points spread over
    * occupied cells? The Gini mean-difference numerator ΣᵢΣⱼ|cᵢ−cⱼ| is
    * O(cells²) pairwise — computed instead over the VALUE HISTOGRAM
    * (count v -> n_v cells): Σ_{v>w} 2(v−w)·n_v·n_w, a self-join on the
    * tiny distinct-value table (dozens of rows at any scale — heavy-tail
    * counts collapse; the theta join is on the HISTOGRAM, never the
    * grid). Emitted: n_cells, n_pts, gini_num (Gini = num/(2·n²·mean) =
    * the consumer's division). Exact BIGINT throughout. */
  private val qGini = Q(
    "q_gini",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("c"))
      val h = g.groupBy("c").agg(count(lit(1)).as("nv"))
      val hv = h.select(col("c").as("v"), col("nv").as("n_v"))
      val hw = h.select(col("c").as("w"), col("nv").as("n_w"))
      val cross = hv.join(broadcast(hw), col("v") > col("w"))
        .agg(coalesce(sum(lit(2L) * (col("v") - col("w")) *
          col("n_v") * col("n_w")), lit(0L)).as("gini_num"))
      val tot = g.agg(count(lit(1)).as("n_cells"), sum(col("c")).as("n_pts"))
      tot.crossJoin(cross)
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS c
         |  FROM images GROUP BY 1
         |), h AS (
         |  SELECT c, count(*) AS nv FROM g GROUP BY 1
         |), x AS (
         |  SELECT CAST(coalesce(sum(2 * (a.c - b.c) * a.nv * b.nv), 0)
         |    AS BIGINT) AS gini_num
         |  FROM h a JOIN h b ON a.c > b.c
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(c) AS BIGINT) AS n_pts,
         |  (SELECT gini_num FROM x) AS gini_num
         |FROM g""".stripMargin))

  /** ZONAL MEDIAN — the scale-safe percentile pattern ([[q_token_dist]]'s
    * keyed histogram + cumulative) applied SPATIALLY: per res-4 region,
    * the median of its res-6 child-cell densities. Child counts collapse
    * to a per-region VALUE histogram (c -> n_c); the cumulative walk is
    * a window KEYED by the region (thousands of independent partitions,
    * never a global sort); the median is the lower-median value — the
    * first value whose cumulative count reaches ceil(n/2) — exact
    * integer selection on both engines. */
  private val qZonalMedian = Q(
    "q_zonal_median",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("c"))
        .withColumn("parent", G.cell_parent_at(col("cell"), 4))
      val h = g.groupBy(col("parent"), col("c"))
        .agg(count(lit(1)).as("nc"))
      val w = Window.partitionBy("parent").orderBy("c")
      val cum = h
        .withColumn("cumc", sum(col("nc")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("nc")).over(
          Window.partitionBy("parent")))
      cum.where(col("cumc") * 2 >= col("n"))
        .groupBy(col("parent"))
        .agg(min(col("c")).as("median_c"), max(col("n")).as("n_children"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS c
         |  FROM images GROUP BY 1
         |), gp AS (
         |  SELECT ((CAST(4 AS BIGINT) << 58)
         |    | ((((cell >> 6) & 63) >> 2) << 4)
         |    | ((cell & 63) >> 2)) AS parent, c
         |  FROM g
         |), h AS (
         |  SELECT parent, c, count(*) AS nc FROM gp GROUP BY 1, 2
         |), cum AS (
         |  SELECT parent, c, nc,
         |    sum(nc) OVER (PARTITION BY parent ORDER BY c
         |      ROWS UNBOUNDED PRECEDING) AS cumc,
         |    sum(nc) OVER (PARTITION BY parent) AS n
         |  FROM h
         |)
         |SELECT parent, CAST(min(c) AS BIGINT) AS median_c,
         |  CAST(max(n) AS BIGINT) AS n_children
         |FROM cum WHERE cumc * 2 >= n
         |GROUP BY 1""".stripMargin))

  /** BBOX -> HILBERT-RANGE SCAN — the [[qZrangeScan]] twin on the
    * Hilbert key, closing the loop on [[qHilbert]]: the same coarse
    * res-7 cover becomes contiguous H-ranges `[h7 << 10, +4^5)` — exact
    * by the HIERARCHICAL prefix property (the res-R walk's first L
    * bit-planes equal the res-L walk; ZOrderSpec pins it) — probed
    * against the map-side res-12 Hilbert projection. Because consecutive
    * Hilbert indices are always neighbors, a bbox usually compiles to
    * FEWER, LONGER merged runs than Morton — the practical payoff of
    * the h layout. The oracle replays BOTH walks (7-step chain for the
    * cover, 12-step for the leaves) plus the cover floors and refine. */
  private val qHrangeScan = Q(
    "q_hrange_scan",
    (s, dir) => {
      import graft.geo.GridCell
      val ranges = GridCell.cover(10.0, 14.0, 20.0, 28.0, 7)
        .map(c => (GridCell.hilbertD(c) << 10,
          (GridCell.hilbertD(c) << 10) + 1023L))
      val rdf = s.createDataFrame(ranges.toSeq).toDF("h_lo", "h_hi")
      val img = Images.images(s, dir)
        .withColumn("hd", graft.geo.functions.cell_hvalue(
          graft.geo.functions.cell_encode(col("lat"), col("lon"), 12)))
      img.join(broadcast(rdf), col("hd").between(col("h_lo"), col("h_hi")))
        .groupBy("h_lo", "h_hi")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("lat").between(10.0, 14.0) &&
            col("lon").between(20.0, 28.0), 1L).otherwise(0L)).as("n_exact"))
    },
    Some {
      def hchain(pfx: String, src: String, res: Int, carry: Seq[String]) = {
        val keep = carry.map(c => s"$c, ").mkString
        val m = (1 << res) - 1
        (0 until res).map { i =>
          val s2 = (1 << (res - 1)) >> i
          s"""$pfx${i + 1} AS (SELECT $keep
             |  CASE WHEN (y & $s2) = 0 THEN
             |    (CASE WHEN (x & $s2) > 0 THEN $m - y ELSE y END)
             |  ELSE x END AS x,
             |  CASE WHEN (y & $s2) = 0 THEN
             |    (CASE WHEN (x & $s2) > 0 THEN $m - x ELSE x END)
             |  ELSE y END AS y,
             |  d + ${s2.toLong * s2} * (CASE WHEN (x & $s2) > 0
             |    THEN 3 - (CASE WHEN (y & $s2) > 0 THEN 1 ELSE 0 END)
             |    ELSE (CASE WHEN (y & $s2) > 0 THEN 1 ELSE 0 END) END) AS d
             |  FROM ${if (i == 0) src else s"$pfx$i"})""".stripMargin
        }.mkString(",\n")
      }
      s"""$cte,
         |xr AS (SELECT
         |  CAST(floor((('20.0'::DOUBLE) + 180.0) / 360.0 * 128) AS BIGINT) AS x0,
         |  CAST(floor((('28.0'::DOUBLE) + 180.0) / 360.0 * 128) AS BIGINT) AS x1,
         |  CAST(floor((('10.0'::DOUBLE) + 90.0) / 180.0 * 128) AS BIGINT) AS y0,
         |  CAST(floor((('14.0'::DOUBLE) + 90.0) / 180.0 * 128) AS BIGINT) AS y1),
         |cov0 AS (SELECT rx.r AS x, ry.r AS y, CAST(0 AS BIGINT) AS d
         |  FROM xr, range(0,128) rx(r), range(0,128) ry(r)
         |  WHERE rx.r BETWEEN x0 AND x1 AND ry.r BETWEEN y0 AND y1),
         |${hchain("cov", "cov0", 7, Seq.empty)},
         |ranges AS (SELECT (d << 10) AS h_lo, (d << 10) + 1023 AS h_hi
         |  FROM cov7),
         |img0 AS (SELECT lat, lon,
         |  (${cellSql(12)} & 4095) AS x,
         |  ((${cellSql(12)} >> 12) & 4095) AS y,
         |  CAST(0 AS BIGINT) AS d FROM images),
         |${hchain("img", "img0", 12, Seq("lat", "lon"))}
         |SELECT r.h_lo, r.h_hi, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(CASE WHEN lat BETWEEN 10.0 AND 14.0
         |    AND lon BETWEEN 20.0 AND 28.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact
         |FROM img12 JOIN ranges r ON img12.d BETWEEN r.h_lo AND r.h_hi
         |GROUP BY 1, 2""".stripMargin
    })

  /** GEOFENCED EVENT ANALYTICS — the pip machinery composed with the
    * EVENT stream: events (deterministic positions) against the fixture
    * geofences via the same broadcast covering-cell index + codegen
    * ray-cast refine as the image pip join, rolled up per (geofence,
    * day) with integer milli-value credit — the "activity inside my
    * fences, day by day" operational query. Map-only until the final
    * keyed rollup; the polygon layer rides broadcast. */
  private val qEventGeofence = Q(
    "q_event_geofence",
    (s, dir) => {
      import graft.geo.{functions => G}
      val res = SpatialJoin.CoverRes
      val ev = eventPositions(s, dir, res)
        .withColumn("day",
          floor(unix_micros(col("ts").cast("timestamp")) /
            lit(86400000000L)).cast("long"))
      val idx = SpatialJoin.coverIndex(s, Fixtures.polys, res,
        graft.geo.QuadkeyTiling)
      ev.join(broadcast(idx), Seq("cell"))
        .filter(G.point_in_poly(col("lat"), col("lon"),
          col("lats"), col("lons")))
        .groupBy(col("poly_id"), col("day"))
        .agg(count(lit(1)).as("n_ev"),
          sum(expr("cast(floor(value * 1000) as bigint)")).as("value_milli"))
    },
    Some {
      val parts = Fixtures.polys.map { p =>
        s"""SELECT '${p.polyId}' AS poly_id, day, value
           |FROM pd WHERE ${Fixtures.polySql(p)}""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${eventCellCtes(6)}, pd AS (
         |  SELECT lat, lon, value,
         |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
         |  FROM (SELECT pos.*, e.value FROM pos
         |        JOIN events e ON e.event_id = pos.event_id) t
         |)
         |SELECT poly_id, day, CAST(count(*) AS BIGINT) AS n_ev,
         |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
         |    AS value_milli
         |FROM ($parts) u
         |GROUP BY 1, 2""".stripMargin
    })

  /** GEOFENCE DWELL TIME — how LONG each user stays inside each fence,
    * not just how often ([[qEventGeofence]] counts hits; dwell is the
    * billing/exposure metric an ST engine actually sells): in-fence event
    * stamps sessionized per (fence, user) with a 30-minute gap cap —
    * consecutive-hit gaps ≤ 30 min accrue as dwell, larger gaps break the
    * visit (exact epoch-micro integers throughout). Same broadcast
    * covering-index + codegen ray-cast scan shape as the geofence rollup;
    * the one window is (fence, user)-keyed. */
  private val qGeofenceDwell = Q(
    "q_geofence_dwell",
    (s, dir) => {
      import graft.geo.{functions => G}
      val res = SpatialJoin.CoverRes
      val idx = SpatialJoin.coverIndex(s, Fixtures.polys, res,
        graft.geo.QuadkeyTiling)
      val hits = eventPositions(s, dir, res)
        .join(broadcast(idx), Seq("cell"))
        .filter(G.point_in_poly(col("lat"), col("lon"),
          col("lats"), col("lons")))
        .select(col("poly_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("t"))
      val w = Window.partitionBy(col("poly_id"), col("user_id"))
        .orderBy(col("t"))
      hits.withColumn("gap", col("t") - lag(col("t"), 1).over(w))
        .groupBy(col("poly_id"), col("user_id"))
        .agg(count(lit(1)).as("n_hits"),
          sum(when(col("gap").isNotNull &&
              col("gap") <= lit(1800000000L), col("gap"))
            .otherwise(lit(0L))).as("dwell_us"),
          sum(when(col("gap") > lit(1800000000L), lit(1L))
            .otherwise(lit(0L))).as("n_visits_broken"))
    },
    Some {
      val parts = Fixtures.polys.map { p =>
        s"""SELECT '${p.polyId}' AS poly_id, user_id, t
           |FROM pd WHERE ${Fixtures.polySql(p)}""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${eventCellCtes(6)}, pd AS (
         |  SELECT lat, lon, user_id, epoch_us(ts) AS t FROM pos
         |), g AS (
         |  SELECT poly_id, user_id, t,
         |    t - lag(t) OVER (PARTITION BY poly_id, user_id ORDER BY t)
         |      AS gap
         |  FROM ($parts) u
         |)
         |SELECT poly_id, user_id,
         |  CAST(count(*) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 1800000000
         |    THEN gap ELSE 0 END) AS BIGINT) AS dwell_us,
         |  CAST(sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_visits_broken
         |FROM g GROUP BY 1, 2""".stripMargin
    })

  /** TEMPORAL CHANGE DETECTION — the time-axis companion of
    * [[qRasterDiff]]'s cross-dataset band math: the event-density raster
    * of the stream's FIRST nine days vs everything after (fixed epoch-day
    * literal 19732 = 2024-01-10 — deterministic, not a data-dependent
    * median), full-outer joined per res-5 cell with integer delta and a
    * grew/shrank/same class. The before/after monitoring query of a geo
    * event stream; both periods partial-aggregate before one keyed
    * join. */
  private val qTemporalDiff = Q(
    "q_temporal_diff",
    (s, dir) => {
      val ev = eventPositions(s, dir, 5)
        .withColumn("day",
          floor(unix_micros(col("ts").cast("timestamp")) /
            lit(86400000000L)).cast("long"))
      val a = ev.where(col("day") < 19732)
        .groupBy("cell").agg(count(lit(1)).as("n_before"))
      val b = ev.where(col("day") >= 19732)
        .groupBy("cell").agg(count(lit(1)).as("n_after"))
      a.join(b, Seq("cell"), "full_outer")
        .select(col("cell"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"))
        .withColumn("delta", col("n_after") - col("n_before"))
        .withColumn("chg",
          when(col("delta") > 0, 1).when(col("delta") < 0, -1).otherwise(0))
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, pd AS (
         |  SELECT cell,
         |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
         |  FROM pc
         |), a AS (
         |  SELECT cell, count(*) AS n_before FROM pd
         |  WHERE day < 19732 GROUP BY 1
         |), b AS (
         |  SELECT cell, count(*) AS n_after FROM pd
         |  WHERE day >= 19732 GROUP BY 1
         |)
         |SELECT coalesce(a.cell, b.cell) AS cell,
         |  CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
         |  CAST(coalesce(n_after, 0) AS BIGINT) AS n_after,
         |  CAST(coalesce(n_after, 0) - coalesce(n_before, 0) AS BIGINT)
         |    AS delta,
         |  CAST(CASE WHEN coalesce(n_after, 0) > coalesce(n_before, 0)
         |    THEN 1 WHEN coalesce(n_after, 0) < coalesce(n_before, 0)
         |    THEN -1 ELSE 0 END AS INTEGER) AS chg
         |FROM a FULL OUTER JOIN b ON a.cell = b.cell""".stripMargin))

  /** TIME-DECAYED CELL HOTNESS — the exponential-decay companion of the
    * A3 hotness count (q_hot_cells counts all-time; a production heat
    * layer wants recency-weighted mass): per res-5 cell the event value
    * mass with a 7-day integer half-life, weight = `v >> (age div 7)`
    * (age in days against the fixture horizon 19752 = 2024-01-30).
    * Truncating right-shift on non-negative BIGINTs is the decay device
    * that stays on the integer lattice — `0.5^(age/7)` in doubles would
    * put a transcendental in the hashed output (the q_bic_k lesson).
    * Plan: map-side derive + ONE keyed groupBy (map-side combinable) —
    * the same shape as the density raster, so it holds at 10^12 events;
    * a streaming twin would fold the same shifted sums per watermarked
    * window. */
  private val qDecayHot = Q(
    "q_decay_hot",
    (s, dir) => eventPositions(s, dir, 5)
      .withColumn("day",
        floor(unix_micros(col("ts").cast("timestamp")) /
          lit(86400000000L)).cast("long"))
      .withColumn("v_milli", expr("cast(floor(value * 1000) as bigint)"))
      .withColumn("decayed",
        expr("shiftright(v_milli, cast((19752 - day) div 7 as int))"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_ev"),
        sum(col("v_milli")).as("raw_milli"),
        sum(col("decayed")).as("decayed_milli")),
    Some(
      s"""WITH ${eventCellCtes(5)}, ed AS (
         |  SELECT pc.cell,
         |    CAST(floor(epoch_us(pc.ts) / 86400000000) AS BIGINT) AS day,
         |    CAST(floor(e.value * 1000) AS BIGINT) AS v_milli
         |  FROM pc JOIN events e ON e.event_id = pc.event_id
         |), dd AS (
         |  SELECT cell, v_milli,
         |    v_milli >> CAST((19752 - day) // 7 AS INTEGER) AS decayed
         |  FROM ed
         |)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_ev,
         |  CAST(sum(v_milli) AS BIGINT) AS raw_milli,
         |  CAST(sum(decayed) AS BIGINT) AS decayed_milli
         |FROM dd GROUP BY cell""".stripMargin))

  /** ORDERED FUNNEL CONVERSION — signup → view → purchase, each stage's
    * timestamp the FIRST occurrence strictly after the previous stage
    * (the sequential-pattern query every product-analytics engine ships;
    * ≙ the reference's staged retrieve-then-rerank pipeline semantics,
    * tree_retriever.py:86-130, applied to event time). No window and no
    * raw self-join: each stage is filter-pushdown on event_type + ONE
    * user-keyed min-agg, then stage frames (≤ |users| rows) join keyed —
    * at 10^12 events only three type-pruned scans shuffle, each
    * map-side combinable. Timestamps are exact epoch micros (BIGINT);
    * absent stages emit -1. */
  private val qFunnel = Q(
    "q_funnel",
    (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("t"))
      val t1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
      val t2 = ev.filter(col("event_type") === "view")
        .join(t1, Seq("user_id"))
        .where(col("t") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("t")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, Seq("user_id"))
        .where(col("t") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("t")).as("t3"))
      ev.select(col("user_id")).distinct()
        .join(t1, Seq("user_id"), "left")
        .join(t2, Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("t1"), lit(-1L)).as("t1_us"),
          coalesce(col("t2"), lit(-1L)).as("t2_us"),
          coalesce(col("t3"), lit(-1L)).as("t3_us"),
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1).otherwise(0)
            .cast("int").as("stage"))
    },
    Some(
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
         |), u AS (SELECT DISTINCT user_id FROM ev),
         |s1 AS (
         |  SELECT user_id, min(t) AS t1 FROM ev
         |  WHERE event_type = 'signup' GROUP BY 1
         |), s2 AS (
         |  SELECT e.user_id, min(e.t) AS t2
         |  FROM ev e JOIN s1 ON s1.user_id = e.user_id
         |  WHERE e.event_type = 'view' AND e.t > s1.t1 GROUP BY 1
         |), s3 AS (
         |  SELECT e.user_id, min(e.t) AS t3
         |  FROM ev e JOIN s2 ON s2.user_id = e.user_id
         |  WHERE e.event_type = 'purchase' AND e.t > s2.t2 GROUP BY 1
         |)
         |SELECT u.user_id,
         |  COALESCE(t1, -1) AS t1_us, COALESCE(t2, -1) AS t2_us,
         |  COALESCE(t3, -1) AS t3_us,
         |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
         |            WHEN t2 IS NOT NULL THEN 2
         |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         |    AS stage
         |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         |LEFT JOIN s3 USING (user_id)""".stripMargin))

  /** ACTIVITY GAPS-AND-ISLANDS — per user the maximal runs of CONSECUTIVE
    * active days coalesced into `[start_day, end_day]` intervals (the
    * streak/retention primitive; interval coalescing is the SCD-style
    * temporal op the engine lacked). Classic two-window derivation, both
    * windows USER-keyed (bounded partitions): lag to mark run breaks,
    * running sum of breaks to number islands, then one keyed rollup. At
    * 10^12 events the distinct (user, day) projection partial-aggregates
    * map-side before any window sees it. */
  private val qActivityIslands = Q(
    "q_activity_islands",
    (s, dir) => {
      val d = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"),
          floor(unix_micros(col("ts").cast("timestamp")) /
            lit(86400000000L)).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("prev", lag(col("day"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("day") > col("prev") + 1, 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(wc))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
          count(lit(1)).as("n_days"))
    },
    Some(
      s"""WITH d AS (
         |  SELECT DISTINCT user_id,
         |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
         |  FROM events
         |), b AS (
         |  SELECT user_id, day,
         |    CASE WHEN lag(day) OVER (PARTITION BY user_id ORDER BY day)
         |      IS NULL OR day > lag(day) OVER (PARTITION BY user_id
         |      ORDER BY day) + 1 THEN 1 ELSE 0 END AS brk
         |  FROM d
         |), i AS (
         |  SELECT user_id, day, CAST(sum(brk) OVER (
         |    PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS island
         |  FROM b
         |)
         |SELECT user_id, island, min(day) AS start_day, max(day) AS end_day,
         |  CAST(count(*) AS BIGINT) AS n_days
         |FROM i GROUP BY 1, 2""".stripMargin))

  /** COHORT RETENTION MATRIX — users grouped by first-active week (cohort
    * 0..4 against the fixture epoch-week origin 19723 = 2024-01-01), and
    * for each (cohort, week-offset) the distinct users still active and
    * their event volume — the analytics staple that reads activity as a
    * triangular matrix. Shape: distinct (user, day) partial-aggregates
    * map-side; the per-user first-day frame (≤ |users| rows) joins back
    * KEYED; the final rollup is a ~25-key agg. The cohort assignment and
    * offsets are pure integer div — no date lib, no tz surface. */
  private val qRetention = Q(
    "q_retention",
    (s, dir) => {
      val d = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"),
          floor(unix_micros(col("ts").cast("timestamp")) /
            lit(86400000000L)).cast("long").as("day"))
        .distinct()
      val f = d.groupBy(col("user_id")).agg(min(col("day")).as("f"))
      d.join(f, Seq("user_id"))
        .select(col("user_id"),
          expr("(f - 19723) div 7").as("cohort_week"),
          expr("(day - f) div 7").as("week_off"))
        .groupBy(col("cohort_week"), col("week_off"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_user_days"))
    },
    Some(
      s"""WITH d AS (
         |  SELECT DISTINCT user_id,
         |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
         |  FROM events
         |), f AS (
         |  SELECT user_id, min(day) AS f FROM d GROUP BY 1
         |)
         |SELECT (f.f - 19723) // 7 AS cohort_week,
         |  (d.day - f.f) // 7 AS week_off,
         |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users,
         |  CAST(count(*) AS BIGINT) AS n_user_days
         |FROM d JOIN f USING (user_id)
         |GROUP BY 1, 2""".stripMargin))

  /** AUTOMATIC RESOLUTION SELECTION — the grid-side analog of the BIC
    * model-selection sweep ([[qBicK]] picks k; this picks the binning
    * RESOLUTION): per candidate res 4..9, the occupied-cell count and
    * the hottest cell's load from ONE multi-res batched encode
    * (`cell_encode_multi` — parents are bit slices, one scan for all
    * six levels), then the deterministic integer rule marks best = the
    * res whose occupied-cell count is closest to a target partition
    * count (10,000 — the "enough tiles to parallelize, few enough to
    * broadcast" sweet spot; a max-load rule is degenerate here because
    * the planted hotspot never splits below its ~2.3k points — that
    * long-tail is exactly what [[qAdaptiveSplit]] handles per-tile).
    * All integers; the sweep is one explode + one composite-key groupBy
    * + a 6-row rollup. */
  private val qAutoRes = Q(
    "q_auto_res",
    (s, dir) => {
      import graft.geo.{functions => G}
      val per = Images.images(s, dir)
        .select(explode(G.cell_encode_multi(col("lat"), col("lon"), 4, 9))
          .as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
        .groupBy(shiftrightunsigned(col("cell"), 58).as("res"))
        .agg(count(lit(1)).as("n_cells"), max(col("cnt")).as("max_cnt"))
      val withDiff = per.withColumn("diff",
        abs(col("n_cells") - lit(10000L)))
      val best = withDiff.agg(min(col("diff")).as("min_diff"))
      withDiff.crossJoin(best)
        .select(col("res"), col("n_cells"), col("max_cnt"),
          (col("diff") === col("min_diff")).cast("int").as("best"))
    },
    Some {
      val levels = (4 to 9).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS res, cell, count(*) AS cnt
           |FROM (SELECT ${cellSql(r)} AS cell FROM images) t$r
           |GROUP BY cell""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$cte, per_cell AS (
         |$levels
         |), per AS (
         |  SELECT res, CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(max(cnt) AS BIGINT) AS max_cnt
         |  FROM per_cell GROUP BY 1
         |), d AS (
         |  SELECT res, n_cells, max_cnt, abs(n_cells - 10000) AS diff
         |  FROM per
         |), best AS (
         |  SELECT min(diff) AS min_diff FROM d
         |)
         |SELECT res, n_cells, max_cnt,
         |  CAST(CASE WHEN diff = min_diff THEN 1 ELSE 0 END AS INTEGER)
         |    AS best
         |FROM d CROSS JOIN best""".stripMargin
    })

  private val SdRoots = new ScratchRoots("graft-sd")

  /** SNAPSHOT DIFF — the time-travel companion: a SEMANTIC diff of two
    * committed versions of the tile store (the lakehouse
    * "what changed between v1 and v2" operator; Iceberg's changelog
    * view). v1/v2 are the md5-parity halves of the corpus written as two
    * versioned snapshots (the [[qTimeTravel]] convention — spatially
    * uncorrelated, so every class occurs); the diff is one full-outer
    * keyed join of the two pinned reads, classifying each cell
    * added / removed / changed / same with both counts carried. The
    * oracle recomputes both versions straight from the raw corpus and
    * diffs them — a hash match proves the whole
    * write→manifest→pinned-read→diff chain is lossless. */
  private val qSnapshotDiff = Q(
    "q_snapshot_diff", {
      val h = "cast(conv(substring(md5(image_id), 1, 8), 16, 10) as bigint) % 2"
      (s, dir) => {
        val root = SdRoots.fresh()
        val partials = TilePyramid.withCell(Images.images(s, dir), 7)
          .withColumn("half", expr(h))
          .groupBy(col("cell"), col("half"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("res", lit(7))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Snapshot.writeVersioned(partials.filter(col("half") === 0)
          .drop("half"), root, snapshotId = "v1", buildTs = 1L)
        Snapshot.writeVersioned(partials.filter(col("half") === 1)
          .drop("half"), root, snapshotId = "v2", buildTs = 2L)
        partials.unpersist(blocking = false)
        val a = Snapshot.readAsOf(s, root, "v1")
          .select(col("cell"), col("cnt").as("cnt_v1"))
        val b = Snapshot.readAsOf(s, root, "v2")
          .select(col("cell"), col("cnt").as("cnt_v2"))
        a.join(b, Seq("cell"), "full_outer")
          .select(col("cell"),
            coalesce(col("cnt_v1"), lit(0L)).as("cnt_v1"),
            coalesce(col("cnt_v2"), lit(0L)).as("cnt_v2"))
          .withColumn("cls",
            when(col("cnt_v1") === 0, "added")
              .when(col("cnt_v2") === 0, "removed")
              .when(col("cnt_v1") =!= col("cnt_v2"), "changed")
              .otherwise("same"))
      }
    },
    Some {
      val h = "(('0x' || substr(md5(image_id), 1, 8))::BIGINT) % 2"
      s"""$cte, a AS (
         |  SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS cnt
         |  FROM images WHERE $h = 0 GROUP BY 1
         |), b AS (
         |  SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS cnt
         |  FROM images WHERE $h = 1 GROUP BY 1
         |), d AS (
         |  SELECT coalesce(a.cell, b.cell) AS cell,
         |    coalesce(a.cnt, 0) AS cnt_v1, coalesce(b.cnt, 0) AS cnt_v2
         |  FROM a FULL OUTER JOIN b ON a.cell = b.cell
         |)
         |SELECT cell, cnt_v1, cnt_v2,
         |  CASE WHEN cnt_v1 = 0 THEN 'added'
         |    WHEN cnt_v2 = 0 THEN 'removed'
         |    WHEN cnt_v1 != cnt_v2 THEN 'changed'
         |    ELSE 'same' END AS cls
         |FROM d""".stripMargin
    })

  private val FpRoots = new ScratchRoots("graft-fp")
  /** Cell-range scanned by [[qFilesPrune]]: res-8 lat band [0°, 45°)
    * (lat indices 128..191, every lon) — it contains the hot SF cluster,
    * so pruning is exercised against the skewed cell too. */
  private val FpLo = (8L << 58) | (128L << 8)
  private val FpHi = (8L << 58) | (191L << 8) | 255L

  /** Manifest FILE pruning — the Iceberg scan-planning analog
    * (per-data-file min/max kept in table metadata; key-range scans
    * schedule only overlapping files). Res-8 leaf tiles land as a
    * versioned snapshot CLUSTERED AT WRITE TIME (range-partitioned +
    * sorted on cell — the write-once form of the sort layout; the
    * rewrite_data_files-style SORTED COMPACTION path is pinned separately
    * in FilePruneSpec); [[Snapshot.writeFileStats]] records per-file cell
    * bounds from the parquet FOOTERS (driver-side metadata read, no data
    * pages); [[Snapshot.scanPruned]] plans the range scan over the
    * overlapping files only. The exact predicate is applied on top —
    * pruning is conservative, so the answer never depends on the file
    * layout (FilePruneSpec pins that the pruned plan actually reads fewer
    * files; the oracle proves the surviving rows exact). */
  private val qFilesPrune = Q(
    "q_files_prune",
    (s, dir) => {
      val root = FpRoots.fresh()
      val leaves = leafTiles8(s, dir)
        .repartitionByRange(8, col("cell"))
        .sortWithinPartitions(col("cell"))
      Snapshot.writeVersioned(leaves, root, snapshotId = "s1", buildTs = 1L)
      Snapshot.writeFileStats(s, root, "s1")
      val (scan, _, _) = Snapshot.scanPruned(s, root, "s1", FpLo, FpHi)
      scan.filter(col("cell").between(FpLo, FpHi))
        .select(col("cell"), col("cnt"), col("bytes_sum"))
    },
    Some(
      s"""$cte
         |SELECT cell, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
         |FROM (SELECT ${cellSql(8)} AS cell, w, h FROM images) t
         |WHERE cell BETWEEN $FpLo AND $FpHi
         |GROUP BY cell""".stripMargin))

  /** DuckDB replay of [[PairMerge.matchGroup]]'s sequential greedy
    * matching, ending in CTE `l1` with the exact layer-1 schema. The
    * greedy walk unrolls into a FIXED chain of relational steps (group
    * fan-out is ≤ 4^Δres = 16 tiles → ≤ 8 pairing rounds): round t takes,
    * per parent, the hottest remaining tile (window rank on cnt DESC,
    * cell ASC — the engine's processing order), argmins (planar d², cell)
    * over the other remaining tiles for its partner (the engine's
    * tie-break), emits the merged/unmerged row, and removes both from the
    * remainder. Picking the hottest REMAINING tile each round is exactly
    * the engine's skip-used scan of the hotness order. Plain windows +
    * joins only — an earlier `list_reduce` fold with nested lambdas
    * capturing an outer column segfaulted / returned garbage rows under
    * DuckDB's parallel evaluation, so the oracle deliberately avoids
    * lambda closures; MATERIALIZED pins each remainder so the ≤3
    * references per round don't inline into an exponential plan. */
  private lazy val pairMergeOracleCtes: String = {
    val rounds = 8 // ceil(4^(8-6) / 2)
    val d2 = "(a.lat_c - r.lat_c) * (a.lat_c - r.lat_c)" +
      " + (a.lon_c - r.lon_c) * (a.lon_c - r.lon_c)"
    val steps = (1 to rounds).map { t =>
      s"""a$t AS MATERIALIZED (
         |  SELECT parent, cell, cnt, bytes_sum, lat_c, lon_c FROM (
         |    SELECT *, row_number() OVER (PARTITION BY parent
         |      ORDER BY cnt DESC, cell ASC) AS rn
         |    FROM rem${t - 1}) WHERE rn = 1),
         |b$t AS MATERIALIZED (
         |  SELECT parent, cell, cnt, bytes_sum, lat_c, lon_c FROM (
         |    SELECT r.*, row_number() OVER (PARTITION BY r.parent
         |      ORDER BY $d2 ASC, r.cell ASC) AS rn
         |    FROM rem${t - 1} r JOIN a$t a
         |      ON a.parent = r.parent AND r.cell <> a.cell)
         |  WHERE rn = 1),
         |o$t AS (
         |  SELECT a.parent,
         |    CASE WHEN b.cell IS NULL THEN a.cell
         |         ELSE least(a.cell, b.cell) END AS cell,
         |    a.cell AS cell_a,
         |    coalesce(b.cell, a.cell) AS cell_b,
         |    b.cell IS NOT NULL AS merged,
         |    CASE WHEN b.cell IS NULL THEN a.cnt ELSE a.cnt + b.cnt END AS cnt,
         |    CASE WHEN b.cell IS NULL THEN a.bytes_sum
         |         ELSE a.bytes_sum + b.bytes_sum END AS bytes_sum,
         |    CASE WHEN b.cell IS NULL THEN a.lat_c
         |         ELSE (a.lat_c + b.lat_c) / 2.0 END AS lat_c,
         |    CASE WHEN b.cell IS NULL THEN a.lon_c
         |         ELSE (a.lon_c + b.lon_c) / 2.0 END AS lon_c
         |  FROM a$t a LEFT JOIN b$t b ON b.parent = a.parent),
         |rem$t AS MATERIALIZED (
         |  SELECT r.* FROM rem${t - 1} r
         |  LEFT JOIN a$t a ON a.parent = r.parent AND a.cell = r.cell
         |  LEFT JOIN b$t b ON b.parent = r.parent AND b.cell = r.cell
         |  WHERE a.cell IS NULL AND b.cell IS NULL)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds).map(t => s"SELECT * FROM o$t")
      .mkString("\nUNION ALL ")
    s"""t0 AS (
       |  SELECT ${cellSql(8)} AS cell, ${cellSql(6)} AS parent, w, h, lat, lon
       |  FROM images),
       |rem0 AS MATERIALIZED (
       |  SELECT parent, cell,
       |    CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum,
       |    (min(lat) + max(lat)) / 2.0 AS lat_c,
       |    (min(lon) + max(lon)) / 2.0 AS lon_c
       |  FROM t0 GROUP BY parent, cell),
       |$steps,
       |l1 AS MATERIALIZED ($union)""".stripMargin
  }

  /** Exclusive greedy pair-merge (J6, ≙ raptor/merge_tree_builder.py:
    * 320-408): deterministic hotness-ordered 1-to-1 tile pairing within
    * res-6 neighborhoods. The inherently sequential matching runs
    * partition-locally in the engine (flatMapGroups) and is REPLAYED by
    * the oracle as an unrolled chain of window rounds
    * ([[pairMergeOracleCtes]]) — formerly rows-only, now hash-proven;
    * GreedyPairSpec additionally proves the operator equals a
    * driver-side recomputation. */
  private val qPairMerge = Q(
    "q_pair_merge",
    (s, dir) => PairMerge.greedyPairMerge(leafTiles8(s, dir), 6),
    Some(
      s"""$cte,
         |$pairMergeOracleCtes
         |SELECT parent, cell, cell_a, cell_b, merged, cnt, bytes_sum,
         |  lat_c, lon_c
         |FROM l1""".stripMargin))

  /** Two-layer merge tree (merge_tree_builder.py:414-461): layer 2 =
    * learned k-means clusters over the greedy-pair layer 1. The oracle
    * composes the layer-1 greedy fold with the Lloyd CTE chain over the
    * layer-1 centroids (pts = l1), so BOTH layers are hash-proven
    * end-to-end; GreedyPairSpec pins the reference's layer invariants
    * (counts, partition, conservation — test_merge_layer.py:63-124).
    * k here is the configured k2 = 8 (the engine applies min(k2, n1);
    * n1 >> 8 at every verify SF). */
  private val qMergeTree2 = Q(
    "q_merge_tree2",
    (s, dir) => PairMerge.mergeTree(leafTiles8(s, dir), 6, k2 = 8)._2,
    Some {
      val iters = KmeansAssign.DefaultIters
      s"""$cte,
         |$pairMergeOracleCtes,
         |pts AS MATERIALIZED (SELECT CAST(cell AS VARCHAR) AS image_id,
         |                     CAST(floor(lat_c * 1000000) AS BIGINT) AS qlat,
         |                     CAST(floor(lon_c * 1000000) AS BIGINT) AS qlon
         |                     FROM l1),
         |${kmeansChainSql("m_", 8, iters)},
         |${kmeansAssignCteSql("af", s"m_c$iters")}
         |SELECT a.cid,
         |  CAST(count(*) AS BIGINT) AS n_children,
         |  CAST(sum(l.cnt) AS BIGINT) AS cnt,
         |  CAST(sum(l.bytes_sum) AS BIGINT) AS bytes_sum
         |FROM l1 l JOIN (SELECT CAST(image_id AS BIGINT) AS cell, cid FROM af) a
         |  ON a.cell = l.cell
         |GROUP BY a.cid""".stripMargin
    })

  // ------------------------------------------------------------ skew handling

  /** Hot-cell histogram top-20 (≙ index_count hotness ranking,
    * raptor/merge_tree_builder.py:320-323) — the skew-detection signal. */
  private val qHotCells = Q(
    "q_hot_cells",
    (s, dir) => TilePyramid.leafTiles(Images.images(s, dir), 12)
      .select(col("cell"), col("cnt"))
      .orderBy(col("cnt").desc, col("cell")).limit(20),
    Some(
      s"""$cte
         |SELECT cell, CAST(count(*) AS BIGINT) AS cnt
         |FROM (SELECT ${cellSql(12)} AS cell FROM images) t
         |GROUP BY cell ORDER BY cnt DESC, cell LIMIT 20""".stripMargin))

  /** Vector -> RASTER density rasterization (heatmap tile rendering — the
    * datashader/GeoTrellis `rasterize` op, completing the north star's
    * raster<->vector axis in the other direction from q_zonal_stats): each
    * res-4 tile is rendered as an 8x8 grayscale density raster whose pixel
    * = the point count of the corresponding res-7 SUBCELL, clipped to 255
    * (8-bit). By the quadtree nesting identity, a point's pixel is just
    * its cell at res 4+3 — rasterization IS a two-level cell rollup, zero
    * extra geometry math. Output pins the rendered raster exactly:
    * total points, lit pixels, peak pre-clip count, and clipped pixel
    * mass. The oracle encodes both resolutions independently, so a match
    * also re-proves the parent-is-bit-slice identity on real data.
    *
    * Scale shape: the res-7 groupBy is the ONLY data-sized shuffle
    * (map-side combine absorbs hot cells); everything after is bounded by
    * the PIXEL count (4^7 cells), not the point count — the property that
    * makes tile rendering feasible over 10^12 points. */
  private val qDensityRaster = Q(
    "q_density_raster",
    (s, dir) => {
      import graft.geo.{functions => G}
      Images.images(s, dir)
        .withColumn("c", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy(col("c")).agg(count(lit(1)).as("cnt"))
        .withColumn("cell", G.cell_parent_at(col("c"), 4))
        .groupBy(col("cell"))
        .agg(sum(col("cnt")).as("n_points"),
          count(lit(1)).as("nnz_px"),
          max(col("cnt")).as("max_px"),
          sum(least(col("cnt"), lit(255L))).as("px_mass"))
    },
    Some(
      s"""$cte, fine AS (
         |  SELECT ${cellSql(7)} AS c, ${cellSql(4)} AS cell,
         |    count(*) AS cnt
         |  FROM images GROUP BY 1, 2
         |)
         |SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_points,
         |  CAST(count(*) AS BIGINT) AS nnz_px,
         |  CAST(max(cnt) AS BIGINT) AS max_px,
         |  CAST(sum(least(cnt, 255)) AS BIGINT) AS px_mass
         |FROM fine GROUP BY cell""".stripMargin))

  /** FOCAL statistics over the rasterized grid (map-algebra focal mean /
    * 3x3 convolution — the GIS focal-op family, composing with
    * q_density_raster's local ops): every occupied res-7 pixel contributes
    * its count to each cell of its 3x3 Chebyshev ring (lon-wrapping,
    * lat-clamped — [[graft.geo.GridCell.ring]]), and the keyed re-group on
    * the RING cell yields per-pixel neighborhood sums: the scatter form of
    * convolution, which at 10^12 points costs one grid-bounded 9x fanout
    * + one keyed shuffle — never a point-sized join. Output stays integer
    * (focal_sum, occupied-neighbor count, center count); halo pixels
    * (unoccupied but adjacent to mass) are emitted, as a convolution must.
    * The oracle replays the ring arithmetic — wrap, clamp, pack — from the
    * cell id's bit layout independently. */
  private val qFocalStats = Q(
    "q_focal_stats",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      g.select(col("cell").as("src"), col("cnt"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .groupBy("cell")
        .agg(sum(col("cnt")).as("focal_sum"),
          count(lit(1)).as("nnz_nbrs"),
          sum(when(col("src") === col("cell"), col("cnt"))
            .otherwise(lit(0L))).as("center_cnt"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), xy AS (
         |  SELECT cell, cnt,
         |    cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g
         |), contrib AS (
         |  SELECT ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell,
         |    cell, cnt
         |  FROM xy, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |)
         |SELECT ocell AS cell,
         |  CAST(sum(cnt) AS BIGINT) AS focal_sum,
         |  CAST(count(*) AS BIGINT) AS nnz_nbrs,
         |  CAST(sum(CASE WHEN cell = ocell THEN cnt ELSE 0 END) AS BIGINT)
         |    AS center_cnt
         |FROM contrib GROUP BY 1""".stripMargin))

  /** GLIDING-BOX LACUNARITY FACTORS — the multi-scale TEXTURE-OF-GAPS
    * statistic of the point-pattern family (quadrat/anisotropy measure
    * clustering and orientation; lacunarity measures how the HOLES are
    * organized — same density can be lace or clumps): for box sizes
    * r ∈ {1, 2, 4}, every r×r gliding window's mass M (x wraps, y
    * clamped to the grid — the focal-stats convention), emitted as the
    * exact integer moment pieces n_boxes (ALL origins, empty boxes
    * included — they carry the gaps), n_occ, Σ M, Σ M². The classical
    * Λ(r) = n·ΣM²/(ΣM)² is the consumer's one division.
    *
    * Scale shape: per r one scatter of the OCCUPIED grid to its ≤ r²
    * covering origins (grid-bounded fanout, the focal-stats device) +
    * one origin-keyed rollup + one single-row moment aggregate;
    * empty-box accounting is arithmetic (total origins is a grid
    * constant), never materialized. */
  private val qLacunarity = Q(
    "q_lacunarity",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def layer(r: Int): DataFrame = {
        val offs = array((for (dy <- 0 until r; dx <- 0 until r)
          yield struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)
        val x = col("cell").bitwiseAND(lit(127L))
        val y = shiftrightunsigned(col("cell"), 7).bitwiseAND(lit(127L))
        g.select(col("cnt"), x.as("x"), y.as("y"),
            explode(offs).as("o"))
          .withColumn("oy", col("y") - col("o.dy"))
          .where(col("oy") >= 0 && col("oy") <= lit(128L - r))
          .withColumn("ox",
            ((col("x") - col("o.dx")) % 128 + 128) % 128)
          .select((shiftleft(lit(7L), 58)
              .bitwiseOR(shiftleft(col("oy"), 7)).bitwiseOR(col("ox")))
            .as("origin"), col("cnt"))
          .groupBy("origin").agg(sum(col("cnt")).as("m"))
          .agg(count(lit(1)).as("n_occ"), sum(col("m")).as("sm"),
            sum(col("m") * col("m")).as("smm"))
          .select(lit(r).as("r"), lit(128L * (129L - r)).as("n_boxes"),
            col("n_occ"), col("sm"), col("smm"))
      }
      val out = layer(1).unionAll(layer(2)).unionAll(layer(4))
        .localCheckpoint(true)
      g.unpersist(blocking = false)
      out
    },
    Some {
      def layer(r: Int) =
        s"""SELECT $r AS r, CAST(${128L * (129L - r)} AS BIGINT) AS n_boxes,
           |  CAST(count(*) AS BIGINT) AS n_occ,
           |  CAST(sum(m) AS BIGINT) AS sm,
           |  CAST(sum(m * m) AS BIGINT) AS smm
           |FROM (
           |  SELECT ((CAST(7 AS BIGINT) << 58) | (CAST(y - dy.r AS BIGINT) << 7) | CAST(((x - dx.r) % 128 + 128) % 128 AS BIGINT)) AS origin,
           |    CAST(sum(cnt) AS BIGINT) AS m
           |  FROM xy, range(0, $r) dy(r), range(0, $r) dx(r)
           |  WHERE y - dy.r BETWEEN 0 AND ${128 - r}
           |  GROUP BY 1
           |)""".stripMargin
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS cnt
         |  FROM images GROUP BY 1
         |), xy AS (
         |  SELECT cell, cnt, cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g
         |)
         |${layer(1)}
         |UNION ALL
         |${layer(2)}
         |UNION ALL
         |${layer(4)}""".stripMargin
    })

  /** ABC TIERING (Pareto storage classes) — the hot/warm/cold taxonomy a
    * tile store's placement policy consumes (replicate A-tiles to cache,
    * keep B on disk, archive C): cells ranked by mass; class A while the
    * mass-from-above cumulative stays within 80% of total, B within 95%,
    * else C — decided by the EXACT integer cross-comparisons
    * `5·cum_above ≤ 4·tot` and `20·cum_above ≤ 19·tot` (no percentage
    * division; equal-mass cells share a class by construction, since
    * cum_above is a function of the mass value).
    *
    * Scale shape: the cumulation runs over the DISTINCT-MASS histogram
    * (domain-bounded, the equidepth/RFM device — never a global rank
    * window over cells), then one broadcast join labels cells map-side.
    */
  private val qAbcTiering = Q(
    "q_abc_tiering",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("m"))
      val h = g.groupBy(col("m").as("mv"))
        .agg((count(lit(1)) * col("m").cast("long")).as("mass"))
      val cum = h.as("a").join(
          broadcast(h.select(col("mv").as("m2"), col("mass").as("mass2"))),
          col("m2") >= col("a.mv"))
        .groupBy(col("a.mv").as("mv"))
        .agg(sum(col("mass2")).as("cum_above"))
      val tot = g.agg(sum(col("m")).as("tot"))
      val cls = cum.crossJoin(broadcast(tot))
        .select(col("mv"),
          when(col("cum_above") * 5 <= col("tot") * 4, "A")
            .when(col("cum_above") * 20 <= col("tot") * 19, "B")
            .otherwise("C").as("cls"))
      g.join(broadcast(cls), col("m") === col("mv"))
        .select(col("cell"), col("m"), col("cls"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS m
         |  FROM images GROUP BY 1
         |), h AS (
         |  SELECT m AS mv, CAST(count(*) * m AS BIGINT) AS mass
         |  FROM g GROUP BY 1
         |), cum AS (
         |  SELECT a.mv, CAST(sum(b.mass) AS BIGINT) AS cum_above
         |  FROM h a JOIN h b ON b.mv >= a.mv GROUP BY 1
         |), tot AS (SELECT CAST(sum(m) AS BIGINT) AS tot FROM g),
         |cls AS (
         |  SELECT mv, CASE WHEN cum_above * 5 <= tot * 4 THEN 'A'
         |    WHEN cum_above * 20 <= tot * 19 THEN 'B'
         |    ELSE 'C' END AS cls
         |  FROM cum, tot
         |)
         |SELECT g.cell, g.m, cls.cls
         |FROM g JOIN cls ON cls.mv = g.m""".stripMargin))

  /** 3×3 MEDIAN FILTER over the res-7 density raster — the despeckle /
    * salt-and-pepper smoother of the focal family ([[qFocalStats]] = the
    * linear kernel; this = the ORDER-STATISTIC kernel, robust to single
    * hot-pixel outliers a mean happily absorbs). Sparse convention shared
    * with q_focal_stats: neighborhoods are the OCCUPIED cells of the 3×3
    * ring (missing cells absent, not zero — documented; the dense-zero
    * variant is one densify join away), the median is the LOWER median
    * (rank ⌈n/2⌉ by (cnt, src) — the deterministic integer pick; an
    * even-count mean-of-middle-two would put a .5 float in the hashed
    * output). Emits per output cell the occupied-neighbor count and the
    * median count — all BIGINT.
    *
    * Scale shape: identical to q_focal_stats — one event-sized keyed
    * groupBy to the occupied grid, a 9× ring scatter bounded by the
    * OCCUPIED grid (never the point count), then CELL-keyed windows over
    * ≤9 rows. At 10^12 points the dominant cost stays the first groupBy
    * with map-side combine. */
  private val qMedianFilter = Q(
    "q_median_filter",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val contrib = g.select(col("cell").as("src"), col("cnt"),
        explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
      val w = Window.partitionBy("cell")
      val wr = w.orderBy(col("cnt"), col("src"))
      contrib
        .withColumn("n_nbrs", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wr))
        .where(col("rn") === expr("(n_nbrs + 1) div 2"))
        .select(col("cell"), col("n_nbrs"), col("cnt").as("med_cnt"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), xy AS (
         |  SELECT cell, cnt,
         |    cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g
         |), contrib AS (
         |  SELECT ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell,
         |    cell AS src, cnt
         |  FROM xy, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |)
         |SELECT cell, n_nbrs, cnt AS med_cnt FROM (
         |  SELECT ocell AS cell, cnt, src,
         |    CAST(count(*) OVER (PARTITION BY ocell) AS BIGINT) AS n_nbrs,
         |    row_number() OVER
         |      (PARTITION BY ocell ORDER BY cnt, src) AS rn
         |  FROM contrib
         |) WHERE rn = (n_nbrs + 1) // 2""".stripMargin))

  /** BILINEAR RASTER UPSAMPLE — 2x magnification of the res-5 density
    * raster to the res-6 grid (gdal `-r bilinear` / image-pyramid
    * magnification: the missing RESAMPLING member of the raster family —
    * local ops q_density_raster, focal q_focal_stats, interpolation
    * q_idw_surface, decimation q_raster_pyramid; this goes the other
    * direction). Half-pixel-center bilinear: each output pixel mixes its
    * 2x2 source neighborhood with weights {9,3,3,1}/16 — emitted as the
    * EXACT integer numerator `up16` (sum of 16ths; the consumer's one
    * division), zero-padded at borders and off-support (documented
    * convention: sparse scatter, no densification). Scatter form: each
    * occupied source pixel explodes to its 4x4 output refs (16x fanout
    * bounded by the OCCUPIED grid, never the point count), one keyed
    * shuffle on the output pixel — q_focal_stats' scale shape. */
  private val qRasterUpsample = Q(
    "q_raster_upsample",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 5))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val offs = "array(struct(-1L AS d, 1L AS wt), struct(0L AS d, 3L AS wt)," +
        " struct(1L AS d, 3L AS wt), struct(2L AS d, 1L AS wt))"
      g.select(col("cnt"),
          col("cell").bitwiseAND(lit(31L)).as("x"),
          shiftright(col("cell"), 5).bitwiseAND(lit(31L)).as("y"))
        .select(col("cnt"), col("y"), explode(expr(offs)).as("ox"), col("x"))
        .select(col("cnt"), col("y"),
          (col("x") * 2 + col("ox.d")).as("x6"), col("ox.wt").as("wx"))
        .where(col("x6").between(0, 63))
        .select(col("cnt"), col("x6"), col("wx"), explode(expr(offs)).as("oy"),
          col("y"))
        .select(col("cnt"), col("x6"),
          (col("y") * 2 + col("oy.d")).as("y6"),
          (col("wx") * col("oy.wt")).as("w"))
        .where(col("y6").between(0, 63))
        .groupBy(col("x6"), col("y6"))
        .agg(sum(col("w") * col("cnt")).as("up16"),
          count(lit(1)).as("n_src"))
        .select(
          shiftleft(lit(6L), 58).bitwiseOR(shiftleft(col("y6"), 6))
            .bitwiseOR(col("x6")).as("cell"),
          col("x6"), col("y6"), col("up16"), col("n_src"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(5)} AS cell, count(*) AS cnt FROM images GROUP BY 1
         |), xy AS (
         |  SELECT cnt, cell & 31 AS x, (cell >> 5) & 31 AS y FROM g
         |), wgt AS (
         |  SELECT * FROM (VALUES (-1, 1), (0, 3), (1, 3), (2, 1)) w(d, wt)
         |), sc AS (
         |  SELECT x * 2 + wx.d AS x6, y * 2 + wy.d AS y6,
         |    wx.wt * wy.wt AS w, cnt
         |  FROM xy, wgt wx, wgt wy
         |  WHERE x * 2 + wx.d BETWEEN 0 AND 63
         |    AND y * 2 + wy.d BETWEEN 0 AND 63
         |)
         |SELECT ((CAST(6 AS BIGINT) << 58)
         |    | (CAST(y6 AS BIGINT) << 6) | CAST(x6 AS BIGINT)) AS cell,
         |  CAST(x6 AS BIGINT) AS x6, CAST(y6 AS BIGINT) AS y6,
         |  CAST(sum(w * cnt) AS BIGINT) AS up16,
         |  CAST(count(*) AS BIGINT) AS n_src
         |FROM sc GROUP BY 1, 2, 3""".stripMargin))

  /** IDW surface interpolation (Shepard's method) on the binned grid —
    * the gdal_grid / geostatistics operator, completing the raster
    * analytics family (local ops = q_density_raster, focal ops =
    * q_focal_stats, interpolation = here): each occupied res-7 pixel
    * scatters its exact per-pixel aggregates (point count, byte mass) to
    * its 5x5 ring weighted by inverse squared grid distance. The weights
    * are EXACT integers — 3600/d2 for d2 in {1,2,4,5,8} (3600 is a common
    * multiple of every squared distance a 5x5 ring produces) — so the
    * interpolated numerator/denominator are hash-exact integer sums
    * cross-engine; the double ratio is the consumer's one division.
    * Self (d2=0) is excluded, making the estimate a true leave-one-out
    * interpolation, defined on halo pixels too (gap filling — the reason
    * one interpolates). Same scatter-shape as q_focal_stats: 25x fanout
    * bounded by the OCCUPIED grid, one keyed shuffle on the output pixel;
    * lon wrap matches [[graft.geo.GridCell.ring]] (|offset| <= 2 < n/2,
    * so the wrapped distance equals the offset magnitude on both
    * engines). */
  private val qIdwSurface = Q(
    "q_idw_surface",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"),
          sum((col("w") * col("h") * lit(3)).cast("long")).as("v_sum"))
      val n = 128L // 2^7 cells per axis at res 7
      def xOf(c: org.apache.spark.sql.Column) = c.bitwiseAND(lit(n - 1))
      def yOf(c: org.apache.spark.sql.Column) =
        shiftright(c, 7).bitwiseAND(lit(n - 1))
      val rawDx = abs(xOf(col("src")) - xOf(col("cell")))
      val dx = least(rawDx, lit(n) - rawDx)
      val dy = abs(yOf(col("src")) - yOf(col("cell")))
      g.select(col("cell").as("src"), col("cnt"), col("v_sum"),
          explode(G.cell_ring(col("cell"), lit(2))).as("cell"))
        .withColumn("d2", dx * dx + dy * dy)
        .where(col("d2") > 0)
        .withColumn("wq", (lit(3600L) / col("d2")).cast("long"))
        .groupBy("cell")
        .agg(sum(col("wq") * col("v_sum")).as("idw_num"),
          sum(col("wq") * col("cnt")).as("idw_den"),
          count(lit(1)).as("n_nbrs"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt,
         |    CAST(sum(w * h * 3) AS BIGINT) AS v_sum
         |  FROM images GROUP BY 1
         |), xy AS (
         |  SELECT cell, cnt, v_sum,
         |    cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g
         |), contrib AS (
         |  SELECT ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell,
         |    cnt, v_sum, (dx.r * dx.r + dy.r * dy.r) AS d2
         |  FROM xy, range(-2,3) dy(r), range(-2,3) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |    AND (dx.r != 0 OR dy.r != 0)
         |)
         |SELECT ocell AS cell,
         |  CAST(sum((3600 // d2) * v_sum) AS BIGINT) AS idw_num,
         |  CAST(sum((3600 // d2) * cnt) AS BIGINT) AS idw_den,
         |  CAST(count(*) AS BIGINT) AS n_nbrs
         |FROM contrib GROUP BY 1""".stripMargin))

  /** SLOPE / ASPECT over the binned density surface — Horn's method (the
    * gdaldem / terrain-analysis operator, completing the raster family:
    * local = q_density_raster, focal = q_focal_stats, interpolation =
    * q_idw_surface, differential = here). The 3x3 Horn kernel is two
    * Sobel convolutions; in scatter form each occupied res-7 pixel
    * contributes cnt x weight to each ring-1 neighbor, where the weight
    * is ±(2 − |other-axis offset|) — 2 cardinal, 1 diagonal, signed by
    * the axis offset (ox = wrapped src_x − out_x, so east-of-output mass
    * pushes gx positive). gx/gy/slope² stay BIGINT; the aspect is the
    * same integer 8-sector compass device as q_traj_headings (sign +
    * dominance tests — no atan2 is ever hashed, the q_bic_k lesson).
    * Same cost shape as q_focal_stats: one grid-bounded 9x fanout + one
    * keyed shuffle, never a point-sized join; halo pixels get the
    * one-sided gradient a convolution implies. The oracle rebuilds the
    * weights from the per-contribution ring offsets (−dx.r) and the cell
    * bit layout independently. */
  private val qSlopeAspect = Q(
    "q_slope_aspect",
    (s, dir) => {
      import graft.geo.{functions => G}
      val n = 128L
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      def xOf(c: org.apache.spark.sql.Column) = c.bitwiseAND(lit(n - 1))
      def yOf(c: org.apache.spark.sql.Column) =
        shiftright(c, 7).bitwiseAND(lit(n - 1))
      val rawOx = xOf(col("src")) - xOf(col("cell"))
      val ox = when(rawOx > 64, rawOx - 128)
        .when(rawOx < -64, rawOx + 128).otherwise(rawOx)
      val oy = yOf(col("src")) - yOf(col("cell"))
      g.select(col("cell").as("src"), col("cnt"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .withColumn("ox", ox).withColumn("oy", oy)
        .withColumn("gxw", col("ox") * (lit(2L) - abs(col("oy"))))
        .withColumn("gyw", col("oy") * (lit(2L) - abs(col("ox"))))
        .groupBy("cell")
        .agg(sum(col("gxw") * col("cnt")).as("gx"),
          sum(col("gyw") * col("cnt")).as("gy"))
        .withColumn("slope2", col("gx") * col("gx") + col("gy") * col("gy"))
        .withColumn("aspect",
          when(col("gx") === 0 && col("gy") === 0, 8)
            .when(abs(col("gx")) > abs(col("gy")) && col("gx") > 0, 0)
            .when(abs(col("gx")) > abs(col("gy")), 4)
            .when(abs(col("gy")) > abs(col("gx")) && col("gy") > 0, 2)
            .when(abs(col("gy")) > abs(col("gx")), 6)
            .when(col("gx") > 0 && col("gy") > 0, 1)
            .when(col("gx") > 0, 7)
            .when(col("gy") > 0, 3)
            .otherwise(5))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), xy AS (
         |  SELECT cell, cnt,
         |    cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g
         |), contrib AS (
         |  SELECT ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell,
         |    cnt,
         |    (-dx.r) * (2 - abs(dy.r)) AS gxw,
         |    (-dy.r) * (2 - abs(dx.r)) AS gyw
         |  FROM xy, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |), a AS (
         |  SELECT ocell AS cell,
         |    CAST(sum(gxw * cnt) AS BIGINT) AS gx,
         |    CAST(sum(gyw * cnt) AS BIGINT) AS gy
         |  FROM contrib GROUP BY 1
         |)
         |SELECT cell, gx, gy,
         |  CAST(gx * gx + gy * gy AS BIGINT) AS slope2,
         |  CAST(CASE
         |    WHEN gx = 0 AND gy = 0 THEN 8
         |    WHEN abs(gx) > abs(gy) AND gx > 0 THEN 0
         |    WHEN abs(gx) > abs(gy) THEN 4
         |    WHEN abs(gy) > abs(gx) AND gy > 0 THEN 2
         |    WHEN abs(gy) > abs(gx) THEN 6
         |    WHEN gx > 0 AND gy > 0 THEN 1
         |    WHEN gx > 0 THEN 7
         |    WHEN gy > 0 THEN 3
         |    ELSE 5 END AS INTEGER) AS aspect
         |FROM a""".stripMargin))

  /** LINE-OF-SIGHT / VIEWSHED over the density raster — the classic
    * terrain-visibility operator (observer sees target iff no intermediate
    * sample rises above the sight line), with the binned res-7 density as
    * elevation. Observers are the HOT cells (cnt > 2x the global mean,
    * decided by the exact cross-multiplication cnt·n_cells > 2·Σx);
    * targets are the OCCUPIED cells within Chebyshev radius 3 (lon-wrap,
    * lat in range). The sight line is sampled by integer DDA: at step
    * t ∈ 1..n−1 (n = Chebyshev distance) the sample column is
    * ((x0·n + dx·t + 128·n) div n) mod 128 — the +128·n bias keeps the
    * numerator non-negative so truncating and flooring division agree on
    * both engines — and the sample BLOCKS iff (e_s − e_o)·n ≥ (e_t − e_o)·t
    * (the sight-line inequality cross-multiplied; zero floating point
    * anywhere). Adjacent targets (n = 1) have no intermediate sample and
    * are always visible. Output: per (observer, target) the distance,
    * both elevations, the blocker count, and vis ∈ {0,1}.
    *
    * Scale shape: observers are a broadcast-thresholded slice of the
    * OCCUPIED grid; the 48x ring fanout and the ≤2-sample DDA explode are
    * grid-bounded; every elevation lookup is a keyed equi-join against the
    * cell table (never a theta join). At 10^12 points the only data-sized
    * stage is the res-7 groupBy; everything downstream is O(hot cells ×
    * 48 × 2). */
  private val qLineOfSight = Q(
    "q_line_of_sight",
    (s, dir) => {
      import graft.geo.{functions => G}
      lineOfSightFrom(s,
        Images.images(s, dir)
          .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
          .groupBy("cell").agg(count(lit(1)).as("cnt")))
    },
    Some(losOracleSql))

  /** Core of [[qLineOfSight]] over an arbitrary `(cell, cnt)` res-7
    * elevation table — factored out so the spec can drive it with a
    * hand-built grid. */
  private[graft] def lineOfSightFrom(s: SparkSession,
                                     g: DataFrame): DataFrame = {
    {
      import s.implicits._
      val base = g.agg(count(lit(1)).as("n_cells"), sum("cnt").as("sx"))
      val obs = g.crossJoin(broadcast(base))
        .where(col("cnt") * col("n_cells") > col("sx") * 2)
        .select(col("cell").as("ocell"), col("cnt").as("eo"))
        .withColumn("x0", col("ocell").bitwiseAND(lit(127L)))
        .withColumn("y0", shiftright(col("ocell"), 7).bitwiseAND(lit(127L)))
      val offs = (for (dy <- -3 to 3; dx <- -3 to 3 if dx != 0 || dy != 0)
        yield (dx.toLong, dy.toLong)).toDF("dx", "dy")
      val cand = obs.crossJoin(broadcast(offs))
        .where(col("y0") + col("dy") >= 0 && col("y0") + col("dy") <= 127)
        .withColumn("n", greatest(abs(col("dx")), abs(col("dy"))))
        .withColumn("tx", (col("x0") + col("dx") + 128) % 128)
        .withColumn("ty", col("y0") + col("dy"))
        .withColumn("cell",
          lit(7L << 58).bitwiseOR(shiftleft(col("ty"), 7)).bitwiseOR(col("tx")))
        .join(g.select(col("cell"), col("cnt").as("et")), Seq("cell"))
        .select(col("ocell"), col("cell").as("tcell"), col("n"),
          col("eo"), col("et"), col("x0"), col("y0"), col("dx"), col("dy"))
      val blk = cand.where(col("n") >= 2)
        .withColumn("t", explode(sequence(lit(1L), col("n") - 1)))
        .withColumn("sx_",
          expr("((x0 * n + dx * t + 128 * n) div n) % 128"))
        .withColumn("sy_",
          expr("(y0 * n + dy * t + 128 * n) div n - 128"))
        .withColumn("cell",
          lit(7L << 58).bitwiseOR(shiftleft(col("sy_"), 7))
            .bitwiseOR(col("sx_")))
        .join(g.select(col("cell"), col("cnt").as("es")), Seq("cell"), "left")
        .withColumn("es", coalesce(col("es"), lit(0L)))
        .groupBy("ocell", "tcell")
        .agg(sum(when((col("es") - col("eo")) * col("n") >=
          (col("et") - col("eo")) * col("t"), 1L).otherwise(0L))
          .as("n_block"))
      cand.join(blk, Seq("ocell", "tcell"), "left")
        .withColumn("n_block", coalesce(col("n_block"), lit(0L)))
        .select(col("ocell"), col("tcell"), col("n"), col("eo"), col("et"),
          col("n_block"),
          when(col("n_block") === 0, 1L).otherwise(0L).as("vis"))
    }
  }

  private def losOracleSql: String =
    s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(sum(cnt) AS BIGINT) AS sx
         |  FROM g
         |), obs AS (
         |  SELECT cell AS ocell, cnt AS eo,
         |    cell & 127 AS x0, (cell >> 7) & 127 AS y0
         |  FROM g, b WHERE cnt * n_cells > sx * 2
         |), cand AS (
         |  SELECT o.ocell, g.cell AS tcell,
         |    greatest(abs(dx.r), abs(dy.r)) AS n,
         |    o.eo, g.cnt AS et, o.x0, o.y0,
         |    CAST(dx.r AS BIGINT) AS dx, CAST(dy.r AS BIGINT) AS dy
         |  FROM obs o, range(-3,4) dy(r), range(-3,4) dx(r)
         |  JOIN g ON g.cell = ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(o.y0 + dy.r AS BIGINT) << 7)
         |      | CAST((o.x0 + dx.r + 128) % 128 AS BIGINT))
         |  WHERE o.y0 + dy.r BETWEEN 0 AND 127
         |    AND (dx.r != 0 OR dy.r != 0)
         |), blk AS (
         |  SELECT c.ocell, c.tcell,
         |    CAST(sum(CASE WHEN (coalesce(sg.cnt, 0) - c.eo) * c.n >=
         |      (c.et - c.eo) * s.t THEN 1 ELSE 0 END) AS BIGINT) AS n_block
         |  FROM cand c
         |  JOIN range(1, 3) s(t) ON s.t < c.n
         |  LEFT JOIN g sg ON sg.cell = ((CAST(7 AS BIGINT) << 58)
         |      | (CAST((c.y0 * c.n + c.dy * s.t + 128 * c.n) // c.n - 128
         |          AS BIGINT) << 7)
         |      | CAST(((c.x0 * c.n + c.dx * s.t + 128 * c.n) // c.n) % 128
         |          AS BIGINT))
         |  GROUP BY 1, 2
         |)
         |SELECT c.ocell, c.tcell, CAST(c.n AS BIGINT) AS n, c.eo, c.et,
         |  coalesce(k.n_block, 0) AS n_block,
         |  CAST(CASE WHEN coalesce(k.n_block, 0) = 0 THEN 1 ELSE 0 END
         |    AS BIGINT) AS vis
         |FROM cand c LEFT JOIN blk k
         |  ON k.ocell = c.ocell AND k.tcell = c.tcell""".stripMargin

  /** D8 FLOW ROUTING + WATERSHED BASINS over the density raster — the
    * hydrology family (flow direction → pit detection → basin labels)
    * on the binned grid: each occupied res-7 cell drains to its
    * steepest-descent lower occupied queen neighbor (max integer drop,
    * ties to the smallest cell id), pits drain nowhere, and every cell is
    * labeled with the PIT its flow path reaches (the watershed basin)
    * plus the hop count. [[graft.operators.FlowRouting]]: the downstream
    * forest is resolved by POINTER DOUBLING with a distance accumulator —
    * O(log depth) keyed self-joins, the connected-components device —
    * while the oracle walks the same pointers one hop at a time through a
    * recursive CTE; a hash match therefore proves the doubled composition
    * equals the sequential walk on every cell. All integer end-to-end. */
  /** One routing pass serves the THREE hydrology queries (q_flow_watershed,
    * q_flow_accum, q_basin_stats) through [[SharedFrames]]: resolved
    * pointers + the cell counts, localCheckpoint'ed per (session, dir). */
  private def watershedMemo(s: SparkSession, dir: String): DataFrame =
    SharedFrames("watershedMemo", s, dir) {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      FlowRouting.watershed(g).join(g, Seq("cell")).localCheckpoint(true)
    }

  private val qFlowWatershed = Q(
    "q_flow_watershed",
    (s, dir) => watershedMemo(s, dir)
      .select("cell", "down", "drop", "pit", "path_len"),
    // NB: concatenation, not interpolation into a stripMargin literal —
    // flowOracleCtes contains bitwise-OR pipes at line starts that a
    // second stripMargin pass would eat.
    Some(flowOracleCtes + "\n" +
      """SELECT s.cell, s.down, s.drop, w.cur AS pit,
        |  CAST(w.steps AS BIGINT) AS path_len
        |FROM walk w
        |JOIN d2 p ON p.cell = w.cur AND p.down = -1
        |JOIN d2 s ON s.cell = w.start""".stripMargin))

  /** Shared oracle chain of the hydrology family: pointers `d2(cell, down,
    * drop)` and the sequential `walk(start, cur, steps)` recursion. */
  private def flowOracleCtes: String =
    s"""${cte.replaceFirst("WITH ", "WITH RECURSIVE ")}, g AS (
       |  SELECT ${cellSql(7)} AS cell, CAST(count(*) AS BIGINT) AS cnt
       |  FROM images GROUP BY 1
       |), xy AS (
       |  SELECT cell, cnt, cell & 127 AS x, (cell >> 7) & 127 AS y
       |  FROM g
       |), contrib AS (
       |  SELECT cell AS src, cnt,
       |    ((CAST(7 AS BIGINT) << 58)
       |      | (CAST(y + dy.r AS BIGINT) << 7)
       |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell
       |  FROM xy, range(-1,2) dy(r), range(-1,2) dx(r)
       |  WHERE y + dy.r BETWEEN 0 AND 127
       |    AND (dx.r != 0 OR dy.r != 0)
       |), dn AS (
       |  SELECT src AS cell, ocell AS down, drop FROM (
       |    SELECT c.src, c.ocell, c.cnt - n.cnt AS drop,
       |      row_number() OVER (PARTITION BY c.src
       |        ORDER BY c.cnt - n.cnt DESC, c.ocell) AS rk
       |    FROM contrib c JOIN g n ON n.cell = c.ocell
       |    WHERE n.cnt < c.cnt
       |  ) WHERE rk = 1
       |), d2 AS (
       |  SELECT g.cell, coalesce(dn.down, -1) AS down,
       |    CAST(coalesce(dn.drop, 0) AS BIGINT) AS drop
       |  FROM g LEFT JOIN dn ON dn.cell = g.cell
       |), walk AS (
       |  SELECT cell AS start, cell AS cur, 0 AS steps FROM d2
       |  UNION ALL
       |  SELECT w.start, d.down, w.steps + 1
       |  FROM walk w JOIN d2 d ON d.cell = w.cur AND d.down != -1
       |)""".stripMargin

  /** FLOW ACCUMULATION — stream-network extraction over the routed grid:
    * per cell, how many cells' flow paths pass through it (itself
    * included; high accumulation = a channel, 1 = a ridge crest). The
    * engine pushes counts down the forest bottom-up for exactly
    * max(path_len) rounds ([[FlowRouting.accumulationFrom]], riding the
    * memoized routing pass); the oracle counts path VISITS from the
    * sequential walk — a hash match proves the O(depth) keyed push equals
    * exhaustive path enumeration on every cell. */
  private val qFlowAccum = Q(
    "q_flow_accum",
    (s, dir) => FlowRouting.accumulationFrom(watershedMemo(s, dir))
      .select("cell", "pit", "acc"),
    Some(flowOracleCtes +
      """, acc AS (
        |  SELECT cur AS cell, CAST(count(*) AS BIGINT) AS acc
        |  FROM walk GROUP BY 1
        |), fin AS (
        |  SELECT w.start AS cell, w.cur AS pit
        |  FROM walk w JOIN d2 p ON p.cell = w.cur AND p.down = -1
        |)
        |SELECT f.cell, f.pit, a.acc
        |FROM fin f JOIN acc a ON a.cell = f.cell""".stripMargin))

  /** WATERSHED BASIN ROLLUP — per-basin summaries (the zonal statistics of
    * the hydrology family, zones = basins instead of polygons): member
    * cells, point mass, and the deepest flow path draining into the pit.
    * One pit-keyed groupBy over the memoized routing. */
  private val qBasinStats = Q(
    "q_basin_stats",
    (s, dir) => watershedMemo(s, dir)
      .groupBy(col("pit"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("mass"),
        max(col("path_len")).as("max_depth")),
    Some(flowOracleCtes +
      """, fin AS (
        |  SELECT w.start, w.cur AS pit, w.steps
        |  FROM walk w JOIN d2 p ON p.cell = w.cur AND p.down = -1
        |)
        |SELECT pit, CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(g.cnt) AS BIGINT) AS mass,
        |  CAST(max(steps) AS BIGINT) AS max_depth
        |FROM fin JOIN g ON g.cell = fin.start
        |GROUP BY pit""".stripMargin))

  /** Global MORAN'S I — spatial autocorrelation over the binned grid (the
    * ESDA statistic behind "is the density clustered, dispersed, or
    * random?"), with queen (3x3 Chebyshev) binary weights over OCCUPIED
    * res-7 pixels. Emitted as its integer-exact sufficient pieces rather
    * than the double ratio (the q_bic_k lesson — never hash a raw
    * transcendental/divided double cross-engine):
    * n_cells, sx = Σx, sxx = Σx², and over ORDERED occupied-neighbor pairs
    * s0 = Σw, spp = Σ xᵢxⱼ, srs = Σ (xᵢ+xⱼ). The statistic is then the
    * exact rational
    *   I = (n²·spp − n·sx·srs + sx²·s0) / (s0·(n·sxx − sx²))
    * — the consumer's one division (SpatialStatsSpec asserts it equals the
    * naive definition on a hand fixture; the pieces stay far inside BIGINT
    * where the combined numerator can overflow at corpus scale). Neighbor
    * pairs come from the same grid-bounded ring scatter as q_focal_stats
    * joined back to the occupied set: one 9x fanout + one keyed equi-join
    * — never a point-sized theta join; at 10^12 points both sides of the
    * join are bounded by the OCCUPIED grid (≤ 4^res cells). */
  private val qMoransI = Q(
    "q_morans_i",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val base = g.agg(count(lit(1)).as("n_cells"),
        sum(col("cnt")).as("sx"),
        sum(col("cnt") * col("cnt")).as("sxx"))
      val pairs = g.select(col("cell").as("src"), col("cnt").as("xi"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .where(col("cell") =!= col("src"))
        .join(g, Seq("cell"))
        .agg(count(lit(1)).as("s0"),
          sum(col("xi") * col("cnt")).as("spp"),
          sum(col("xi") + col("cnt")).as("srs"))
      base.crossJoin(pairs)
        .select(col("n_cells"), col("sx"), col("sxx"),
          col("s0"), col("spp"), col("srs"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), xy AS (
         |  SELECT cell, cnt, cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g
         |), contrib AS (
         |  SELECT ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell,
         |    cnt AS xi
         |  FROM xy, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |    AND (dx.r != 0 OR dy.r != 0)
         |), pr AS (
         |  SELECT c.xi, g.cnt AS xj FROM contrib c JOIN g ON g.cell = c.ocell
         |), b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(sum(cnt) AS BIGINT) AS sx,
         |    CAST(sum(cnt * cnt) AS BIGINT) AS sxx
         |  FROM g
         |), p AS (
         |  SELECT CAST(count(*) AS BIGINT) AS s0,
         |    CAST(sum(xi * xj) AS BIGINT) AS spp,
         |    CAST(sum(xi + xj) AS BIGINT) AS srs
         |  FROM pr
         |)
         |SELECT n_cells, sx, sxx, s0, spp, srs FROM b, p""".stripMargin))

  /** Empirical SEMIVARIOGRAM of the binned density — the geostatistics
    * companion of q_idw_surface (the variogram is what tells you HOW to
    * weight an interpolation: kriging fits a model to exactly this table):
    * for every squared grid distance d2 the 5x5 ring produces
    * ({1,2,4,5,8} — lags 1, √2, 2, √5, 2√2 in pixel units), the ORDERED
    * occupied-pair count and Σ(xᵢ−xⱼ)². γ(d2) = sq_sum / (2·n_pairs) is
    * the consumer's one division; both emitted columns are integer-exact.
    * Same scatter-join shape as q_morans_i at radius 2 (25x grid-bounded
    * fanout, one keyed equi-join back to the occupied set), with the lon
    * wrap of [[graft.geo.GridCell.ring]] folded into d2 exactly as in
    * q_idw_surface (|offset| <= 2 < n/2). */
  private val qVariogram = Q(
    "q_variogram",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val n = 128L
      def xOf(c: org.apache.spark.sql.Column) = c.bitwiseAND(lit(n - 1))
      def yOf(c: org.apache.spark.sql.Column) =
        shiftright(c, 7).bitwiseAND(lit(n - 1))
      val rawDx = abs(xOf(col("src")) - xOf(col("cell")))
      val dx = least(rawDx, lit(n) - rawDx)
      val dy = abs(yOf(col("src")) - yOf(col("cell")))
      g.select(col("cell").as("src"), col("cnt").as("xi"),
          explode(G.cell_ring(col("cell"), lit(2))).as("cell"))
        .withColumn("d2", dx * dx + dy * dy)
        .where(col("d2") > 0)
        .join(g, Seq("cell"))
        .groupBy("d2")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("xi") - col("cnt")) * (col("xi") - col("cnt")))
            .as("sq_sum"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), xy AS (
         |  SELECT cell, cnt, cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g
         |), contrib AS (
         |  SELECT ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell,
         |    cnt AS xi, CAST(dx.r * dx.r + dy.r * dy.r AS BIGINT) AS d2
         |  FROM xy, range(-2,3) dy(r), range(-2,3) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |    AND (dx.r != 0 OR dy.r != 0)
         |)
         |SELECT d2, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum((c.xi - g.cnt) * (c.xi - g.cnt)) AS BIGINT) AS sq_sum
         |FROM contrib c JOIN g ON g.cell = c.ocell
         |GROUP BY d2""".stripMargin))

  /** JOIN-COUNT STATISTICS — the CATEGORICAL spatial-autocorrelation test
    * (Cliff & Ord's BB/BW/WW join counts: do like-marked cells neighbor
    * each other more than chance?), completing the ESDA family next to the
    * interval-scale [[qMoransI]]/q_getis_ord. Each occupied res-7 cell is
    * marked Black iff its count exceeds the global mean — decided by the
    * exact integer cross-multiplication cnt·n_cells > Σx (never a divided
    * double) — and every ORDERED queen (3x3 Chebyshev, lon-wrap/lat-clamp)
    * occupied-neighbor pair is classified BB / BW / WW. Emitted with
    * n_cells, n_black and s0 so the consumer can form the permutation-null
    * expectations E[BB] = s0·nb·(nb−1)/(n·(n−1)) etc. — all integer-exact.
    *
    * Scale shape: the mark needs one global (n, Σx) scalar broadcast onto
    * the grid-bounded cell table; pairs come from the identical 9x ring
    * scatter + keyed equi-join as q_morans_i — at 10^12 points every
    * post-scan stage is bounded by the OCCUPIED grid (≤ 4^res cells), and
    * the one data-sized shuffle is the res-7 groupBy with map-side
    * combine. */
  private val qJoinCounts = Q(
    "q_join_counts",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val base = g.agg(count(lit(1)).as("n_cells"), sum("cnt").as("sx"))
      val marked = g.crossJoin(broadcast(base))
        .withColumn("b", (col("cnt") * col("n_cells")) > col("sx"))
        .select(col("cell"), col("b"), col("n_cells"))
      val pairs = marked
        .select(col("cell").as("src"), col("b").as("bi"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .where(col("cell") =!= col("src"))
        .join(marked.select(col("cell"), col("b").as("bj")), Seq("cell"))
        .agg(count(lit(1)).as("s0"),
          sum(when(col("bi") && col("bj"), 1L).otherwise(0L)).as("bb"),
          sum(when(col("bi") =!= col("bj"), 1L).otherwise(0L)).as("bw"),
          sum(when(!col("bi") && !col("bj"), 1L).otherwise(0L)).as("ww"))
      base.crossJoin(
          marked.agg(sum(when(col("b"), 1L).otherwise(0L)).as("n_black")))
        .crossJoin(pairs)
        .select(col("n_cells"), col("sx"), col("n_black"),
          col("s0"), col("bb"), col("bw"), col("ww"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(sum(cnt) AS BIGINT) AS sx
         |  FROM g
         |), mk AS (
         |  SELECT cell, cnt * n_cells > sx AS b,
         |    cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g, b
         |), contrib AS (
         |  SELECT ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell,
         |    b AS bi
         |  FROM mk, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |    AND (dx.r != 0 OR dy.r != 0)
         |), pr AS (
         |  SELECT c.bi, m.b AS bj FROM contrib c JOIN mk m ON m.cell = c.ocell
         |), p AS (
         |  SELECT CAST(count(*) AS BIGINT) AS s0,
         |    CAST(sum(CASE WHEN bi AND bj THEN 1 ELSE 0 END) AS BIGINT) AS bb,
         |    CAST(sum(CASE WHEN bi != bj THEN 1 ELSE 0 END) AS BIGINT) AS bw,
         |    CAST(sum(CASE WHEN NOT bi AND NOT bj THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ww
         |  FROM pr
         |), nb AS (
         |  SELECT CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_black
         |  FROM mk
         |)
         |SELECT n_cells, sx, n_black, s0, bb, bw, ww FROM b, nb, p""".stripMargin))

  /** LOCAL MORAN (LISA) QUADRANT CLASSIFICATION — the per-cell companion
    * of [[qMoransI]]: every occupied res-7 cell labeled HH / LL / HL / LH
    * (the Anselin LISA cluster map: hotspot, coldspot, high-low outlier,
    * low-high outlier). The two signs that decide the quadrant are
    * computed on INTEGER-SCALED deviations, so the map is exact:
    * dev_i = n·xᵢ − Σx (sign of xᵢ − mean, scaled by n > 0) and
    * dev_lag = n·lag_sum − n_nbrs·Σx (sign of the neighbor mean minus the
    * global mean, scaled by n·n_nbrs ≥ 0; isolated cells get lag "low").
    * The unscaled local Moran numerator is the consumer's product
    * dev_i·dev_lag — emitted as FACTORS, not the product (each factor
    * stays < 1.6e16 at n ≤ 4^res cells and 10^12 points; the product
    * would overflow BIGINT). Zero deviations fold into the "low" branch
    * (>0 vs <=0) — deterministic on both engines. Same grid-bounded ring
    * scatter + one keyed equi-join as the global statistic; the globals
    * ride in on a 1-row cross join. */
  private val qLisaQuadrants = Q(
    "q_lisa_quadrants",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val nbr = g.select(col("cell").as("src"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .where(col("cell") =!= col("src"))
        .join(g, Seq("cell"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_nbrs"), sum(col("cnt")).as("lag_sum"))
      val glob = g.agg(count(lit(1)).as("n"), sum(col("cnt")).as("sx"))
      g.join(nbr, g("cell") === nbr("src"), "left_outer")
        .crossJoin(glob)
        .select(col("cell"), col("cnt").as("xi"),
          coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"),
          coalesce(col("lag_sum"), lit(0L)).as("lag_sum"),
          (col("n") * col("cnt") - col("sx")).as("dev_i"),
          (col("n") * coalesce(col("lag_sum"), lit(0L)) -
            coalesce(col("n_nbrs"), lit(0L)) * col("sx")).as("dev_lag"))
        .withColumn("quadrant",
          when(col("dev_i") > 0 && col("dev_lag") > 0, 1)
            .when(col("dev_i") <= 0 && col("dev_lag") <= 0, 2)
            .when(col("dev_i") > 0, 3).otherwise(4))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), xy AS (
         |  SELECT cell, cnt, cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g
         |), sc AS (
         |  SELECT cell AS src, ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell
         |  FROM xy, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |    AND (dx.r != 0 OR dy.r != 0)
         |), nbr AS (
         |  SELECT sc.src, CAST(count(*) AS BIGINT) AS n_nbrs,
         |    CAST(sum(g.cnt) AS BIGINT) AS lag_sum
         |  FROM sc JOIN g ON g.cell = sc.ocell GROUP BY 1
         |), gstat AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cnt) AS BIGINT) AS sx FROM g
         |), f AS (
         |  SELECT g.cell, CAST(g.cnt AS BIGINT) AS xi,
         |    coalesce(n_nbrs, 0) AS n_nbrs,
         |    coalesce(lag_sum, 0) AS lag_sum,
         |    gstat.n * g.cnt - gstat.sx AS dev_i,
         |    gstat.n * coalesce(lag_sum, 0)
         |      - coalesce(n_nbrs, 0) * gstat.sx AS dev_lag
         |  FROM g LEFT JOIN nbr ON nbr.src = g.cell CROSS JOIN gstat
         |)
         |SELECT cell, xi, n_nbrs, lag_sum, dev_i, dev_lag,
         |  CAST(CASE WHEN dev_i > 0 AND dev_lag > 0 THEN 1
         |    WHEN dev_i <= 0 AND dev_lag <= 0 THEN 2
         |    WHEN dev_i > 0 THEN 3 ELSE 4 END AS INTEGER) AS quadrant
         |FROM f""".stripMargin))

  /** GETIS-ORD Gi* HOT/COLD CLASSIFICATION — the third member of the
    * local-stats family ([[qMoransI]] global, [[qLisaQuadrants]] local
    * quadrants): per occupied res-7 cell, the sign of the Gi* numerator
    * `star_sum − n_star·x̄` computed on INTEGER-SCALED factors
    * (dev_star = n·star_sum − n_star·Σx, where star_sum/n_star are the
    * ring sums INCLUDING self — the defining Gi* difference from the
    * LISA lag). The full Gi* z-score needs a sqrt; the hashed output
    * stays integer-exact (the q_bic_k lesson: never hash a raw
    * transcendental) and emits the numerator factors plus the sign
    * label; a consumer needing the z-score divides two emitted integers
    * and takes one sqrt driver-side. Same bounded ring scatter + one
    * keyed equi-join; occupied-cell universe (empty cells excluded on
    * both engines, documented). */
  private val qGetisOrd = Q(
    "q_getis_ord",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val star = g.select(col("cell").as("src"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .join(g, Seq("cell"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_star"), sum(col("cnt")).as("star_sum"))
      val glob = g.agg(count(lit(1)).as("n"), sum(col("cnt")).as("sx"))
      g.join(star, g("cell") === star("src"))
        .crossJoin(glob)
        .select(col("cell"), col("cnt").as("xi"),
          col("n_star"), col("star_sum"),
          (col("n") * col("star_sum") - col("n_star") * col("sx"))
            .as("dev_star"))
        .withColumn("label",
          when(col("dev_star") > 0, lit("hot"))
            .when(col("dev_star") < 0, lit("cold"))
            .otherwise(lit("neutral")))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), sc AS (
         |  SELECT cell AS src, ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 7)
         |      | CAST(((x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS ocell
         |  FROM (SELECT cell, cell & 127 AS x, (cell >> 7) & 127 AS y
         |        FROM g) c,
         |    range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 127
         |), star AS (
         |  SELECT sc.src, CAST(count(*) AS BIGINT) AS n_star,
         |    CAST(sum(g.cnt) AS BIGINT) AS star_sum
         |  FROM sc JOIN g ON g.cell = sc.ocell GROUP BY 1
         |), gstat AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cnt) AS BIGINT) AS sx FROM g
         |)
         |SELECT g.cell, CAST(g.cnt AS BIGINT) AS xi, n_star, star_sum,
         |  gstat.n * star_sum - n_star * gstat.sx AS dev_star,
         |  CASE WHEN gstat.n * star_sum - n_star * gstat.sx > 0 THEN 'hot'
         |    WHEN gstat.n * star_sum - n_star * gstat.sx < 0 THEN 'cold'
         |    ELSE 'neutral' END AS label
         |FROM g JOIN star ON star.src = g.cell CROSS JOIN gstat""".stripMargin))

  /** SPATIAL ISOLATION ANTI-JOIN — the negation counterpart of the
    * hot-cell family: images that are ALONE in their res-9 cell AND have
    * no occupied cell in the queen ring around it (no other image within
    * one grid step ≈ 40 km at the equator). The 100 TB shape matters more
    * than the predicate: "nothing near me" is a NOT EXISTS over a spatial
    * neighborhood, and the naive plan is a theta anti-join (every point
    * vs every point). Here it is three keyed hash operations: bin
    * (groupBy cell), scatter the ≤8-cell ring from SINGLETON cells only
    * (the candidates — the dense 99% of cells never fan out), left-anti
    * equi-join the scatter hits, then one equi-join back to pick up the
    * row payload. Longitude wraps, latitude clamps — a pole-adjacent
    * point is not spuriously "isolated" across the seam. */
  private val qIsolated = Q(
    "q_isolated",
    (s, dir) => {
      import graft.geo.{functions => G}
      val img = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 9))
      val g = img.groupBy("cell").agg(count(lit(1)).as("cnt"))
      val cand = g.where(col("cnt") === 1).select("cell")
      val hits = cand.select(col("cell").as("src"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .where(col("cell") =!= col("src"))
        .join(g, Seq("cell"))
        .select(col("src").as("cell")).distinct()
      val iso = cand.join(hits, Seq("cell"), "left_anti")
      img.select(col("image_id"), col("cell"))
        .join(iso, Seq("cell"))
        .select("image_id", "cell")
    },
    Some(
      s"""$cte, ic AS (
         |  SELECT image_id, ${cellSql(9)} AS cell FROM images
         |), g AS (
         |  SELECT cell, count(*) AS cnt FROM ic GROUP BY 1
         |), cand AS (
         |  SELECT cell FROM g WHERE cnt = 1
         |), sc AS (
         |  SELECT cell AS src, ((CAST(9 AS BIGINT) << 58)
         |      | (CAST(y + dy.r AS BIGINT) << 9)
         |      | CAST(((x + dx.r) % 512 + 512) % 512 AS BIGINT)) AS ocell
         |  FROM (SELECT cell, cell & 511 AS x, (cell >> 9) & 511 AS y
         |        FROM cand) c,
         |    range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE y + dy.r BETWEEN 0 AND 511
         |    AND (dx.r != 0 OR dy.r != 0)
         |), iso AS (
         |  SELECT cell FROM cand
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM sc JOIN g ON g.cell = sc.ocell
         |    WHERE sc.src = cand.cell)
         |)
         |SELECT ic.image_id, ic.cell
         |FROM ic JOIN iso ON iso.cell = ic.cell""".stripMargin))

  /** TRAJECTORY -> TILE RASTERIZATION: a traffic-density raster from the
    * event stream. Each event gets a deterministic geo-position (the same
    * LCG derivation family as the `images` table, seeded by event_id);
    * consecutive events of one user form a segment (lag over a window
    * KEYED by user — never partitionless); each segment is rasterized to
    * the res-7 cells its Bresenham grid line steps through
    * ([[graft.geo.GridCell.lineCells]], codegen'd [[graft.geo.LineCells]]);
    * the raster is the per-cell count of crossing segments and distinct
    * users. The 100 TB shape: segment formation is one keyed shuffle,
    * rasterization is a map-side generator (explode of a bounded array —
    * <= Chebyshev-length cells, no join), and the final rollup
    * partial-aggregates before its shuffle. The oracle replays the exact
    * integer Bresenham state machine (x, y, err) as a recursive CTE, so a
    * hash match proves every step of every segment cross-engine.
    *
    * Seam convention: PLANAR — a segment crossing the antimeridian is
    * drawn the long way across the [-180,180] grid (the lineCells
    * contract), unlike q_traj_headings' wrapped shortest-direction
    * heading; see that query's scaladoc for the full divergence note
    * (ADVICE r4). */
  private val qTrajRaster = Q(
    "q_traj_raster",
    (s, dir) => {
      import graft.geo.{functions => G}
      val ev = eventPositions(s, dir, 7)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev.withColumn("prev", lag(col("cell"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("user_id"),
          explode(G.line_cells(col("prev"), col("cell"))).as("cell"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_segs"),
          countDistinct(col("user_id")).as("n_users"))
    },
    Some(
      s"""WITH RECURSIVE ${eventCellCtes(7)}, seg AS (
         |  SELECT event_id, user_id, cell,
         |    lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM pc
         |), segs AS (
         |  SELECT event_id AS seg_id, user_id,
         |    prev & 127 AS x, (prev >> 7) & 127 AS y,
         |    cell & 127 AS x1, (cell >> 7) & 127 AS y1
         |  FROM seg WHERE prev IS NOT NULL
         |), walk AS (
         |  SELECT seg_id, user_id, x, y, x1, y1,
         |    abs(x1 - x) AS dx, -abs(y1 - y) AS dy,
         |    CASE WHEN x < x1 THEN 1 ELSE -1 END AS sx,
         |    CASE WHEN y < y1 THEN 1 ELSE -1 END AS sy,
         |    abs(x1 - x) - abs(y1 - y) AS err
         |  FROM segs
         |  UNION ALL
         |  SELECT seg_id, user_id,
         |    CASE WHEN 2 * err >= dy THEN x + sx ELSE x END,
         |    CASE WHEN 2 * err <= dx THEN y + sy ELSE y END,
         |    x1, y1, dx, dy, sx, sy,
         |    err + CASE WHEN 2 * err >= dy THEN dy ELSE 0 END
         |        + CASE WHEN 2 * err <= dx THEN dx ELSE 0 END
         |  FROM walk
         |  WHERE NOT (x = x1 AND y = y1)
         |)
         |SELECT ((CAST(7 AS BIGINT) << 58) | (CAST(y AS BIGINT) << 7)
         |    | CAST(x AS BIGINT)) AS cell,
         |  CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM walk GROUP BY 1""".stripMargin))

  /** GRID-DBSCAN hotspot regions over `images`-shaped input: bin to res-7
    * cells, keep cells with `cnt >= minPts` (the DBSCAN core-cell
    * predicate), connect dense cells that are queen-adjacent (Chebyshev 1
    * on the grid, lon-wrapping / lat-clamped exactly like
    * [[graft.geo.GridCell.ring]]), and label each cell with its connected
    * component's minimum cell id via the distributed hash-to-min iteration
    * ([[graft.dedup.Components]] — the same pointer-jumping CC that powers
    * dedup groups, here on grid adjacency). Returns one row per region:
    * (region, n_cells, n_pts). Exposed for SpatialStatsSpec, which runs a
    * hand grid through the REAL pipeline (diagonal adjacency, threshold
    * exclusion, conservation).
    *
    * Scale shape: both CC inputs are bounded by the OCCUPIED grid (≤ 4^res
    * cells), not the point count — the only pass over the 10^12-row corpus
    * is the binning groupBy; edges are a 9x grid-bounded scatter + one
    * keyed semi-join (never a theta join); each CC round is three keyed
    * shuffles over |dense| rows with O(log diameter) rounds. The tiny
    * region table is eagerly checkpointed so the shared dense cache can be
    * released before returning. */
  private[graft] def hotspotRegions(img: DataFrame, minPts: Int = 6)
      : DataFrame = {
    import graft.geo.{functions => G}
    val dense = img
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minPts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = dense.select(col("cell").as("a"),
        explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
      .where(col("cell") =!= col("a"))
      .join(dense.select("cell"), Seq("cell"))
      .select(col("a"), col("cell").as("b"))
    val lbl = graft.dedup.Components.connectedComponents(
      dense.select(col("cell").as("id")), edges)
    val out = lbl.join(dense, lbl("id") === dense("cell"))
      .groupBy(col("rep").as("region"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_pts"))
      .localCheckpoint(true)
    dense.unpersist(blocking = false)
    out
  }

  /** HOTSPOT REGION EXTRACTION — grid DBSCAN: the density-based spatial
    * clustering operator (ESRI "Find Hot Spots" / raster region-group):
    * which CONTIGUOUS areas of the map are dense, not just which single
    * cells ([[hotspotRegions]]). The oracle computes the transitive
    * closure of the same dense-cell adjacency as a recursive CTE
    * (min-reachable-label), so a hash match proves the distributed
    * pointer-jumping CC reaches the exact fixpoint on REAL spatial
    * adjacency data — 801 regions over 2,130 dense cells at sf0.01,
    * largest 25 cells. (≙ raptor/merge_tree_builder.py:247-304's union
    * of overlapping merge groups, re-expressed as grid components.) */
  private val qHotspotRegions = Q(
    "q_hotspot_regions",
    (s, dir) => hotspotRegions(Images.images(s, dir)),
    Some(
      s"""${cte.replaceFirst("WITH ", "WITH RECURSIVE ")}, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), dense AS MATERIALIZED (
         |  SELECT cell, cnt, cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g WHERE cnt >= 6
         |), edges AS MATERIALIZED (
         |  SELECT d.cell AS src, e.cell AS dst
         |  FROM dense d, range(-1,2) dy(r), range(-1,2) dx(r)
         |  JOIN dense e ON e.cell = ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(d.y + dy.r AS BIGINT) << 7)
         |      | CAST(((d.x + dx.r) % 128 + 128) % 128 AS BIGINT))
         |  WHERE d.y + dy.r BETWEEN 0 AND 127 AND (dx.r != 0 OR dy.r != 0)
         |), reach AS (
         |  SELECT cell, cell AS lbl FROM dense
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.cell
         |), lab AS (
         |  SELECT cell, min(lbl) AS region FROM reach GROUP BY 1
         |)
         |SELECT region, CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(d.cnt) AS BIGINT) AS n_pts
         |FROM lab JOIN dense d USING (cell) GROUP BY 1""".stripMargin))

  /** REGION BOUNDING OCTAGON — the vectorization step after
    * [[qHotspotRegions]] (region-group gives LABELS; a downstream GIS
    * wants SHAPES): per contiguous dense region the 8-direction bounding
    * octagon — min/max of x, y, x+y, x−y over member cells (four integer
    * slabs whose intersection is the tightest axis+diagonal-aligned
    * convex cover; the classic cheap convex-hull stand-in that needs
    * only ASSOCIATIVE aggregates, so it rides one region-keyed groupBy
    * where a true hull would need per-region geometry). PLANAR x
    * convention at the antimeridian (raw grid x; a seam-straddling
    * region spans the long way — the documented lineCells convention;
    * q_bbox_wrap is the wrap-aware bbox when that matters).
    *
    * Scale shape: the CC is the proven pointer-jumping pass; the octagon
    * itself is ONE keyed groupBy of 8 min/max aggregates with map-side
    * combine — the cheapest possible shape summary at 10^12 points. */
  private val qRegionOctagon = Q(
    "q_region_octagon",
    (s, dir) => {
      import graft.geo.{functions => G}
      val dense = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 6)
        .localCheckpoint(true)
      val edges = dense.select(col("cell").as("a"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .where(col("cell") =!= col("a"))
        .join(dense.select("cell"), Seq("cell"))
        .select(col("a"), col("cell").as("b"))
      val lbl = graft.dedup.Components.connectedComponents(
        dense.select(col("cell").as("id")), edges)
      lbl.join(dense, lbl("id") === dense("cell"))
        .select(col("rep").as("region"),
          col("cell").bitwiseAND(lit(127L)).as("x"),
          shiftright(col("cell"), 7).bitwiseAND(lit(127L)).as("y"))
        .groupBy("region")
        .agg(count(lit(1)).as("n_cells"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"),
          min(col("x") + col("y")).as("s_min"),
          max(col("x") + col("y")).as("s_max"),
          min(col("x") - col("y")).as("d_min"),
          max(col("x") - col("y")).as("d_max"))
    },
    Some(
      s"""${cte.replaceFirst("WITH ", "WITH RECURSIVE ")}, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), dense AS MATERIALIZED (
         |  SELECT cell, cnt, cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g WHERE cnt >= 6
         |), edges AS MATERIALIZED (
         |  SELECT d.cell AS src, e.cell AS dst
         |  FROM dense d, range(-1,2) dy(r), range(-1,2) dx(r)
         |  JOIN dense e ON e.cell = ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(d.y + dy.r AS BIGINT) << 7)
         |      | CAST(((d.x + dx.r) % 128 + 128) % 128 AS BIGINT))
         |  WHERE d.y + dy.r BETWEEN 0 AND 127 AND (dx.r != 0 OR dy.r != 0)
         |), reach AS (
         |  SELECT cell, cell AS lbl FROM dense
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.cell
         |), lab AS (
         |  SELECT cell, min(lbl) AS region FROM reach GROUP BY 1
         |)
         |SELECT region, CAST(count(*) AS BIGINT) AS n_cells,
         |  min(d.x) AS x_min, max(d.x) AS x_max,
         |  min(d.y) AS y_min, max(d.y) AS y_max,
         |  min(d.x + d.y) AS s_min, max(d.x + d.y) AS s_max,
         |  min(d.x - d.y) AS d_min, max(d.x - d.y) AS d_max
         |FROM lab JOIN dense d USING (cell) GROUP BY 1""".stripMargin))

  /** PERCOLATION PROFILE — how the dense-region structure EVOLVES as the
    * density threshold sweeps ([[qHotspotRegions]] is one slice at
    * t = 6; this is the whole curve — the scale-selection diagnostic
    * that tells an analyst where the map "percolates" from many specks
    * into a giant component): for t ∈ {2, 4, 6, 8, 10}, the number of
    * connected regions over cells with cnt ≥ t, their total cell count,
    * and the largest region. One density pass is persisted and
    * re-thresholded; each slice runs the SAME proven pointer-jumping CC
    * (5 independent passes — the per-slice graphs shrink monotonically,
    * and CC rounds are log-depth, so the sweep is ~5× one slice, all
    * grid-bounded). The oracle runs five recursive min-label closures.
    *
    * Monotone invariants (cells and max size nonincreasing in t) are
    * implied by construction and re-proven by the oracle hash. */
  private val qPercolation = Q(
    "q_percolation",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val slices = Seq(2, 4, 6, 8, 10).map { t =>
        val dense = g.where(col("cnt") >= t).select("cell")
          .localCheckpoint(true)
        val edges = dense.select(col("cell").as("a"),
            explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
          .where(col("cell") =!= col("a"))
          .join(dense, Seq("cell"))
          .select(col("a"), col("cell").as("b"))
        val lbl = graft.dedup.Components.connectedComponents(
          dense.select(col("cell").as("id")), edges)
        lbl.groupBy("rep").agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_regions"),
            sum(col("sz")).as("n_cells"),
            max(col("sz")).as("max_cells"))
          .select(lit(t).as("threshold"), col("n_regions"),
            col("n_cells"), col("max_cells"))
      }
      slices.reduce(_ unionAll _)
    },
    Some {
      val slices = Seq(2, 4, 6, 8, 10).map { t =>
        s"""dense$t AS MATERIALIZED (
           |  SELECT cell, cell & 127 AS x, (cell >> 7) & 127 AS y
           |  FROM g WHERE cnt >= $t
           |), edges$t AS MATERIALIZED (
           |  SELECT d.cell AS src, e.cell AS dst
           |  FROM dense$t d, range(-1,2) dy(r), range(-1,2) dx(r)
           |  JOIN dense$t e ON e.cell = ((CAST(7 AS BIGINT) << 58) |
           |      (CAST(d.y + dy.r AS BIGINT) << 7) |
           |      CAST(((d.x + dx.r) % 128 + 128) % 128 AS BIGINT))
           |  WHERE d.y + dy.r BETWEEN 0 AND 127 AND (dx.r != 0 OR dy.r != 0)
           |), reach$t AS (
           |  SELECT cell, cell AS lbl FROM dense$t
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach$t r JOIN edges$t e ON e.src = r.cell
           |), lab$t AS (
           |  SELECT cell, min(lbl) AS region FROM reach$t GROUP BY 1
           |), stat$t AS (
           |  SELECT CAST($t AS INTEGER) AS threshold,
           |    CAST(count(*) AS BIGINT) AS n_regions,
           |    CAST(sum(sz) AS BIGINT) AS n_cells,
           |    CAST(max(sz) AS BIGINT) AS max_cells
           |  FROM (SELECT region, count(*) AS sz FROM lab$t GROUP BY 1)
           |)""".stripMargin
      }.mkString(", ")
      val uni = Seq(2, 4, 6, 8, 10)
        .map(t => s"SELECT * FROM stat$t").mkString(" UNION ALL ")
      s"""${cte.replaceFirst("WITH ", "WITH RECURSIVE ")}, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), $slices
         |$uni""".stripMargin
    })

  /** Salted two-phase aggregation over the skewed leaf cells — provably
    * identical to the direct groupBy (the oracle IS the direct form). At
    * cluster scale the salt splits the hot cell across 16 reducers
    * (SURVEY.md X10 skew handling). */
  private val qSkewSalted = Q(
    "q_skew_salted",
    (s, dir) => {
      val withCell = TilePyramid.withCell(Images.images(s, dir), 12)
      withCell
        .withColumn("salt", pmod(hash(col("image_id")), lit(16)))
        .groupBy(col("cell"), col("salt"))
        .agg(count(lit(1)).as("c1"),
          sum((col("w") * col("h") * 3).cast("long")).as("b1"))
        .groupBy(col("cell"))
        .agg(sum(col("c1")).as("cnt"), sum(col("b1")).as("bytes_sum"))
    },
    Some(
      s"""$cte
         |SELECT cell, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
         |FROM (SELECT ${cellSql(12)} AS cell, w, h FROM images) t
         |GROUP BY cell""".stripMargin))

  /** Hot-cell threshold for [[qSkewAdaptive]] (rows; the planted res-12
    * hotspot carries ~1.3k rows/cell at sf0.01, background cells ~1). */
  private[graft] val HotThreshold = 8L
  private[graft] val SaltBuckets = 16

  /** ADAPTIVE salted aggregation (VERDICT r2 "What's missing" #4 /
    * SURVEY.md §4 shuffle plan): the hot-cell histogram (A3 — the
    * `index_count` hotness signal, raptor/merge_tree_builder.py:236-323)
    * DRIVES the salt: only cells whose count exceeds [[HotThreshold]] pay
    * the two-phase salted shuffle; the long tail takes the ordinary
    * single-phase path. Output is provably identical to a direct groupBy
    * (the oracle IS the direct form).
    *
    * Scale shape: the hot set is tiny (skew means FEW heavy keys) and
    * broadcast into a semi/anti split; at 100 TB the histogram pass is
    * replaced by the snapshot's persisted per-cell stats (`hot_cnt`,
    * [[operators.Snapshot.transferStats]]) — the decision input is free.
    * Non-hot rows shuffle once on cell; hot rows shuffle on (cell, salt)
    * across [[SaltBuckets]] reducers then once more over |hot|x16 tiny
    * partial rows. SkewSpec pins the split plan shape. */
  /** The split core shared by both decision inputs: `hot` is a tiny
    * (cell)-frame of heavy keys — broadcast into a semi/anti split; hot
    * rows pay the two-phase salted shuffle, the tail shuffles once. */
  private def skewAdaptiveSplit(withCell: DataFrame, hot: DataFrame): DataFrame = {
    val bytes = (col("w") * col("h") * 3).cast("long")
    val hotAgg = withCell.join(broadcast(hot), Seq("cell"), "left_semi")
      .withColumn("salt", pmod(hash(col("image_id")), lit(SaltBuckets)))
      .groupBy(col("cell"), col("salt"))
      .agg(count(lit(1)).as("c1"), sum(bytes).as("b1"))
      .groupBy(col("cell"))
      .agg(sum(col("c1")).as("cnt"), sum(col("b1")).as("bytes_sum"))
    val coldAgg = withCell.join(broadcast(hot), Seq("cell"), "left_anti")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"), sum(bytes).as("bytes_sum"))
    hotAgg.unionByName(coldAgg)
  }

  // NOT cached: the histogram pass + the two branch aggregations each
  // re-derive this narrow frame, but the codegen'd map work is cheaper
  // than a 456k-row cache write (measured both ways; same finding as
  // the stats-transfer input).
  private def skewInput(s: SparkSession, dir: String): DataFrame =
    TilePyramid.withCell(Images.images(s, dir), 12)
      .select(col("cell"), col("image_id"), col("w"), col("h"))

  private[graft] def skewAdaptive(s: SparkSession, dir: String): DataFrame = {
    val withCell = skewInput(s, dir)
    // materialized: the hot set feeds BOTH the semi and the anti join —
    // unmaterialized, the histogram aggregation would run twice. Tiny by
    // definition (skew = few heavy keys).
    val hot = withCell.groupBy(col("cell")).agg(count(lit(1)).as("hc"))
      .filter(col("hc") > HotThreshold).select(col("cell"))
      .localCheckpoint(true)
    skewAdaptiveSplit(withCell, hot)
  }

  /** The 100 TB decision path, end-to-end: the hot set comes from a
    * PERSISTED snapshot's per-cell stats (`cnt` of the leaf level — the
    * same histogram [[operators.Snapshot.transferStats]] transfers as
    * `hot_cnt`) instead of an in-query histogram pass. The corpus is
    * scanned ONLY by the two branch aggregations; the decision input is a
    * partition-pruned read of the tiny leaf-stats level. SkewSpec pins
    * that the histogram job is truly gone (no RDD-backed hot set in the
    * plan — both leaves are parquet scans) and that the output is
    * bit-identical to the in-query-histogram variant. */
  private[graft] def skewAdaptiveFromStats(s: SparkSession, dir: String,
                                           statsRoot: String,
                                           res: Int = 12): DataFrame = {
    val hot = operators.Snapshot.level(s, statsRoot, res)
      .filter(col("cnt") > HotThreshold).select(col("cell"))
    skewAdaptiveSplit(skewInput(s, dir), hot)
  }

  private val qSkewAdaptive = Q(
    "q_skew_adaptive",
    (s, dir) => skewAdaptive(s, dir),
    Some(
      s"""$cte
         |SELECT cell, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w * h * 3) AS BIGINT) AS bytes_sum
         |FROM (SELECT ${cellSql(12)} AS cell, w, h FROM images) t
         |GROUP BY cell""".stripMargin))

  /** Learned-assignment tiling (VERDICT r2 "What's missing" #3; ≙ seeded
    * spherical k-means + 1-NN assignment, raptor/kmeans_tree_builder.py:
    * 92-105): [[KmeansAssign]] runs [[KmeansAssign.DefaultIters]] exact
    * Lloyd iterations; the oracle REPLAYS the identical iterations as
    * chained CTEs (same seeding order, same integer-quantized means, same
    * argmin tie-break), so the learned assignment is hash-proven. */
  /** Squared planar distance from a `pts` row `p` to a centroid row `c` —
    * the shared distance fragment of every Lloyd-replay oracle. */
  // def, not val: referenced by Q vals declared ABOVE this point — a val
  // would still be null during their object initialization.
  // Pure BIGINT lattice distance — no double op anywhere in the replay
  // (round-5 fix for the q_bic_k driver-gate divergence: a different
  // libm/FMA could flip the old floor-of-double SSE terms by ±1).
  private def kmeansDistSql = "(p.qlat - c.clat) * (p.qlat - c.clat)" +
    " + (p.qlon - c.clon) * (p.qlon - c.clon)"

  /** Exact floorDiv of BIGINT `a` by positive BIGINT `b` — mirrors Java's
    * `Math.floorDiv` (the engine's driver-side centroid update): the pmod
    * correction makes the numerator exactly divisible, so DuckDB's `//`
    * truncation convention cannot matter. */
  private def floorDivSql(a: String, b: String): String =
    s"(($a - ((($a % $b) + $b) % $b)) // $b)"

  /** CTE assigning each `pts` row to its nearest centroid in `cents`
    * (ties to the smaller cid — same tie-break as the engine's argmin). */
  private def kmeansAssignCteSql(name: String, cents: String): String =
    s"""$name AS (
       |  SELECT image_id, qlat, qlon, cid FROM (
       |    SELECT p.image_id, p.qlat, p.qlon, c.cid,
       |      row_number() OVER (PARTITION BY p.image_id
       |        ORDER BY $kmeansDistSql, c.cid) AS rn
       |    FROM pts p CROSS JOIN $cents c
       |  ) WHERE rn = 1)""".stripMargin

  /** CTE chain replaying `iters` exact Lloyd iterations over a `pts`
    * (image_id, qlat, qlon) CTE — qlat/qlon are the engine's integer
    * micro-degree lattice coordinates (`CAST(floor(coord·1e6) AS BIGINT)`,
    * the one quantization step): emits `{p}c0` (seed: first k anchors in
    * md5 order) through `{p}c{iters}` (final centroids), with the same
    * floorDiv lattice means and empty-cluster carry as [[KmeansAssign]] —
    * every arithmetic step integer, so the replay is build-independent.
    * `p` prefixes every CTE name so chains for different k can coexist;
    * the point SOURCE is always the caller's `pts` CTE, so the same chain
    * replays k-means over raw anchors (q_kmeans_assign, q_bic_k) or over
    * derived layer-1 centroids (q_merge_tree2). */
  private def kmeansChainSql(p: String, k: Int, iters: Int): String = {
    val seed =
      s"""${p}c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY md5(image_id), image_id) AS INT) AS cid,
         |         qlat AS clat, qlon AS clon
         |  FROM (SELECT image_id, qlat, qlon FROM pts
         |        ORDER BY md5(image_id), image_id LIMIT $k))""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""${kmeansAssignCteSql(s"${p}a$i", s"${p}c${i - 1}")},
         |${p}u$i AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(qlat) AS BIGINT) AS slat,
         |    CAST(sum(qlon) AS BIGINT) AS slon
         |  FROM ${p}a$i GROUP BY cid),
         |${p}c$i AS (
         |  SELECT c.cid,
         |    CASE WHEN u.n IS NULL THEN c.clat
         |         ELSE ${floorDivSql("u.slat", "u.n")}
         |    END AS clat,
         |    CASE WHEN u.n IS NULL THEN c.clon
         |         ELSE ${floorDivSql("u.slon", "u.n")}
         |    END AS clon
         |  FROM ${p}c${i - 1} c LEFT JOIN ${p}u$i u ON u.cid = c.cid)""".stripMargin
    }
    (seed +: steps).mkString(",\n")
  }

  /** The standard lattice-points CTE over the images table — the oracle's
    * single quantization step, mirroring [[KmeansAssign]]'s `points`. */
  private def kmeansPtsSql =
    """pts AS (SELECT image_id,
      |  CAST(floor(lat * 1000000) AS BIGINT) AS qlat,
      |  CAST(floor(lon * 1000000) AS BIGINT) AS qlon FROM images)""".stripMargin

  private val qKmeansAssign = Q(
    "q_kmeans_assign",
    (s, dir) => KmeansAssign.assign(Images.images(s, dir)),
    Some {
      val k = KmeansAssign.DefaultK
      val iters = KmeansAssign.DefaultIters
      s"""$cte,
         |$kmeansPtsSql,
         |${kmeansChainSql("", k, iters)},
         |${kmeansAssignCteSql("af", s"c$iters")}
         |SELECT image_id, cid FROM af""".stripMargin
    })

  /** CLUSTER-QUALITY SILHOUETTE — [[KmeansAssign.silhouette]]: per-cluster
    * exact integer Σa²/Σb² simplified-silhouette factors over the same
    * integer-lattice Lloyd fit as [[qKmeansAssign]]. The oracle replays
    * the fit chain, ranks each point's k distances by (d, cid), and
    * aggregates rn=1 (own) vs rn=2 (nearest other) — the same
    * second-smallest-under-ties semantics as the engine's value-sorted
    * array. Exact integer sums as BIGINT halves ([[graft.agg.E18]]), no
    * division or sqrt in the hashed output (the q_bic_k lesson). */
  private val qSilhouette = Q(
    "q_silhouette",
    (s, dir) => KmeansAssign.silhouette(Images.images(s, dir)),
    Some {
      val k = KmeansAssign.DefaultK
      val iters = KmeansAssign.DefaultIters
      s"""$cte,
         |$kmeansPtsSql,
         |${kmeansChainSql("sil_", k, iters)},
         |sd AS (SELECT p.image_id, c.cid, $kmeansDistSql AS d
         |       FROM pts p CROSS JOIN sil_c$iters c),
         |sr AS (SELECT image_id, cid, d,
         |         row_number() OVER (PARTITION BY image_id
         |           ORDER BY d, cid) AS rn
         |       FROM sd),
         |ab AS (SELECT a.image_id, a.cid, a.d AS a2, b.d AS b2
         |       FROM (SELECT * FROM sr WHERE rn = 1) a
         |       JOIN (SELECT * FROM sr WHERE rn = 2) b USING (image_id))
         |SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |  ${E18.oracleSql("sum(a2)", "sa2")},
         |  ${E18.oracleSql("sum(b2)", "sb2")},
         |  CASE WHEN sum(b2) > sum(a2) THEN 'cohesive'
         |    ELSE 'overlapping' END AS cohesion
         |FROM ab GROUP BY cid""".stripMargin
    })

  /** A6 — BIC model selection (VERDICT r2 coverage table's one N/A row,
    * now implemented; ≙ cluster_utils.py:50-61 `get_optimal_clusters`):
    * [[KmeansAssign.bicSweep]] fits the seeded exact-Lloyd model per
    * candidate k, scores each with the spherical BIC over an
    * integer-quantized SSE, and flags the argmin. The oracle replays the
    * ENTIRE sweep — one Lloyd CTE chain per candidate k, the same
    * floor(min-dist·1e6) SSE (exact past Long range, emitted as BIGINT
    * halves on both engines), the same fixed-order BIC double driving
    * the argmin — so model selection itself is hash-proven, not just each
    * fit. The raw BIC double is NOT in the hashed output (round-3 lesson:
    * it passes through `ln`, and JVM Math.log vs DuckDB ln diverge in the
    * last ulp — one of the six values landed on a 10-sig-digit rendering
    * boundary and failed the driver's hash while rows+schema matched).
    * Each engine computes its own bic internally and emits only
    * integer-exact columns plus the argmin flag; candidate scores are
    * separated by >> 1 ulp, so the flag is deterministic cross-engine. */
  /** Shared CTE block for the BIC sweep oracles: one Lloyd chain per
    * candidate k (`k{k}_c0..c{iters}`), the per-k quantized SSE, and a
    * `scored(k, n, sse_q, bic)` CTE with the identical fixed-order BIC
    * double as [[KmeansAssign.bicSweep]]. Callers append their selection. */
  private def bicScoredCtesSql(iters: Int): String = {
    val chains = KmeansAssign.BicKs
      .map(k => kmeansChainSql(s"k${k}_", k, iters)).mkString(",\n")
    // sse_q = Σ of exact integer lattice min-distances: BIGINT terms sum
    // in HUGEINT on DuckDB, emitted as the same BIGINT halves Spark emits —
    // zero floating-point ops anywhere in the hashed columns.
    val sses = KmeansAssign.BicKs.map { k =>
      s"""k${k}_sse AS (
         |  SELECT CAST(coalesce(sum(mind), 0) AS DECIMAL(38,0)) AS sse_q
         |  FROM (SELECT min($kmeansDistSql) AS mind
         |        FROM pts p CROSS JOIN k${k}_c$iters c GROUP BY p.image_id))""".stripMargin
    }.mkString(",\n")
    val union = KmeansAssign.BicKs
      .map(k => s"SELECT $k AS k, sse_q FROM k${k}_sse")
      .mkString("\nUNION ALL ")
    s"""$kmeansPtsSql,
       |$chains,
       |$sses,
       |allk AS ($union),
       |scored AS (
       |  SELECT k, n, sse_q,
       |    CAST(n AS DOUBLE) * ln(CAST(sse_q AS DOUBLE) / 1e12 / CAST(n AS DOUBLE) + 1e-12)
       |      + CAST(k AS DOUBLE) * 2.0 * ln(CAST(n AS DOUBLE)) AS bic
       |  FROM allk CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM pts) n0)""".stripMargin
  }

  /** q_bic_k and q_kmeans_auto consume the SAME candidate fits, so the
    * sweep is run once per (session, dir) through [[SharedFrames]]. The
    * value is a handful of driver-side scalars and centroids, not a
    * DataFrame, so there is no Spark cache lifetime to manage. */
  private def kmeansSweep(s: SparkSession, dir: String): KmeansAssign.Sweep =
    SharedFrames("kmeansSweep", s, dir)(
      KmeansAssign.sweepScored(Images.images(s, dir)))

  private val qBicK = Q(
    "q_bic_k",
    (s, dir) => KmeansAssign.bicSweep(Images.images(s, dir),
      kmeansSweep(s, dir)),
    Some(
      s"""$cte,
         |${bicScoredCtesSql(KmeansAssign.DefaultIters)}
         |SELECT k, n, ${E18.oracleSql("sse_q", "sse_q")},
         |  CASE WHEN row_number() OVER (ORDER BY bic, k) = 1 THEN 1 ELSE 0 END AS best
         |FROM scored""".stripMargin))

  /** The reference's complete model-selection flow (≙ cluster_utils.py:
    * 64-70 `GMM_cluster`: pick k by BIC, fit, label every row):
    * [[KmeansAssign.assignAuto]] labels the table under the argmin-BIC
    * model and carries the winning k. The oracle re-runs the whole sweep,
    * picks the argmin-BIC k in SQL, and selects THAT candidate's
    * assignment CTE — so the selection feeding the labels is itself
    * hash-proven, end to end. */
  private val qKmeansAuto = Q(
    "q_kmeans_auto",
    (s, dir) => KmeansAssign.assignAuto(Images.images(s, dir),
      kmeansSweep(s, dir)),
    Some {
      val iters = KmeansAssign.DefaultIters
      val assigns = KmeansAssign.BicKs
        .map(k => kmeansAssignCteSql(s"k${k}_af", s"k${k}_c$iters"))
        .mkString(",\n")
      val union = KmeansAssign.BicKs
        .map(k => s"SELECT $k AS k, image_id, cid FROM k${k}_af")
        .mkString("\nUNION ALL ")
      s"""$cte,
         |${bicScoredCtesSql(iters)},
         |best AS (SELECT k FROM scored ORDER BY bic, k LIMIT 1),
         |$assigns,
         |afk AS ($union)
         |SELECT a.image_id, a.cid, a.k
         |FROM afk a JOIN best b ON a.k = b.k""".stripMargin
    })

  /** Soft multi-membership assignment ([[KmeansAssign.assignSoft]] ≙ the
    * reference's `prob > 0.1` GMM labels, cluster_utils.py:64-70, 169-175 —
    * a node joins EVERY cluster within the distance-ratio band, so the
    * tree is a DAG): the oracle replays the Lloyd chain to the same
    * centroids, computes every (point, centroid) distance, and applies the
    * identical band filter and `(dmin+ε)/(d+ε)` weight — all double ops in
    * mirrored order, so the full multi-parent edge set hash-matches. */
  private val qSoftAssign = Q(
    "q_soft_assign",
    (s, dir) => KmeansAssign.assignSoft(Images.images(s, dir)),
    Some {
      val k = KmeansAssign.DefaultK
      val iters = KmeansAssign.DefaultIters
      val rho = KmeansAssign.SoftRho
      s"""$cte,
         |$kmeansPtsSql,
         |${kmeansChainSql("s_", k, iters)},
         |sd AS (SELECT p.image_id, c.cid, $kmeansDistSql AS d
         |       FROM pts p CROSS JOIN s_c$iters c),
         |sm AS (SELECT image_id, cid, d,
         |         min(d) OVER (PARTITION BY image_id) AS dmin FROM sd)
         |SELECT image_id, cid,
         |  (CAST(dmin AS DOUBLE) + 1e-12) / (CAST(d AS DOUBLE) + 1e-12) AS w
         |FROM sm WHERE d <= dmin * $rho""".stripMargin
    })

  // ------------------------------------------- temporal trend analytics

  /** Dense (res-5 cell × observed day) event counts — the shared input of
    * the Mann-Kendall trend and anomaly-spike queries: per-cell daily
    * counts densified over the GLOBAL observed-day set (missing days are
    * true zeros — a cell that went quiet must count against its trend).
    * Scale shape: one partial-aggregated groupBy on (cell, day), then a
    * broadcast cross of the occupied-cell set with the tiny day dimension
    * (T = analysis horizon in days — a configuration-bounded constant,
    * never data-sized) and a keyed left join back. */
  private def denseDailyCells(s: SparkSession, dir: String,
                              res: Int = 5): DataFrame = {
    val daily = eventPositions(s, dir, res)
      .groupBy(col("cell"),
        floor(unix_micros(col("ts").cast("timestamp")) / lit(86400000000L))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily.select("cell").distinct()
      .crossJoin(broadcast(daily.select("day").distinct()))
      .join(daily, Seq("cell", "day"), "left_outer")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
  }

  /** Oracle twin of [[denseDailyCells]]: CTEs `d/days/cells/dd` over the
    * `pc` chain of [[eventCellCtes]], ending in `dd(cell, day, cnt)`. */
  private val denseDailyCtes: String =
    s"""d AS (
       |  SELECT cell, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM pc GROUP BY 1, 2
       |), days AS (SELECT DISTINCT day FROM d),
       |cells AS (SELECT DISTINCT cell FROM d),
       |dd AS (
       |  SELECT c.cell, days.day, coalesce(d.cnt, 0) AS cnt
       |  FROM cells c CROSS JOIN days
       |  LEFT JOIN d ON d.cell = c.cell AND d.day = days.day
       |)""".stripMargin

  /** MANN-KENDALL TREND PER CELL — the "emerging hot spot" composition
    * (the temporal leg ArcGIS pairs with Getis-Ord Gi*): per occupied
    * res-5 cell, the Mann-Kendall S statistic over its dense daily counts
    * `S = Σ_{i<j} sign(c_j − c_i)`, with the normal-approximation
    * significance test at α = 0.05 carried ENTIRELY IN INTEGERS — z > 1.96
    * on the continuity-corrected score ⇔ 180000·(|S|−1)² >
    * 38416·T(T−1)(2T+5) (both sides BIGINT; the untied-variance form —
    * tie correction documented out: zero-inflated counts tie heavily and
    * both engines apply the same convention). Labels: `emerging`
    * (significant upward), `waning` (significant downward), `stable`.
    * No transcendental touches the hashed output (the q_bic_k lesson).
    *
    * Scale shape: the day-pair fanout is T(T−1)/2 per cell with T a
    * configuration constant (the analysis horizon — 30 here), keyed by
    * cell; at 10^12 events the dominant cost stays the ONE (cell, day)
    * groupBy with map-side combine, and the pair stage is
    * occupied-cells × O(T²) — grid-bounded, never event-sized. */
  private val qMannKendall = Q(
    "q_mann_kendall",
    (s, dir) => {
      val dd = denseDailyCells(s, dir)
      val sstat = dd.as("a")
        .join(dd.as("b"),
          col("a.cell") === col("b.cell") && col("b.day") > col("a.day"))
        .groupBy(col("a.cell").as("cell"))
        .agg(sum(when(col("b.cnt") > col("a.cnt"), 1L)
          .when(col("b.cnt") < col("a.cnt"), -1L)
          .otherwise(0L)).as("s_stat"))
      val tglob = dd.select("day").distinct()
        .agg(count(lit(1)).as("t_days"))
      val sig = abs(col("s_stat")) > 0 &&
        lit(180000L) * (abs(col("s_stat")) - 1L) * (abs(col("s_stat")) - 1L) >
          lit(38416L) * col("t_days") * (col("t_days") - 1L) *
            (lit(2L) * col("t_days") + 5L)
      sstat.crossJoin(broadcast(tglob))
        .select(col("cell"), col("t_days"), col("s_stat"),
          when(sig && col("s_stat") > 0, lit("emerging"))
            .when(sig && col("s_stat") < 0, lit("waning"))
            .otherwise(lit("stable")).as("trend"))
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, $denseDailyCtes, sp AS (
         |  SELECT a.cell,
         |    CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1
         |      WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM dd a JOIN dd b ON b.cell = a.cell AND b.day > a.day
         |  GROUP BY 1
         |), tg AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS t_days FROM d)
         |SELECT cell, t_days, s_stat,
         |  CASE WHEN abs(s_stat) > 0
         |      AND 180000 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
         |        > 38416 * t_days * (t_days - 1) * (2 * t_days + 5)
         |    THEN CASE WHEN s_stat > 0 THEN 'emerging' ELSE 'waning' END
         |    ELSE 'stable' END AS trend
         |FROM sp CROSS JOIN tg""".stripMargin))

  /** THEIL–SEN TREND SLOPE PER CELL — the robust ESTIMATOR companion of
    * [[qMannKendall]] (MK answers IS there a monotone trend; Theil–Sen
    * answers HOW STEEP — the median of all pairwise slopes, the classic
    * robust regression with 29% breakdown): over the same dense daily
    * panel, every day pair (i < j) yields the quantized slope
    * `slope_q = (10⁶·(c_j − c_i)) div (d_j − d_i)` — EXACT BIGINT
    * truncating division, pinned identical on both engines (Spark `div`
    * and DuckDB `//` both truncate toward zero; verified, and unlike a
    * floor-of-double this cannot flip with libm/FMA — the q_bic_k
    * lesson), and the reported trend is the LOWER median of the quantized
    * slopes (rank ⌈n/2⌉ by (slope_q, d0, d1) — fully deterministic; the
    * operator is DEFINED over the micro-slope lattice, so no float exists
    * between input and hash).
    *
    * Scale shape: identical to Mann-Kendall — the day-pair fanout is
    * T(T−1)/2 per cell with T the configured horizon (a constant), keyed
    * by cell; the median windows are CELL-keyed over ≤T(T−1)/2 rows. The
    * event-sized cost stays the one (cell, day) groupBy. */
  private val qTheilSen = Q(
    "q_theil_sen",
    (s, dir) => {
      val dd = denseDailyCells(s, dir)
      val sl = dd.as("a")
        .join(dd.as("b"),
          col("a.cell") === col("b.cell") && col("b.day") > col("a.day"))
        .select(col("a.cell").as("cell"),
          expr("(1000000 * (b.cnt - a.cnt)) div (b.day - a.day)")
            .as("slope_q"),
          col("a.day").as("d0"), col("b.day").as("d1"))
      val w = Window.partitionBy("cell")
      val wr = w.orderBy(col("slope_q"), col("d0"), col("d1"))
      sl.withColumn("n_pairs", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wr))
        .where(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("cell"), col("n_pairs"),
          col("slope_q").as("med_slope_q"))
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, $denseDailyCtes, sl AS (
         |  SELECT a.cell,
         |    (1000000 * (b.cnt - a.cnt)) // (b.day - a.day) AS slope_q,
         |    a.day AS d0, b.day AS d1
         |  FROM dd a JOIN dd b ON b.cell = a.cell AND b.day > a.day
         |)
         |SELECT cell, n_pairs, slope_q AS med_slope_q FROM (
         |  SELECT cell, slope_q,
         |    CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n_pairs,
         |    row_number() OVER
         |      (PARTITION BY cell ORDER BY slope_q, d0, d1) AS rn
         |  FROM sl
         |) WHERE rn = (n_pairs + 1) // 2""".stripMargin))

  /** DAILY ANOMALY SPIKES — the outlier leg of the temporal family
    * ([[qMannKendall]] = monotone trend; this = single-day departures from
    * a cell's own history): a (res-3 cell, day) is a spike when its count
    * is ≥ 8 and exceeds 1.5× the cell's horizon mean — tested as
    * `2·T·c > 3·S` on exact integers (no division; the 3/2 multiplier is
    * a configuration threshold, set where the uniform synthetic stream
    * still produces genuine high-side outliers). Emits the spike rows
    * with their integer evidence (cnt, horizon total, the positive
    * `dev = 2·T·c − 3·S` margin). Coarser res than the trend query —
    * anomaly detection needs day-counts with real mass, trend only needs
    * ranks. Same dense-daily scale shape; the spike filter is map-side
    * after one keyed join of the daily frame to its per-cell totals. */
  private val qAnomalyCells = Q(
    "q_anomaly_cells",
    (s, dir) => {
      val dd = denseDailyCells(s, dir, res = 3)
      val tot = dd.groupBy("cell").agg(sum("cnt").as("s_total"))
      val tglob = dd.select("day").distinct()
        .agg(count(lit(1)).as("t_days"))
      dd.join(tot, "cell").crossJoin(broadcast(tglob))
        .where(col("cnt") >= 8 &&
          lit(2L) * col("t_days") * col("cnt") > lit(3L) * col("s_total"))
        .select(col("cell"), col("day"), col("cnt"), col("s_total"),
          (lit(2L) * col("t_days") * col("cnt") - lit(3L) * col("s_total"))
            .as("dev"))
    },
    Some(
      s"""WITH ${eventCellCtes(3)}, $denseDailyCtes, tot AS (
         |  SELECT cell, CAST(sum(cnt) AS BIGINT) AS s_total
         |  FROM dd GROUP BY 1
         |), tg AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS t_days FROM d)
         |SELECT dd.cell, dd.day, dd.cnt, tot.s_total,
         |  2 * tg.t_days * dd.cnt - 3 * tot.s_total AS dev
         |FROM dd JOIN tot ON tot.cell = dd.cell CROSS JOIN tg
         |WHERE dd.cnt >= 8
         |  AND 2 * tg.t_days * dd.cnt > 3 * tot.s_total""".stripMargin))

  /** EMERGING HOT-SPOT CLASSIFICATION — the full ArcGIS-style composition
    * the two temporal legs were built for ([[qGetisOrd]] = WHERE is hot,
    * [[qMannKendall]] = WHICH WAY is it trending): per ever-occupied res-5
    * cell, a per-day Gi* hot flag over the DENSE daily panel (dev_star =
    * n·star_sum − n_star·Σx_day, ring sums INCLUDE self; the dense panel
    * makes n and n_star day-independent), then a Mann-Kendall S over the
    * dev_star series itself with the same integer continuity-corrected
    * significance test, classified:
    *   `new`           — hot on the final day and hot ≤ 10% of days;
    *   `intensifying`  — significant upward dev trend;
    *   `diminishing`   — significant downward dev trend;
    *   `persistent`    — hot ≥ 90% of days, no significant trend;
    *   `sporadic`      — hot some days, none of the above;
    *   `none`          — never hot.
    * Every branch tests pure BIGINTs (10·hot_days vs t_days etc.) — no
    * z-score, no division, no transcendental in the hashed output.
    *
    * Scale shape: after the one event-sized (cell, day) groupBy, every
    * stage is bounded by the OCCUPIED GRID × the T-day horizon — the ring
    * scatter is 9×|cells| (day-independent, reused across days by the
    * keyed join), the MK pair fanout is T²/2 per cell, and the three
    * global scalars (n, Σx_day, max day) broadcast. At 10^12 events this
    * is one map-side-combined shuffle plus grid-bounded work — the same
    * contract as every raster op in the family. */
  private val qEmergingHot = Q(
    "q_emerging_hot",
    (s, dir) => {
      import graft.geo.{functions => G}
      val dd = denseDailyCells(s, dir)
      val cells = dd.select("cell").distinct()
      val star = cells.select(col("cell").as("src"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .join(dd, Seq("cell"))
        .groupBy(col("src"), col("day"))
        .agg(count(lit(1)).as("n_star"), sum(col("cnt")).as("star_sum"))
      val daytot = dd.groupBy("day").agg(sum(col("cnt")).as("sx"))
      val glob = dd.agg(
        countDistinct(col("cell")).as("n"),
        countDistinct(col("day")).as("t_days"),
        max(col("day")).as("max_day"))
      val dev = star.join(daytot, Seq("day"))
        .crossJoin(broadcast(glob.select("n")))
        .select(col("src").as("cell"), col("day"),
          (col("n") * col("star_sum") - col("n_star") * col("sx"))
            .as("dev_star"))
        .withColumn("hot", when(col("dev_star") > 0, 1L).otherwise(0L))
      val mk = dev.as("a")
        .join(dev.as("b"),
          col("a.cell") === col("b.cell") && col("b.day") > col("a.day"))
        .groupBy(col("a.cell").as("cell"))
        .agg(sum(when(col("b.dev_star") > col("a.dev_star"), 1L)
          .when(col("b.dev_star") < col("a.dev_star"), -1L)
          .otherwise(0L)).as("s_dev"))
      val hotagg = dev
        .crossJoin(broadcast(glob.select("max_day")))
        .groupBy("cell")
        .agg(sum(col("hot")).as("hot_days"),
          max(when(col("day") === col("max_day"), col("hot"))
            .otherwise(0L)).as("last_hot"))
      val sig = abs(col("s_dev")) > 0 &&
        lit(180000L) * (abs(col("s_dev")) - 1L) * (abs(col("s_dev")) - 1L) >
          lit(38416L) * col("t_days") * (col("t_days") - 1L) *
            (lit(2L) * col("t_days") + 5L)
      hotagg.join(mk, Seq("cell"))
        .crossJoin(broadcast(glob.select("t_days")))
        .select(col("cell"), col("t_days"), col("hot_days"),
          col("last_hot"), col("s_dev"),
          when(col("hot_days") === 0, lit("none"))
            .when(col("last_hot") === 1 &&
              lit(10L) * col("hot_days") <= col("t_days"), lit("new"))
            .when(sig && col("s_dev") > 0, lit("intensifying"))
            .when(sig && col("s_dev") < 0, lit("diminishing"))
            .when(lit(10L) * col("hot_days") >= lit(9L) * col("t_days"),
              lit("persistent"))
            .otherwise(lit("sporadic")).as("cat"))
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, $denseDailyCtes, ring AS (
         |  SELECT c.cell AS src, ((CAST(5 AS BIGINT) << 58)
         |      | (CAST(((c.cell >> 5) & 31) + dy.r AS BIGINT) << 5)
         |      | CAST((((c.cell & 31) + dx.r) % 32 + 32) % 32 AS BIGINT))
         |      AS ocell
         |  FROM cells c, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE ((c.cell >> 5) & 31) + dy.r BETWEEN 0 AND 31
         |), star AS (
         |  SELECT r.src, dd.day, CAST(count(*) AS BIGINT) AS n_star,
         |    CAST(sum(dd.cnt) AS BIGINT) AS star_sum
         |  FROM ring r JOIN dd ON dd.cell = r.ocell GROUP BY 1, 2
         |), daytot AS (
         |  SELECT day, CAST(sum(cnt) AS BIGINT) AS sx FROM dd GROUP BY 1
         |), gstat AS (
         |  SELECT CAST(count(DISTINCT cell) AS BIGINT) AS n,
         |    CAST(count(DISTINCT day) AS BIGINT) AS t_days,
         |    CAST(max(day) AS BIGINT) AS max_day FROM dd
         |), dev AS (
         |  SELECT star.src AS cell, star.day,
         |    gstat.n * star.star_sum - star.n_star * daytot.sx AS dev_star,
         |    CASE WHEN gstat.n * star.star_sum - star.n_star * daytot.sx > 0
         |      THEN 1 ELSE 0 END AS hot
         |  FROM star JOIN daytot ON daytot.day = star.day CROSS JOIN gstat
         |), mk AS (
         |  SELECT a.cell,
         |    CAST(sum(CASE WHEN b.dev_star > a.dev_star THEN 1
         |      WHEN b.dev_star < a.dev_star THEN -1 ELSE 0 END) AS BIGINT)
         |      AS s_dev
         |  FROM dev a JOIN dev b ON b.cell = a.cell AND b.day > a.day
         |  GROUP BY 1
         |), hotagg AS (
         |  SELECT dev.cell, CAST(sum(dev.hot) AS BIGINT) AS hot_days,
         |    CAST(max(CASE WHEN dev.day = gstat.max_day THEN dev.hot
         |      ELSE 0 END) AS BIGINT) AS last_hot
         |  FROM dev CROSS JOIN gstat GROUP BY 1
         |)
         |SELECT h.cell, g.t_days, h.hot_days, h.last_hot, m.s_dev,
         |  CASE
         |    WHEN h.hot_days = 0 THEN 'none'
         |    WHEN h.last_hot = 1 AND 10 * h.hot_days <= g.t_days THEN 'new'
         |    WHEN abs(m.s_dev) > 0
         |        AND 180000 * (abs(m.s_dev) - 1) * (abs(m.s_dev) - 1)
         |          > 38416 * g.t_days * (g.t_days - 1) * (2 * g.t_days + 5)
         |      THEN CASE WHEN m.s_dev > 0 THEN 'intensifying'
         |        ELSE 'diminishing' END
         |    WHEN 10 * h.hot_days >= 9 * g.t_days THEN 'persistent'
         |    ELSE 'sporadic' END AS cat
         |FROM hotagg h JOIN mk m ON m.cell = h.cell CROSS JOIN gstat g
         |""".stripMargin))

  /** PER-TILE INTEGRAL IMAGE (summed-area table) — the raster-algebra
    * primitive that makes box filters O(1) per query pixel: for every
    * occupied res-4 tile, densify its 8×8 res-7 subgrid (64 pixels,
    * missing = 0) and compute `SAT(x,y) = Σ_{x'≤x, y'≤y} cnt(x',y')` as
    * two KEYED cumulative windows — row prefix within (tile, py), then
    * column prefix of the row prefixes within (tile, px). Local pixel
    * coords are bit-slices of the res-7 cell id (px = c & 7,
    * py = (c>>7) & 7 — the quadtree nesting identity again), so no
    * geometry math. All integers.
    *
    * Scale shape: after the one data-sized (res-7) groupBy, everything is
    * bounded by PIXELS (64 × occupied tiles); both windows are keyed by
    * tile — thousands of independent 8-row partitions, never a
    * partitionless sort. At 10^12 points this is the tile-server
    * preaggregation pass: emit SAT planes once, answer every box-sum
    * query with 4 lookups. */
  private val qIntegralImage = Q(
    "q_integral_image",
    (s, dir) => {
      import graft.geo.{functions => G}
      val pix = Images.images(s, dir)
        .withColumn("c", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("c").agg(count(lit(1)).as("cnt"))
        .select(G.cell_parent_at(col("c"), 4).as("tile"),
          shiftright(col("c"), 7).bitwiseAND(lit(7L)).as("py"),
          col("c").bitwiseAND(lit(7L)).as("px"),
          col("cnt"))
      val grid = s.range(0, 64).select(
        shiftright(col("id"), 3).as("py"),
        col("id").bitwiseAND(lit(7L)).as("px"))
      val dense = pix.select("tile").distinct()
        .crossJoin(broadcast(grid))
        .join(pix, Seq("tile", "py", "px"), "left_outer")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val wRow = Window.partitionBy("tile", "py").orderBy("px")
      val wCol = Window.partitionBy("tile", "px").orderBy("py")
      dense.withColumn("rs", sum("cnt").over(wRow))
        .withColumn("sat", sum("rs").over(wCol))
        .select("tile", "py", "px", "cnt", "sat")
    },
    Some(
      s"""$cte, f AS (
         |  SELECT ${cellSql(7)} AS c, count(*) AS cnt FROM images GROUP BY 1
         |), p AS (
         |  SELECT ((CAST(4 AS BIGINT) << 58)
         |      | ((((c >> 7) & 127) >> 3) << 4)
         |      | ((c & 127) >> 3)) AS tile,
         |    (c >> 7) & 7 AS py, c & 7 AS px, CAST(cnt AS BIGINT) AS cnt
         |  FROM f
         |), tiles AS (SELECT DISTINCT tile FROM p),
         |dense AS (
         |  SELECT t.tile, gy.r AS py, gx.r AS px, coalesce(p.cnt, 0) AS cnt
         |  FROM tiles t CROSS JOIN range(0,8) gy(r) CROSS JOIN range(0,8) gx(r)
         |  LEFT JOIN p ON p.tile = t.tile AND p.py = gy.r AND p.px = gx.r
         |), rsum AS (
         |  SELECT tile, py, px, cnt,
         |    sum(cnt) OVER (PARTITION BY tile, py ORDER BY px) AS rs
         |  FROM dense
         |)
         |SELECT tile, py, px, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(sum(rs) OVER (PARTITION BY tile, px ORDER BY py) AS BIGINT) AS sat
         |FROM rsum""".stripMargin))

  // ------------------------------------------- similarity-graph refinement

  /** MUTUAL-kNN EDGE LIST — the symmetric refinement of the AkNN graph
    * ([[qKnnJoin]]): keep the pair (a, b) only when each is in the
    * other's top-3 — the edge filter that turns a directed kNN graph
    * into the mutual graph used for conservative cluster seeding (a
    * one-way neighbor is often a hub artifact; a mutual one is a real
    * local structure). One keyed self-join of the kNN edge list on the
    * REVERSED pair key, emitted once per unordered pair (qid < nid).
    * Scale shape: the edge list is k·N rows; the reversal join is an
    * equi-join on the composite pair key — hash-partitioned, no fanout
    * beyond k. The oracle replays ranking AND mutuality from the ring
    * CTE chain. */
  private val qMutualKnn = Q(
    "q_mutual_knn",
    (s, dir) => {
      val e = aknnRanked(s, dir)
        .select(col("qid"), col("nid"), col("d2"))
      e.as("a").join(e.as("b"),
          col("a.qid") === col("b.nid") && col("a.nid") === col("b.qid"))
        .where(col("a.qid") < col("a.nid"))
        .select(col("a.qid").as("id_a"), col("a.nid").as("id_b"),
          col("a.d2").as("d2"))
    },
    Some(aknnCtes +
      """
        |, t AS (SELECT qid, nid, d2 FROM r WHERE rnk <= 3)
        |SELECT a.qid AS id_a, a.nid AS id_b, a.d2 AS d2
        |FROM t a JOIN t b ON b.qid = a.nid AND b.nid = a.qid
        |WHERE a.qid < a.nid""".stripMargin))

  /** SKYLINE (Pareto frontier) QUERY — "cells that are both NEAR the
    * anchor and HOT, with no cell better on both axes": over the occupied
    * res-7 grid, keep cell p unless some q has d2 ≤ p.d2 ∧ cnt ≥ p.cnt
    * with one strict. Axes are integers (d2 = squared grid distance to
    * the center cell (64,64) from the id's bit-slices; cnt = point
    * count).
    *
    * Scale shape — the classic distributed-skyline decomposition instead
    * of the textbook all-pairs anti-join: (1) bucket by d2 range
    * (bkt = d2 >> 7 — ≤ 253 buckets, GRID-bounded, never data-sized);
    * (2) per-bucket max cnt, then the strictly-lower-bucket prefix max
    * via a ≤253² broadcast-tiny theta join (a lower bucket implies
    * strictly smaller d2, so `prefix_max ≥ cnt` is domination); (3) the
    * residual same-bucket dominance check as a KEYED self-join on bkt
    * (a bucket is a thin annulus — ≤ ~400 cells by geometry). The oracle
    * is the textbook NOT EXISTS over all pairs — an independent
    * formulation, so a hash match proves the decomposition exactly. */
  private val qSkyline = Q(
    "q_skyline",
    (s, dir) => {
      import graft.geo.{functions => G}
      val g = Images.images(s, dir)
        .withColumn("c", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("c").agg(count(lit(1)).as("cnt"))
        .select(col("c").as("cell"),
          (col("c").bitwiseAND(lit(127L)) - 64L).as("dx"),
          (shiftright(col("c"), 7).bitwiseAND(lit(127L)) - 64L).as("dy"),
          col("cnt"))
        .select(col("cell"),
          (col("dx") * col("dx") + col("dy") * col("dy")).as("d2"),
          col("cnt"))
        .withColumn("bkt", shiftright(col("d2"), 7))
      val bmax = g.groupBy("bkt").agg(max("cnt").as("mx"))
      val pmax = bmax.as("x")
        .join(broadcast(bmax.as("y")), col("y.bkt") < col("x.bkt"),
          "left_outer")
        .groupBy(col("x.bkt").as("bkt")).agg(max(col("y.mx")).as("pmax"))
      val dom = g.as("p").join(g.as("q"),
          col("p.bkt") === col("q.bkt") &&
            col("q.d2") <= col("p.d2") && col("q.cnt") >= col("p.cnt") &&
            (col("q.d2") < col("p.d2") || col("q.cnt") > col("p.cnt")))
        .select(col("p.cell").as("cell")).distinct()
      g.join(broadcast(pmax), Seq("bkt"), "left_outer")
        .where(coalesce(col("pmax"), lit(-1L)) < col("cnt"))
        .join(dom, Seq("cell"), "left_anti")
        .select("cell", "d2", "cnt")
    },
    Some(
      s"""$cte, g AS (
         |  SELECT cell, cnt,
         |    ((cell & 127) - 64) * ((cell & 127) - 64)
         |      + (((cell >> 7) & 127) - 64) * (((cell >> 7) & 127) - 64) AS d2
         |  FROM (SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |        FROM images GROUP BY 1)
         |)
         |SELECT cell, d2, CAST(cnt AS BIGINT) AS cnt
         |FROM g p
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM g q
         |  WHERE q.cell <> p.cell AND q.d2 <= p.d2 AND q.cnt >= p.cnt
         |    AND (q.d2 < p.d2 OR q.cnt > p.cnt))""".stripMargin))

  /** GEOHASH PREFIX ROLLUP — encode every image position as a precision-6
    * geohash ([[graft.geo.Geohash]]: integer-lattice, exact substring
    * nesting) and roll counts up to the 4-char prefix: points, occupied
    * subcells, and the densest subcell per prefix — the string-keyed export
    * shape external geo-systems (ES geo_grid, BigQuery GEOHASH joins)
    * consume. Scale shape: encode is a map-side codegen projection; the
    * first groupBy (the only data-sized shuffle) is absorbed by map-side
    * combine; the prefix re-group is bounded by occupied precision-6 cells,
    * not points — the qDensityRaster two-level rollup discipline. The
    * oracle replays quantize -> interleave -> base32 as an independent
    * unrolled CTE chain over the same micro-degree lattice, so a match
    * proves the whole bit layout, not just the counts. */
  private val qGeohashRollup = Q(
    "q_geohash_rollup",
    (s, dir) => {
      import graft.geo.{functions => G}
      Images.images(s, dir)
        .withColumn("gh6", G.geohash_encode(col("lat"), col("lon"), 6))
        .groupBy(col("gh6")).agg(count(lit(1)).as("n"))
        .groupBy(substring(col("gh6"), 1, 4).as("gh4"))
        .agg(sum(col("n")).as("n_points"),
          count(lit(1)).as("n_sub"),
          max(col("n")).as("max_sub"))
        .where(col("n_points") >= 2)
    },
    Some {
      import graft.geo.Geohash
      s"""$cte, q AS (
         |  SELECT ${Geohash.oracleQuantLonSql("lon", 6)} AS lq,
         |    ${Geohash.oracleQuantLatSql("lat", 6)} AS tq
         |  FROM images
         |), iv AS (
         |  SELECT (${Geohash.oracleInterleaveSql(6)}) AS v FROM q
         |), gh AS (
         |  SELECT ${Geohash.oracleCharsSql(6)} AS gh6 FROM iv
         |), sub AS (
         |  SELECT gh6, count(*) AS n FROM gh GROUP BY 1
         |)
         |SELECT substr(gh6, 1, 4) AS gh4, CAST(sum(n) AS BIGINT) AS n_points,
         |  CAST(count(*) AS BIGINT) AS n_sub, CAST(max(n) AS BIGINT) AS max_sub
         |FROM sub GROUP BY 1 HAVING sum(n) >= 2""".stripMargin
    })

  /** MAP-MATCHING (nearest-vertex snap) — snap every event position onto
    * the 48-vertex reference route ([[Fixtures.routeVertices]]) and roll up
    * per-vertex load: point count, closest approach, and total squared
    * displacement. The snap is a single codegen least-fold over
    * literal-vertex `struct(d2, vid)` distances (the k-center/IVF
    * assign-to-codebook pattern): argmin with the (d2, vid) tie-break,
    * zero joins, zero extra shuffles — per-event work is O(V) map-side and
    * the only shuffle is the V-bounded rollup. At 100 TB with a large
    * vertex set this becomes the cell-bucketed 1-NN join (q_knn); the
    * literal fold IS the right shape while V fits a broadcast (the common
    * reference-route case). All arithmetic is exact: micro-degree BIGINT
    * deltas, BIGINT squares (≤ 1.4e17), an exact sum emitted as BIGINT
    * halves ([[graft.agg.E18]]) — no floating-point op between quantize
    * and hash on either engine. */
  private val qMapMatch = Q(
    "q_map_match",
    (s, dir) => {
      val ev = graft.sources.Events
        .withPosition(s.read.parquet(s"$dir/events.parquet"))
        .select(col("event_id"),
          floor(col("lat") * 1000000).cast("long").as("qlat"),
          floor(col("lon") * 1000000).cast("long").as("qlon"))
      val best = Fixtures.routeVertices.map { case (vid, vlat, vlon) =>
        struct(
          ((col("qlat") - lit(vlat)) * (col("qlat") - lit(vlat)) +
            (col("qlon") - lit(vlon)) * (col("qlon") - lit(vlon))).as("d2"),
          lit(vid).as("vid"))
      }.reduceLeft(least(_, _))
      ev.select(best.getField("vid").as("vid"), best.getField("d2").as("d2"))
        .groupBy(col("vid"))
        .agg(count(lit(1)).as("n_pts"),
          min(col("d2")).as("min_d2"),
          sum(col("d2").cast("decimal(38,0)")).as("sum_d2"))
        .select(Seq(col("vid"), col("n_pts"), col("min_d2")) ++
          E18.halves(col("sum_d2"), "sum_d2"): _*)
    },
    Some(
      s"""WITH eh1 AS (
         |  SELECT event_id, ${graft.sources.Events.oracleH1Sql} AS h1 FROM events
         |), eh2 AS (
         |  SELECT event_id, h1, ${graft.sources.Events.oracleH2Sql} AS h2 FROM eh1
         |), pos AS (
         |  SELECT event_id,
         |    CAST(floor((${graft.sources.Events.oracleLatSql}) * 1000000) AS BIGINT) AS qlat,
         |    CAST(floor((${graft.sources.Events.oracleLonSql}) * 1000000) AS BIGINT) AS qlon
         |  FROM eh2
         |), verts(vid, vlat, vlon) AS (VALUES ${Fixtures.routeOracleValues}
         |), snapped AS (
         |  SELECT event_id, vid, d2,
         |    row_number() OVER (PARTITION BY event_id ORDER BY d2, vid) AS rn
         |  FROM (
         |    SELECT p.event_id, v.vid,
         |      (p.qlat - v.vlat) * (p.qlat - v.vlat)
         |        + (p.qlon - v.vlon) * (p.qlon - v.vlon) AS d2
         |    FROM pos p CROSS JOIN verts v)
         |)
         |SELECT CAST(vid AS INTEGER) AS vid, CAST(count(*) AS BIGINT) AS n_pts,
         |  CAST(min(d2) AS BIGINT) AS min_d2,
         |  ${E18.oracleSql("sum(d2)", "sum_d2")}
         |FROM snapped WHERE rn = 1 GROUP BY vid""".stripMargin))

  /** GRID BFS (cost-distance / service-area) — hop distance of every
    * occupied res-6 cell from the nearest of the 3 densest cells
    * ([[graft.graph.Graph.gridBfs]]: frontier expansion, rook adjacency,
    * lon-wrap/lat-clamp). The oracle computes the same fixpoint as a
    * DuckDB recursive CTE over the identical adjacency arithmetic, so a
    * hash match proves the distributed frontier loop reaches the exact
    * BFS distance labeling — the iterative-traversal twin of the
    * q_hotspot_regions transitive-closure check. Scale shape: the binning
    * groupBy is the only point-sized stage; frontier/visited are bounded
    * by the 4^6 grid, rounds by maxDist=8. */
  private val qGridBfs = Q(
    "q_grid_bfs",
    (s, dir) => {
      import graft.geo.{functions => G}
      val occ = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val seeds = occ.orderBy(col("cnt").desc, col("cell"))
        .limit(3).select("cell")
      graft.graph.Graph.gridBfs(occ, seeds, 6, 8)
    },
    Some(
      s"""${cte.replaceFirst("WITH ", "WITH RECURSIVE ")}, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), seeds AS MATERIALIZED (
         |  SELECT cell FROM g ORDER BY cnt DESC, cell LIMIT 3
         |), walk AS (
         |  SELECT cell, 0 AS dist FROM seeds
         |  UNION
         |  SELECT n.cell, w.dist + 1
         |  FROM walk w
         |  CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) off(dx, dy)
         |  JOIN g n ON n.cell = ((CAST(6 AS BIGINT) << 58)
         |      | (CAST(((w.cell >> 6) & 63) + off.dy AS BIGINT) << 6)
         |      | CAST((((w.cell & 63) + off.dx) % 64 + 64) % 64 AS BIGINT))
         |  WHERE ((w.cell >> 6) & 63) + off.dy BETWEEN 0 AND 63
         |    AND w.dist < 8
         |)
         |SELECT cell, CAST(min(w.dist) AS INTEGER) AS dist,
         |  CAST(min(g.cnt) AS BIGINT) AS cnt
         |FROM walk w JOIN g USING (cell) GROUP BY cell""".stripMargin))

  /** MORPHOLOGICAL OPENING (erosion -> dilation, 3x3 square structuring
    * element) on the binary occupancy raster at res 7 — the mathematical-
    * morphology despeckle: cells that survive opening belong to solid
    * occupied blocks; isolated speckle and filaments get opened=0 (the
    * image-processing twin of q_hotspot_regions' clustering view).
    * Boundary convention: outside the lat range counts as UNOCCUPIED
    * (image border), so clamped edge rows never survive erosion;
    * longitude wraps. Both passes are SCATTER form: erosion counts each
    * mask cell's 3x3 disk contributions with one keyed re-group (full
    * disk = 9 contributors = eroded), dilation re-explodes the eroded
    * set; opening is anti-extensive, so the flag join stays inside the
    * mask. Scale shape: the binning groupBy is the only point-sized
    * stage; everything after is bounded by the 4^7 grid — at 10^12
    * points the morphology costs exactly two grid-bounded 9x fanouts. */
  private val qMorphOpen = Q(
    "q_morph_open",
    (s, dir) => {
      import graft.geo.{functions => G}
      val mask = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val eroded = mask
        .select(explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("g"))
        .where(col("g") === 9).select("cell")
      val opened = eroded
        .select(explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .distinct()
      val out = mask
        .join(opened.withColumn("op", lit(1)), Seq("cell"), "left")
        .select(col("cell"), col("cnt"),
          coalesce(col("op"), lit(0)).as("opened"))
        .localCheckpoint(true)
      mask.unpersist(blocking = false)
      out
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(7)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), mask AS MATERIALIZED (
         |  SELECT cell, cnt, cell & 127 AS x, (cell >> 7) & 127 AS y
         |  FROM g WHERE cnt >= 2
         |), eroded AS MATERIALIZED (
         |  SELECT t AS cell FROM (
         |    SELECT ((CAST(7 AS BIGINT) << 58)
         |        | (CAST(m.y + dy.r AS BIGINT) << 7)
         |        | CAST(((m.x + dx.r) % 128 + 128) % 128 AS BIGINT)) AS t
         |    FROM mask m, range(-1,2) dy(r), range(-1,2) dx(r)
         |    WHERE m.y + dy.r BETWEEN 0 AND 127)
         |  GROUP BY 1 HAVING count(*) = 9
         |), opened AS (
         |  SELECT DISTINCT ((CAST(7 AS BIGINT) << 58)
         |      | (CAST(((e.cell >> 7) & 127) + dy.r AS BIGINT) << 7)
         |      | CAST((((e.cell & 127) + dx.r) % 128 + 128) % 128 AS BIGINT))
         |    AS cell
         |  FROM eroded e, range(-1,2) dy(r), range(-1,2) dx(r)
         |  WHERE ((e.cell >> 7) & 127) + dy.r BETWEEN 0 AND 127
         |)
         |SELECT m.cell, CAST(m.cnt AS BIGINT) AS cnt,
         |  CAST(CASE WHEN o.cell IS NULL THEN 0 ELSE 1 END AS INTEGER)
         |    AS opened
         |FROM mask m LEFT JOIN opened o USING (cell)""".stripMargin))

  /** POLYGON DISSOLVE (multi-layer union membership) — merge the 15 test
    * polygons with a 16-polygon bench layer (the two layers genuinely
    * overlap) and roll up the DISSOLVED region per res-5 cell: points in
    * the union, overlap mass (Σ containing-polygon count), multi-covered
    * points, and the deepest nesting — the GIS dissolve/overlay-union
    * operator (merging admin boundaries from two sources), built ON TOP of
    * the covering-index pip join rather than geometry union: at 10^12
    * points, dissolving MEMBERSHIP (a keyed count per point) scales where
    * dissolving GEOMETRY (a polygon union) is a driver-side preprocess.
    * Scale shape: one pip join (broadcast covering index), one point-keyed
    * count, one cell rollup — no new shuffle class. The oracle replays
    * membership per polygon with the kind-exact strict-interior predicates
    * and re-derives the same counts. */
  private val qPolyDissolve = Q(
    "q_poly_dissolve",
    (s, dir) => {
      import graft.geo.{functions => G}
      val layer = Fixtures.polys ++ Fixtures.benchPolys(16)
      val imgs = Images.images(s, dir)
      val k = SpatialJoin.pipJoin(imgs, s, layer)
        .groupBy("image_id").agg(count(lit(1)).as("kp"))
      imgs.join(k, Seq("image_id"))
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 5))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_union"),
          sum(col("kp")).as("overlap_mass"),
          sum(when(col("kp") >= 2, 1L).otherwise(0L)).as("n_multi"),
          max(col("kp")).as("max_k"))
    },
    Some {
      val members = (Fixtures.polys ++ Fixtures.benchPolys(16)).map { p =>
        s"SELECT image_id FROM images WHERE ${Fixtures.polySql(p)}"
      }.mkString("\n    UNION ALL\n    ")
      s"""$cte, m AS (
         |  SELECT image_id, count(*) AS kp FROM (
         |    $members
         |  ) GROUP BY image_id
         |)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_union,
         |  CAST(sum(kp) AS BIGINT) AS overlap_mass,
         |  CAST(sum(CASE WHEN kp >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
         |  CAST(max(kp) AS BIGINT) AS max_k
         |FROM (SELECT ${cellSql(5)} AS cell, kp
         |      FROM images JOIN m USING (image_id))
         |GROUP BY cell""".stripMargin
    })

  /** MARCHING SQUARES contour extraction over the res-6 density raster —
    * the isoline operator (heatmap -> contour lines, the cartographic
    * render step after q_density_raster): binarize cells at threshold 3,
    * index every 2x2 block by its corner mask (LL=1, LR=2, UL=4, UR=8;
    * absent cell = below threshold), and roll up the contour cases —
    * blocks with mask in 1..14 carry a contour segment (saddles 5 and 10
    * carry two). Output per case: block count, segment count, and the
    * block-id mass (by*64+bx) pinning WHERE the contour runs, not just how
    * much of it exists. Longitude wraps (blocks straddle the antimeridian);
    * the top lat row has no block above it. Scale shape: the binning
    * groupBy is the only point-sized stage; the block index is a 4x
    * scatter of ABOVE-THRESHOLD cells + one keyed re-group — bounded by
    * the grid, never the points; pure integer end-to-end. */
  private val qContourCases = Q(
    "q_contour_cases",
    (s, dir) => {
      import graft.geo.{functions => G}
      val corners = explode(array(
        struct(lit(0L).as("dx"), lit(0L).as("dy"), lit(1L).as("bit")),
        struct(lit(1L).as("dx"), lit(0L).as("dy"), lit(2L).as("bit")),
        struct(lit(0L).as("dx"), lit(1L).as("dy"), lit(4L).as("bit")),
        struct(lit(1L).as("dx"), lit(1L).as("dy"), lit(8L).as("bit"))))
      Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 3)
        .select(col("cell").bitwiseAND(lit(63L)).as("x"),
          shiftrightunsigned(col("cell"), 6).bitwiseAND(lit(63L)).as("y"),
          corners.as("c"))
        .select(pmod(col("x") - col("c.dx"), lit(64L)).as("bx"),
          (col("y") - col("c.dy")).as("by"), col("c.bit").as("bit"))
        .where(col("by") >= 0 && col("by") <= 62)
        .groupBy(col("bx"), col("by"))
        .agg(sum(col("bit")).as("mask"))
        .where(col("mask") >= 1 && col("mask") <= 14)
        .groupBy(col("mask"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("mask") === 5 || col("mask") === 10, 2L)
            .otherwise(1L)).as("n_segs"),
          sum(col("by") * 64 + col("bx")).as("block_mass"))
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell, count(*) AS cnt
         |  FROM images GROUP BY 1
         |), hot AS (
         |  SELECT cell & 63 AS x, (cell >> 6) & 63 AS y
         |  FROM g WHERE cnt >= 3
         |), blocks AS (
         |  SELECT ((h.x - c.dx) % 64 + 64) % 64 AS bx, h.y - c.dy AS by,
         |    sum(c.bit) AS mask
         |  FROM hot h
         |  CROSS JOIN (VALUES (0, 0, 1), (1, 0, 2), (0, 1, 4), (1, 1, 8))
         |    c(dx, dy, bit)
         |  WHERE h.y - c.dy BETWEEN 0 AND 62
         |  GROUP BY 1, 2
         |)
         |SELECT CAST(mask AS BIGINT) AS mask,
         |  CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(sum(CASE WHEN mask IN (5, 10) THEN 2 ELSE 1 END) AS BIGINT)
         |    AS n_segs,
         |  CAST(sum(by * 64 + bx) AS BIGINT) AS block_mass
         |FROM blocks WHERE mask BETWEEN 1 AND 14 GROUP BY 1""".stripMargin))

  /** RIPLEY'S K (focal-sample estimator) — the point-pattern-analysis
    * statistic: for radius bands 0.25/0.5/1.0 degrees, how many neighbors
    * does a focal point have within r? Clustered processes grow faster
    * than the Poisson r² law — the ESDA companion to q_morans_i that works
    * on POINTS, not a binned grid. Estimator: a deterministic 1-in-293
    * focal sample (k % 293 = 0 — the count estimator at 100 TB, where
    * all-pairs K is quadratic and the sampled form is the published
    * remedy); neighbors found via a broadcast ring prefilter — each focal
    * explodes its res-7 Chebyshev-1 ring (cell dims 1.41°x2.81° ≥ the 1°
    * max radius, so the prefilter is provably complete) and the corpus
    * joins on the cell key: map-side, no shuffle of the point table, no
    * theta join. Distances are exact BIGINT micro-degree squares (planar,
    * the [[graft.geo.GridCell.lineCells]] seam convention); strict `<`
    * band predicates hash identically cross-engine. The oracle replays
    * the same bands over the true all-pairs form — a match also proves
    * prefilter completeness on real data. */
  private val qRipleyK = Q(
    "q_ripley_k",
    (s, dir) => {
      import graft.geo.{functions => G}
      val imgs = Images.images(s, dir)
        .select(col("k"),
          floor(col("lat") * 1000000).cast("long").as("qlat"),
          floor(col("lon") * 1000000).cast("long").as("qlon"),
          G.cell_encode(col("lat"), col("lon"), 7).as("cell"))
      val focal = imgs.where(pmod(col("k"), lit(293L)) === 0)
        .select(col("k").as("fk"), col("qlat").as("flat"),
          col("qlon").as("flon"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
      imgs.join(broadcast(focal), Seq("cell"))
        .where(col("k") =!= col("fk"))
        .withColumn("d2",
          (col("qlat") - col("flat")) * (col("qlat") - col("flat")) +
            (col("qlon") - col("flon")) * (col("qlon") - col("flon")))
        .where(col("d2") < lit(1000000000000L))
        .select(col("fk"), col("d2"),
          explode(array(lit(250000L), lit(500000L), lit(1000000L))).as("r"))
        .where(col("d2") < col("r") * col("r"))
        .groupBy(col("fk"), col("r")).agg(count(lit(1)).as("nb"))
        .groupBy(col("r"))
        .agg(sum(col("nb")).as("n_pairs"),
          count(lit(1)).as("n_focals"),
          max(col("nb")).as("max_nb"))
    },
    Some(
      s"""$cte, pts AS (
         |  SELECT k, CAST(floor(lat * 1000000) AS BIGINT) AS qlat,
         |    CAST(floor(lon * 1000000) AS BIGINT) AS qlon
         |  FROM images
         |), f AS (SELECT * FROM pts WHERE k % 293 = 0),
         |per_focal AS (
         |  SELECT f.k AS fk, b.r, count(*) AS nb
         |  FROM f JOIN pts p ON p.k != f.k
         |  CROSS JOIN (VALUES (250000), (500000), (1000000)) b(r)
         |  WHERE (p.qlat - f.qlat) * (p.qlat - f.qlat)
         |      + (p.qlon - f.qlon) * (p.qlon - f.qlon)
         |      < CAST(b.r AS BIGINT) * b.r
         |  GROUP BY 1, 2
         |)
         |SELECT CAST(r AS BIGINT) AS r, CAST(sum(nb) AS BIGINT) AS n_pairs,
         |  CAST(count(*) AS BIGINT) AS n_focals,
         |  CAST(max(nb) AS BIGINT) AS max_nb
         |FROM per_focal GROUP BY 1""".stripMargin))

  /** HARRIS CORNER DETECTION over the res-6 density raster — the
    * interest-point operator of classical vision (where does the heatmap
    * turn?), run on the 8-BIT CLIPPED luma `min(cnt, 255)` exactly as on a
    * real image; the clip also bounds every moment (gx ≤ 4·255, det ≤
    * 8.8e13) so the response stays BIGINT-exact at ANY corpus scale. Two
    * scatter passes in the q_slope_aspect idiom: (1) Sobel gx/gy at every
    * grid cell (zero padding at lat edges, lon wraps), (2) 3x3 box sums of
    * the second-moment products (Sxx, Syy, Sxy). Response R20 =
    * 20·(Sxx·Syy − Sxy²) − (Sxx+Syy)² — Harris k=0.05 scaled ×20 into
    * integers. Output: top-10 corners by (R20, cell) with the moment
    * pieces. Scale shape: binning is the only point-sized stage; both
    * fanouts are 9× the grid, never the points. */
  private val qHarrisCorners = Q(
    "q_harris_corners",
    (s, dir) => {
      import graft.geo.{functions => G}
      val n = 64L
      def xOf(c: org.apache.spark.sql.Column) = c.bitwiseAND(lit(n - 1))
      def yOf(c: org.apache.spark.sql.Column) =
        shiftright(c, 6).bitwiseAND(lit(n - 1))
      val rawOx = xOf(col("src")) - xOf(col("cell"))
      val ox = when(rawOx > 32, rawOx - 64)
        .when(rawOx < -32, rawOx + 64).otherwise(rawOx)
      val oy = yOf(col("src")) - yOf(col("cell"))
      val grad = Images.images(s, dir)
        .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
        .groupBy("cell").agg(least(count(lit(1)), lit(255L)).as("z"))
        .select(col("cell").as("src"), col("z"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .withColumn("ox", ox).withColumn("oy", oy)
        .groupBy("cell")
        .agg(sum(col("ox") * (lit(2L) - abs(col("oy"))) * col("z")).as("gx"),
          sum(col("oy") * (lit(2L) - abs(col("ox"))) * col("z")).as("gy"))
      grad
        .select(col("cell").as("src"),
          (col("gx") * col("gx")).as("pxx"),
          (col("gy") * col("gy")).as("pyy"),
          (col("gx") * col("gy")).as("pxy"),
          explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
        .groupBy("cell")
        .agg(sum(col("pxx")).as("sxx"), sum(col("pyy")).as("syy"),
          sum(col("pxy")).as("sxy"))
        .withColumn("r20",
          lit(20L) * (col("sxx") * col("syy") - col("sxy") * col("sxy")) -
            (col("sxx") + col("syy")) * (col("sxx") + col("syy")))
        .orderBy(col("r20").desc, col("cell")).limit(10)
    },
    Some(
      s"""$cte, g AS (
         |  SELECT ${cellSql(6)} AS cell,
         |    least(count(*), 255) AS z,
         |    ${cellSql(6)} & 63 AS x, (${cellSql(6)} >> 6) & 63 AS y
         |  FROM images GROUP BY 1, 3, 4
         |), grad AS (
         |  SELECT ocell AS cell, x, y,
         |    CAST(sum(gxw * z) AS BIGINT) AS gx,
         |    CAST(sum(gyw * z) AS BIGINT) AS gy
         |  FROM (
         |    SELECT ((CAST(6 AS BIGINT) << 58)
         |        | (CAST(g.y + dy.r AS BIGINT) << 6)
         |        | CAST(((g.x + dx.r) % 64 + 64) % 64 AS BIGINT)) AS ocell,
         |      ((g.x + dx.r) % 64 + 64) % 64 AS x, g.y + dy.r AS y,
         |      g.z,
         |      (-dx.r) * (2 - abs(dy.r)) AS gxw,
         |      (-dy.r) * (2 - abs(dx.r)) AS gyw
         |    FROM g, range(-1,2) dy(r), range(-1,2) dx(r)
         |    WHERE g.y + dy.r BETWEEN 0 AND 63)
         |  GROUP BY 1, 2, 3
         |), mom AS (
         |  SELECT ocell AS cell,
         |    CAST(sum(pxx) AS BIGINT) AS sxx,
         |    CAST(sum(pyy) AS BIGINT) AS syy,
         |    CAST(sum(pxy) AS BIGINT) AS sxy
         |  FROM (
         |    SELECT ((CAST(6 AS BIGINT) << 58)
         |        | (CAST(gr.y + dy.r AS BIGINT) << 6)
         |        | CAST(((gr.x + dx.r) % 64 + 64) % 64 AS BIGINT)) AS ocell,
         |      gr.gx * gr.gx AS pxx, gr.gy * gr.gy AS pyy,
         |      gr.gx * gr.gy AS pxy
         |    FROM grad gr, range(-1,2) dy(r), range(-1,2) dx(r)
         |    WHERE gr.y + dy.r BETWEEN 0 AND 63)
         |  GROUP BY 1
         |)
         |SELECT cell, sxx, syy, sxy,
         |  20 * (sxx * syy - sxy * sxy) - (sxx + syy) * (sxx + syy) AS r20
         |FROM mom ORDER BY r20 DESC, cell LIMIT 10""".stripMargin))

  /** TRAJECTORY ↔ GEOFENCE BOUNDARY CROSSINGS — the segment-intersection
    * join the dwell/geofence family lacks: [[qEventGeofence]] counts
    * events INSIDE a fence, [[qGeofenceDwell]] how long; this counts how
    * often each user's path CROSSES each fence's boundary (the
    * perimeter-breach / entry-exit analytic). A path segment is the
    * straight line between a user's consecutive event positions (ts,
    * event_id order — the q_traj_headings walk); a crossing is a PROPER
    * intersection with a fence edge, decided by the strict orientation
    * products of [[graft.geo.PipKernel.segCross]] — the oracle mirrors
    * the arithmetic double-for-double (same op order, same strict `< 0`
    * tests), so collinear touches are excluded symmetrically and the
    * count hash-matches cross-engine. Planar seam convention (the
    * lineCells contract): a segment is the drawn line on the [-180,180]
    * plane.
    *
    * Scale shape: the fence layer's edge list is a compile-time literal
    * (~90 edges over 15 fences) burned into ONE whole-stage-codegen
    * projection — per segment, each fence's crossing count is a sum of
    * `when(strict-cross)` indicators, no join, no row expansion beyond
    * the 15-element per-segment explode that turns fence hits into rows.
    * With a data-borne fence layer this becomes the q_event_geofence
    * broadcast shape; with the literal layer it is map-only until the
    * (poly, user)-keyed rollup. One user-keyed lead window builds the
    * segments — thousands of independent partitions, no global sort. */
  private val qTrajCrossings = Q(
    "q_traj_crossings",
    (s, dir) => {
      val ev = graft.sources.Events.withPosition(
        s.read.parquet(s"$dir/events.parquet"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val seg = ev
        .withColumn("lat2", lead(col("lat"), 1).over(w))
        .withColumn("lon2", lead(col("lon"), 1).over(w))
        .where(col("lat2").isNotNull)
      // orient(a→b, c) — the PipKernel.segCross sign convention, column form
      def o(ax: org.apache.spark.sql.Column, ay: org.apache.spark.sql.Column,
            bx: org.apache.spark.sql.Column, by: org.apache.spark.sql.Column,
            cx: org.apache.spark.sql.Column, cy: org.apache.spark.sql.Column) =
        (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
      val (sx1, sy1, sx2, sy2) =
        (col("lon"), col("lat"), col("lon2"), col("lat2"))
      def crossEdge(ex1: Double, ey1: Double,
                    ex2: Double, ey2: Double): org.apache.spark.sql.Column =
        (o(sx1, sy1, sx2, sy2, lit(ex1), lit(ey1)) *
          o(sx1, sy1, sx2, sy2, lit(ex2), lit(ey2)) < 0) &&
          (o(lit(ex1), lit(ey1), lit(ex2), lit(ey2), sx1, sy1) *
            o(lit(ex1), lit(ey1), lit(ex2), lit(ey2), sx2, sy2) < 0)
      // each fence's crossing count lands in its OWN column first: one
      // giant array-of-structs expression tree is a single janino method
      // (the generator cannot split inside one expression) and blows the
      // 64 KB limit, silently dropping the scan out of whole-stage
      // codegen; 15 small per-poly columns + an array of column REFS keep
      // every generated method tiny (bench-verified: no codegen fallback)
      val withCnts = Fixtures.polys.foldLeft(seg) { (df, p) =>
        val n = p.lats.length
        val cnt = (0 until n).map { i =>
          val j = (i + 1) % n
          when(crossEdge(p.lons(i), p.lats(i), p.lons(j), p.lats(j)), 1L)
            .otherwise(0L)
        }.reduce(_ + _)
        df.withColumn(s"nc_${p.polyId}", cnt)
      }
      val perPoly = Fixtures.polys.map { p =>
        struct(lit(p.polyId).as("poly_id"), col(s"nc_${p.polyId}").as("nc"))
      }
      withCnts.select(col("user_id"), explode(array(perPoly: _*)).as("m"))
        .where(col("m.nc") > 0)
        .groupBy(col("m.poly_id").as("poly_id"), col("user_id"))
        .agg(count(lit(1)).as("n_segs"), sum(col("m.nc")).as("n_crossings"))
    },
    Some {
      val edgeRows = Fixtures.polys.flatMap { p =>
        val n = p.lats.length
        (0 until n).map { i =>
          val j = (i + 1) % n
          s"('${p.polyId}', ${p.lons(i)}::DOUBLE, ${p.lats(i)}::DOUBLE, " +
            s"${p.lons(j)}::DOUBLE, ${p.lats(j)}::DOUBLE)"
        }
      }.mkString(",\n    ")
      s"""WITH ${eventCellCtes(5)}, seg AS (
         |  SELECT user_id, event_id, lon AS sx1, lat AS sy1,
         |    lead(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS sx2,
         |    lead(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS sy2
         |  FROM pos
         |  QUALIFY sx2 IS NOT NULL
         |), e(poly_id, ex1, ey1, ex2, ey2) AS (VALUES
         |    $edgeRows
         |), per_seg AS (
         |  SELECT e.poly_id, seg.user_id, seg.event_id,
         |    CAST(count(*) AS BIGINT) AS nc
         |  FROM seg, e
         |  WHERE ((sx2 - sx1) * (ey1 - sy1) - (sy2 - sy1) * (ex1 - sx1))
         |      * ((sx2 - sx1) * (ey2 - sy1) - (sy2 - sy1) * (ex2 - sx1)) < 0
         |    AND ((ex2 - ex1) * (sy1 - ey1) - (ey2 - ey1) * (sx1 - ex1))
         |      * ((ex2 - ex1) * (sy2 - ey1) - (ey2 - ey1) * (sx2 - ex1)) < 0
         |  GROUP BY 1, 2, 3
         |)
         |SELECT poly_id, user_id, CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(sum(nc) AS BIGINT) AS n_crossings
         |FROM per_seg GROUP BY 1, 2""".stripMargin
    })

  /** CHANGE-POINT DETECTION PER CELL (integer CUSUM split) — the
    * time-series anomaly primitive the monitoring family lacks:
    * [[qMannKendall]] scores monotone TREND, [[qAnomalyCells]] flags
    * outlier DAYS; this finds the single best SPLIT day where a cell's
    * daily arrival level shifts — argmax over split points i of the
    * centered cumulative deviation |n·S_i − i·S_n| (the CUSUM statistic
    * cross-multiplied into exact BIGINTs: comparing S_i against the
    * global mean rate i·S_n/n without ever dividing). Ties → earliest
    * day; cells with a single active day have no split and are absent.
    *
    * Scale shape: one event-sized keyed (cell, day) count with map-side
    * combine, then cell-keyed windows over each cell's own ≤|days| rows
    * — millions of independent ~30-row partitions, no global sort, no
    * partitionless window. The statistic is integer-exact end-to-end
    * (n·S ≤ days × arrivals — overflow raises under ANSI, never
    * wraps). */
  private val qChangepoint = Q(
    "q_changepoint",
    (s, dir) => {
      val daily = eventPositions(s, dir, 5)
        .withColumn("day",
          floor(unix_micros(col("ts").cast("timestamp")) /
            lit(86400000000L)).cast("long"))
        .groupBy(col("cell"), col("day"))
        .agg(count(lit(1)).as("cnt"))
      val wo = Window.partitionBy("cell").orderBy("day")
      val wu = Window.partitionBy("cell")
      val scored = daily
        .withColumn("i", row_number().over(wo).cast("long"))
        .withColumn("s", sum(col("cnt")).over(wo))
        .withColumn("n", count(lit(1)).over(wu))
        .withColumn("tot", sum(col("cnt")).over(wu))
        .where(col("i") < col("n"))
        .withColumn("dev", abs(col("n") * col("s") - col("i") * col("tot")))
      val wr = Window.partitionBy("cell").orderBy(col("dev").desc, col("day"))
      scored.withColumn("rn", row_number().over(wr))
        .where(col("rn") === 1)
        .select(col("cell"), col("n").as("n_days"), col("tot").as("total"),
          col("day").as("best_day"), col("dev"))
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, daily AS (
         |  SELECT cell,
         |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM pc GROUP BY 1, 2
         |), scored AS (
         |  SELECT cell, day,
         |    CAST(row_number() OVER (PARTITION BY cell ORDER BY day)
         |      AS BIGINT) AS i,
         |    CAST(sum(cnt) OVER (PARTITION BY cell ORDER BY day)
         |      AS BIGINT) AS s,
         |    CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n,
         |    CAST(sum(cnt) OVER (PARTITION BY cell) AS BIGINT) AS tot
         |  FROM daily
         |  QUALIFY i < n
         |)
         |SELECT cell, n AS n_days, tot AS total, day AS best_day,
         |  abs(n * s - i * tot) AS dev
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cell
         |    ORDER BY abs(n * s - i * tot) DESC, day) AS rn
         |  FROM scored
         |) WHERE rn = 1""".stripMargin))

  /** CO-MOVEMENT PAIRS (flock detection) — the companionship analytic of
    * the trajectory family: which user PAIRS are repeatedly co-located,
    * i.e. share the same (res-5 cell, day) bucket in ≥2 distinct
    * buckets (the fixture walk tops out at 3 — repeat co-location is
    * already a strong signal for LCG positions). The classic flock/convoy primitive reduced to its
    * scale-sane core: candidates come from a KEYED equi-join on the
    * space-time bucket (never a |users|² comparison), the pair rollup
    * is one composite-key groupBy, and the verdict (n_cobuckets,
    * n_cells) is pure counting — integer-exact on both engines.
    *
    * Scale shape: the join fanout is Σ_bucket occ² — the bucket
    * occupancy is the dial (finer res/time shrinks it; the q_skew
    * machinery's salting + AQE skew-split is the documented hot-bucket
    * path, same as every co-occurrence miner in the suite, cf.
    * q_basket_pairs). Per-pair state never materializes beyond the
    * keyed aggregate. */
  private val qFlockPairs = Q(
    "q_flock_pairs",
    (s, dir) => {
      val items = eventPositions(s, dir, 5)
        .withColumn("day",
          floor(unix_micros(col("ts").cast("timestamp")) /
            lit(86400000000L)).cast("long"))
        .select(col("cell"), col("day"), col("user_id")).distinct()
      items.as("a").join(items.as("b"),
          col("a.cell") === col("b.cell") && col("a.day") === col("b.day") &&
            col("a.user_id") < col("b.user_id"))
        .groupBy(col("a.user_id").as("u1"), col("b.user_id").as("u2"))
        .agg(count(lit(1)).as("n_cobuckets"),
          countDistinct(col("a.cell")).as("n_cells"))
        .where(col("n_cobuckets") >= 2)
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, it AS (
         |  SELECT DISTINCT cell,
         |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
         |    user_id
         |  FROM pc
         |)
         |SELECT a.user_id AS u1, b.user_id AS u2,
         |  CAST(count(*) AS BIGINT) AS n_cobuckets,
         |  CAST(count(DISTINCT a.cell) AS BIGINT) AS n_cells
         |FROM it a JOIN it b ON b.cell = a.cell AND b.day = a.day
         |  AND a.user_id < b.user_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin))

  /** TRAJECTORY SPLIT POINT (one Douglas–Peucker level, integer-exact) —
    * the simplification primitive of the trajectory family: per user,
    * the event whose position deviates most from the first→last chord
    * of the user's walk. The classic DP criterion (max perpendicular
    * distance to the chord) argmax'd WITHOUT any division or sqrt: for
    * a fixed chord the perpendicular distance orders exactly like
    * |cross product|, and on the micro-degree lattice
    * (`q = floor(coord·1e6)` — the [[KmeansAssign]] quantization
    * device) the cross product is exact BIGINT (|q| ≤ 3.6e8 ⇒ a term
    * ≤ 2.6e17, the difference ≤ 5.2e17 — far inside Long; ANSI raises
    * on overflow, never wraps). Ties → earlier (ts, event_id). Interior
    * points only; users with < 3 events have no interior and are
    * absent. Recursing on the two halves is the full simplifier; one
    * level is the oracle-checkable kernel (the same bounded-depth
    * contract as q_merge_tree2's two layers).
    *
    * Scale shape: two user-keyed windows (chord endpoints via
    * unbounded-frame first/last, then the rank pick) over each user's
    * own rows — thousands of independent partitions, no global sort,
    * map-only otherwise. */
  private val qTrajSplit = Q(
    "q_traj_split",
    (s, dir) => {
      val ev = graft.sources.Events.withPosition(
          s.read.parquet(s"$dir/events.parquet"))
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("lat") * 1000000).cast("long").as("qlat"),
          floor(col("lon") * 1000000).cast("long").as("qlon"))
      val wo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wf = wo.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val scored = ev
        .withColumn("rn", row_number().over(wo).cast("long"))
        .withColumn("n", count(lit(1)).over(wf))
        .withColumn("ax", first(col("qlon")).over(wf))
        .withColumn("ay", first(col("qlat")).over(wf))
        .withColumn("bx", last(col("qlon")).over(wf))
        .withColumn("by", last(col("qlat")).over(wf))
        .where(col("rn") > 1 && col("rn") < col("n"))
        .withColumn("dev", abs(
          (col("bx") - col("ax")) * (col("qlat") - col("ay")) -
            (col("by") - col("ay")) * (col("qlon") - col("ax"))))
      val wr = Window.partitionBy("user_id")
        .orderBy(col("dev").desc, col("ts"), col("event_id"))
      scored.withColumn("pick", row_number().over(wr))
        .where(col("pick") === 1)
        .select(col("user_id"), col("n").as("n_pts"),
          col("event_id").as("split_event"), col("dev"))
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, qp AS (
         |  SELECT user_id, event_id, ts,
         |    CAST(floor(lat * 1000000) AS BIGINT) AS qlat,
         |    CAST(floor(lon * 1000000) AS BIGINT) AS qlon
         |  FROM pos
         |), ch AS (
         |  SELECT user_id, event_id, ts, qlat, qlon,
         |    CAST(row_number() OVER wo AS BIGINT) AS rn,
         |    CAST(count(*) OVER wf AS BIGINT) AS n,
         |    first_value(qlon) OVER wf AS ax,
         |    first_value(qlat) OVER wf AS ay,
         |    last_value(qlon) OVER wf AS bx,
         |    last_value(qlat) OVER wf AS by
         |  FROM qp
         |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id),
         |    wf AS (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |  QUALIFY rn > 1 AND rn < n
         |), dv AS (
         |  SELECT user_id, event_id, ts, n,
         |    abs((bx - ax) * (qlat - ay) - (by - ay) * (qlon - ax)) AS dev
         |  FROM ch
         |)
         |SELECT user_id, n AS n_pts, event_id AS split_event, dev
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY dev DESC, ts, event_id) AS pick
         |  FROM dv
         |) WHERE pick = 1""".stripMargin))

  /** CONVOY RUNS — the temporal refinement of [[qFlockPairs]]: flocks
    * count repeat co-location ANYWHERE in time; a convoy moves together
    * on CONSECUTIVE days. Per co-located pair (≥2 distinct shared days),
    * the longest consecutive-day run of co-location, by the classic
    * gaps-and-islands device (`day − row_number()` constant within a
    * run) — pure integer arithmetic, exact on both engines.
    *
    * Scale shape: the pair→day set rides the same keyed space-time
    * bucket equi-join as q_flock_pairs; the run analysis is a
    * pair-keyed window over each pair's own ≤|days| rows. Nothing
    * beyond the co-location join is event-sized. */
  private val qConvoyRuns = Q(
    "q_convoy_runs",
    (s, dir) => {
      val items = eventPositions(s, dir, 5)
        .withColumn("day",
          floor(unix_micros(col("ts").cast("timestamp")) /
            lit(86400000000L)).cast("long"))
        .select(col("cell"), col("day"), col("user_id")).distinct()
      val codays = items.as("a").join(items.as("b"),
          col("a.cell") === col("b.cell") && col("a.day") === col("b.day") &&
            col("a.user_id") < col("b.user_id"))
        .select(col("a.user_id").as("u1"), col("b.user_id").as("u2"),
          col("a.day").as("day"))
        .distinct()
      val wo = Window.partitionBy("u1", "u2").orderBy("day")
      val runs = codays
        .withColumn("isl", col("day") - row_number().over(wo).cast("long"))
        .groupBy(col("u1"), col("u2"), col("isl"))
        .agg(count(lit(1)).as("run"))
      runs.groupBy("u1", "u2")
        .agg(sum(col("run")).as("n_codays"), max(col("run")).as("max_run"))
        .where(col("n_codays") >= 2)
    },
    Some(
      s"""WITH ${eventCellCtes(5)}, it AS (
         |  SELECT DISTINCT cell,
         |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
         |    user_id
         |  FROM pc
         |), cd AS (
         |  SELECT DISTINCT a.user_id AS u1, b.user_id AS u2, a.day
         |  FROM it a JOIN it b ON b.cell = a.cell AND b.day = a.day
         |    AND a.user_id < b.user_id
         |), runs AS (
         |  SELECT u1, u2, CAST(count(*) AS BIGINT) AS run
         |  FROM (
         |    SELECT u1, u2, day,
         |      day - CAST(row_number() OVER (PARTITION BY u1, u2
         |        ORDER BY day) AS BIGINT) AS isl
         |    FROM cd
         |  ) GROUP BY u1, u2, isl
         |)
         |SELECT u1, u2, CAST(sum(run) AS BIGINT) AS n_codays,
         |  CAST(max(run) AS BIGINT) AS max_run
         |FROM runs GROUP BY 1, 2
         |HAVING sum(run) >= 2""".stripMargin))

  val all: Seq[Q] = Seq(
    qFlockPairs,
    qTrajSplit,
    qConvoyRuns,
    qSnapshotTag,
    qDbscanLabels,
    qMwuAb,
    qKsTest,
    qRfmSegments,
    qOutlierMad,
    qLacunarity,
    qAbcTiering,
    qHarrisCorners,
    qRipleyK,
    qContourCases,
    qPolyDissolve,
    qMorphOpen,
    qGridBfs,
    qGeohashRollup,
    qMapMatch,
    qMannKendall,
    qTheilSen,
    qEmergingHot,
    qAnomalyCells,
    qIntegralImage,
    qMutualKnn,
    qSkyline,
    qSilhouette,
    qTileAssign,
    qHexAssign,
    qKmeansAssign,
    qBicK,
    qKmeansAuto,
    qSoftAssign,
    qPyramidRes5,
    qPipJoin,
    qPipPart,
    qPolyTileCov,
    qPolyJoin,
    qPolyMetrics,
    qDistPairs,
    qKnn,
    qKnnJoin,
    qPagerank,
    qLabelProp,
    qDecayHot,
    qFunnel,
    qActivityIslands,
    qRetention,
    qRasterUpsample,
    qGeofenceDwell,
    qKnnClassify,
    qReverseKnn,
    qKnnBudget,
    qKnnBudgetIncl,
    qHotCells,
    qDensityRaster,
    qFocalStats,
    qMedianFilter,
    qIdwSurface,
    qSlopeAspect,
    qMoransI,
    qVariogram,
    qJoinCounts,
    qLineOfSight,
    qFlowWatershed,
    qFlowAccum,
    qBasinStats,
    qLisaQuadrants,
    qGetisOrd,
    qIsolated,
    qTrajRaster,
    qHotspotRegions,
    qRegionOctagon,
    qPercolation,
    qSkewSalted,
    qSkewAdaptive,
    qPairMerge,
    qMergeTree2,
    qResumeRes6,
    qTimeTravel,
    qEqualityDeletes,
    qPartitionEvolve,
    qStatsTransfer,
    qReadMigrated,
    qBucketJoin,
    qZcurve,
    qHilbert,
    qZrangeScan,
    qCompact,
    qPolyBuffer,
    qColoc,
    qStHotspots,
    qOdFlows,
    qMarkovNext,
    qTrajHeadings,
    qTrajHausdorff,
    qTrajCrossings,
    qChangepoint,
    qStayPoints,
    qTrendSurface,
    qBboxWrap,
    qRasterDiff,
    qRegionEdges,
    qTriangles,
    qOnionLayers,
    qMedialAxis,
    qCostDistance,
    qPathCounts,
    qDiurnalProfile,
    qDtwProfile,
    qHrwAssign,
    qBasketPairs,
    qInterarrival,
    qQuadtreePack,
    qQuadrat,
    qMaxSquare,
    qAnisotropy,
    qEquidepthBounds,
    qChildBitmap,
    qBivarMoran,
    qEvenness,
    qRouteCorridor,
    qUserProfiles,
    qGini,
    qSnapshotDiff,
    qZonalMedian,
    qAutoRes,
    qHrangeScan,
    qEventGeofence,
    qTemporalDiff,
    qFilesPrune,
    qDeltaMerge,
    qAdaptiveSplit) ++ text.QueriesText.all ++ text.QueriesSearch.all ++
    similarity.QueriesAnn.all ++
    QueriesMisc.all ++ QueriesRetrieval.all

  lazy val queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap
  lazy val oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
