package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.NearDup
import graft.operators.{SpatialJoin, TilePyramid}
import graft.similarity.Ann
import graft.sources.{Fixtures, Images}

/** Regenerate PLANS.md: `explain formatted` output for the flagship plans
  * on the shared [[graft.GraftSession]] (the explain-level audit evidence;
  * PlanSpec asserts the same invariants as tests). Run:
  * `sbt "runMain graft.tools.PlanDump"`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.start()
    val dir = "/root/testdata/sf0.001"
    val imgs = Images.images(spark, dir)

    def fmt(df: DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

    val sections: Seq[(String, String, DataFrame)] = Seq(
      ("Tile assignment (leaf rollup, res 8)",
        "one partial+final hash aggregation around a single exchange on the" +
          " cell key; scan pruned to the two lineitem key columns",
        TilePyramid.leafTiles(imgs, 8)
          .select("cell", "cnt", "bytes_sum")),
      ("Point-in-polygon join",
        "distributed covering index (PolyCoverCells + explode) broadcast;" +
          " image side map-only with the codegen ray-cast refine",
        SpatialJoin.pipJoin(imgs, spark)),
      ("kNN candidate stage (one settle round)",
        "query rings exploded + broadcast; leaf side scanned with a" +
          " 5-column projection, shuffled only into the per-query window",
        {
          val qs = Fixtures.knnQueries(spark)
            .withColumn("qcell", graft.geo.functions.cell_encode(
              col("qlat"), col("qlon"), 8))
            .withColumn("cell",
              explode(graft.geo.functions.cell_ring(col("qcell"), lit(4))))
          imgs.select(col("image_id"), col("lat"), col("lon"))
            .withColumn("cell", graft.geo.functions.cell_encode(
              col("lat"), col("lon"), 8))
            .join(broadcast(qs), Seq("cell"))
        }),
      ("Descent retrieval child stage (level r -> r+1)",
        "level scan pruned by res, equi-joined to the broadcast previous" +
          " selection on the parent cell — never a theta join",
        {
          val tiles = TilePyramid.pyramidLazy(imgs, 4, 6)
            .select("cell", "res", "cnt", "lat_min", "lat_max",
              "lon_min", "lon_max")
          val parents = Fixtures.knnQueries(spark).limit(3)
            .select(col("qid"), graft.geo.functions.cell_encode(
              col("qlat"), col("qlon"), 5).as("pcell"))
          tiles.filter(col("res") === 6)
            .withColumn("pcell",
              graft.geo.functions.cell_parent_at(col("cell"), 5))
            .join(broadcast(parents), Seq("pcell"))
        }),
      ("Embedding near-dup candidates (banded LSH)",
        "HyperplaneBands kernel projection + posexplode, self equi-join on" +
          " (band, signature) — linear candidate generation, no nested loop",
        Ann.lshCosNearDupPairs(spark, dir, 0.4)),
      ("Jaccard prefix join (AllPairs + PPJoin)",
        "rare-first prefix equi-join with size + positional filters;" +
          " persisted prefix frame feeds both sides",
        NearDup.jaccardPairsExact(
          spark.read.parquet(s"$dir/documents.parquet"), 0.5)),
      ("Adaptive skew salting (round 3)",
        "hot set broadcast into a semi/anti split: exactly ONE salted" +
          " exchange (hot branch two-phase), cold branch single-phase",
        graft.Queries.skewAdaptive(spark, dir)),
      ("Document chunker rows (round 3)",
        "map-only: codegen'd split_text_chunks kernel + posexplode — no" +
          " shuffle, no UDF boundary; chunk rows at scan speed",
        graft.Queries.queryMap("q_chunk_rows")(spark, dir)),
      ("Token-percentile distribution (round 3 rewrite)",
        "keyed histogram + broadcast cumulative inequality join — the" +
          " partitionless global window is gone (PlanSpec forbids them)",
        graft.Queries.queryMap("q_token_dist")(spark, dir)),
      ("Hex tile assignment (round 3)",
        "codegen'd hex_encode (axial + cube rounding) in the scan" +
          " projection, one partial+final agg on the hex cell — swapping" +
          " the grid index changes ZERO plan structure vs quadkey",
        graft.Queries.queryMap("q_hex_assign")(spark, dir)),
      ("k-means assignment stage (round 3)",
        "argmin over k broadcast centroid literals, fully codegen'd" +
          " map-only scan; each Lloyd iteration adds one k-row keyed agg",
        graft.operators.KmeansAssign.assign(imgs, 4, 1)),
      ("Image near-dup banded join (round 3)",
        "both sides map-only dHash kernels + band posexplode, candidates" +
          " from a 4x14-bit-band equi-join (lossless for hamming <= 3)," +
          " exact bit_count refine — linear, never an all-pairs loop",
        graft.Queries.queryMap("q_image_neardup")(spark, dir)),
      ("Bucketed co-located join (round 3)",
        "both scans inherit the catalog HashPartitioning (Bucketed: true," +
          " one file per bucket) — sort-merge join with ZERO exchanges;" +
          " the residual sorts are partition-local and move no bytes" +
          " between executors",
        // the exact frame the verify suite hash-checks (writes its two
        // bucketed tables as a side effect)
        graft.Queries.queryMap("q_bucket_join")(spark, dir)),
      ("Distance-radius self-join (round 4)",
        "forward-half Chebyshev ring: the probe explodes only the <= 5" +
          " ring cells >= its own, one equi-join on the ring cell" +
          " generates each unordered pair EXACTLY once (no orientation" +
          " double-compute, no post-join dedup), codegen planar refine —" +
          " candidates scale with local density, never |points|^2",
        SpatialJoin.distanceJoin(imgs, 0.0001)),
      ("Partitioned pip join (round 4)",
        "the non-broadcast pip plan for vector layers no executor can" +
          " hold: covering index and points shuffle ONCE each on the cell" +
          " key into a sort-merge join (AQE skew split covers hot cells)," +
          " same codegen ray-cast refine, nothing collected or broadcast",
        SpatialJoin.pipJoinPartitioned(imgs, spark)),
      ("Soft multi-membership assignment (round 4)",
        "k centroids as driver literals, membership band as a codegen" +
          " filter + explode over ONE scan — map-only, no shuffle; the" +
          " edge table (<= k*n rows) is the DAG the descent dedups",
        graft.Queries.queryMap("q_soft_assign")(spark, dir)),
      ("Adaptive tile splitting (round 4)",
        "the oversize-recursion collapsed to a closed form: one" +
          " parent-cell equi-join of the pyramid against its own parent" +
          " projection (ReuseExchange shares the scan) — no driver" +
          " recursion, no per-depth jobs",
        graft.Queries.queryMap("q_adaptive_split")(spark, dir)),
      ("PQ encoding (round 4)",
        "codebook as literals, per-subspace argmin via struct array_min" +
          " (ordering IS the tie-break) — one map-only codegen projection," +
          " no shuffle, no window, no join: 10^12 vectors encode at scan" +
          " speed",
        Ann.pqCodes(spark, dir)),
      ("ADC search over PQ codes (round 4)",
        "per-query subspace-distance LUT as ONE broadcast MapType column;" +
          " scoring = 8 map lookups + integer adds per (query, code) over" +
          " the 8-byte code scan — the floats are never re-read; only the" +
          " final per-query top-k window shuffles",
        Ann.pqAdcTopK(spark, dir, 8, 5)),
      ("Weighted priority sample (round 4)",
        "map-only priority projection (division-only arithmetic) + ONE" +
          " keyed window per tile cell — partition-parallel, no global" +
          " sort",
        graft.Queries.queryMap("q_weighted_sample")(spark, dir)),
      ("Polygon-polygon overlay join (round 4)",
        "both vector layers index themselves distributed (PolyCoverCells" +
          " projection + explode), candidates from ONE cover-cell" +
          " equi-join, each pair emitted once by the min-common-cell" +
          " filter (no post-join distinct shuffle), codegen segCross +" +
          " witness-vertex refine — never an all-pairs loop",
        graft.operators.SpatialJoin.polyJoin(
          spark, graft.sources.Fixtures.polys,
          graft.sources.Fixtures.benchPolys(48))),
      ("Inverted-index ranked search (round 4)",
        "the token IN (terms) filter sits under the keyed tf aggregation" +
          " — only the query terms' postings ever shuffle; per-term df" +
          " and the corpus count join broadcast; the final top-k is" +
          " TakeOrderedAndProject (per-partition heap of k, no global" +
          " sort, no partitionless window)",
        graft.Queries.queryMap("q_search_ranked")(spark, dir)),
      ("Density rasterization (round 4)",
        "vector -> raster heatmap tiles: the res-7 subcell groupBy is the" +
          " ONLY data-sized exchange (partial aggregation absorbs hot" +
          " cells map-side); the per-tile render aggregation downstream" +
          " is bounded by the PIXEL count (4^7 cells), not the point" +
          " count — tile rendering stays feasible at 10^12 points",
        graft.Queries.queryMap("q_density_raster")(spark, dir)),
      ("Focal statistics (round 4)",
        "3x3 convolution in SCATTER form: occupied pixels explode their" +
          " cell_ring and ONE keyed re-group gathers neighborhood sums —" +
          " no grid self-join, no window; fanout is 9x the occupied-pixel" +
          " count (grid-bounded), the only exchanges are the density" +
          " groupBy and the output-pixel re-group",
        graft.Queries.queryMap("q_focal_stats")(spark, dir)),
      ("IDW surface interpolation (round 4)",
        "gdal_grid analog in SCATTER form: occupied pixels explode their" +
          " 5x5 cell_ring carrying exact integer weights 3600/d2 (every" +
          " ring d2 divides 3600), self excluded -> true leave-one-out;" +
          " ONE keyed re-group on the output pixel gathers the weighted" +
          " numerator/denominator — no grid self-join, 25x fanout bounded" +
          " by the OCCUPIED grid, not the point count",
        graft.Queries.queryMap("q_idw_surface")(spark, dir)),
      ("Moran's I spatial autocorrelation (round 4)",
        "ESDA statistic as integer-exact sufficient pieces: occupied" +
          " pixels scatter their queen ring (9x grid-bounded fanout) and" +
          " ONE keyed equi-join back to the occupied set yields the" +
          " ordered-pair sums — never a point-sized theta join; both join" +
          " sides bounded by 4^res cells regardless of point count; the" +
          " same shape serves q_variogram at radius 2 with d2 binning",
        graft.Queries.queryMap("q_morans_i")(spark, dir)),
      ("Hotspot regions / grid DBSCAN (round 4)",
        "dense cells (cnt >= minPts) + queen adjacency -> distributed" +
          " hash-to-min connected components; the corpus is scanned ONCE" +
          " (the binning groupBy) — everything after is bounded by the" +
          " occupied grid (<= 4^res cells); edges are a 9x scatter + one" +
          " keyed semi-join, each CC round three keyed shuffles with" +
          " O(log diameter) rounds; the region table is checkpointed so" +
          " the shared dense cache releases before return",
        graft.Queries.queryMap("q_hotspot_regions")(spark, dir)),
      ("Mosaic pyramid (round 4)",
        "decode + 4x4 thumb ONCE in the scan projection (map-side); the" +
          " mosaic is 48 per-position byte sums + count — ONE 49-sum" +
          " whole-stage-codegen aggregate keyed on each image's res-4" +
          " ancestor of its leaf cell, no per-level rollup chain; raster" +
          " bytes never leave the scan stage",
        graft.operators.MosaicPyramid.summarize(
          graft.operators.MosaicPyramid.levelAt(
            Images.imagesWithBytes(spark, dir), leafRes = 7, outRes = 4))),
      ("Trajectory rasterization (round 4)",
        "segment formation is the ONLY data-sized exchange (the per-user" +
          " keyed window); rasterization is a map-side generator — the" +
          " codegen line_cells Bresenham kernel + explode, no join — and" +
          " the raster rollup partial-aggregates before its shuffle;" +
          " fanout is bounded by the segment's Chebyshev cell length",
        graft.Queries.queryMap("q_traj_raster")(spark, dir)),
      ("Bbox -> z-range scan (round 4)",
        "the bbox becomes a driver-held list of CONTIGUOUS Morton ranges" +
          " (the planner's split list) broadcast into a nested-loop range" +
          " probe over the map-side z projection — at rest this is K" +
          " contiguous reads of a z-sorted table, never a 2-D filter over" +
          " everything; the per-range rollup partial-aggregates",
        graft.Queries.queryMap("q_zrange_scan")(spark, dir)),
      ("Spatial isolation anti-join (round 4)",
        "\"nothing near me\" WITHOUT a theta join: bin, keep singleton" +
          " cells, scatter their <= 8-cell ring (the dense majority never" +
          " fans out), LEFT ANTI equi-join the hits, one keyed join back" +
          " for the payload — three keyed hash ops total",
        graft.Queries.queryMap("q_isolated")(spark, dir)),
      ("Quadtree compaction (round 4)",
        "H3-style compact: per level ONE groupBy(parent) counting to 4" +
          " and ONE anti-join keeps partial quads — log-bounded rounds," +
          " frontier shrinks 4x per merge level, no driver state; the" +
          " compact set is what a 100 TB planner broadcasts instead of" +
          " the leaf inventory",
        graft.Queries.queryMap("q_compact")(spark, dir)),
      ("Local spatial statistics: LISA / Getis-Ord (round 4)",
        "per-cell cluster maps from the SAME grid-bounded shape as the" +
          " global Moran statistic: one ring scatter + one keyed" +
          " equi-join + a 1-row global cross join; every hashed column is" +
          " an integer-scaled deviation factor (sign-exact, no" +
          " transcendental ever hashed)",
        graft.Queries.queryMap("q_lisa_quadrants")(spark, dir)),
      ("Histogram-pair Gini (round 4)",
        "the O(cells^2) mean-difference collapses onto the VALUE" +
          " histogram: the only non-keyed join in the plan is the" +
          " broadcast nested loop over the tiny distinct-value table" +
          " (dozens of rows at any scale) — the grid itself never joins",
        graft.Queries.queryMap("q_gini")(spark, dir)),
      ("Zonal median (round 4)",
        "the scale-safe percentile shape per REGION: value histogram" +
          " keyed by (region, value), cumulative walk in a window KEYED" +
          " by the region — thousands of independent partitions, no" +
          " global sort, no partitionless window anywhere",
        graft.Queries.queryMap("q_zonal_median")(spark, dir)),
      ("Manifest file pruning (round 4)",
        "the scan is PLANNED from the FILES manifest on the driver: only" +
          " data files whose recorded cell [min,max] overlaps the range" +
          " are handed to the reader at all (the InMemoryFileIndex below" +
          " holds just the kept files) — pruning before any task is" +
          " scheduled; the exact BETWEEN predicate applies on top, so the" +
          " layout can never change the answer",
        graft.Queries.queryMap("q_files_prune")(spark, dir)),
      ("Bucketed positional phrase search (round 5)",
        "the positional postings store is bucketed by token, so each" +
          " term's posting list comes from a BUCKET-PRUNED scan" +
          " (SelectedBucketsCount: 1 of 8 below) — at 100 TB one term's" +
          " shard, never a re-scan of the whole index; adjacency is then" +
          " an equi-join of the two posting lists on (doc_id, pos±1)," +
          " candidates are postings, never documents",
        graft.Queries.queryMap("q_phrase_bucketed")(spark, dir)),
      ("Collapse retrieval, include-overflow budget (round 5)",
        "both budget modes share ONE ranked+cumulative derivation: the" +
          " rank and the running image budget are windows KEYED by qid" +
          " (per-query partitions, no global sort), and the FaissRetriever" +
          " append-before-check quirk lands as a pure filter over the" +
          " cumulative column — same exchanges as stop-before, zero extra" +
          " shuffles for the reference's actual retrieve composition",
        graft.Queries.queryMap("q_collapse_budget_incl")(spark, dir)),
      ("Schema-migrated snapshot read (round 5)",
        "reading a v1 snapshot that predates hot_cnt: the missing column" +
          " materializes as a LITERAL projection over the pruned scan —" +
          " migration is read-time metadata, no rewrite of committed" +
          " files (at 100 TB: an O(1) catalog change, not an O(data)" +
          " backfill); present columns pass through untouched",
        graft.Queries.queryMap("q_read_migrated")(spark, dir)),
      ("All-pairs kNN self-join (round 5)",
        "the probe side explodes its ring-1 cells (ids + integer coords" +
          " only, never payload); candidates come from ONE equi-join on" +
          " the candidate's own cell and ranking is a query-keyed window" +
          " — no theta join, no corpus broadcast, AQE-splittable on hot" +
          " cells",
        graft.Queries.queryMap("q_knn_join")(spark, dir)),
      ("BM25 ranked search (round 5)",
        "query-term postings are filtered BEFORE their shuffle; per-term" +
          " df and the 1-row corpus stats join broadcast; every scoring" +
          " step is an integer div; top-k plans as TakeOrderedAndProject" +
          " (per-partition heap, no global sort)",
        graft.Queries.queryMap("q_bm25")(spark, dir)),
      ("Count-Min sketch build + probe (round 5)",
        "the d x w counter table is ONE keyed partial+final aggregation" +
          " over the 4x-exploded token stream (map-side combine compacts" +
          " the fanout); probes join the <= d*w-row sketch BROADCAST —" +
          " fixed-size mergeable state at any corpus scale",
        graft.Queries.queryMap("q_cms_heavy")(spark, dir)),
      ("Integer PageRank over the AkNN graph (round 5)",
        "each of the 3 unrolled rounds is ONE keyed join (edges x ranks" +
          " on src — both sides hash-partitioned on the same key) plus" +
          " ONE map-side-combinable aggregation on dst; no window, no" +
          " broadcast that grows with the graph, nothing collected to" +
          " the driver — the classic keyed-join PageRank shape that" +
          " scales to any edge count",
        graft.Queries.queryMap("q_pagerank")(spark, dir)),
      ("Bilinear raster upsample (round 5)",
        "scatter form: each OCCUPIED res-5 pixel explodes to its 16" +
          " (dX, dY, weight) output refs — fanout bounded by the grid" +
          " resolution, never the point count — then ONE keyed shuffle" +
          " on the output pixel; weights are exact integer sixteenths," +
          " so the emitted numerators hash cross-engine",
        graft.Queries.queryMap("q_raster_upsample")(spark, dir)),
      ("Ordered funnel conversion (round 5)",
        "each stage is a type-pruned scan (filter reaches the parquet" +
          " row groups) + a user-keyed min-agg; stage frames are <=" +
          " |users| rows and join keyed — the raw event table is never" +
          " self-joined and no window is planned, so 10^12 events mean" +
          " three prunable scans, not a sort",
        graft.Queries.queryMap("q_funnel")(spark, dir)),
      ("Geohash prefix rollup (round 5)",
        "string-keyed spatial export: the geohash encode is ONE codegen" +
          " projection inside the scan stage; the precision-6 groupBy is" +
          " the only data-sized exchange (map-side combine absorbs hot" +
          " cells); the prefix re-group is bounded by OCCUPIED precision-6" +
          " cells, not points — the density-raster two-level discipline",
        graft.Queries.queryMap("q_geohash_rollup")(spark, dir)),
      ("Map-matching nearest-vertex snap (round 5)",
        "the 48-vertex argmin is a literal least-fold of struct(d2, vid)" +
          " — zero joins, zero explode, all map-side inside one" +
          " WholeStageCodegen span; the ONLY exchange is the V-bounded" +
          " per-vertex rollup, so 10^12 events shuffle 48 rows per" +
          " partition after partial aggregation",
        graft.Queries.queryMap("q_map_match")(spark, dir)),
      ("Line-of-sight viewshed (round 5)",
        "observers are a broadcast-thresholded slice of the OCCUPIED" +
          " grid; targets come from a 48x ring fanout + keyed equi-join;" +
          " the DDA sight-line samples (<= 2 per pair) look their" +
          " elevation up by another keyed join — every stage after the" +
          " res-7 groupBy is bounded by hot-cells x 48, never the points",
        graft.Queries.queryMap("q_line_of_sight")(spark, dir)),
      ("D8 watershed routing (round 5)",
        "downstream pointers from one ring scatter + keyed argmin window;" +
          " pit resolution is pointer DOUBLING — the plan below is the" +
          " final join of the log-depth loop whose rounds are two keyed" +
          " shuffles each over |occupied| rows, each round" +
          " localCheckpointed so lineage stays flat",
        graft.Queries.queryMap("q_flow_watershed")(spark, dir)),
      ("LBP texture fingerprint (round 5)",
        "decode -> 36 codes is map-side in the scan stage (Generate over" +
          " the codegen'd kernel); ONE (image, code)-keyed aggregation" +
          " with map-side combine, then image-keyed windows over <= 36" +
          " rows per key — never partitionless; the dHash-family 10^12" +
          " contract",
        graft.Queries.queryMap("q_lbp_texture")(spark, dir)),
      ("Directed Hausdorff trajectory join (round 5)",
        "footprints dedup keyed; candidates from the 25x ring scatter +" +
          " ONE keyed equi-join (never |users|^2); per-cell min and" +
          " per-pair max/count aggregations all keyed by (ua, ub[," +
          " acell]) — work scales with co-located pairs x footprint",
        graft.Queries.queryMap("q_traj_hausdorff")(spark, dir)),
      ("Partition-evolved spanning read (round 5)",
        "two versions with DIFFERENT partition layouts under one root:" +
          " each version scans under its own layout (v2 carries the" +
          " pcell partition column from directories, v1 re-derives it" +
          " from data post-union) — the union is by name, and a pcell" +
          " filter partition-prunes v2 while only filtering v1",
        graft.Queries.queryMap("q_partition_evolve")(spark, dir)),
      ("Seam-carving DP (round 5)",
        "the 8-row dynamic program statically unrolled into ONE map-side" +
          " projection (array transforms over the decoded thumb) — the DP" +
          " adds ZERO exchanges; the only shuffle below is the input" +
          " key-dedup shared by every image query: 10^12 images" +
          " seam-carve at scan speed",
        graft.Queries.queryMap("q_seam_carve")(spark, dir)),
      ("SymSpell deletion-neighborhood dedup (round 5)",
        "candidates from an EQUI-join on the deletion variant (28x" +
          " map-side fanout of the caption projection, no decode) — the" +
          " LSH-banding contract with the variant as band key; exact" +
          " levenshtein refine and keyed dedup above it, never a theta" +
          " join",
        graft.Queries.queryMap("q_symspell_pairs")(spark, dir)),
      ("Banded DTW rhythm conformity (round 5)",
        "the 24-step banded DP as a generated NAMED-COLUMN fold (each dp" +
          " cell an attribute — inlining would grow the tree ~5x per row" +
          " and OOM the analyzer); one event-sized (cell, hour) groupBy," +
          " one keyed cell->parent join, DP entirely map-side",
        graft.Queries.queryMap("q_dtw_profile")(spark, dir)),
      ("Iceberg-v2 equality deletes, merge-on-read (round 5)",
        "the base snapshot scan minus two BROADCAST anti-joins (one per" +
          " committed delete file, applied in commit order) — map-side" +
          " hash probes, no shuffle of the base table, no rewrite of" +
          " data files",
        {
          val root = java.nio.file.Files
            .createTempDirectory("graft-plandump-eqd").toString
          val tiles = imgs
            .withColumn("cell", graft.geo.functions.cell_encode(
              col("lat"), col("lon"), 6))
            .groupBy("cell").agg(count(lit(1)).as("cnt"))
            .withColumn("res", lit(6))
          graft.operators.Snapshot.writeVersioned(tiles, root, "v1", 1L)
          val base = graft.operators.Snapshot.readAsOf(spark, root, "v1")
          graft.operators.Snapshot.writeEqualityDeletes(
            base.filter(col("cnt") <= 1).select("cell"), root, "v1", "d1")
          graft.operators.Snapshot.writeEqualityDeletes(
            base.filter(col("cell").bitwiseAND(lit(63L)) < 8)
              .select("cell"), root, "v1", "d2")
          graft.operators.Snapshot.readMergeOnRead(spark, root, "v1")
        }),
      ("Quadtree packing (round 5)",
        "bottom-up full-quad coalescing: three keyed parent groupBys" +
          " (each counting to 4, frontier shrinking 4x per level) + keyed" +
          " anti-joins assemble the disjoint maximal-quad cover — the" +
          " pyramid-rollup discipline applied to the index itself",
        graft.Queries.queryMap("q_quadtree_pack")(spark, dir)),
      ("Trajectory ↔ geofence boundary crossings (round 5)",
        "the ~90-edge fence layer burned into ONE codegen projection of" +
          " strict-orientation crossing counts (no join, no fanout beyond" +
          " the 15-element per-segment explode); one user-keyed lead" +
          " window builds segments, one (poly, user)-keyed rollup",
        graft.Queries.queryMap("q_traj_crossings")(spark, dir)),
      ("CUSUM change-point per cell (round 5)",
        "one keyed (cell, day) count with map-side combine, then" +
          " cell-keyed windows over each cell's own day series — the" +
          " integer cross-multiplied deviation needs no division, no" +
          " partitionless window anywhere",
        graft.Queries.queryMap("q_changepoint")(spark, dir)),
      ("Flock co-movement pairs (round 5)",
        "candidates from a KEYED space-time-bucket self-equi-join (never" +
          " |users|²), pair rollup one composite-key groupBy; per-bucket" +
          " occupancy is the fanout dial, hot buckets ride the suite's" +
          " salting/AQE skew path",
        graft.Queries.queryMap("q_flock_pairs")(spark, dir)),
      ("DBSCAN labeling over the bucketed distance join (round 5)",
        "the ε-join is the cell-bucket Chebyshev-ring equi-join (never a" +
          " theta join); degrees one keyed rollup; core/border resolved" +
          " by keyed semi/anti joins — everything O(ε-pairs)",
        graft.Queries.queryMap("q_dbscan_labels")(spark, dir)),
      ("Median/MAD outlier screen (round 5)",
        "three windows all partitioned by cell — one exchange total," +
          " re-sorts are partition-local; nested rank statistics without" +
          " any partitionless window",
        graft.Queries.queryMap("q_outlier_mad")(spark, dir)),
      ("ABC Pareto tiering via the histogram cumulation (round 5)",
        "cumulation over the DISTINCT-MASS histogram (domain-bounded" +
          " broadcast self-join), classes decided by integer" +
          " cross-comparisons, cells labeled map-side by a broadcast join" +
          " — no global rank window anywhere",
        graft.Queries.queryMap("q_abc_tiering")(spark, dir)),
      ("AkNN self-join: salted hot cells + map-side TopK (round 5)",
        "hot cells salt the candidate side and replicate probes (the" +
          " output-skew the input-size AQE heuristics cannot see);" +
          " per-query top-k is an ObjectHashAggregate typed aggregate" +
          " that reduces to k rows per query BEFORE the exchange —" +
          " 158s -> shared 58s at sf0.1, hash-identical output",
        graft.operators.Knn.selfJoinPlan(
          graft.sources.Images.images(spark, dir), 3, 8, 4096, 32)))

    val body = sections.map { case (title, note, df) =>
      s"## $title\n\n$note\n\n```\n${fmt(df).trim}\n```\n"
    }.mkString(
      "# PLANS — `explain formatted` audits of the flagship plans\n\n" +
        "Generated by `graft.tools.PlanDump` at sf0.001 (plan SHAPE is\n" +
        "scale-invariant; PlanSpec asserts the same invariants as tests).\n\n",
      "\n", "")
    Files.writeString(Paths.get("PLANS.md"), body)
    println(s"[plandump] wrote PLANS.md (${sections.size} sections)")
    spark.stop()
  }
}
