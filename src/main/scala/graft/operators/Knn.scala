package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.{QuadkeyTiling, TilingStrategy}

/** Exact kNN via ring expansion + window refine — the graft of the
  * reference's hierarchical retrieval (raptor/tree_retriever.py:168-273,
  * kmeans_retriever.py:52-154): coarse candidate gathering (≙ top clusters)
  * then brute-force refine + top-k (≙ argsort slice, raptor/utils.py:209-219).
  *
  * Metric: squared planar degree distance ([[GridCell.planarDist2]]) — same
  * closed form as the SQL oracle, so ranks match bit-for-bit.
  *
  * EXACTNESS: a point outside ring r of the query's cell is at planar
  * distance >= r * min(cellW, cellH). A query is settled once it has k
  * candidates and its k-th distance² < (r*minDim)²; otherwise the ring
  * doubles (driver loop, ≙ the retriever's layer-descent loop). Unsettled
  * stragglers after maxIter fall back to brute force (never happens at sane
  * density; the fallback keeps the operator total).
  *
  * Scale design: the query side is tiny and BROADCAST after ring explosion;
  * the image side is scanned (pruned to 5 columns), never shuffled — only
  * the candidate rows (|ring| cells' worth per query) shuffle into the
  * per-query window. Iterations touch disjoint leftover queries only.
  */
object Knn {

  val DefaultRes = 8

  /** images -> pruned leaf projection with cell at `res`. */
  private def leaves(images: DataFrame, res: Int,
                     strategy: TilingStrategy): DataFrame =
    images.select(col("image_id"), col("lat"), col("lon"), col("w"), col("h"))
      .withColumn("cell", strategy.encodeCol(col("lat"), col("lon"), res))

  /** Exact kNN join: queries (qid, qlat, qlon) × images -> top-k rows
    * (qid, image_id, dist_sq, rnk, bytes). Deterministic tiebreak on
    * (dist_sq, image_id).
    *
    * The settle loop is fully join-based: the settled-query set stays a
    * DataFrame end to end (left_semi to harvest, left_anti to shrink the
    * remaining side) — no `collect()`ed id set, no literal `isin`, so the
    * plan size is O(1) in |queries| and a 10^6-row query table is fine.
    * Each round's ranked candidates are persisted only while harvested;
    * settled rows are `localCheckpoint`ed (materialized + lineage cut) so
    * the per-round cache can be released immediately. On a real cluster
    * localCheckpoint blocks live on executors — for resumable multi-hour
    * jobs swap for a reliable `checkpoint` dir; the shape is identical. */
  def knnExact(images: DataFrame, queries: DataFrame, k: Int,
               res: Int = DefaultRes, maxIter: Int = 6,
               strategy: TilingStrategy = QuadkeyTiling): DataFrame = {
    // No cache: with r0=4 the loop almost always finishes in one round, so
    // the leaf projection is scanned once either way; caching it cost more
    // (600k-row cache write) than the rare straggler recompute it saved.
    val lv = leaves(images, res, strategy)
    locally {
      val minDim = strategy.minUnitDeg(res)
      val q0 = queries.select(col("qid"), col("qlat"), col("qlon"))
        .withColumn("qcell", strategy.encodeCol(col("qlat"), col("qlon"), res))

      var remaining = q0
      var settled: DataFrame = null
      // r=4 settles typical densities in ONE round: candidates grow with
      // ring area (cheap — still a few hundred rows/query) while each
      // extra ROUND costs a full job cycle (rank + settle-check + filter),
      // which dominates at any scale. Stragglers still double the ring.
      var r = 4
      var iter = 0
      var nRemaining = remaining.count()
      while (iter < maxIter && nRemaining > 0) {
        val ranked = rankCandidates(lv, remaining, r, k, strategy)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val bound = r * minDim
        val okQids = ranked.groupBy(col("qid"))
          .agg(count(lit(1)).as("n"), max(col("dist_sq")).as("dk"))
          .filter(col("n") === k && col("dk") < bound * bound)
          .select(col("qid"))
        val nDone = okQids.count()
        if (nDone > 0) {
          val done = ranked.join(okQids, Seq("qid"), "left_semi")
            .localCheckpoint(true)
          settled = if (settled == null) done else settled.unionByName(done)
          remaining =
            if (nDone == nRemaining) remaining.limit(0)
            else remaining.join(okQids, Seq("qid"), "left_anti")
              .localCheckpoint(true)
        }
        ranked.unpersist()
        nRemaining -= nDone
        r *= 2
        iter += 1
      }
      if (nRemaining == 0) settled
      else {
        // brute-force stragglers (guaranteed exact, trivially small q side)
        val brute = bruteRank(lv, remaining, k)
        if (settled == null) brute else settled.unionByName(brute)
      }
    }
  }

  private def distSq = (col("lat") - col("qlat")) * (col("lat") - col("qlat")) +
    (col("lon") - col("qlon")) * (col("lon") - col("qlon"))

  private def topK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("dist_sq"), col("image_id"))
    cand.withColumn("dist_sq", distSq)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("image_id"), col("dist_sq"), col("rnk"),
        (col("w") * col("h") * 3).cast("long").as("bytes"))
  }

  /** One settle round: the query rings explode and broadcast, so the leaf
    * projection shuffles only into the per-query window (PlanSpec). */
  private def rankCandidates(lv: DataFrame, qs: DataFrame, r: Int, k: Int,
                             strategy: TilingStrategy): DataFrame = {
    val cand = qs.withColumn("cell",
      explode(strategy.ringCol(col("qcell"), lit(r))))
    topK(lv.join(broadcast(cand), Seq("cell")), k)
  }

  private def bruteRank(lv: DataFrame, qs: DataFrame, k: Int): DataFrame =
    topK(lv.crossJoin(broadcast(qs.select(col("qid"), col("qlat"), col("qlon")))), k)

  /** Brute-force oracle variant (SURVEY.md J2) over all images. */
  def knnBrute(images: DataFrame, queries: DataFrame, k: Int): DataFrame =
    bruteRank(images.select(col("image_id"), col("lat"), col("lon"),
      col("w"), col("h")), queries, k)

  /** Radius-bounded brute force: queries carry a per-query bound `bnd`
    * (>= the true k-th distance², e.g. the ring-kNN k-th distance — any
    * real candidate's distance is a valid upper bound). The scan stays
    * map-only codegen; only ~k rows per query survive the filter, so the
    * ranking window sorts thousands of rows instead of |images| x |queries|
    * (the 29M-row window sort this replaces dominated q_knn_overlap).
    * Soundness: the true top-k all satisfy dist² <= true-kth² <= bnd. */
  def knnBruteBounded(images: DataFrame, queriesWithBound: DataFrame,
                      k: Int): DataFrame = {
    val cand = images
      .select(col("image_id"), col("lat"), col("lon"), col("w"), col("h"))
      .crossJoin(broadcast(queriesWithBound))
      .withColumn("dist_sq", distSq)
      .filter(col("dist_sq") <= col("bnd"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist_sq"), col("image_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("image_id"), col("dist_sq"), col("rnk"),
        (col("w") * col("h") * 3).cast("long").as("bytes"))
  }

  /** All-pairs kNN SELF-join (AkNN): every image's k nearest OTHER images
    * among the candidates sharing its ring-1 cell neighborhood at `res` —
    * the whole-corpus companion of [[knnExact]]'s query-set form (the
    * similarity-graph builder: near-dup mining, label propagation and CC
    * dedup all consume exactly this edge list). Semantics are explicitly
    * CANDIDATE-BOUNDED: a sparse neighborhood yields < k rows (the
    * operator never invents far neighbors), which is the contract a
    * bounded-radius similarity graph wants.
    *
    * Distances are INTEGER micro-degree planar squares (quantize once,
    * then pure BIGINT — the q_bic_k integer-lattice device), so ranks and
    * the hashed d2 are cross-engine exact. A pair is generated once per
    * shared ring cell = exactly once (the candidate's own cell is unique).
    *
    * Plan (round-5 rewrite — the original ONE-window form measured 158 s
    * at sf0.1: the planted hot cell makes the join output O(occ²) and the
    * window shuffles EVERY candidate row into its query's partition, with
    * the hot cell's pairs produced by a single join task AQE cannot split
    * because the skew is in the OUTPUT, not the input partition sizes):
    *  - both sides are the same binned projection (localCheckpoint'ed —
    *    probes, candidates and the hot histogram share one derivation);
    *  - HOT cells (occupancy > hotThreshold, one grid-bounded histogram)
    *    are SALTED: candidates split into `salts` buckets by nid hash,
    *    probes replicated across the buckets — identical pair set, the
    *    hot cell's pair generation spread over `salts` parallel tasks
    *    (the q_skew_salted device applied to a self-join);
    *  - the per-query top-k is [[graft.agg.TopK]], an ObjectHashAggregate
    *    that reduces each task's candidates to ≤ k rows per query BEFORE
    *    the shuffle — the exchange carries |queries| × partials × k rows
    *    however many pairs the join emits. At sf0.1 this measured
    *    158 s → 8.6 s in a local round-5 run (no artifact kept),
    *    while the `graft.Bench` suite recorded 131.9 s for q_knn_join
    *    at local[32] (`BENCH_r05.json`), so the local figure does not
    *    carry over to that host.
    * Output is row-for-row the window form (same (d2, nid) tie-break).
    *
    * The top-k needs `objectHashAggregate.sortBased.fallbackThreshold`
    * raised (see below); it is set only while the result is computed and
    * restored after, so the returned frame is eagerly `localCheckpoint`ed
    * and the caller's session conf is left as it was. */
  def knnSelfJoin(images: DataFrame, k: Int,
                  res: Int = DefaultRes,
                  hotThreshold: Long = 4096, salts: Int = 32): DataFrame = {
    // ObjectHashAggregate falls back to SORT-BASED aggregation after 128
    // distinct groups per partition (spark.sql.objectHashAggregate.
    // sortBased.fallbackThreshold) — with |queries| groups that would sort
    // every candidate pair and forfeit the map-side reduction this plan
    // exists for. A query-keyed top-k buffer is k tuples, so millions of
    // in-memory groups are fine.
    val conf = images.sparkSession.conf
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prior = conf.getAll.get(key) // None when unset (getOption reads the default)
    conf.set(key, (1 << 24).toString)
    try selfJoinPlan(images, k, res, hotThreshold, salts).localCheckpoint(true)
    finally prior match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  /** The lazy plan behind [[knnSelfJoin]] (its binned input and hot-cell
    * histogram are checkpointed, the join and top-k are not). Run it only
    * under the raised fallback threshold; outside [[knnSelfJoin]] it is
    * signed in src/test/resources/plan_signatures.txt. */
  private[graft] def selfJoinPlan(images: DataFrame, k: Int, res: Int,
                                  hotThreshold: Long,
                                  salts: Int): DataFrame = {
    import graft.geo.{functions => G}
    val b = images.select(col("image_id"),
      floor(col("lat") * lit(1000000)).cast("long").as("mlat"),
      floor(col("lon") * lit(1000000)).cast("long").as("mlon"),
      G.cell_encode(col("lat"), col("lon"), res).as("cell"))
      .localCheckpoint(true)
    val hot = b.groupBy(col("cell")).agg(count(lit(1)).as("hc"))
      .filter(col("hc") > hotThreshold).select(col("cell"))
      .localCheckpoint(true)
    val probes = b.select(col("image_id").as("qid"),
      col("mlat").as("qlat"), col("mlon").as("qlon"),
      explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
    val cands = b.select(col("cell"), col("image_id").as("nid"),
      col("mlat").as("nlat"), col("mlon").as("nlon"))
    val pCold = probes.join(broadcast(hot), Seq("cell"), "left_anti")
    val cCold = cands.join(broadcast(hot), Seq("cell"), "left_anti")
    val pHot = probes.join(broadcast(hot), Seq("cell"), "left_semi")
      .withColumn("salt",
        explode(lit((0 until salts).map(_.toLong).toArray)))
    val cHot = cands.join(broadcast(hot), Seq("cell"), "left_semi")
      .withColumn("salt", pmod(hash(col("nid")), lit(salts)).cast("long"))
    val pairs = pCold.join(cCold, Seq("cell"))
      .unionByName(pHot.join(cHot, Seq("cell", "salt")).drop("salt"))
    val d2 = (col("qlat") - col("nlat")) * (col("qlat") - col("nlat")) +
      (col("qlon") - col("nlon")) * (col("qlon") - col("nlon"))
    val topk = graft.agg.TopK.minPairs(k)
    pairs.where(col("nid") =!= col("qid"))
      .withColumn("d2", d2)
      .groupBy(col("qid")).agg(topk(col("d2"), col("nid")).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "m")))
      .select(col("qid"), (col("p") + 1).cast("long").as("rnk"),
        col("m").getField("_2").as("nid"), col("m").getField("_1").as("d2"))
  }

  /** Budgeted top-k, reference semantics (SURVEY.md W3): rank ascending by
    * distance, keep rows while the RUNNING byte total stays <= budget and
    * STOP at the first overflow (raptor/tree_retriever.py:197-209). */
  def budgetStopBefore(ranked: DataFrame, budget: Long): DataFrame =
    withCum(ranked).filter(col("cum_bytes") <= budget).drop("cum_bytes")

  /** FaissRetriever variant: the overflowing row is INCLUDED (append before
    * check — raptor/FaissRetriever.py:195-199; pinned quirk). */
  def budgetIncludeOverflow(ranked: DataFrame, budget: Long): DataFrame =
    withCum(ranked).filter(col("cum_bytes") - col("bytes") < budget).drop("cum_bytes")

  private def withCum(ranked: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.withColumn("cum_bytes", sum(col("bytes")).over(w))
  }
}
