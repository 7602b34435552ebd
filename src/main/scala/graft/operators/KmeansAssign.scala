package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.agg.E18

/** Seeded fixed-iteration Lloyd k-means over the geo-anchors — the
  * LEARNED-assignment tiling of the reference (the third strategy of
  * SURVEY.md §2.10's pluggable-index story, next to quadkey and S2):
  * raptor/kmeans_tree_builder.py:92-105 runs faiss spherical k-means
  * (seed=42, fixed niter) then a 1-NN assignment join; here the same
  * shape runs as Spark jobs with EXACT cross-engine determinism.
  *
  * INTEGER LATTICE END-TO-END (round-5 hardening): rounds 3 and 4 both
  * failed the driver's DuckDB gate on q_bic_k with a hash mismatch that
  * did NOT reproduce on the local DuckDB build — the SSE term
  * `floor(min_sq_dist · 1e6)` floored a CHAIN of double ops (subtract,
  * square, add against divided centroid means), and a different libm /
  * FMA / vectorized fold order can flip such a floor boundary by ±1.
  * The fix is structural, not a re-tune: NO floating-point operation
  * exists between input and hashed output on either engine.
  *
  *  - ingest: each anchor is quantized ONCE to integer micro-degrees,
  *    `q = floor(coord · 1e6)` as BIGINT — a single IEEE multiply+floor
  *    of the same parquet double, bit-identical everywhere (the same
  *    device every green grid-cell expression already relies on);
  *  - seeding: the first k anchors in md5(image_id) order (the engine's
  *    standard seeded-sample device, O5 — no rand());
  *  - update: centroids ARE lattice points — members contribute their
  *    exact (qlat, qlon); the new centroid is `floorDiv(Σq, n)`
  *    (Java `Math.floorDiv` on the driver; the oracle mirrors it with
  *    the pmod identity `(s - ((s % n) + n) % n) // n`, exact because
  *    the corrected numerator divides evenly);
  *  - distance: squared L2 on the lattice, pure BIGINT —
  *    |q| ≤ 3.6e8 so a per-row distance is ≤ 2.6e17, comfortably in
  *    Long (overflow would RAISE under Spark 4 ANSI, never wrap);
  *  - assignment: argmin of the integer distances over the k centroid
  *    literals, ties to the smaller cid (array_position of the min —
  *    first occurrence).
  *
  * Scale shape: the centroid set is k rows — it lives on the driver and
  * is embedded as literals (exactly how spark.ml KMeans iterates);
  * assignment is map-only codegen over the scan; the update is one keyed
  * groupBy(cid) per iteration. At 10^12 rows each iteration is one
  * map-reduce pass — the textbook distributed Lloyd. Empty clusters keep
  * their previous centroid (deterministic; mirrored in the oracle). */
object KmeansAssign {

  val DefaultK = 8
  val DefaultIters = 3

  /** A centroid ON the micro-degree lattice: clat/clon are integer
    * micro-degrees (floorDiv of the member sum), never a divided double. */
  case class Centroid(cid: Int, clat: Long, clon: Long)

  /** Squared lattice distance to each centroid, in ascending-cid order —
    * pure BIGINT arithmetic (see the object scaladoc for the bound). */
  private def distCols(cents: Seq[Centroid]): Seq[Column] =
    cents.sortBy(_.cid).map { c =>
      (col("qlat") - lit(c.clat)) * (col("qlat") - lit(c.clat)) +
        (col("qlon") - lit(c.clon)) * (col("qlon") - lit(c.clon))
    }

  /** Argmin-of-k distance expression: 1-based cid of the nearest centroid,
    * ties to the smallest cid (array_position returns the FIRST index of
    * the minimum). */
  private def nearestCid(cents: Seq[Centroid]): Column = {
    val dists = distCols(cents)
    array_position(array(dists: _*), array_min(array(dists: _*))).cast("int")
  }

  /** The one quantization step: micro-degree lattice coordinates. The sums
    * of these accumulate as LONG in the per-iteration update, which bounds
    * a single cluster at ~5.1e10 members (|q| ≤ 3.6e8;
    * Long.MaxValue ≈ 9.2e18) — past that the update aggregate RAISES under
    * Spark 4's default ANSI mode rather than wrapping, so the bound fails
    * loud, never silently corrupts a centroid. The SSE path carries
    * DECIMAL(38,0) instead ([[BicScale]]) because its terms are ~1e9×
    * larger and every row contributes to ONE total; here the hot path is
    * the per-iteration update — 3·Σk ≈ 63 conditional sums in one
    * whole-stage-codegen aggregate — and switching those to DECIMAL(38,0)
    * was measured (round 3) to blow q_bic_k up from ~5 s to 99 s in-suite
    * (big-decimal aggregation buffers + generated-code bloat), a bad trade
    * for headroom beyond a 51-billion-row single cluster. A corpus that
    * hot should raise the candidate k or pre-split, not widen the
    * accumulator. */
  private def points(images: DataFrame): DataFrame =
    images.select(col("image_id"),
      floor(col("lat") * 1000000).cast("long").as("qlat"),
      floor(col("lon") * 1000000).cast("long").as("qlon"))

  /** Seeded initial centroids: the first k anchors in md5(image_id)
    * order, cid = 1..k in that order. Seeds are lattice points already —
    * the anchor's own quantized coordinates. */
  def seedCentroids(images: DataFrame, k: Int): Seq[Centroid] =
    seedPts(points(images), k)

  /** Seed over an already-quantized (image_id, qlat, qlon) frame. */
  private def seedPts(pts: DataFrame, k: Int): Seq[Centroid] =
    pts.select(col("image_id"), col("qlat"), col("qlon"))
      .orderBy(md5(col("image_id")), col("image_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => Centroid(i + 1, r.getLong(1), r.getLong(2)) }

  /** Lloyd loop over a PREPARED (id, qlat, qlon) frame — callers persist it
    * (seed + every iteration scans it; unpersisted, a derived input would
    * re-run its projection once per job). */
  private def fitPts(pts: DataFrame, k: Int, iters: Int): Seq[Centroid] = {
    var cents = seedPts(pts, k)
    var it = 0
    while (it < iters) {
      val upd = pts.withColumn("cid", nearestCid(cents))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
          sum(col("qlat")).as("slat"),
          sum(col("qlon")).as("slon"))
        .collect()
        .map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      cents = cents.map { c =>
        upd.get(c.cid) match {
          case Some((n, slat, slon)) =>
            Centroid(c.cid, Math.floorDiv(slat, n), Math.floorDiv(slon, n))
          case None => c // empty cluster keeps its centroid
        }
      }
      it += 1
    }
    cents
  }

  /** Run `iters` Lloyd iterations; returns the final centroids. */
  def fit(images: DataFrame, k: Int = DefaultK,
          iters: Int = DefaultIters): Seq[Centroid] = {
    val pts = points(images)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitPts(pts, k, iters)
    finally pts.unpersist(blocking = false) // all jobs collect-terminated
  }

  // ------------------------------------------------------ BIC model selection

  /** Candidate cluster counts for [[bicSweep]] — mirrors the reference's
    * `np.arange(1, max_clusters)` sweep shape (cluster_utils.py:50-61) with
    * a fixed small grid: at 10^12 rows each candidate costs `iters + 1` full
    * passes, so the candidate set is a configuration, not data-derived. */
  val BicKs: Seq[Int] = 1 to 6

  /** Lattice-to-degrees² scale: a squared micro-degree distance is
    * `1e12 ×` the squared degree distance, so the BIC's per-point variance
    * term divides the exact integer SSE by 1e12. The SSE SUM is carried as
    * DECIMAL(38,0) (Spark's exact 128-bit decimal aggregation), not Long:
    * a point can contribute up to (2·3.6e8)² ≈ 5.2e17, so a Long total
    * would overflow near 17 rows of worst-case spread — decimal keeps the
    * sum exact to ~2e20 worst-case rows, past the 10^12-row design point.
    * DuckDB mirrors this for free (BIGINT sums accumulate in HUGEINT).
    * The output carries it as two BIGINT halves ([[graft.agg.E18]]). */
  val BicScale: Double = 1.0e12

  /** A6 — BIC model selection (≙ cluster_utils.py:50-61
    * `get_optimal_clusters`: fit per k, score with BIC, argmin). The
    * reference fits a GaussianMixture per k; re-expressed Spark-first and
    * DETERMINISTIC: per candidate k, run the same seeded exact-Lloyd fit as
    * [[fit]], take SSE = Σ (integer lattice min-sq-dist) as an exact
    * integer, and score with the X-means-style spherical BIC
    * `n·ln(sse/1e12/n + ε) + k·d·ln(n)` (d = 2 planar dims, ε = 1e-12
    * guards sse = 0). `best = 1` marks the argmin-BIC row, ties to the
    * smaller k.
    *
    * Scale shape: the anchor projection is persisted ONCE across the whole
    * sweep; each candidate then costs `iters` assignment+update passes plus
    * one map-only SSE pass, all keyed or scan-shaped — no driver data beyond
    * the k-row centroid sets and the per-k (n, sse) scalars. The output is
    * |ks| rows. Every step between input and hashed output is integer
    * arithmetic, so a SQL oracle replays the sweep digit-exactly on any
    * build. */
  private[graft] case class Scored(k: Int, cents: Seq[Centroid], sseQ: BigInt,
                                   bic: Double)

  /** A finished sweep: the anchor count and every candidate's fit. */
  private[graft] type Sweep = (Long, Seq[Scored])

  /** Runs the sweep: the anchor projection is persisted for its jobs and
    * released on return. Nothing is memoized here; a caller that reuses
    * one sweep (q_bic_k and q_kmeans_auto) keeps it through
    * [[graft.SharedFrames]] and hands it to the `sweep` overloads of
    * [[bicSweep]] and [[assignAuto]]. Also the spec's access to the raw
    * per-candidate scores (including the BIC double, which [[bicSweep]]
    * deliberately keeps OUT of its output). */
  private[graft] def sweepScored(images: DataFrame, ks: Seq[Int] = BicKs,
                                 iters: Int = DefaultIters): Sweep = {
    val pts = points(images)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = pts.count()
      (n, sweepScores(pts, ks, iters, n))
    } finally pts.unpersist(blocking = false)
  }

  /** The sweep core over a PERSISTED pts frame, BATCHED across candidates:
    * all k's iterate in lockstep, so iteration t is ONE scan computing the
    * conditional (count, Σqlat, Σqlon) triple for every (candidate k, cid)
    * pair — Σk·3 ≈ 63 simple conditional Long sums for the default grid,
    * comfortably inside one whole-stage-codegen aggregate — and the final
    * SSEs are one more scan with |ks| decimal sums. Job count is
    * seed + iters + 1 instead of |ks|·(iters + 2) (7.8 s → ~2 s in the
    * suite at sf0.1). The conditional sums aggregate exactly the same Long
    * terms as the per-k groupBy (`when` is null on non-members, so a
    * null total ≙ an absent group = empty cluster keeps its centroid), and
    * the md5-order seeding is prefix-stable, so one max-k seed job slices
    * to every candidate's seed — per-candidate results are bit-identical
    * to independent [[fitPts]] runs (KmeansSpec pins this). */
  private def sweepScores(pts: DataFrame, ks: Seq[Int], iters: Int,
                          n: Long): Seq[Scored] = {
    val nD = n.toDouble
    val seedMax = seedPts(pts, ks.max)
    var cents: Map[Int, Seq[Centroid]] =
      ks.map(k => k -> seedMax.take(k)).toMap
    var it = 0
    while (it < iters) {
      val aggs = ks.flatMap { k =>
        val cid = nearestCid(cents(k))
        (1 to cents(k).size).flatMap { c =>
          val m = cid === lit(c)
          Seq(sum(when(m, lit(1L))).as(s"n_${k}_$c"),
            sum(when(m, col("qlat"))).as(s"slat_${k}_$c"),
            sum(when(m, col("qlon"))).as(s"slon_${k}_$c"))
        }
      }
      val row = pts.select(aggs: _*).head()
      def grab(name: String): Option[Long] = {
        val i = row.fieldIndex(name)
        if (row.isNullAt(i)) None else Some(row.getLong(i))
      }
      cents = cents.map { case (k, cs) =>
        k -> cs.map { c =>
          grab(s"n_${k}_${c.cid}") match {
            case Some(cn) if cn > 0 =>
              Centroid(c.cid,
                Math.floorDiv(grab(s"slat_${k}_${c.cid}").get, cn),
                Math.floorDiv(grab(s"slon_${k}_${c.cid}").get, cn))
            case _ => c // empty cluster keeps its centroid
          }
        }
      }
      it += 1
    }
    val dec0 = lit(0).cast("decimal(38,0)")
    val sseAggs = ks.map { k =>
      val mind = array_min(array(distCols(cents(k)): _*))
      coalesce(sum(mind.cast("decimal(38,0)")), dec0).as(s"sse_$k")
    }
    val sseRow = pts.select(sseAggs: _*).head()
    ks.map { k =>
      val sseQ = BigInt(
        sseRow.getDecimal(sseRow.fieldIndex(s"sse_$k")).toBigInteger)
      // BigInt -> Double is correctly rounded, matching DuckDB's
      // DECIMAL -> DOUBLE cast in the oracle's bic expression; candidate
      // BICs are separated by ~10%, so ulp-level rounding in this one
      // INTERNAL double cannot flip the argmin.
      val bic = nD * math.log(sseQ.toDouble / BicScale / nD + 1.0e-12) +
        k * 2.0 * math.log(nD)
      Scored(k, cents(k), sseQ, bic)
    }
  }

  def bicSweep(images: DataFrame, ks: Seq[Int] = BicKs,
               iters: Int = DefaultIters): DataFrame =
    bicSweep(images, sweepScored(images, ks, iters))

  /** [[bicSweep]]'s table from a sweep already run. */
  private[graft] def bicSweep(images: DataFrame, sweep: Sweep): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (n, scored) = sweep
    val bestK = scored.minBy(s => (s.bic, s.k)).k
    // sse_q is exact at any scale (see BicScale) and emitted as its two
    // BIGINT halves (graft.agg.E18): a DECIMAL renders engine-dependently.
    // The raw BIC double stays INTERNAL (it drives `best` only): it is the
    // one sweep quantity that passes through a transcendental (`ln`), and
    // JVM Math.log vs DuckDB ln can differ in the last ulp — a landmine for
    // any bit-exact cross-engine comparison of the rendered value. Every
    // emitted column is integer-exact; the argmin itself is safe because
    // candidate scores are separated by far more than an ulp.
    val schema = StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("sse_q_hi", LongType, nullable = false),
      StructField("sse_q_lo", LongType, nullable = false),
      StructField("best", IntegerType, nullable = false)))
    val rows = scored.map { s =>
      val (hi, lo) = E18.split(s.sseQ)
      Row(s.k, n, hi, lo, if (s.k == bestK) 1 else 0)
    }
    images.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** The reference's full model-selection flow (≙ cluster_utils.py:64-70
    * `GMM_cluster`: `get_optimal_clusters` then fit with the chosen k and
    * label every row): sweep candidate k by BIC, fit is already done per
    * candidate, label the table under the argmin-BIC model. Output carries
    * the chosen k so downstream operators (and the oracle) see WHICH model
    * won. Same scale shape as [[bicSweep]] plus one final map-only
    * assignment scan. */
  def assignAuto(images: DataFrame, ks: Seq[Int] = BicKs,
                 iters: Int = DefaultIters): DataFrame =
    assignAuto(images, sweepScored(images, ks, iters))

  /** [[assignAuto]]'s labels from a sweep already run. */
  private[graft] def assignAuto(images: DataFrame, sweep: Sweep): DataFrame = {
    val best = sweep._2.minBy(s => (s.bic, s.k))
    points(images).withColumn("cid", nearestCid(best.cents))
      .select(col("image_id"), col("cid"), lit(best.k).as("k"))
  }

  // ------------------------------------------------------ soft membership

  /** Default soft-membership ratio (squared-distance, an exact integer
    * multiplier on the lattice): a point joins every cluster within 2× the
    * radius of its nearest centroid (4× in squared distance). The
    * reference's GMM labels are `prob > 0.1` (cluster_utils.py:64-70,
    * 169-175) — probabilistic and seed-dependent; re-expressed as a
    * deterministic distance-ratio band so the SAME multi-membership shape
    * (a node can join SEVERAL clusters, making the tree a DAG) falls out
    * of the seeded Lloyd fit and replays exactly in ANSI SQL. */
  val SoftRho: Long = 4L
  private val SoftEps: Double = 1.0e-12

  /** Soft multi-membership assignment (≙ the reference's `prob > 0.1`
    * GMM labeling, cluster_utils.py:64-70 — the one clustering semantic
    * with no hard-argmin analog): emits an `(image_id, cid, w)` edge for
    * EVERY centroid whose squared lattice distance is within `rho ×` the
    * point's minimum — an exact BIGINT comparison (`d ≤ dmin·rho`;
    * dmin·4 ≤ 1.04e18, still in Long). The weight
    * `w = (dmin + ε) / (d + ε) ∈ (0, 1]` is exactly 1 for the nearest
    * centroid, decaying with the distance ratio; it is the ONE double in
    * the output, and it is built from two int64→double casts (correctly
    * rounded by IEEE, identical on every engine), one add, one divide —
    * single primitive ops with no libm, so it hash-matches cross-engine
    * (q_soft_assign pins it).
    *
    * Scale shape: identical to [[assign]] — the k centroids are driver
    * literals, the membership test is a map-only codegen filter over one
    * scan, no shuffle; output is |edges| ≤ k·n rows. Downstream descents
    * must DEDUP children reached through several parents
    * (tree_retriever.py:264-268) — [[Retrieval.descendSoft]] does. */
  def assignSoft(images: DataFrame, k: Int = DefaultK,
                 iters: Int = DefaultIters, rho: Long = SoftRho): DataFrame = {
    val cents = fit(images, k, iters)
    softMembers(images.select(col("image_id"), col("lat"), col("lon")),
      cents, rho)
  }

  /** (image_id, cid, w) membership edges of `pts` (image_id, lat, lon)
    * under centroid literals — the edge-table builder behind
    * [[assignSoft]], reusable against any fitted or hand-built centroid
    * set (RetrievalSpec builds its DAG fixture through it). */
  private[graft] def softMembers(pts: DataFrame, cents: Seq[Centroid],
                                 rho: Long = SoftRho): DataFrame = {
    val sorted = cents.sortBy(_.cid)
    val qpts = points(pts)
    val dists = distCols(sorted)
    // (cid, d) pairs + the running min; the d expressions appear in both
    // the pair array and the min — 3 integer ops per centroid per row,
    // cheap enough that letting codegen evaluate them twice beats
    // materializing an intermediate array column
    val pairs = array(sorted.zip(dists).map { case (c, d) =>
      struct(lit(c.cid).as("cid"), d.as("d"))
    }: _*)
    qpts
      .withColumn("dmin", array_min(array(dists: _*)))
      .withColumn("m", explode(
        filter(pairs, s => s.getField("d") <= col("dmin") * lit(rho))))
      .select(col("image_id"), col("m").getField("cid").as("cid"),
        ((col("dmin").cast("double") + lit(SoftEps)) /
          (col("m").getField("d").cast("double") + lit(SoftEps))).as("w"))
  }

  /** Final 1-NN assignment join (J4): every image row labeled with the
    * cid of its nearest learned centroid. [[fit]] caches the anchor
    * projection for its own seed + iteration jobs and RELEASES it; the
    * returned assignment reads a fresh (uncached) projection — one extra
    * derive scan, but no cache outlives the call (an unreleasable persist
    * here would pile up one full-projection cache per invocation). */
  def assign(images: DataFrame, k: Int = DefaultK,
             iters: Int = DefaultIters): DataFrame = {
    val cents = fit(images, k, iters)
    points(images).withColumn("cid", nearestCid(cents))
      .select(col("image_id"), col("cid"))
  }

  /** Per-cluster SIMPLIFIED-SILHOUETTE factors on the integer lattice —
    * the model-quality diagnostic that complements [[bicSweep]]'s model
    * SELECTION: for each point, a² = squared lattice distance to its own
    * (nearest) centroid and b² = the smallest squared distance to any
    * OTHER centroid (= the second-smallest entry of the sorted distance
    * array — exact under ties, where "own" is the first argmin). Emits
    * per cluster the exact integer sums Σa², Σb² (summed in DECIMAL(38,0)
    * — same overflow reasoning as [[BicScale]] — and emitted as the BIGINT
    * halves of [[graft.agg.E18]]) plus the member count and a
    * cohesion label (Σb² > Σa² ⇔ mean simplified silhouette > 0 on the
    * squared scale). No division, no sqrt, no transcendental anywhere in
    * the hashed output — a consumer wanting the classical [-1,1] score
    * divides driver-side.
    *
    * Scale shape: one broadcast of k centroids into the scan projection
    * (the [[assign]] pattern), a codegen'd sort of a k-length array per
    * row, one keyed k-row aggregation. Map-only until the final rollup. */
  def silhouette(images: DataFrame, k: Int = DefaultK,
                 iters: Int = DefaultIters): DataFrame = {
    val cents = fit(images, k, iters)
    val sorted = array_sort(array(distCols(cents): _*))
    points(images)
      .withColumn("cid", nearestCid(cents))
      .withColumn("a2", element_at(sorted, 1))
      .withColumn("b2", element_at(sorted, 2))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        sum(col("a2").cast("decimal(38,0)")).as("sa2"),
        sum(col("b2").cast("decimal(38,0)")).as("sb2"))
      .select(Seq(col("cid"), col("n")) ++ E18.halves(col("sa2"), "sa2") ++
        E18.halves(col("sb2"), "sb2") :+
        when(col("sb2") > col("sa2"), lit("cohesive"))
          .otherwise(lit("overlapping")).as("cohesion"): _*)
  }
}
