package graft.similarity

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps.{Dialect, DuckD, SparkD}
import graft.similarity.{functions => V}

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * list<float>, label) — the vector analog of the spatial kNN (SURVEY.md
  * J2-J4) and the direct graft of the reference's dense-vector retrieval
  * (raptor/tree_retriever.py:185-195 brute-force distances;
  * FaissRetriever.py:125-145 flat-IP index; kmeans_retriever.py:76-124
  * cluster-prefiltered search).
  *
  * Two paths, mirroring the reference's brute-vs-prefiltered pair:
  *  - [[cosineTopK]]: exact brute-force cosine top-k (the oracle /
  *    small-query-set path; at scale the query side is broadcast and the
  *    scan is map-only);
  *  - [[lshTopK]]: random-hyperplane LSH bucketing (sign-bit signature,
  *    deterministic planes) -> candidates share the query's bucket ->
  *    refine top-k inside the bucket. At 10^12 rows the bucket join is an
  *    equi-join on `sig` — shuffle-partitioned, skew-handled by AQE.
  *
  * Parity strategy: every float op is a fixed-order fold generated for both
  * Spark and DuckDB (same IEEE-754 op sequence), and the LSH planes are
  * ±1 literals baked into both plans from one Scala-side seeded derivation.
  */
object Ann {

  val Dim = 64
  val SigBits = 6

  /** Deterministic ±1 hyperplane entries: md5 of "plane:p:i" parity.
    * Driver-side only — the values are embedded as literals in BOTH the
    * Spark plan and the oracle SQL (no cross-engine hash needed). */
  def planeSign(p: Int, i: Int): Int = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"plane:$p:$i".getBytes(StandardCharsets.UTF_8))
    if ((d(0) & 1) == 1) 1 else -1
  }

  /** Sequential dot product of two vector column expressions — identical
    * fold order in both dialects (left-to-right over dims 1..64). */
  def dot(d: Dialect, a: String, b: String): String = d match {
    case SparkD =>
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)"
    case DuckD =>
      s"list_reduce(list_transform(range(1, ${d.size(a)} + 1), i -> $a[i] * $b[i]), (x, y) -> x + y)"
  }

  /** cosine(a, b) given precomputed self-dot columns na, nb. */
  def cosine(d: Dialect, a: String, b: String, na: String, nb: String): String =
    s"(${dot(d, a, b)} / (sqrt($na) * sqrt($nb)))"

  /** Engine-side cosine Column over the codegen'd [[VecDot]] kernel —
    * bit-identical to [[cosine]] (same sequential fold). */
  private[graft] def cosCol(a: String, b: String, na: String, nb: String) =
    V.vec_dot(col(a), col(b)) / (sqrt(col(na)) * sqrt(col(nb)))

  /** Signed projection onto plane p, unrolled to a left-assoc ±v[i] chain
    * (no lambdas, exact same op order in both engines). */
  def proj(d: Dialect, v: String, p: Int): String = {
    val terms = (1 to Dim).map { i =>
      val e = d.at(v, i.toString)
      (planeSign(p, i - 1), e)
    }
    val head = if (terms.head._1 > 0) terms.head._2 else s"(0 - ${terms.head._2})"
    terms.tail.foldLeft(head) { case (acc, (s, e)) =>
      if (s > 0) s"($acc + $e)" else s"($acc - $e)"
    }
  }

  /** Bucket signature: sign bits of the projections onto SigBits planes. */
  def signature(d: Dialect, v: String): String =
    (0 until SigBits).map { p =>
      s"(CASE WHEN ${proj(d, v, p)} > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // ----------------------------------------------------------------- engine

  /** embeddings -> (vec_id, label, v: array<double>, nrm: self-dot). */
  def vecs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", V.vec_dot(col("v"), col("v")))

  private def ranked(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rnk"))
  }

  /** Exact brute-force cosine top-k for query vectors `qids`. The query
    * side is tiny -> broadcast; the base scan is map-only (SURVEY.md J2). */
  def cosineTopK(spark: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val w = vecs(spark, dir)
    val q = w.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = w.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos", cosCol("qv", "v", "qn", "nrm"))
      .select(col("qid"), col("vec_id").as("nid"), col("cos"))
    ranked(pairs, k)
  }

  /** LSH-bucketed approximate top-k: candidates limited to the query's
    * hyperplane-signature bucket; refine = exact cosine + window top-k.
    * ≙ the reference's top-clusters-then-members search
    * (raptor/kmeans_retriever.py:76-124). */
  def lshTopK(spark: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val w = vecs(spark, dir).withColumn("sig",
      element_at(V.hyperplane_bands(col("v"), sigSigns, Dim, SigBits), 1))
    val q = w.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("sig"))
    val pairs = w.join(broadcast(q), Seq("sig"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosCol("qv", "v", "qn", "nrm"))
      .select(col("qid"), col("vec_id").as("nid"), col("cos"))
    ranked(pairs, k)
  }

  /** FARTHEST-POINT (k-center / Gonzalez greedy) SAMPLING — the diverse-
    * subset / coreset selection operator of a training-data pipeline: pick
    * k points such that each new pick is the point FARTHEST from everything
    * already picked (the classic 2-approximation to the k-center cover;
    * the opposite of dedup — maximize spread instead of removing it).
    * Deterministic: seed = min vec_id, ties broken by vec_id.
    *
    * Shape: the selected set lives on the driver (k rows — the Lloyd
    * pattern); each of the k-1 steps is ONE codegen'd map over the corpus
    * (a least-chain of literal-centroid distances, exactly like the
    * kmeans assignment stage) + a global top-1 via orderBy..limit(1)
    * (TakeOrderedAndProject: per-partition top-1, driver merge — no
    * shuffle). k passes total; at 10^12 rows that is the known cost of
    * EXACT greedy k-center — the approximate variant (per-partition
    * greedy + merge) composes from the same kernel.
    *
    * Returns (step, vec_id, d2_q): selection order, picked id, and the
    * pick's min-squared-distance to the prior set quantized to integer
    * micro-units (floor(d2·1e6) — never hash a raw divided/folded double;
    * the seed row carries -1). The oracle replays every step as an
    * unrolled CTE chain with the SAME least-fold and distance op order. */
  def farthestPoints(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    val w = vecs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = w.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("v"), col("nrm")).collect().head
    // selected rows: (vec_id, v, nrm) in selection order
    var sel = Vector((seed.getLong(0), seed.getSeq[Double](1), seed.getDouble(2)))
    val out = scala.collection.mutable.ListBuffer((0, seed.getLong(0), -1L))
    var step = 1
    while (step < k) {
      val md = sel.map { case (_, sv, snrm) =>
        col("nrm") - lit(2.0) * V.vec_dot(col("v"),
          array(sv.map(lit): _*)) + lit(snrm)
      }.reduceLeft(least(_, _))
      val win = w.withColumn("md", md)
        .orderBy(col("md").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("nrm"), col("md"))
        .collect().head
      sel = sel :+ ((win.getLong(0), win.getSeq[Double](1), win.getDouble(2)))
      out += ((step, win.getLong(0), math.floor(win.getDouble(3) * 1e6).toLong))
      step += 1
    }
    w.unpersist(blocking = false)
    out.toSeq.toDF("step", "vec_id", "d2_q")
      .select(col("step").cast("int").as("step"), col("vec_id"), col("d2_q"))
  }

  /** Oracle for [[farthestPoints]]: the greedy unrolled as a CTE chain —
    * st_i cross-joins the i prior selections and takes the argmax of the
    * identical least-fold of (nrm - 2·dot + snrm) distances. */
  def farthestPointsSql(k: Int): String = {
    def mdExpr(i: Int): String =
      (0 until i).map { j =>
        s"(w.nrm - 2.0 * ${dot(DuckD, "w.v", s"s$j.v")} + s$j.nrm)"
      }.reduceLeft((a, b) => s"least($a, $b)")
    val ctes = (1 until k).map { i =>
      val joins = (0 until i).map { j =>
        val src = if (j == 0) "sel0" else s"st$j"
        s"CROSS JOIN $src s$j"
      }.mkString(" ")
      s"""st$i AS (
         |  SELECT w.vec_id, w.v, w.nrm, ${mdExpr(i)} AS md
         |  FROM w $joins
         |  ORDER BY md DESC, w.vec_id LIMIT 1
         |)""".stripMargin
    }.mkString(",\n")
    val rows = (1 until k).map { i =>
      s"SELECT CAST($i AS INTEGER) AS step, vec_id," +
        s" CAST(floor(md * 1000000.0) AS BIGINT) AS d2_q FROM st$i"
    }.mkString("\nUNION ALL ")
    s"""sel0 AS (
       |  SELECT vec_id, v, nrm FROM w ORDER BY vec_id LIMIT 1
       |)${if (k > 1) "," else ""}
       |$ctes
       |SELECT CAST(0 AS INTEGER) AS step, vec_id,
       |  CAST(-1 AS BIGINT) AS d2_q FROM sel0
       |UNION ALL $rows""".stripMargin
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein 1998)
    * — the diversity re-rank a retrieval stack applies to its result
    * page (≙ the reference's retrieve-then-select flow,
    * raptor/tree_retriever.py:168-352: gather candidates, then pick a
    * budgeted subset; RAPTOR picks by score alone, MMR is the standard
    * score-vs-redundancy refinement): from the `pool`-sized cosine
    * top-pool of query vec 0, greedily pick `m` results maximizing
    * `0.5·cos(q,c) − 0.5·max_{s∈S} cos(c,s)`; the first pick is the
    * plain top-1. Ties → smaller vec_id.
    *
    * Scale shape: the candidate pool comes from the DISTRIBUTED scan
    * (broadcast-query map-only cosine + TakeOrderedAndProject — the
    * q_cos_topk contract; at 10^12 rows the pool feed is the ANN path);
    * the greedy itself is O(pool·m) arithmetic over the collected
    * pool-row page — driver-bounded like every result-page re-ranker,
    * the Lloyd/codebook driver-state pattern. Every double on both
    * engines comes from the same left-fold dot and the same
    * single-primitive ops, so the emitted scores hash-match raw
    * (the q_cos_topk precedent).
    *
    * Returns (step, vec_id, score): selection order, picked id, the
    * pick's selection score (step 0 carries its query cosine). */
  def mmrRerank(spark: SparkSession, dir: String, pool: Int, m: Int): DataFrame = {
    import spark.implicits._
    val w = vecs(spark, dir)
    val qRow = w.filter(col("vec_id") === 0L)
      .select(col("v"), col("nrm")).collect().head
    val qv = qRow.getSeq[Double](0); val qn = qRow.getDouble(1)
    val cand = w.filter(col("vec_id") =!= 0L)
      .withColumn("cosq", V.vec_dot(col("v"), array(qv.map(lit): _*)) /
        (sqrt(col("nrm")) * sqrt(lit(qn))))
      .orderBy(col("cosq").desc, col("vec_id")).limit(pool)
      .select(col("vec_id"), col("v"), col("nrm"), col("cosq"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2),
        r.getDouble(3)))
      .sortBy(c => (-c._4, c._1))
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cosCS(c: (Long, Array[Double], Double, Double),
              s: (Long, Array[Double], Double, Double)): Double =
      dotD(c._2, s._2) / (math.sqrt(c._3) * math.sqrt(s._3))
    var selected = Vector(cand.head)
    var rest = cand.tail.toVector
    val out = scala.collection.mutable.ListBuffer(
      (0, cand.head._1, cand.head._4))
    var step = 1
    while (step < m && rest.nonEmpty) {
      val scored = rest.map { c =>
        val maxSim = selected.map(s => cosCS(c, s)).reduceLeft(math.max)
        (c, 0.5 * c._4 - 0.5 * maxSim)
      }
      val (best, sc) = scored.sortBy { case (c, s) => (-s, c._1) }.head
      selected = selected :+ best
      rest = rest.filterNot(_._1 == best._1)
      out += ((step, best._1, sc))
      step += 1
    }
    out.toSeq.toDF("step", "vec_id", "score")
      .select(col("step").cast("int").as("step"), col("vec_id"), col("score"))
  }

  /** Oracle for [[mmrRerank]]: the greedy unrolled as a CTE chain (the
    * farthestPointsSql device) — p_i cross-joins the i prior picks and
    * takes the argmax of the identical `0.5·cosq − 0.5·greatest(cos)`
    * expression over the identical LIMIT-pool candidate page. */
  def mmrOracleSql(pool: Int, m: Int): String = {
    def cosCS(j: Int) =
      s"(${dot(DuckD, "c.v", s"s$j.v")} / (sqrt(c.nrm) * sqrt(s$j.nrm)))"
    val ctes = (1 until m).map { i =>
      val joins = (0 until i).map(j => s"CROSS JOIN p$j s$j").mkString(" ")
      val maxSim =
        if (i == 1) cosCS(0)
        else s"greatest(${(0 until i).map(cosCS).mkString(", ")})"
      val taken = (0 until i).map(j => s"SELECT vec_id FROM p$j")
        .mkString(" UNION ALL ")
      s"""p$i AS (
         |  SELECT c.vec_id, c.v, c.nrm, c.cosq,
         |    (0.5 * c.cosq - 0.5 * $maxSim) AS sc
         |  FROM cand c $joins
         |  WHERE c.vec_id NOT IN ($taken)
         |  ORDER BY sc DESC, c.vec_id LIMIT 1
         |)""".stripMargin
    }.mkString(",\n")
    val rows = (1 until m).map { i =>
      s"SELECT CAST($i AS INTEGER) AS step, vec_id, sc AS score FROM p$i"
    }.mkString("\nUNION ALL ")
    s"""q AS (
       |  SELECT v, nrm FROM w WHERE vec_id = 0
       |), cand AS (
       |  SELECT w.vec_id, w.v, w.nrm,
       |    (${dot(DuckD, "w.v", "q.v")} / (sqrt(w.nrm) * sqrt(q.nrm)))
       |      AS cosq
       |  FROM w, q WHERE w.vec_id != 0
       |  ORDER BY cosq DESC, w.vec_id LIMIT $pool
       |), p0 AS (
       |  SELECT vec_id, v, nrm, cosq FROM cand
       |  ORDER BY cosq DESC, vec_id LIMIT 1
       |),
       |$ctes
       |SELECT CAST(0 AS INTEGER) AS step, vec_id, cosq AS score FROM p0
       |UNION ALL $rows""".stripMargin
  }

  // -------------------------------------------------- int8 quantization

  /** Per-vector symmetric int8 quantization facts — the embedding
    * compression step a training pipeline applies before storage/ANN:
    * scale = max |x| (max-abs), code_i = floor(x_i / scale * 127). Output
    * is integer summaries (sum/min/max of codes) + the scale, all exactly
    * replicable in SQL, so the oracle proves the codes bit-for-bit. The
    * reconstruction error bound |code/127*scale - x| <= scale/127 holds by
    * construction (AnnSpec pins it). Map-only — scales trivially.
    *
    * An all-zero vector has amax = 0; dividing by it would yield NaN codes
    * (-> null bigints) — the `greatest(amax, 1e-30)` floor makes every
    * code exactly 0 instead (floor(0/tiny) = 0), mirrored verbatim in the
    * oracle and pinned by AnnSpec's zero-vector case. */
  def int8QuantFacts(spark: SparkSession, dir: String): DataFrame =
    int8QuantFactsOf(vecs(spark, dir))

  /** [[int8QuantFacts]] over an explicit (vec_id, v) frame (testable on
    * hand-built vectors, e.g. the all-zero edge case). */
  def int8QuantFactsOf(w: DataFrame): DataFrame = {
    w.withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("codes",
        expr("transform(v, x -> cast(floor(x / greatest(amax, 1e-30) * 127.0) as bigint))"))
      .select(col("vec_id"), col("amax"),
        expr("aggregate(codes, cast(0 as bigint), (a, c) -> a + c)").as("code_sum"),
        expr("array_min(codes)").as("code_min"),
        expr("array_max(codes)").as("code_max"))
  }

  // ------------------------------------------------------------- IVF ANN

  /** IVF codebook frame `(acell, c: centroid vector, cn: self-dot)` —
    * per-label integer-quantized means, bit-reproducible under any
    * aggregation order. Built via posexplode + (label, dim) groupBy: same
    * arithmetic as the oracle's 64 explicit sums
    * (CAST(s AS DOUBLE)/(cnt*1e6)) but the generated aggregate is 2 slots
    * instead of 65 — the 64-column agg's janino compile alone cost ~4 s of
    * the cold query. */
  def centroidFrame(w: DataFrame): DataFrame =
    w.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(floor(x * 1000000) as bigint)")).as("s"))
      .withColumn("cd",
        col("s").cast("double") / (col("cnt").cast("double") * 1000000.0))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(i, cd))), e -> e.cd)")
        .as("c"))
      .select(col("label").as("acell"), col("c"))
      .withColumn("cn", V.vec_dot(col("c"), col("c")))

  /** Driver-side codebook for literal-argmin assignment (the form a
    * STREAMING assigner needs — window ranks are illegal on a streaming
    * frame): `(acell, centroid, self-dot)` ascending by acell. K rows —
    * the same "centroids live on the driver" shape as
    * [[graft.operators.KmeansAssign]]. */
  def codebook(spark: SparkSession, dir: String): Seq[(Int, Seq[Double], Double)] =
    centroidFrame(vecs(spark, dir)).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)

  /** IVF (inverted-file) top-k: a coarse quantizer of exact per-label
    * centroids (integer-quantized means — order-free, so the codebook is
    * bit-reproducible under any aggregation order), each vector assigned
    * to its nearest centroid cell, queries probing their `nprobe` nearest
    * cells, exact cosine refine within the probed cells. The DIRECT graft
    * of the reference's kmeans retrieval (kmeans_retriever.py:76-124: top
    * clusters -> cluster members -> brute refine) — the cluster-prefilter
    * complement to the hyperplane [[lshTopK]].
    *
    * Scale: the codebook is tiny (broadcast); assignment and probing are
    * map-only over broadcast centroids; the candidate join is an equi-join
    * on the cell id (shuffle-partitioned, AQE-splittable for hot cells). */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int, k: Int,
              nprobe: Int): DataFrame = {
    val w = vecs(spark, dir)
    val cent = centroidFrame(w)
    // squared euclidean to a centroid: nrm - 2*dot(v,c) + cn (one fold)
    def nearestCells(df: DataFrame, idCol: String, keep: Int): DataFrame = {
      val wnd = Window.partitionBy(col(idCol)).orderBy(col("cdist"), col("acell"))
      df.crossJoin(broadcast(cent))
        .withColumn("cdist",
          col("nrm") - lit(2.0) * V.vec_dot(col("v"), col("c")) + col("cn"))
        .withColumn("crnk", row_number().over(wnd))
        .filter(col("crnk") <= keep)
        .select(col(idCol), col("acell"))
    }
    val assign = nearestCells(w, "vec_id", 1)
    val q = w.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v"), col("nrm"))
    val probes = nearestCells(q, "qid", nprobe)
    val pairs = probes.join(assign, "acell")
      .filter(col("vec_id") =!= col("qid"))
      .join(w.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(broadcast(q.select(col("qid"), col("v").as("qv"), col("nrm").as("qn"))),
        "qid")
      .withColumn("cos", cosCol("qv", "v", "qn", "nrm"))
      .select(col("qid"), col("vec_id").as("nid"), col("cos"))
    ranked(pairs, k)
  }

  /** All pairs (a < b) with cosine >= t — exact. Quadratic (a.ai < b.bi
    * theta join -> nested loop): the SPEC ORACLE ONLY. The shipped query is
    * [[lshCosNearDupPairs]], whose candidate generator is a banded-signature
    * equi-join (linear in row count); AnnSpec measures its recall against
    * this form. */
  def cosineNearDupPairs(spark: SparkSession, dir: String, t: Double): DataFrame = {
    val w = vecs(spark, dir)
    val a = w.select(col("vec_id").as("ai"), col("v").as("av"), col("nrm").as("an"))
    val b = w.select(col("vec_id").as("bi"), col("v").as("bv"), col("nrm").as("bn"))
    a.join(b, col("ai") < col("bi"))
      .withColumn("cos", cosCol("av", "bv", "an", "bn"))
      .filter(col("cos") >= t)
      .select(col("ai"), col("bi"), col("cos"))
  }

  // --------------------------------------------- banded LSH near-dup (scale)

  /** Near-dup banding layout: [[NdBands]] bands of [[NdBits]] sign bits,
    * planes disjoint from the top-k signature's (offset [[NdPlaneOff]]).
    * Collision probability per bit is 1 - θ/π; at cos=0.4 (θ≈66°) a 3-bit
    * band collides with p≈0.25, so ≥1-of-8 bands fires with recall ≈0.90 —
    * and recall rises steeply for truer duplicates (cos≥0.8 → ≥0.999). */
  val NdBands = 8
  val NdBits = 3
  val NdPlaneOff = 8

  /** Band-b signature: [[NdBits]] sign bits packed little-endian. */
  def bandSig(d: Dialect, v: String, b: Int): String =
    (0 until NdBits).map { j =>
      s"(CASE WHEN ${proj(d, v, NdPlaneOff + b * NdBits + j)} > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Flattened ±1 plane matrices for the codegen'd [[HyperplaneBands]]
    * kernel — the ENGINE-side form of [[signature]] / [[bandSig]] (the
    * oracles keep the unrolled literal chains; both evaluate the identical
    * left-assoc IEEE-754 sum, so values match bit-for-bit while the engine
    * compiles one tight loop instead of 24 unrolled 64-term expressions —
    * janino compile of those dominated the cold query time). */
  private lazy val sigSigns: Array[Int] =
    Array.tabulate(SigBits * Dim)(k => planeSign(k / Dim, k % Dim))
  private[graft] lazy val ndSigns: Array[Int] =
    Array.tabulate(NdBands * NdBits * Dim)(k => planeSign(NdPlaneOff + k / Dim, k % Dim))

  /** Emit-once band filter: a pair colliding in SEVERAL bands must surface
    * exactly once, and a `distinct()` on the candidate pairs is a full
    * extra shuffle. Instead each side carries its full band-signature array
    * and the pair is kept only in the FIRST band where the signatures
    * agree — a stateless, shuffle-free dedup (both sides' arrays are in
    * hand after the band join; `array_position` is 1-based, `posexplode`
    * bands 0-based). Also the device that makes the STREAMING near-dup
    * possible, where a post-join distinct would be a second stateful
    * operator ([[graft.streaming.StreamingTiles.nearDupStream]]). */
  private[graft] def firstSharedBand(aSigs: Column, bSigs: Column,
                                     band: Column): Column =
    array_position(zip_with(aSigs, bSigs, (x, y) => x === y), lit(true)) ===
      band + lit(1)

  /** Embedding near-dup pairs at cosine >= t, SCALE-SAFE: candidates from a
    * banded random-hyperplane LSH equi-join (any shared band), verified with
    * exact cosine. No theta/nested-loop join anywhere (q_embed_neardup's
    * signature pins the joins); the band join shuffles on (band, sig) and
    * is AQE-splittable when a bucket runs hot. ≙ the reference's cluster-
    * prefiltered pair search (raptor/merge_tree_builder.py:247-304); same
    * prefilter+verify shape as [[graft.dedup.NearDup.lshNearDupPairs]]. */
  def lshCosNearDupPairs(spark: SparkSession, dir: String, t: Double): DataFrame = {
    val w = vecs(spark, dir)
    val bands = w
      .select(col("vec_id"),
        V.hyperplane_bands(col("v"), ndSigns, Dim, NdBits).as("sigs"))
      .select(col("vec_id"), col("sigs"), posexplode(col("sigs")))
      .toDF("vec_id", "sigs", "band", "bv")
    // emit-once: keep the pair only in its first shared band — unique by
    // construction, so no distinct() (formerly a full shuffle of the pairs)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(firstSharedBand(col("a.sigs"), col("b.sigs"), col("a.band")))
      .select(col("a.vec_id").as("ai"), col("b.vec_id").as("bi"))
    cand
      .join(w.select(col("vec_id").as("ai"), col("v").as("av"), col("nrm").as("an")), "ai")
      .join(w.select(col("vec_id").as("bi"), col("v").as("bv"), col("nrm").as("bn")), "bi")
      .withColumn("cos", cosCol("av", "bv", "an", "bn"))
      .filter(col("cos") >= t)
      .select(col("ai"), col("bi"), col("cos"))
  }

  // ----------------------------------------------------------- PQ encoding

  /** Product-quantization geometry: 64 dims as [[PqM]] = 8 subspaces of
    * [[PqSubDim]] = 8 dims; one codeword id per subspace, 4 bits each, so
    * a vector compresses to ONE BIGINT — 64 float32 (256 bytes) -> 4
    * bytes, the memory step that makes a 10^12-vector ANN index fit a
    * cluster at all (IVF prunes compute; PQ prunes MEMORY). */
  val PqM = 8
  val PqSubDim: Int = Dim / PqM

  /** PQ codebook frame `(s, cid, c: codeword, cn: self-dot)` — per
    * (subspace, label) integer-quantized means: the [[centroidFrame]]
    * device applied to each 8-dim slice, so the codebook is
    * bit-reproducible under any aggregation order and replays exactly in
    * SQL (a Lloyd-trained codebook would drop in behind the same
    * interface — [[graft.operators.KmeansAssign]] is that trainer). */
  def pqCodebookFrame(w: DataFrame): DataFrame =
    w.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .withColumn("s", (col("i") / PqSubDim).cast("int"))
      .groupBy(col("s"), col("label"), col("i"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("cast(floor(x * 1000000) as bigint)")).as("sm"))
      .withColumn("cd",
        col("sm").cast("double") / (col("cnt").cast("double") * 1000000.0))
      .groupBy(col("s"), col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(i, cd))), e -> e.cd)")
        .as("c"))
      .select(col("s"), col("label").as("cid"), col("c"))
      .withColumn("cn", V.vec_dot(col("c"), col("c")))

  /** Driver-side PQ codebook, `(s, cid, codeword, self-dot)` sorted by
    * (s, cid) — PqM x |labels| rows (the sanctioned k-row collect). */
  def pqCodebook(spark: SparkSession, dir: String): Seq[(Int, Int, Seq[Double], Double)] =
    pqCodebookFrame(vecs(spark, dir)).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))

  /** PQ-encode the corpus: per vector, the argmin codeword of each
    * subspace (squared-distance `vn - 2 dot + cn`, ties to the smaller
    * cid) packed into one BIGINT (4 bits per subspace), plus the total
    * quantization error as order-free integer micro-units
    * (`err_q = Σ_s floor(d_s * 1e6)`). MAP-ONLY: the codebook rides as
    * literals, each subspace argmin is `array_min` over (d, cid) structs
    * — struct ordering IS the tie-break — so encoding runs at scan speed
    * with no shuffle, no window, no join (the shape that encodes 10^12
    * vectors). q_pq_codes hashes (code, err) cross-engine. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    pqCodesOf(vecs(spark, dir), pqCodebook(spark, dir))

  /** [[pqCodes]] against an explicit codebook (spec fixtures). */
  def pqCodesOf(w: DataFrame, cb: Seq[(Int, Int, Seq[Double], Double)]): DataFrame = {
    val bySub = cb.groupBy(_._1)
    // the VALUE range is the binding constraint, not the count: packing
    // shifts cid into a 4-bit nibble and every decoder masks with & 15,
    // so a sparse id set like {0..14, 16} would corrupt silently
    require(cb.forall(t => t._2 >= 0 && t._2 <= 15),
      s"4-bit packing needs codeword ids in [0, 15]")
    val best = (0 until PqM).map { s =>
      val vs = slice(col("v"), s * PqSubDim + 1, PqSubDim)
      val vn = V.vec_dot(vs, vs)
      val structs = bySub(s).sortBy(_._2).map { case (_, cid, c, cn) =>
        struct(
          (vn - lit(2.0) * V.vec_dot(vs, typedLit(c)) + lit(cn)).as("d"),
          lit(cid).as("cid"))
      }
      array_min(array(structs: _*))
    }
    val withBest = best.zipWithIndex.foldLeft(w) { case (df, (b, s)) =>
      df.withColumn(s"b_$s", b)
    }
    val code = (0 until PqM)
      .map(s => shiftleft(col(s"b_$s").getField("cid").cast("long"), 4 * s))
      .reduce(_ + _)
    val errq = (0 until PqM)
      .map(s => floor(col(s"b_$s").getField("d") * lit(1000000.0)))
      .reduce(_ + _)
    withBest.select(col("vec_id"), code.as("pq_code"), errq.as("err_q"))
  }

  /** ADC (asymmetric-distance) top-k over the PQ-COMPRESSED corpus — the
    * search half of IVF-PQ: the scan reads only each vector's 8-byte
    * `pq_code` (never the 256-byte floats — the memory-bandwidth win that
    * makes 10^12-vector search feasible), and each query scores a code by
    * summing 8 lookups into its precomputed subspace-distance table.
    *
    * Shape: the LUT is built map-only per query (8 x |codewords| distances
    * as one MapType column, codebook as literals), broadcast against the
    * code scan; scoring is 8 map lookups + integer adds per (query, code)
    * — no join to the float table, no shuffle before the final per-query
    * top-k window. Scores are order-free integer micro-units
    * (`Σ_s floor(dq_s * 1e6)`), so ranks are integer-exact and the oracle
    * replays the whole pipeline (codebook -> codes -> LUT -> lookup-sum ->
    * rank) relationally.
    *
    * Resolution contract: the per-label codebook ([[pqCodebookFrame]]) is
    * deliberately coarse (same-label vectors share codes), so ADC ranks
    * regions, not exact neighbors — PqSpec pins that every query's ADC
    * top-k mean TRUE distance strictly beats the corpus mean. A
    * Lloyd-trained codebook (256 codewords/subspace via the
    * [[graft.operators.KmeansAssign]] trainer) raises within-cluster
    * resolution behind the identical encode/search plans; production
    * composes ADC as the IVF refine stage (probe cells -> ADC-score the
    * cell's codes -> exact-refine the survivors). */
  def pqAdcTopK(spark: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val w = vecs(spark, dir)
    val cb = pqCodebook(spark, dir)
    val bySub = cb.groupBy(_._1)
    val codes = pqCodesOf(w, cb).select(col("vec_id"), col("pq_code"))
    // query-side LUT: one map column keyed s*16+cid -> subspace distance
    val keys = array((0 until PqM).flatMap(s =>
      bySub(s).sortBy(_._2).map(t => lit(s * 16 + t._2))): _*)
    val vals = array((0 until PqM).flatMap { s =>
      val qs = slice(col("v"), s * PqSubDim + 1, PqSubDim)
      val qn = V.vec_dot(qs, qs)
      bySub(s).sortBy(_._2).map { case (_, _, c, cn) =>
        qn - lit(2.0) * V.vec_dot(qs, typedLit(c)) + lit(cn)
      }
    }: _*)
    val qluts = w.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), map_from_arrays(keys, vals).as("lut"))
    val adc = (0 until PqM).map { s =>
      val nib = shiftright(col("pq_code"), 4 * s).bitwiseAND(lit(15L))
      floor(element_at(col("lut"), (nib + lit(s * 16)).cast("int")) *
        lit(1000000.0))
    }.reduce(_ + _)
    val pairs = codes.join(broadcast(qluts), col("vec_id") =!= col("qid"))
      .withColumn("adc_q", adc)
      .select(col("qid"), col("vec_id").as("nid"), col("adc_q"))
    val wnd = Window.partitionBy(col("qid")).orderBy(col("adc_q"), col("nid"))
    pairs.withColumn("rnk", row_number().over(wnd))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("adc_q"), col("rnk").cast("int").as("rnk"))
  }

  /** Per-label exact centroid facts: count + floor-quantized per-dim sums
    * (integer micro-units -> associative, order-free, bit-exact under any
    * shuffle order — the float-sum nondeterminism trap avoided). */
  def labelCentroidFacts(spark: SparkSession, dir: String, dims: Int): DataFrame = {
    val w = vecs(spark, dir)
    val sums = (1 to dims).map { i =>
      sum(expr(s"cast(floor(element_at(v, $i) * 1000000) as bigint)")).as(s"s_$i")
    }
    w.groupBy(col("label"))
      .agg(count(lit(1)).as("cnt"), sums: _*)
  }
}
