package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.geo.{QuadkeyTiling, TilingStrategy, functions => G}
import graft.operators.SpatialJoin
import graft.sources.Fixtures

/** Custom sessionization state: the currently-open session of one user. */
case class OpenSession(sess: Long, startUs: Long, lastUs: Long, nEvents: Long)

/** A finalized (gap-closed) session row. */
case class ClosedSession(user_id: Long, sess: Long, n_events: Long,
                         start_us: Long, end_us: Long)

/** State of [[StreamingTiles.trajRasterStream]]: one user's last seen
  * position (its cell plus the (t, event_id) order key). */
case class LastPos(t: Long, eventId: Long, cell: Long)

/** One trajectory-raster fact: segment of `user_id` crossed `cell`. */
case class TrajCell(user_id: Long, cell: Long)

/** One origin–destination fact: a segment of `user_id` moved between the
  * coarse cells (self-flows included — the OD matrix diagonal). */
case class OdFact(user_id: Long, from_cell: Long, to_cell: Long)

/** State of [[StreamingTiles.stayStream]]: one user's open stay (current
  * res-5 cell and how many consecutive events have sat in it). */
case class OpenStay(t: Long, eventId: Long, cell: Long, n: Long)

/** A finalized (cell-changed) stay row. */
case class ClosedStay(user_id: Long, cell: Long, n_events: Long)

/** Incremental (streaming) variants of the core rollups. The reference is
  * strictly batch (SURVEY.md §2.9) — these exist for the pipeline role the
  * engine plays at 100 TB: tiles and event windows maintained continuously
  * as new files land, instead of full rebuilds. Structured Streaming file
  * sources + `Trigger.AvailableNow` give exactly-once incremental batches
  * over the same declarative plans the batch queries use; the batch/stream
  * parity is pinned by StreamingSpec (stream result == batch result on the
  * same input).
  */
object StreamingTiles {

  /** Schema of the derived image table (anchor columns only — the stream
    * reads pre-derived parquet, e.g. a snapshot of `Images.images`). */
  val imageSchema: StructType = StructType(Seq(
    StructField("image_id", StringType), StructField("lat", DoubleType),
    StructField("lon", DoubleType), StructField("w", IntegerType),
    StructField("h", IntegerType), StructField("phash", LongType)))

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming leaf-tile maintenance: new image files -> per-cell counts /
    * byte totals at `res`. Stateful aggregation keyed by cell — the
    * streaming analog of [[graft.operators.TilePyramid.leafTiles]]. */
  def leafTileStream(spark: SparkSession, dir: String, res: Int): DataFrame =
    spark.readStream.schema(imageSchema).parquet(dir)
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), res))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"),
        sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"))

  /** STREAMING HLL REGISTER MAINTENANCE — the incremental form of
    * q_hll_registers: as image files land, fold each row's md5-device
    * hash into the per-bucket register max. The state store holds AT
    * MOST 256 rows of (max_reg, n_rows) regardless of arrival volume —
    * the textbook bounded-state streaming sketch (register max is
    * associative and commutative, so incremental folding ≡ the batch
    * table; no watermark needed because state CANNOT grow). At target
    * scale the same shape runs per tenant/partition key with state
    * still bounded by 256 × keys. */
  def hllRegisterStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(imageSchema).parquet(dir)
      .select(
        conv(substring(md5(col("image_id")), 1, 2), 16, 10)
          .cast("long").as("b"),
        conv(substring(md5(col("image_id")), 3, 8), 16, 10)
          .cast("long").as("v"))
      .withColumn("reg", lit(33L) - length(bin(col("v"))).cast("long"))
      .groupBy(col("b"))
      .agg(max(col("reg")).as("max_reg"), count(lit(1)).as("n_rows"))

  /** Schema of the embeddings table (matches the driver's
    * embeddings.parquet). */
  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming IVF bucket assignment — CONTINUOUS INDEXING of new
    * embeddings (the online half of [[graft.similarity.Ann.ivfTopK]]'s
    * inverted file): as embedding files land, each vector is assigned to
    * its nearest codebook centroid, i.e. appended to its ANN bucket. The
    * codebook is fit once on the static corpus ([[graft.similarity.Ann
    * .codebook]]) and embedded as LITERALS — a window rank (the batch
    * assigner's shape) is illegal on a streaming frame, so the argmin runs
    * as a codegen'd expression over the k centroid literals, exactly the
    * [[graft.operators.KmeansAssign]] device. Distances use the identical
    * op order as the batch path (`nrm - 2·dot(v,c) + cn`), ties to the
    * smallest acell (array_position = first occurrence), so stream and
    * batch assignments agree bit-for-bit (StreamingSpec). Stateless
    * map-only per micro-batch: exactly-once with any replayable sink, no
    * state store, arbitrary restart. */
  def ivfAssignStream(spark: SparkSession, dir: String,
                      codebook0: Seq[(Int, Seq[Double], Double)]): DataFrame = {
    import graft.similarity.{functions => V}
    // the tie-break contract (smallest acell wins) is positional in the
    // literal array — sort here so a caller-built codebook can't break it
    val codebook = codebook0.sortBy(_._1)
    val base = spark.readStream.schema(embeddingSchema).parquet(dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", V.vec_dot(col("v"), col("v")))
    val dists = codebook.map { case (_, c, cn) =>
      col("nrm") - lit(2.0) * V.vec_dot(col("v"), typedLit(c)) + lit(cn)
    }
    val idx = array_position(array(dists: _*), array_min(array(dists: _*)))
    base
      .withColumn("acell",
        element_at(typedLit(codebook.map(_._1)), idx.cast("int")))
      .select(col("vec_id"), col("acell"))
  }

  /** STREAMING PQ ENCODING — continuous compression of new embeddings:
    * each arriving vector is product-quantized against the static codebook
    * ([[graft.similarity.Ann.pqCodebook]], embedded as literals) into its
    * 8-byte `pq_code` + integer quantization error, bit-identical to the
    * batch encoder ([[graft.similarity.Ann.pqCodesOf]] IS the plan — a
    * map-only projection is stream-legal unchanged). Stateless,
    * exactly-once with any replayable sink; the ingest-side twin of
    * [[ivfAssignStream]] (coarse cell there, fine code here — together
    * the streaming IVF-PQ indexer). */
  def pqEncodeStream(spark: SparkSession, dir: String,
                     cb: Seq[(Int, Int, Seq[Double], Double)]): DataFrame =
    graft.similarity.Ann.pqCodesOf(
      spark.readStream.schema(embeddingSchema).parquet(dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v")),
      cb)

  /** Streaming EXACT DEDUP — the incremental form of the pipeline's
    * exact dedup (SURVEY §2 A7 / q_dedup_exact): as event files land,
    * emit each key's FIRST occurrence and drop the rest, with an
    * event-time watermark bounding the dedup state (keys older than the
    * horizon are evicted — at 10^12 rows/day unbounded dedup state is the
    * failure mode, and the reference's batch `dropDuplicates` has no
    * arrival-time story at all). Built on Spark's
    * `dropDuplicatesWithinWatermark` state machine — NOT plain
    * `dropDuplicates`, which with a watermark only evicts state when the
    * event-time column is part of the dedup key, i.e. would keep one
    * state row per distinct key forever here; the WithinWatermark variant
    * expires each key's state once the watermark passes its event time +
    * delay. Key state shards by the dedup key.
    * Emitted columns are the key only: which duplicate row survives is
    * arrival-order-dependent by definition, so the deterministic contract
    * (and the StreamingSpec parity) is the KEY SET == batch distinct.
    * `delay` is the dedup horizon: keys silent for longer may re-emit,
    * and rows older than the watermark are dropped as late — the explicit
    * state/recall trade every streaming dedup at scale must pick (the
    * spec uses a horizon wider than its fixture's time span, where the
    * semantics are exactly batch distinct). */
  def dedupStream(spark: SparkSession, dir: String,
                  delay: String = "1 hour"): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)
      // ts is TIMESTAMP_NTZ in the fixture; watermarks require TIMESTAMP
      // (session TZ is UTC everywhere in this engine, so the cast is a
      // relabel, not a shift)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** STREAMING EMBEDDING NEAR-DUP — near-duplicate detection AT INGEST:
    * as embedding files land, each new vector is checked against every
    * vector that arrived within the `horizon`, and (ai, bi, cos) pairs
    * with cosine >= t are emitted exactly once. The incremental form of
    * [[graft.similarity.Ann.lshCosNearDupPairs]] and the one pipeline
    * family that had no streaming counterpart (near-dup filtering of a
    * training corpus is an ingest-time decision at 100 TB — re-running
    * the batch pair join over the full corpus per day is the failure
    * mode).
    *
    * Shape: a WATERMARKED STREAM-STREAM SELF-JOIN on the banded
    * random-hyperplane signature — the same 8x3-bit banding as the batch
    * query, so candidates are an equi-join on (band, sig), never a theta
    * join. The time-interval predicate (|ts_a - ts_b| <= horizon) plus
    * the watermark bound the join state: Spark retains each side only
    * until the watermark passes ts + horizon, so state is
    * O(arrival rate x horizon), independent of corpus size. Pair
    * multiplicity across bands is killed STATELESSLY by the emit-once
    * first-shared-band filter ([[graft.similarity.Ann.firstSharedBand]])
    * — a post-join distinct would be a second stateful operator.
    * Exactly-once across resume: a pair fires when the later of its two
    * rows arrives, checkpoint replay skips committed batches
    * (StreamingSpec pins two-increment parity with the batch pairs and
    * the narrow-horizon cutoff).
    *
    * Event time is `timestamp_seconds(vec_id)` — the fixture's ingest
    * order; production supplies the real arrival timestamp via `tsOf`. */
  def nearDupStream(spark: SparkSession, dir: String, t: Double,
                    horizonSec: Long, delay: String = "1 minute",
                    tsOf: org.apache.spark.sql.Column =
                      timestamp_seconds(col("vec_id"))): DataFrame = {
    import graft.similarity.{Ann, functions => V}
    val bands = spark.readStream.schema(embeddingSchema).parquet(dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", V.vec_dot(col("v"), col("v")))
      .withColumn("ts", tsOf)
      .withWatermark("ts", delay)
      .withColumn("sigs",
        V.hyperplane_bands(col("v"), Ann.ndSigns, Ann.Dim, Ann.NdBits))
      .select(col("vec_id"), col("v"), col("nrm"), col("ts"), col("sigs"),
        posexplode(col("sigs")))
      .toDF("vec_id", "v", "nrm", "ts", "sigs", "band", "sig")
    val a = bands.select(col("vec_id").as("ai"), col("v").as("av"),
      col("nrm").as("an"), col("ts").as("ats"), col("sigs").as("asigs"),
      col("band").as("aband"), col("sig").as("asig"))
    val b = bands.select(col("vec_id").as("bi"), col("v").as("bv"),
      col("nrm").as("bn"), col("ts").as("bts"), col("sigs").as("bsigs"),
      col("band").as("bband"), col("sig").as("bsig"))
    // join condition = equi-keys + TIME BOUNDS ONLY — exactly the
    // canonical interval-join shape, so StreamingJoinHelper's
    // state-watermark extraction succeeds cleanly on every conjunct (its
    // analyzer WARN-floods on ANY non-time inequality in the condition,
    // even a plain `ai < bi`). Everything else — id order, emit-once band,
    // cosine threshold — runs in a post-join filter behind a planner
    // barrier (V.opaque) that PushPredicateThroughJoin cannot move into
    // the condition. State is unaffected: retention is per-side rows
    // bounded by the watermarks; the unordered matches the condition no
    // longer rejects are transient join output, filtered one operator up.
    // StreamingSpec asserts both: state plateaus at
    // O(rate x (horizon+delay)) and results equal batch.
    a.join(b,
        col("aband") === col("bband") && col("asig") === col("bsig") &&
          col("bts") >= col("ats") - expr(s"INTERVAL $horizonSec SECONDS") &&
          col("bts") <= col("ats") + expr(s"INTERVAL $horizonSec SECONDS"))
      .withColumn("cos", Ann.cosCol("av", "bv", "an", "bn"))
      .filter(V.opaque(
        col("ai") < col("bi") &&
          Ann.firstSharedBand(col("asigs"), col("bsigs"), col("aband")) &&
          col("cos") >= t))
      .select(col("ai"), col("bi"), col("cos"))
  }

  /** Streaming WHOLE-PYRAMID maintenance: every level `minRes..maxRes`
    * kept incrementally current in ONE stateful aggregation. The batched
    * multi-res projection emits each image's cell at all levels; state is
    * keyed by cell (level lives in the id's top bits), so a new file's
    * rows update leaf tiles AND all ancestors in the same micro-batch —
    * the streaming form of the `MERGE INTO`-style increment path
    * (SURVEY.md §1.2). State size = total tile count (bounded by the
    * pyramid's own size); at 10^12 images shard the state store by the
    * same cell key the batch rollup shuffles on. */
  def pyramidStream(spark: SparkSession, dir: String,
                    minRes: Int, maxRes: Int): DataFrame =
    spark.readStream.schema(imageSchema).parquet(dir)
      .select(
        explode(G.cell_encode_multi(col("lat"), col("lon"), minRes, maxRes))
          .as("cell"),
        (col("w") * col("h") * 3).cast("long").as("b"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"), sum(col("b")).as("bytes_sum"))

  /** Schema of the documents table (the stream reads doc files as they
    * land — same shape as the driver's `documents.parquet`). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** STREAMING INVERTED-INDEX MAINTENANCE — the incremental form of the
    * lexical index build ([[graft.text.QueriesSearch]] q_index_postings):
    * as document files land, per-(token, doc_id) term frequencies are
    * kept current in one stateful keyed aggregation. The maintained state
    * is the POSTING PAIR level, not the per-token (df, tf) rollup: a
    * distinct-doc count is not row-wise mergeable, so the stream keeps
    * the mergeable relation and the tiny per-token statistics derive
    * downstream (a batch `groupBy(token)` over this output — exactly the
    * two-level partial-agg shape the batch index plans anyway). State
    * shards by (token, doc_id) like any keyed aggregation; its size is
    * the live index size (the thing being maintained), not the stream
    * history. Batch/stream parity across a checkpointed resume is pinned
    * in StreamingSpec. */
  def postingsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)
      .select(col("doc_id"),
        // ONE tokenizer definition for batch and stream (parity contract)
        explode(expr(graft.text.TextOps.SparkD.splitToks("text")))
          .as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** STREAM-STATIC point-in-polygon join: images land as files and each
    * arriving row is joined against the static vector layer — continuous
    * tile assignment / geofencing, the streaming form of
    * [[graft.operators.SpatialJoin.pipJoin]]. The static side is the same
    * broadcast covering-cell index the batch join builds, so the stream
    * side stays MAP-ONLY: encode cell → broadcast-hash probe → codegen
    * ray-cast refine. No state store, no watermark — a stateless
    * stream-static inner join emits (poly_id, image_id) pairs exactly
    * once per arriving image (append mode), which is what makes it safe
    * at 10^12 rows/day: per-micro-batch cost is O(new rows), zero
    * shuffle, state size zero. Batch/stream parity across a
    * checkpointed resume is pinned in StreamingSpec. */
  def pipJoinStream(spark: SparkSession, dir: String,
                    polys: Seq[Fixtures.Poly] = Fixtures.polys,
                    res: Int = SpatialJoin.CoverRes,
                    strategy: TilingStrategy = QuadkeyTiling): DataFrame =
    // the batch plan IS the streaming plan: pipJoin builds a purely
    // stateless select→encode→broadcast-probe→refine chain, which Spark
    // accepts unchanged on a streaming DataFrame
    SpatialJoin.pipJoin(
      spark.readStream.schema(imageSchema).parquet(dir),
      spark, polys, res, strategy)

  /** STREAMING SNAPSHOT MAINTENANCE — the durable, resumable form of
    * [[pyramidStream]]: arriving image files are folded into a VERSIONED
    * snapshot ([[graft.operators.Snapshot.writeVersioned]] layout) one
    * micro-batch at a time. Each batch:
    *
    *   1. aggregates the batch's rows to leaf tiles (one pass, the batch
    *      [[graft.operators.TilePyramid.leafTiles]] plan);
    *   2. merges them into the LATEST committed version with
    *      [[graft.operators.Snapshot.mergeDeltaInto]] — compute is
    *      O(|delta| x levels), never corpus size, and one combine for
    *      all levels (the first batch merges into an empty pyramid);
    *   3. commits the result as a new snapshot version whose id encodes
    *      the micro-batch id.
    *
    * EXACTLY-ONCE across crash/restart without sink-side transactions:
    * the manifest is the commit point, and the version id is a pure
    * function of the batch id — a replayed batch whose manifest already
    * exists is skipped, and a half-written version (data, no manifest)
    * is cleared and rewritten by writeVersioned itself. Every
    * intermediate version stays time-travelable ([[graft.operators
    * .Snapshot.readAsOf]]); [[graft.operators.Snapshot.expireSnapshots]]
    * bounds storage and [[graft.operators.Snapshot.compact]] bounds file
    * counts — the standing maintenance pair of any versioned store.
    *
    * Scale note: each commit writes a FULL pyramid version (plain-parquet
    * layout; ~|cells| rows, orders of magnitude under the corpus). An
    * Iceberg-manifest layout would rewrite only the files of touched
    * partitions; the merge COMPUTATION is already incremental, so that
    * swap changes IO, not the operator. StreamingSpec pins two-increment
    * parity with the batch pyramid and idempotent replay. */
  def snapshotMaintStream(spark: SparkSession, dir: String, root: String,
                          leafRes: Int, minRes: Int, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Snapshot, TilePyramid}
    spark.readStream.schema(imageSchema).parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val id = f"b$batchId%09d" // zero-padded: lexical order == batch order
        val committed = java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$root/MANIFEST-$id.json"))
        if (!committed && !batch.isEmpty) {
          val dLeaf = TilePyramid.leafTiles(batch.toDF(), leafRes)
          val prev = Snapshot.snapshots(root).lastOption
            .fold(dLeaf.limit(0))(p => Snapshot.readAsOf(spark, root, p._1))
          val merged = Snapshot.mergeDeltaInto(prev, dLeaf, leafRes, minRes)
          Snapshot.writeVersioned(merged, root, id, buildTs = batchId)
          ()
        }
      }
      .start()
  }

  val SessionGapUs = 1800000000L // 30 min, matches q_events_sessions

  /** Shared streaming source of the three trajectory-family streams:
    * events with the deterministic LCG geo-position
    * ([[graft.sources.Events.withPosition]] — the SAME column builder the
    * batch queries use, so batch/stream parity is by construction)
    * projected to (user_id, event_id, t_micros, res-cell). */
  private def eventCells(spark: SparkSession, dir: String,
                         res: Int): Dataset[(Long, Long, Long, Long)] = {
    import spark.implicits._
    graft.sources.Events.withPosition(
        spark.readStream.schema(eventSchema).parquet(dir))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"),
        G.cell_encode(col("lat"), col("lon"), res).as("cell"))
      .as[(Long, Long, Long, Long)]
  }

  /** STREAMING TRAJECTORY RASTERIZATION — the incremental form of
    * `q_traj_raster`: per-user LAST POSITION carried across micro-batches
    * (`flatMapGroupsWithState`), each arriving event extends the user's
    * path by one segment which is rasterized AT INGEST by the same
    * integer Bresenham kernel ([[graft.geo.GridCell.lineCells]]) the
    * batch query uses. Emits append-mode crossing FACTS (user, cell);
    * the raster rollup is the consumer's streaming/batch aggregation —
    * facts are associative, so any downstream grouping is exact. State
    * is ONE small record per active user (bounded by user cardinality).
    * Ordering contract: same as [[sessionStream]] — in-batch (t,
    * event_id) order; a cross-batch late event chains from the stored
    * last position rather than splicing into the past path (single-pass
    * at-ingest tradeoff; StreamingSpec pins time-split parity). */
  def trajRasterStream(spark: SparkSession, dir: String): Dataset[TrajCell] = {
    import spark.implicits._
    eventCells(spark, dir, 7)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[LastPos]) =>
          val evs = rows.toArray.sortBy(e => (e._3, e._2))
          val out = scala.collection.mutable.ArrayBuffer.empty[TrajCell]
          var last = state.getOption.orNull
          evs.foreach { case (_, eid, t, cell) =>
            if (last != null)
              graft.geo.GridCell.lineCells(last.cell, cell)
                .foreach(c => out += TrajCell(uid, c))
            last = LastPos(t, eid, cell)
          }
          if (last != null) state.update(last)
          out.iterator
      }
  }

  /** STREAMING OD-FLOW FACTS — the incremental form of `q_od_flows`:
    * the same per-user last-position state as [[trajRasterStream]], but
    * each arriving event emits ONE (from, to) coarse-cell fact (res-4
    * parents are bit slices of the stored res-7 cell). The OD matrix is
    * the consumer's streaming/batch rollup of associative facts. Same
    * ordering contract as [[sessionStream]]. */
  def odFlowStream(spark: SparkSession, dir: String): Dataset[OdFact] = {
    import spark.implicits._
    eventCells(spark, dir, 7)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[LastPos]) =>
          val evs = rows.toArray.sortBy(e => (e._3, e._2))
          val out = scala.collection.mutable.ArrayBuffer.empty[OdFact]
          var last = state.getOption.orNull
          evs.foreach { case (_, eid, t, cell) =>
            if (last != null)
              out += OdFact(uid,
                graft.geo.GridCell.parentAt(last.cell, 4),
                graft.geo.GridCell.parentAt(cell, 4))
            last = LastPos(t, eid, cell)
          }
          if (last != null) state.update(last)
          out.iterator
      }
  }

  /** STREAMING STAY-POINT DETECTION — the incremental form of
    * `q_stay_points`' run detection: the SPATIAL sessionizer. Per-user
    * state carries the open stay (current res-5 cell + run length); an
    * event in a NEW cell closes and EMITS the previous stay (the
    * gap-close pattern of [[sessionStream]] with "cell changed" as the
    * break predicate). Emitted stays equal the batch run table minus
    * each user's final (still-open) run — pinned by StreamingSpec across
    * a time-split resume. State: one record per active user. */
  def stayStream(spark: SparkSession, dir: String): Dataset[ClosedStay] = {
    import spark.implicits._
    eventCells(spark, dir, 5)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[OpenStay]) =>
          val evs = rows.toArray.sortBy(e => (e._3, e._2))
          val out = scala.collection.mutable.ArrayBuffer.empty[ClosedStay]
          var cur = state.getOption.orNull
          evs.foreach { case (_, eid, t, cell) =>
            cur match {
              case null => cur = OpenStay(t, eid, cell, 1L)
              case st if st.cell != cell =>
                out += ClosedStay(uid, st.cell, st.n)
                cur = OpenStay(t, eid, cell, 1L)
              case st => cur = st.copy(t = t, eventId = eid, n = st.n + 1)
            }
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }

  /** Streaming sessionization via CUSTOM STATE
    * (`flatMapGroupsWithState`, Append): per-user open-session state
    * carried across micro-batches; a >30 min gap closes the session and
    * EMITS it, so sessions spanning increments are stitched exactly where
    * window algebra cannot be incremental. Batch parity: the emitted
    * closed sessions equal the batch sessionization minus each user's
    * final (still-open) session — StreamingSpec pins this across a
    * two-increment resume. State is one small record per ACTIVE user —
    * bounded by user cardinality, not event count; production adds an
    * event-time timeout to flush idle users.
    *
    * ORDERING CONTRACT (cross-batch): events are sorted within a
    * micro-batch, but an event arriving in a LATER batch with an event
    * time older than the stored `lastUs` merges into the open session
    * (widening its [startUs, lastUs] envelope monotonically — never
    * rewinding it), which can diverge from the batch sessionizer's global
    * (t, event_id) order when the late event should have split or joined
    * a session closed in an earlier batch.
    * This is the standard at-ingest-order tradeoff of single-pass
    * sessionization; exact late-data handling requires an event-time
    * watermark + buffering events until the watermark passes (planned
    * production shape: `GroupStateTimeout.EventTimeTimeout`, buffer in
    * state, finalize on timeout). StreamingSpec pins the current behavior
    * with an out-of-order increment. */
  def sessionStream(spark: SparkSession, dir: String): Dataset[ClosedSession] = {
    import spark.implicits._
    spark.readStream.schema(eventSchema).parquet(dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[OpenSession]) =>
          // deterministic in-batch order: (t, event_id) — same tie-break
          // as the batch window sessionizer
          val evs = rows.toArray.sortBy(e => (e._3, e._2))
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          var cur = state.getOption.orNull
          evs.foreach { case (_, _, t) =>
            cur match {
              case null =>
                cur = OpenSession(1L, t, t, 1L)
              case s if t - s.lastUs > SessionGapUs =>
                closed += ClosedSession(uid, s.sess, s.nEvents, s.startUs, s.lastUs)
                cur = OpenSession(s.sess + 1, t, t, 1L)
              case s =>
                // max/min: a cross-batch late event (t < lastUs) widens the
                // open session's envelope, never rewinds it (see contract)
                cur = s.copy(startUs = math.min(s.startUs, t),
                  lastUs = math.max(s.lastUs, t), nEvents = s.nEvents + 1)
            }
          }
          if (cur != null) state.update(cur)
          closed.iterator
      }
  }

  /** An unfinalized session run of [[sessionStreamExact]]: its envelope
    * and event count — the events themselves are NOT kept (see below). */
  case class SessSeg(start: Long, end: Long, n: Long)
  /** State of [[sessionStreamExact]]: open session segments (time-ordered)
    * + the next session ordinal for this user. */
  case class SessSegState(segs: List[SessSeg], nextSess: Long)

  /** EXACT sessionization under late data — the production shape the
    * [[sessionStream]] ordering contract points to: an event-time
    * WATERMARK bounds disorder, and a session is emitted only once it is
    * unreachable — `end + gap < watermark` means every future admitted
    * event (t >= watermark) can neither extend it nor bridge into it.
    * Within the watermark delay the result is bit-identical to the batch
    * sessionizer on ANY increment order (StreamingSpec pins the exact
    * case where [[sessionStream]] diverges); events at-or-before the
    * watermark are dropped by the engine (the standard bounded-disorder
    * contract — note the INITIAL watermark is 0, so epoch-time events
    * are late by definition). Idle users flush via an event-time timeout.
    *
    * State is O(open sessions), NOT O(events): sessions are connected
    * components of the `within-gap` adjacency over event times, and new
    * events only ADD links — a session can merge with a neighbor but
    * never split. So each unfinalized session collapses to its
    * (start, end, count) segment; a new event becomes a 1-event segment
    * and the sorted gap-walk merges segments eagerly. A never-idle user
    * costs one segment, not their event history. */
  /** One state transition of the exact sessionizer (pure; also the unit
    * under SessionMathSpec's randomized sweep): merge fresh 1-event
    * segments into the open set, emit the finalizable prefix. */
  private[graft] def advanceSessions(uid: Long, st: SessSegState,
      fresh: Seq[SessSeg], wmUs: Long): (List[ClosedSession], SessSegState) = {
    val sorted = (st.segs ++ fresh).sortBy(s => (s.start, s.end))
    // eager merge: segments whose envelopes come within the gap are one
    // session now and forever (links only ever add)
    val merged = scala.collection.mutable.ListBuffer.empty[SessSeg]
    sorted.foreach { s =>
      if (merged.nonEmpty && s.start - merged.last.end <= SessionGapUs) {
        val p = merged.remove(merged.length - 1)
        merged += SessSeg(p.start, math.max(p.end, s.end), p.n + s.n)
      } else merged += s
    }
    // emit the finalizable PREFIX (time-ordered; watermark monotone)
    val out = scala.collection.mutable.ListBuffer.empty[ClosedSession]
    var next = st.nextSess
    val (done, kept) = merged.toList.span(_.end + SessionGapUs < wmUs)
    done.foreach { s =>
      out += ClosedSession(uid, next, s.n, s.start, s.end)
      next += 1
    }
    (out.toList, SessSegState(kept, next))
  }

  def sessionStreamExact(spark: SparkSession, dir: String,
                         delay: String = "2 hours"): Dataset[ClosedSession] = {
    import spark.implicits._

    spark.readStream.schema(eventSchema).parquet(dir)
      .withColumn("ets", col("ts").cast("timestamp"))
      .withWatermark("ets", delay)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ets")).as("t"), col("ets"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[SessSegState]) =>
          val prev = state.getOption.getOrElse(SessSegState(Nil, 1L))
          val fresh = rows.map(r => SessSeg(r._3, r._3, 1L)).toSeq
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, kept) = advanceSessions(uid, prev, fresh, wmUs)
          if (kept.segs.isEmpty) state.remove()
          else {
            state.update(kept)
            // flush when the watermark passes the last open segment's gap
            // horizon (must be > the current watermark to arm)
            val horizonMs = kept.segs.map(_.end).max / 1000L +
              SessionGapUs / 1000L + 1L
            state.setTimeoutTimestamp(
              math.max(horizonMs, state.getCurrentWatermarkMs() + 1L))
          }
          closed.iterator
      }
  }


  /** A finalized funnel transition of [[funnelStream]]: `uid` reached
    * `stage` (1 = signup, 2 = view-after-signup, 3 = purchase-after-view)
    * at event time `t_us`. Each (uid, stage) is emitted exactly once. */
  case class FunnelHit(user_id: Long, stage: Int, t_us: Long)
  /** State of [[funnelStream]]: events still inside the watermark delay
    * (as (t_us, type-index) pairs) + the finalized stage stamps (-1 =
    * not reached) + how many stages have already been emitted. */
  case class FunnelSt(buf: List[(Long, Int)], t1: Long, t2: Long, t3: Long,
                      emitted: Int)

  /** One state transition of the streaming funnel (pure; unit under
    * StreamingSpec's incremental parity): buffer fresh events, fold the
    * sub-watermark prefix in event-time order through the strict-after
    * stage rule, emit newly finalized transitions. A stamp set from the
    * finalized prefix is EXACT: every future admitted event has
    * t >= watermark > every folded event, so it can neither lower a min
    * nor create an earlier qualifying chain. */
  private[graft] def advanceFunnel(uid: Long, st: FunnelSt,
      fresh: Seq[(Long, Int)], wmUs: Long): (List[FunnelHit], FunnelSt) = {
    val (fin, keep) = (st.buf ++ fresh).sortBy(identity).partition(_._1 < wmUs)
    var (t1, t2, t3) = (st.t1, st.t2, st.t3)
    fin.foreach { case (t, ti) =>
      if (ti == 1 && t1 < 0) t1 = t
      else if (ti == 2 && t2 < 0 && t1 >= 0 && t > t1) t2 = t
      else if (ti == 3 && t3 < 0 && t2 >= 0 && t > t2) t3 = t
    }
    val out = scala.collection.mutable.ListBuffer.empty[FunnelHit]
    if (st.emitted < 1 && t1 >= 0) out += FunnelHit(uid, 1, t1)
    if (st.emitted < 2 && t2 >= 0) out += FunnelHit(uid, 2, t2)
    if (st.emitted < 3 && t3 >= 0) out += FunnelHit(uid, 3, t3)
    val emitted = if (t3 >= 0) 3 else if (t2 >= 0) 2 else if (t1 >= 0) 1 else 0
    (out.toList, FunnelSt(keep, t1, t2, t3, emitted))
  }

  /** STREAMING FUNNEL PROGRESSION — the streaming form of `q_funnel`:
    * signup → view → purchase stage transitions emitted EXACTLY ONCE per
    * user as they become unrevisable under the event-time watermark
    * (sequential pattern matching with bounded disorder — the state shape
    * the session/stay operators don't cover). Only sub-watermark events
    * are folded, in event-time order, so a stamped stage is bit-identical
    * to the batch funnel's on any increment order; stages never reached
    * are simply never emitted (batch's -1 rows). State per user =
    * O(events inside the delay window) buffered pairs + three stamps —
    * O(rate × delay), NOT stream length; stage-3-complete users whose
    * buffer drains drop their state entirely. Idle users flush via an
    * event-time timeout one tick past the watermark. */
  def funnelStream(spark: SparkSession, dir: String,
                   delay: String = "2 hours"): Dataset[FunnelHit] = {
    import spark.implicits._
    spark.readStream.schema(eventSchema).parquet(dir)
      .withColumn("ets", col("ts").cast("timestamp"))
      .withWatermark("ets", delay)
      .withColumn("ti",
        when(col("event_type") === "signup", 1)
          .when(col("event_type") === "view", 2)
          .when(col("event_type") === "purchase", 3))
      .filter(col("ti").isNotNull)
      // keep the watermarked column itself — the event-time timeout needs
      // it to survive to the stateful operator
      .select(col("user_id"), unix_micros(col("ets")).as("t"), col("ti"),
        col("ets"))
      .as[(Long, Long, Int, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Int, java.sql.Timestamp)],
         state: GroupState[FunnelSt]) =>
          val prev = state.getOption.getOrElse(FunnelSt(Nil, -1L, -1L, -1L, 0))
          val fresh = rows.map(r => (r._2, r._3)).toSeq
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (hits, next) = advanceFunnel(uid, prev, fresh, wmUs)
          // state hygiene: completed funnels (all 3 emitted, buffer
          // drained) and no-progress users (nothing buffered, no stamp)
          // carry NO state at all — state is strictly O(active funnels)
          if (next.buf.isEmpty && (next.emitted == 3 || next.t1 < 0)) {
            state.remove()
          } else {
            state.update(next)
            // flush buffered events once the watermark passes them; no
            // buffer -> no timeout needed (stamps only change on data)
            if (next.buf.nonEmpty) {
              val horizonMs = next.buf.map(_._1).max / 1000L + 1L
              state.setTimeoutTimestamp(
                math.max(horizonMs, state.getCurrentWatermarkMs() + 1L))
            }
          }
          hits.iterator
      }
  }

  /** STREAM-STREAM INTERVAL JOIN — the streaming form of
    * `q_interval_join`: error intervals and click points arrive on the
    * SAME stream and must pair while both sides are in flight. Uses the
    * identical bucketization (B = max interval length, intervals explode
    * to ≤ 2 covered buckets, points to exactly one) — which doubles as
    * the REQUIRED stream-stream equi-key (Spark rejects stream-stream
    * joins without an equality predicate) — plus the event-time range
    * condition (`t_ts` within [s_ts, s_ts + 7 min]) that, with the
    * watermarks, lets the symmetric-hash join EVICT interval state once
    * no future click can land in it: state is bounded by
    * watermark + range, not by stream length. Emits (iv_id, pt_id, vm)
    * pairs (append mode). */
  def intervalJoinStream(spark: SparkSession, dir: String): DataFrame = {
    val B = 420000000L // 7 min in micros == max interval duration
    val ev = spark.readStream.schema(eventSchema).parquet(dir)
      .withColumn("ets", col("ts").cast("timestamp"))
    val iv = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("iv_id"), col("ets").as("s_ts"),
        unix_micros(col("ets")).as("s"))
      .withColumn("e", col("s") + (col("iv_id") % 7 + 1) * 60000000L)
      .withColumn("bucket", explode(expr(s"sequence(s div $B, (e - 1) div $B)")))
      .withWatermark("s_ts", "1 hour")
    val pt = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("pt_id"), col("ets").as("t_ts"),
        unix_micros(col("ets")).as("t"),
        expr("cast(floor(value * 1000) as bigint)").as("vm"))
      .withColumn("pbucket", expr(s"t div $B"))
      .withWatermark("t_ts", "1 hour")
    // The JOIN condition carries only the equi-key and the event-time
    // range (what the symmetric-hash join derives state eviction from);
    // the exact [s, e) residual runs as a post-join filter. (The
    // optimizer pushes the residual back into the join condition, and
    // StreamingJoinHelper logs a WARN per non-event-time conjunct it
    // cannot turn into a state bound — harmless: the t_ts/s_ts range
    // conjuncts still yield the state watermark, and authoring the
    // residual directly in the join condition would abort the query
    // during the pre-pushdown analysis instead.)
    iv.join(pt,
      col("bucket") === col("pbucket") &&
        col("t_ts") >= col("s_ts") &&
        col("t_ts") <= col("s_ts") + expr("INTERVAL 7 MINUTES"))
      .filter(col("t") >= col("s") && col("t") < col("e"))
      .select(col("iv_id"), col("pt_id"), col("vm"))
  }

  /** Streaming event-time windows with a watermark: 1h tumbling counts per
    * event type (streaming analog of `q_events_window`). */
  def eventWindowStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)
      .withColumn("ets", col("ts").cast("timestamp"))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("event_type"), col("cnt"))
}
