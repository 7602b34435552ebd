package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.geo.{functions => G}
import graft.sources.Images
import graft.streaming.StreamingTiles

/** Batch/stream parity: the streaming rollups must produce exactly the
  * batch results on the same input, including across a second incremental
  * batch resumed from the same checkpoint (exactly-once file source). */
class StreamingSpec extends SparkFunSuite {

  private def runAvailableNow(df: org.apache.spark.sql.Dataset[_],
                              name: String, ckpt: String,
                              mode: String = "complete"): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("streaming leaf tiles == batch leaf tiles, incrementally") {
    val inDir = tempDir("graft-stream-in")
    val ckpt = tempDir("graft-stream-ck")
    val imgs = Images.images(spark, SparkSpec.Sf)
      .select("image_id", "lat", "lon", "w", "h", "phash")

    // batch 1: first half of the table
    imgs.filter(col("phash") % 2 === 0).write.mode("append").parquet(inDir)
    runAvailableNow(StreamingTiles.leafTileStream(spark, inDir, 10), "tiles", ckpt)

    // batch 2: the rest lands later; resume from the same checkpoint
    imgs.filter(col("phash") % 2 =!= 0).write.mode("append").parquet(inDir)
    runAvailableNow(StreamingTiles.leafTileStream(spark, inDir, 10), "tiles", ckpt)

    val got = spark.table("tiles").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val want = imgs
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), lit(10)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"),
        sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
  }

  test("streaming HLL registers == batch register table, across a resume; " +
      "state bounded at 256") {
    val inDir = tempDir("graft-hllreg-in")
    val ckpt = tempDir("graft-hllreg-ck")
    val imgs = Images.images(spark, SparkSpec.Sf)
      .select("image_id", "lat", "lon", "w", "h", "phash")
    imgs.filter(col("phash") % 2 === 0).write.mode("append").parquet(inDir)
    runAvailableNow(StreamingTiles.hllRegisterStream(spark, inDir),
      "hllreg", ckpt)
    imgs.filter(col("phash") % 2 =!= 0).write.mode("append").parquet(inDir)
    runAvailableNow(StreamingTiles.hllRegisterStream(spark, inDir),
      "hllreg", ckpt)
    val got = spark.table("hllreg").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val want = Queries.queryMap("q_hll_registers")(spark, SparkSpec.Sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    assert(got.size <= 256, "state bounded by the bucket space")
  }

  test("streaming IVF assignment == batch 1-NN assignment, across a resume") {
    val inDir = tempDir("graft-ivfs-in")
    val ckpt = tempDir("graft-ivfs-ck")
    val outDir = tempDir("graft-ivfs-out")
    val cb = graft.similarity.Ann.codebook(spark, SparkSpec.Sf)
    def run(): Unit = {
      val q = StreamingTiles.ivfAssignStream(spark, inDir, cb)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val emb = spark.read.parquet(s"${SparkSpec.Sf}/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(inDir)
    run()
    emb.filter(col("vec_id") % 2 =!= 0).write.mode("append").parquet(inDir)
    run()
    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("acell")).toMap
    // independent batch recomputation: broadcast codebook FRAME + window
    // argmin (the batch assigner's shape), not the stream's literal argmin
    val w = graft.similarity.Ann.vecs(spark, SparkSpec.Sf)
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cdist"), col("acell"))
    val want = w
      .crossJoin(broadcast(graft.similarity.Ann.centroidFrame(w)))
      .withColumn("cdist", col("nrm") -
        lit(2.0) * graft.similarity.functions.vec_dot(col("v"), col("c")) +
        col("cn"))
      .withColumn("r", row_number().over(wnd)).filter(col("r") === 1)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("acell")).toMap
    assert(got.size == emb.count())
    assert(got == want)
  }

  test("streaming exact dedup == batch distinct keys, across a resume") {
    val inDir = tempDir("graft-dedup-in")
    val ckpt = tempDir("graft-dedup-ck")
    val evs = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

    val outDir = tempDir("graft-dedup-out")
    def run(): Unit = {
      // append-mode resume needs a fault-tolerant sink (memory sink
      // cannot recover from a checkpoint) — same device as the
      // sessionization tests: exactly-once parquet sink.
      val q = StreamingTiles.dedupStream(spark, inDir, "3650 days")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // two arrivals with overlapping keys; resume from the same checkpoint
    evs.filter(col("event_id") % 3 =!= 0).write.mode("append").parquet(inDir)
    run()
    evs.filter(col("event_id") % 3 === 0).write.mode("append").parquet(inDir)
    run()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // each key emitted exactly once across BOTH increments
    assert(got.length == got.distinct.length)
    val want = evs.select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet == want.toSet)
  }

  test("streaming pyramid (all levels) == batch pyramid, across a resume") {
    val inDir = tempDir("graft-stream-pyr")
    val ckpt = tempDir("graft-stream-pyrck")
    val imgs = Images.images(spark, SparkSpec.Sf)
      .select("image_id", "lat", "lon", "w", "h", "phash")

    // increment 1, then increment 2 resumed from the same checkpoint
    imgs.filter(col("phash") % 2 === 0).write.mode("append").parquet(inDir)
    runAvailableNow(StreamingTiles.pyramidStream(spark, inDir, 8, 10), "pyr", ckpt)
    imgs.filter(col("phash") % 2 =!= 0).write.mode("append").parquet(inDir)
    runAvailableNow(StreamingTiles.pyramidStream(spark, inDir, 8, 10), "pyr", ckpt)

    val got = spark.table("pyr").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // batch truth: per-level leaf grouping over the full table
    val want = imgs
      .select(explode(G.cell_encode_multi(col("lat"), col("lon"), 8, 10)).as("cell"),
        (col("w") * col("h") * 3).cast("long").as("b"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"), sum(col("b")).as("bytes_sum"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    // all three levels present and each level's totals equal the image count
    val perRes = got.keys.toSeq.groupBy(c => (c >>> 58).toInt)
    assert(perRes.keySet == Set(8, 9, 10))
    val total = imgs.count()
    perRes.foreach { case (res, cells) =>
      assert(cells.map(c => got(c)._1).sum == total, s"level $res undercounts")
    }
  }

  test("streaming sessionization (custom state) == batch sessions sans open") {
    val inDir = tempDir("graft-stream-sess")
    val ckpt = tempDir("graft-stream-sessck")
    val ev = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"))
    val ts = ev.select(col("t")).orderBy(col("t")).collect().map(_.getLong(0))
    val mid = ts(ts.length / 2)

    // increment 1 (early half), then increment 2 resumed from the same
    // checkpoint — sessions spanning the split are stitched by the state
    def dump(pred: org.apache.spark.sql.Column): Unit =
      spark.read.parquet(s"${SparkSpec.Sf}/events.parquet").where(pred)
        .coalesce(1).write.mode("append").parquet(inDir)
    // append-mode memory sinks cannot recover from a checkpoint; a parquet
    // sink gives the real exactly-once resume semantics
    val outDir = tempDir("graft-stream-sessout")
    def runToParquet(): Unit = {
      val q = StreamingTiles.sessionStream(spark, inDir).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    dump(unix_micros(col("ts").cast("timestamp")) < mid)
    runToParquet()
    dump(unix_micros(col("ts").cast("timestamp")) >= mid)
    runToParquet()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"))).toSet

    // independent driver-side truth: gap-walk per user, drop the final
    // (still-open) session of each user
    val byUser = ev.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val want = byUser.flatMap { case (uid, evs) =>
      val sorted = evs.sortBy(e => (e._3, e._2))
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
      var sess = 0L; var start = 0L; var last = Long.MinValue; var n = 0L
      sorted.foreach { case (_, _, t) =>
        if (sess == 0L || t - last > 1800000000L) {
          if (sess > 0L) sessions += ((uid, sess, n, start, last))
          sess += 1; start = t; n = 1L
        } else n += 1
        last = t
      }
      sessions // final open session intentionally NOT appended
    }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("sessionization ordering contract: a cross-batch late event widens the open session") {
    // Pins the documented at-ingest-order tradeoff (StreamingTiles
    // sessionStream scaladoc): an event arriving in a LATER batch with an
    // older event time merges into the open session, widening its
    // envelope — it does NOT retro-split or rejoin sessions closed
    // earlier, which is where this diverges from the batch sessionizer.
    val inDir = tempDir("graft-stream-late")
    val ckpt = tempDir("graft-stream-lateck")
    val outDir = tempDir("graft-stream-lateout")
    val Min = 60000000L // one minute in micros
    def dump(events: Seq[(Long, Long)]): Unit = { // (event_id, t_us)
      import spark.implicits._
      events.toDF("event_id", "tus")
        .select(col("event_id"),
          expr("timestamp_micros(tus)").cast("timestamp_ntz").as("ts"),
          lit(1L).as("user_id"), lit("x").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    def run(): Unit = {
      val q = StreamingTiles.sessionStream(spark, inDir).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: t=0 and t=60min -> closes session 1 as [0,0], opens s2
    dump(Seq((1L, 0L), (2L, 60 * Min)))
    run()
    // batch 2: LATE t=10min (merges into OPEN s2, widening start to 10min;
    // batch truth would have put it in s1) then t=120min (closes s2)
    dump(Seq((3L, 10 * Min), (4L, 120 * Min)))
    run()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("sess"), r.getAs[Long]("n_events"),
        r.getAs[Long]("start_us"), r.getAs[Long]("end_us"))).toSet
    assert(got == Set((1L, 1L, 0L, 0L), (2L, 2L, 10 * Min, 60 * Min)),
      s"late-event contract drifted: $got")
  }

  test("EXACT sessionizer: out-of-order increments reproduce batch semantics") {
    // The same scenario where sessionStream's at-ingest-order contract
    // diverges (previous test): with the watermark+buffer sessionizer the
    // late 10min event lands in session 1 exactly as the batch walk does.
    val inDir = tempDir("graft-stream-exact")
    val ckpt = tempDir("graft-stream-exactck")
    val outDir = tempDir("graft-stream-exactout")
    val Min = 60000000L
    def dump(events: Seq[(Long, Long)]): Unit = {
      import spark.implicits._
      events.toDF("event_id", "tus")
        .select(col("event_id"),
          expr("timestamp_micros(tus)").cast("timestamp_ntz").as("ts"),
          lit(1L).as("user_id"), lit("x").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    def run(): Unit = {
      val q = StreamingTiles.sessionStreamExact(spark, inDir).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // B offsets every time away from the epoch: the engine drops events
    // at-or-before the watermark, and the INITIAL watermark is 0 — a
    // t=epoch event would be late-by-definition (engine semantics, found
    // the hard way)
    val B = 1000 * Min
    dump(Seq((1L, B), (2L, B + 60 * Min)))
    run()
    // LATE event (+10min, older than the stored +60min) + a later event
    dump(Seq((3L, B + 10 * Min), (4L, B + 120 * Min)))
    run()
    // fence 1 advances the watermark past every earlier session's horizon
    // (recorded at batch END); fence 2 drives the next batch UNDER that
    // advanced watermark, which finalizes the sessions
    dump(Seq((5L, B + 600 * Min)))
    run()
    dump(Seq((6L, B + 601 * Min)))
    run()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("sess"), r.getAs[Long]("n_events"),
        r.getAs[Long]("start_us"), r.getAs[Long]("end_us"))).toSet
    // batch truth over B+{0, 10, 60, 120}min with a 30min gap:
    // [B, B+10] n=2, [B+60] n=1, [B+120] n=1; the fences stay open
    val want = Set(
      (1L, 2L, B, B + 10 * Min),
      (2L, 1L, B + 60 * Min, B + 60 * Min),
      (3L, 1L, B + 120 * Min, B + 120 * Min))
    assert(got == want, s"exact sessionizer drifted from batch truth: $got")
  }

  test("session segment math: randomized increments == batch walk (pure sweep)") {
    // advanceSessions is the exact sessionizer's whole state transition —
    // sweep it directly: random event sets, random partitions into
    // batches, monotone watermarks admitting only events >= wm (the
    // engine's late-drop contract). Final emissions must equal the batch
    // gap-walk's finalizable prefix with sequential ids.
    import graft.streaming.StreamingTiles
    import graft.streaming.StreamingTiles.{SessSeg, SessSegState}
    val Gap = StreamingTiles.SessionGapUs
    val rnd = new scala.util.Random(224)
    (0 until 300).foreach { trial =>
      val n = 1 + rnd.nextInt(40)
      val events = Seq.fill(n)(1L + math.abs(rnd.nextLong() % (200L * Gap)))
      // random batch partition; within each batch any order
      val nBatches = 1 + rnd.nextInt(5)
      val batches = events.groupBy(_ => rnd.nextInt(nBatches)).toSeq
        .sortBy(_._1).map(_._2)
      var st = SessSegState(Nil, 1L)
      var wm = 0L
      val emitted = scala.collection.mutable.ListBuffer
        .empty[graft.streaming.ClosedSession]
      var admitted = List.empty[Long]
      batches.foreach { b =>
        val ok = b.filter(_ > wm) // engine drops t <= watermark
        admitted = admitted ++ ok
        val (out, st2) = StreamingTiles.advanceSessions(
          7L, st, ok.map(t => SessSeg(t, t, 1L)), wm)
        emitted ++= out
        st = st2
        // watermark advances to (max admitted so far) - random delay
        if (admitted.nonEmpty)
          wm = math.max(wm, admitted.max - rnd.nextInt(50).toLong * Gap / 10)
      }
      // the engine's timeout-driven no-data flush under the final watermark
      locally {
        val (out, st2) = StreamingTiles.advanceSessions(7L, st, Nil, wm)
        emitted ++= out
        st = st2
      }
      // batch truth over ADMITTED events
      val sorted = admitted.sorted
      val sessions = scala.collection.mutable.ListBuffer.empty[List[Long]]
      var cur = List.empty[Long]
      sorted.foreach { t =>
        if (cur.nonEmpty && t - cur.head > Gap) { sessions += cur.reverse; cur = Nil }
        cur = t :: cur
      }
      if (cur.nonEmpty) sessions += cur.reverse
      val wantFinal = sessions.toList.takeWhile(s => s.last + Gap < wm)
        .zipWithIndex.map { case (s, i) =>
          (i + 1L, s.length.toLong, s.head, s.last) }
      val got = emitted.toList.map(c => (c.sess, c.n_events, c.start_us, c.end_us))
      assert(got == wantFinal, s"trial $trial drifted: $got vs $wantFinal")
    }
  }

  test("stream-static pip join == batch pip join, across a resume") {
    val inDir = tempDir("graft-stream-pip")
    val ckpt = tempDir("graft-stream-pipck")
    val outDir = tempDir("graft-stream-pipout")
    val imgs = Images.images(spark, SparkSpec.Sf)
      .select("image_id", "lat", "lon", "w", "h", "phash")
    def run(): Unit = {
      // stateless append: each arriving image emits its containment pairs
      // exactly once; parquet sink for checkpointed resume
      val q = StreamingTiles.pipJoinStream(spark, inDir).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    imgs.filter(col("phash") % 2 === 0).write.mode("append").parquet(inDir)
    run()
    imgs.filter(col("phash") % 2 =!= 0).write.mode("append").parquet(inDir)
    run()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("poly_id"), r.getAs[String]("image_id")))
    // exactly-once: no pair duplicated across the two increments
    assert(got.length == got.distinct.length)
    val want = graft.operators.SpatialJoin.pipJoin(imgs, spark).collect()
      .map(r => (r.getAs[Long]("poly_id"), r.getAs[String]("image_id")))
    assert(got.toSet == want.toSet && got.nonEmpty)
  }

  test("streaming snapshot maintenance: versioned merge == batch; idempotent") {
    import graft.operators.{Snapshot, TilePyramid}
    val inDir = tempDir("graft-snapm-in")
    val ckpt = tempDir("graft-snapm-ck")
    val root = tempDir("graft-snapm-root")
    val imgs = Images.images(spark, SparkSpec.Sf)
      .select("image_id", "lat", "lon", "w", "h", "phash")
    def run(): Unit = StreamingTiles
      .snapshotMaintStream(spark, inDir, root, 8, 6, ckpt).awaitTermination()
    def pyr(df: org.apache.spark.sql.DataFrame) =
      TilePyramid.pyramidLazy(df, 6, 8)
        .select("res", "cell", "cnt", "bytes_sum", "phash_centroid")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def asOf(id: String) = Snapshot.readAsOf(spark, root, id)
      .select("res", "cell", "cnt", "bytes_sum", "phash_centroid")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    val half1 = imgs.filter(col("phash") % 2 === 0)
    half1.write.mode("append").parquet(inDir)
    run()
    imgs.filter(col("phash") % 2 =!= 0).write.mode("append").parquet(inDir)
    run() // second increment resumes from the same checkpoint
    val snaps = Snapshot.snapshots(root)
    assert(snaps.map(_._1) == Seq("b000000000", "b000000001"), s"got $snaps")
    // latest version == from-scratch batch pyramid of the FULL corpus
    // (every column of the tile summary, including the phash centroid)
    assert(asOf("b000000001") == pyr(imgs))
    // time travel: the first version is exactly increment 1's pyramid
    assert(asOf("b000000000") == pyr(half1))
    // idempotent: re-running with no new data commits no new version
    run()
    assert(Snapshot.snapshots(root).map(_._1) ==
      Seq("b000000000", "b000000001"))
  }

  test("streaming PQ encoding == batch codes, across a resume") {
    val inDir = tempDir("graft-pq-in")
    val ckpt = tempDir("graft-pq-ck")
    val outDir = tempDir("graft-pq-out")
    val cb = graft.similarity.Ann.pqCodebook(spark, SparkSpec.Sf)
    def run(): Unit = {
      val q = StreamingTiles.pqEncodeStream(spark, inDir, cb)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val emb = spark.read.parquet(s"${SparkSpec.Sf}/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(inDir)
    run()
    emb.filter(col("vec_id") % 2 =!= 0).write.mode("append").parquet(inDir)
    run()
    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = graft.similarity.Ann
      .pqCodesOf(graft.similarity.Ann.vecs(spark, SparkSpec.Sf), cb)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == emb.count())
    assert(got == want)
  }

  test("streaming near-dup == batch banded pairs across a resume; horizon bounds pairs") {
    val emb = spark.read.parquet(s"${SparkSpec.Sf}/embeddings.parquet")
    val batch = graft.similarity.Ann.lshCosNearDupPairs(spark, SparkSpec.Sf, 0.4)
      .collect()
      .map(r => (r.getAs[Long]("ai"), r.getAs[Long]("bi")) -> r.getAs[Double]("cos"))
      .toMap
    def run(horizon: Long): Map[(Long, Long), Double] = {
      val inDir = tempDir("graft-nd-in")
      val ckpt = tempDir("graft-nd-ck")
      val outDir = tempDir("graft-nd-out")
      def go(): Unit = {
        val q = StreamingTiles.nearDupStream(spark, inDir, 0.4, horizon)
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // arrivals roll forward in event time (an ingest-time near-dup filter
      // sees time advance): first half of the id range, then the rest,
      // resumed from the same checkpoint
      emb.filter(col("vec_id") < 250).write.mode("append").parquet(inDir)
      go()
      emb.filter(col("vec_id") >= 250).write.mode("append").parquet(inDir)
      go()
      val rows = spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("ai"), r.getAs[Long]("bi")) -> r.getAs[Double]("cos"))
      // each pair exactly once (emit-once band filter + exactly-once sink)
      assert(rows.length == rows.map(_._1).distinct.length)
      rows.toMap
    }
    // horizon covering the whole id span: every batch pair, bit-equal cos
    assert(run(1000) == batch && batch.nonEmpty)
    // narrow horizon: exactly the batch pairs within 60s of each other —
    // older vectors are out of join state and never candidates
    val narrow = run(60)
    val want = batch.filter { case ((a, b), _) => b - a <= 60 }
    assert(narrow == want)
    assert(narrow.size < batch.size && narrow.nonEmpty,
      s"fixture should split: narrow=${narrow.size} all=${batch.size}")
  }

  test("near-dup horizon edge: a row arriving AFTER the watermark passed " +
    "its event time is dropped, and exactly its pairs go missing") {
    // The exactness contract at the cutoff: a pair emits iff the later row
    // arrives while the earlier row is still within watermark+horizon.
    // Late-arrival semantics are a DROP (watermark filter before the join
    // state), not a silent partial match — so the missing-pair set is
    // exactly {pairs involving the late row}, every other in-horizon pair
    // still fires. (VERDICT r4 task 6: assert the EXACT missing set.)
    val horizon = 60L
    val emb = spark.read.parquet(s"${SparkSpec.Sf}/embeddings.parquet")
    val batch = graft.similarity.Ann.lshCosNearDupPairs(spark, SparkSpec.Sf, 0.4)
      .collect()
      .map(r => (r.getAs[Long]("ai"), r.getAs[Long]("bi")) -> r.getAs[Double]("cos"))
      .toMap
    val inHorizon = batch.filter { case ((a, b), _) => b - a <= horizon }
    // a row with an in-horizon partner, early enough that batch 1's
    // watermark (249 - 60s delay = 189) has passed it
    val lateId = inHorizon.keys.flatMap(p => Seq(p._1, p._2))
      .filter(_ < 120).minOption
      .getOrElse(fail("fixture has no in-horizon pair member < 120"))
    val inDir = tempDir("graft-ndl-in")
    val ckpt = tempDir("graft-ndl-ck")
    val outDir = tempDir("graft-ndl-out")
    def go(): Long = {
      val q = StreamingTiles.nearDupStream(spark, inDir, 0.4, horizon)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
    }
    emb.filter(col("vec_id") < 250 && col("vec_id") =!= lateId)
      .write.mode("append").parquet(inDir)
    go()
    // the straggler arrives AFTER rows up to ts=249 were processed
    emb.filter(col("vec_id") === lateId || col("vec_id") >= 250)
      .write.mode("append").parquet(inDir)
    val dropped = go()
    assert(dropped > 0, "late row was not dropped by the watermark")
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("ai"), r.getAs[Long]("bi")) -> r.getAs[Double]("cos"))
      .toMap
    val want = inHorizon.filter { case ((a, b), _) =>
      a != lateId && b != lateId }
    assert(got == want, "missing-pair set is not exactly the late row's pairs")
    assert(want.size < inHorizon.size, "fixture: lateId must have a pair")
  }

  test("near-dup join state is EVICTED at the horizon: bounded by " +
    "O(rate x (horizon+delay)), not stream history") {
    // VERDICT r4 finding: if Catalyst pushes the post-join cosine/band
    // refine INTO the join condition, StreamingJoinHelper fails to extract
    // the state-value watermark and symmetric-hash-join state grows without
    // bound. This asserts eviction EMPIRICALLY: feed 4 event-time-advancing
    // increments; join state must (a) actually remove rows and (b) plateau.
    val emb = spark.read.parquet(s"${SparkSpec.Sf}/embeddings.parquet")
    val inDir = tempDir("graft-nde-in")
    val ckpt = tempDir("graft-nde-ck")
    val outDir = tempDir("graft-nde-out")
    def go(): (Long, Long) = {
      val q = StreamingTiles.nearDupStream(spark, inDir, 0.4, 30L)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val sts = q.recentProgress.flatMap(_.stateOperators)
      (sts.map(_.numRowsTotal).maxOption.getOrElse(0L),
        sts.map(_.numRowsRemoved).sum)
    }
    val states = (0 until 4).map { i =>
      emb.filter(col("vec_id") >= i * 125 && col("vec_id") < (i + 1) * 125)
        .write.mode("append").parquet(inDir)
      go()
    }
    // rows are genuinely removed from join state across the run
    assert(states.map(_._2).sum > 0, s"no state eviction observed: $states")
    // and the retained total PLATEAUS: the 4th increment holds no more
    // state than the 2nd (both retain ~(horizon+delay) seconds of
    // arrivals); unbounded growth would double it
    assert(states.last._1 <= states(1)._1 * 13L / 10L,
      s"join state grows with history, not horizon: $states")
  }

  test("streaming postings == batch inverted index, across a resume") {
    val inDir = tempDir("graft-post-in")
    val ckpt = tempDir("graft-post-ck")
    val docs = spark.read.parquet(s"${SparkSpec.Sf}/documents.parquet")

    def run(): Unit = runAvailableNow(
      StreamingTiles.postingsStream(spark, inDir), "postings_stream", ckpt)

    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(inDir)
    run()
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(inDir)
    run()

    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = canon(spark.table("postings_stream").collect())
    val want = canon(docs
      .select(col("doc_id"), explode(expr("split(trim(text), ' +')")).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .select("token", "doc_id", "tf").collect())
    assert(got == want && got.nonEmpty)

    // the per-token index statistics derive from the maintained pairs
    val stats = spark.table("postings_stream")
      .groupBy("token")
      .agg(countDistinct("doc_id").as("df"), sum("tf").as("tf_total"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bStats = graft.SparkEntry.queries("q_index_postings")(spark, SparkSpec.Sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats == bStats)
  }

  test("stream-stream interval join == batch pairs, across a time-split resume") {
    val inDir = tempDir("graft-ivj-in")
    val ckpt = tempDir("graft-ivj-ck")
    val outDir = tempDir("graft-ivj-out")
    val ev = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
    // independent batch recomputation: the direct theta join
    val ivB = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("iv_id"),
        unix_micros(col("ts").cast("timestamp")).as("s"))
      .withColumn("e", col("s") + (col("iv_id") % 7 + 1) * 60000000L)
    val ptB = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("pt_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"),
        expr("cast(floor(value * 1000) as bigint)").as("vm"))
    val want = ivB.join(ptB, col("t") >= col("s") && col("t") < col("e"))
      .select(col("iv_id"), col("pt_id"), col("vm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // TIME-ordered split (event_ids are ts-ordered in the fixture): the
    // second increment is strictly newer, so the watermark never drops a
    // row that could still pair — the production replay contract. The cut
    // sits INSIDE a known pair (interval in batch 1, its click in batch
    // 2), so the cross-increment case — click pairing interval state from
    // the previous run — is exercised by construction.
    val mid = ev.count() / 2
    val cut = want.filter { case (a, b, _) => a < b }
      .minBy { case (_, b, _) => math.abs(b - mid) }._2
    def run(): Unit = {
      val q = StreamingTiles.intervalJoinStream(spark, inDir)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    ev.filter(col("event_id") < cut).write.mode("append").parquet(inDir)
    run()
    ev.filter(col("event_id") >= cut).write.mode("append").parquet(inDir)
    run()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("iv_id"), r.getAs[Long]("pt_id"),
        r.getAs[Long]("vm"))).toSet
    assert(got == want && got.nonEmpty)
    // cross-boundary pairs actually exercised
    assert(want.exists { case (a, b, _) => a < cut && b >= cut },
      "split must produce cross-increment pairs")
  }

  test("streaming event windows == batch windows") {
    val inDir = tempDir("graft-stream-ev")
    val ckpt = tempDir("graft-stream-evck")
    spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .write.mode("append").parquet(inDir)
    runAvailableNow(StreamingTiles.eventWindowStream(spark, inDir), "ev_win", ckpt)

    val got = spark.table("ev_win").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2)).toMap
    val want = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .withColumn("ets", col("ts").cast("timestamp"))
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want && got.nonEmpty)
  }

  test("streaming trajectory rasterization == driver path replay across " +
      "a time-split resume") {
    val inDir = tempDir("graft-stream-traj")
    val ckpt = tempDir("graft-stream-trajck")
    val outDir = tempDir("graft-stream-trajout")
    val ts = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("t"))
      .orderBy(col("t")).collect().map(_.getLong(0))
    val mid = ts(ts.length / 2)
    def dump(pred: org.apache.spark.sql.Column): Unit =
      spark.read.parquet(s"${SparkSpec.Sf}/events.parquet").where(pred)
        .coalesce(1).write.mode("append").parquet(inDir)
    def run(): Unit = {
      val q = StreamingTiles.trajRasterStream(spark, inDir).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // increment 1, then increment 2 resumed from the checkpoint: segments
    // SPANNING the split are chained by the carried last-position state
    dump(unix_micros(col("ts").cast("timestamp")) < mid)
    run()
    dump(unix_micros(col("ts").cast("timestamp")) >= mid)
    run()
    val got = spark.read.parquet(outDir)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_segs"),
        countDistinct(col("user_id")).as("n_users"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // independent driver-side truth: per-user (t, event_id)-ordered walk
    // through the SHARED position derivation + Bresenham kernel
    val evs = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val facts = evs.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      rows.sortBy(e => (e._3, e._2)).sliding(2).flatMap {
        case Array(a, b) =>
          def cellOf(eid: Long): Long = {
            val (la, lo) = graft.sources.Events.positionOf(eid)
            graft.geo.GridCell.encode(la, lo, 7)
          }
          graft.geo.GridCell.lineCells(cellOf(a._2), cellOf(b._2))
            .map(c => (uid, c))
        case _ => Seq.empty
      }
    }
    val want = facts.groupBy(_._2).map { case (cell, fs) =>
      cell -> (fs.size.toLong, fs.map(_._1).distinct.size.toLong)
    }
    assert(got == want && got.nonEmpty)
  }

  test("streaming OD-flow facts match the batch OD matrix across a " +
      "time-split resume") {
    val inDir = tempDir("graft-stream-od")
    val ckpt = tempDir("graft-stream-odck")
    val outDir = tempDir("graft-stream-odout")
    val ts = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("t"))
      .orderBy(col("t")).collect().map(_.getLong(0))
    val mid = ts(ts.length / 2)
    def dump(pred: org.apache.spark.sql.Column): Unit =
      spark.read.parquet(s"${SparkSpec.Sf}/events.parquet").where(pred)
        .coalesce(1).write.mode("append").parquet(inDir)
    def run(): Unit = {
      val q = StreamingTiles.odFlowStream(spark, inDir).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    dump(unix_micros(col("ts").cast("timestamp")) < mid)
    run()
    dump(unix_micros(col("ts").cast("timestamp")) >= mid)
    run()
    val got = spark.read.parquet(outDir)
      .groupBy("from_cell", "to_cell")
      .agg(count(lit(1)).as("n_segs"),
        countDistinct(col("user_id")).as("n_users"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // batch truth: the registered q_od_flows over the same event rows
    // (SparkSpec.Sf holds the identical events.parquet the stream read)
    val want = Queries.queryMap("q_od_flows")(spark, SparkSpec.Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == want && got.nonEmpty)
  }

  test("streaming stay-points == batch runs minus each user's open run " +
      "across a time-split resume") {
    val inDir = tempDir("graft-stream-stay")
    val ckpt = tempDir("graft-stream-stayck")
    val outDir = tempDir("graft-stream-stayout")
    val ts = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("t"))
      .orderBy(col("t")).collect().map(_.getLong(0))
    val mid = ts(ts.length / 2)
    def dump(pred: org.apache.spark.sql.Column): Unit =
      spark.read.parquet(s"${SparkSpec.Sf}/events.parquet").where(pred)
        .coalesce(1).write.mode("append").parquet(inDir)
    def run(): Unit = {
      val q = StreamingTiles.stayStream(spark, inDir).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    dump(unix_micros(col("ts").cast("timestamp")) < mid)
    run()
    dump(unix_micros(col("ts").cast("timestamp")) >= mid)
    run()
    // multiset of closed stays
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("n_events")))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    // driver truth: per-user (t, event_id)-ordered run walk, final open
    // run of each user NOT emitted — positions from the SHARED derivation
    def cellOf(eid: Long): Long = {
      val (la, lo) = graft.sources.Events.positionOf(eid)
      graft.geo.GridCell.encode(la, lo, 5)
    }
    val evs = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = evs.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val cells = rows.sortBy(e => (e._3, e._2)).map(e => cellOf(e._2))
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var cur = -1L; var n = 0L
      cells.foreach { c =>
        if (c == cur) n += 1
        else { if (n > 0) runs += ((uid, cur, n)); cur = c; n = 1 }
      }
      runs // open run intentionally dropped
    }.groupBy(identity).map { case (k, v) => k -> v.length }
    assert(got == want && got.nonEmpty)
  }

  test("streaming funnel: late-arriving earlier signup is folded exactly; " +
    "each stage emitted once") {
    val inDir = tempDir("graft-funnel-in")
    val ckpt = tempDir("graft-funnel-ck")
    val outDir = tempDir("graft-funnel-out")
    val Min = 60000000L
    val B = 1000 * Min
    def dump(events: Seq[(Long, Long, String, Long)]): Unit = {
      import spark.implicits._
      events.toDF("event_id", "tus", "event_type", "uid")
        .select(col("event_id"),
          expr("timestamp_micros(tus)").cast("timestamp_ntz").as("ts"),
          col("uid").as("user_id"), col("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    def run(): Unit = {
      val q = StreamingTiles.funnelStream(spark, inDir).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: view BEFORE any signup (must not stamp stage 2), purchase
    dump(Seq((1L, B + 20 * Min, "view", 1L), (2L, B + 30 * Min, "signup", 1L),
      (3L, B + 100 * Min, "purchase", 1L)))
    run()
    // batch 2: LATE earlier signup — the true t1; makes the +20min view
    // the true t2 (strictly after), and the purchase the true t3
    dump(Seq((4L, B + 10 * Min, "signup", 1L)))
    run()
    // fences: advance the watermark past everything (recorded at batch
    // end), then drive one more batch under it to finalize. Fence rows
    // must be FUNNEL types: the type filter is pushed below the
    // watermark collector, so a filtered type never advances event time.
    // Fencing with user 999 keeps them out of user 1's state; their own
    // events stay above the final watermark so 999 emits nothing.
    dump(Seq((5L, B + 600 * Min, "signup", 999L)))
    run()
    dump(Seq((6L, B + 601 * Min, "signup", 999L)))
    run()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage"),
        r.getAs[Long]("t_us"))).toSeq.sorted
    assert(got == Seq((1L, 1, B + 10 * Min), (1L, 2, B + 20 * Min),
      (1L, 3, B + 100 * Min)), s"funnel drifted: $got")
  }

  test("funnel state math: randomized increments == batch fold " +
    "(pure sweep, exactly-once emission)") {
    import graft.streaming.StreamingTiles.{FunnelSt, advanceFunnel}
    val rnd = new scala.util.Random(225)
    (0 until 300).foreach { trial =>
      val n = 1 + rnd.nextInt(30)
      val events = Seq.fill(n)(
        (1L + math.abs(rnd.nextLong() % 10000L), 1 + rnd.nextInt(3)))
      val nBatches = 1 + rnd.nextInt(5)
      val batches = events.groupBy(_ => rnd.nextInt(nBatches)).toSeq
        .sortBy(_._1).map(_._2)
      var st = FunnelSt(Nil, -1L, -1L, -1L, 0)
      var wm = 0L
      var admitted = List.empty[(Long, Int)]
      val emitted = scala.collection.mutable.ListBuffer
        .empty[graft.streaming.StreamingTiles.FunnelHit]
      batches.foreach { b =>
        val ok = b.filter(_._1 >= wm) // engine drops below-watermark rows
        admitted = admitted ++ ok
        val (out, st2) = advanceFunnel(7L, st, ok, wm)
        emitted ++= out
        st = st2
        if (admitted.nonEmpty)
          wm = math.max(wm,
            admitted.map(_._1).max - math.abs(rnd.nextLong() % 5000L))
      }
      // final flush: watermark past everything
      val (out, _) = advanceFunnel(7L, st, Nil, Long.MaxValue)
      emitted ++= out
      // batch truth over the admitted events
      val sorted = admitted.sorted
      val t1 = sorted.collectFirst { case (t, 1) => t }.getOrElse(-1L)
      val t2 = if (t1 < 0) -1L
        else sorted.collectFirst { case (t, 2) if t > t1 => t }.getOrElse(-1L)
      val t3 = if (t2 < 0) -1L
        else sorted.collectFirst { case (t, 3) if t > t2 => t }.getOrElse(-1L)
      val want = Seq((1, t1), (2, t2), (3, t3)).filter(_._2 >= 0)
        .map { case (s, t) => (7L, s, t) }
      val gotSeq = emitted.map(h => (h.user_id, h.stage, h.t_us)).toSeq
      assert(gotSeq.distinct == gotSeq, s"trial $trial re-emitted: $gotSeq")
      assert(gotSeq.sorted == want.sorted,
        s"trial $trial drifted: got $gotSeq want $want (admitted $sorted)")
    }
  }
}
