package graft

import org.apache.spark.sql.functions._

import graft.geo.{functions => G}
import graft.operators.Snapshot
import graft.sources.{Events, Images}

/** Driver-side independent replays for the round-5 operator batch: the
  * graph quartet (triangles, onion peel, cost distance, σ counting) against
  * textbook sequential algorithms over the SAME occupied grid; banded DTW
  * against a classic sequential DP (the shipped plan uses the within-row
  * expansion form — two different evaluation orders, one answer); SymSpell
  * against a brute Hamming-1 sweep (same-length captions: lev 1 ⟺ one
  * substitution); seam carving against a sequential DP over collected
  * grays; HRW against its defining stability property; merge-on-read
  * against its identity and composition contracts. */
class Round5OpsSpec extends SparkFunSuite {

  private def occupied6(): Map[Long, Long] =
    Images.images(spark, SparkSpec.Sf)
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def nbrs(cell: Long, occ: Set[Long]): Seq[Long] = {
    val x = (cell & 63L).toInt; val y = ((cell >> 6) & 63L).toInt
    for {
      dy <- -1 to 1; dx <- -1 to 1
      if dx != 0 || dy != 0
      ny = y + dy if ny >= 0 && ny <= 63
      nx = ((x + dx) % 64 + 64) % 64
      n = (6L << 58) | (ny.toLong << 6) | nx.toLong
      if occ.contains(n)
    } yield n
  }

  test("q_triangles matches a brute driver triangle count per cell") {
    val occ = occupied6()
    val keys = occ.keySet
    val adj: Map[Long, Seq[Long]] = keys.map(c => c -> nbrs(c, keys)).toMap
    // inner semantics (oracle-mirrored): isolated occupied cells have no
    // adjacency row, so they are absent from the degree rollup
    val want = keys.filter(c => adj(c).nonEmpty).map { c =>
      val ns = adj(c)
      val tri = (for {
        a <- ns; b <- ns if a < b
        if adj(a).contains(b)
      } yield 1).size
      c -> (ns.size.toLong, tri.toLong)
    }.toMap
    val got = Queries.queryMap("q_triangles")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (c, (deg, tri, wedges)) =>
      assert((deg, tri) == want(c), s"cell $c")
      assert(wedges == deg * (deg - 1) / 2)
    }
    assert(got.values.map(_._2).sum > 0, "fixture has triangles")
  }

  test("q_onion_layers matches a sequential peel") {
    val occ = occupied6().keySet
    var alive = occ
    val layer = scala.collection.mutable.Map.empty[Long, Int]
    for (r <- 1 to 12) {
      val next = alive.filter(c => nbrs(c, alive).size >= 6)
      (alive -- next).foreach(c => layer(c) = r)
      alive = next
    }
    alive.foreach(c => layer(c) = 13)
    val got = Queries.queryMap("q_onion_layers")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == layer.toMap)
  }

  test("q_cost_distance matches a sequential bounded Bellman-Ford") {
    val occ = occupied6()
    val keys = occ.keySet
    val w = occ.map { case (c, n) => c -> (1L + math.min(n, 3L)) }
    val src = occ.toSeq.sortBy { case (c, n) => (-n, c) }.head._1
    var dist = Map(src -> 0L)
    for (_ <- 1 to 12) {
      val cand = dist.toSeq.flatMap { case (c, d) =>
        nbrs(c, keys).map(n => n -> (d + w(n)))
      }
      dist = (dist.toSeq ++ cand).groupBy(_._1)
        .map { case (c, vs) => c -> vs.map(_._2).min }
    }
    val got = Queries.queryMap("q_cost_distance")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist)
  }

  test("q_path_counts matches a sequential BFS sigma count") {
    val occ = occupied6()
    val keys = occ.keySet
    val src = occ.toSeq.sortBy { case (c, n) => (-n, c) }.head._1
    var lab = Map(src -> (0L, 1L))
    var frontier = Map(src -> 1L)
    for (r <- 1 to 12) {
      val cand = frontier.toSeq
        .flatMap { case (c, s) => nbrs(c, keys).map(_ -> s) }
        .groupBy(_._1).map { case (c, vs) => c -> vs.map(_._2).sum }
        .filter { case (c, _) => !lab.contains(c) }
      lab ++= cand.map { case (c, s) => c -> (r.toLong, s) }
      frontier = cand
    }
    val got = Queries.queryMap("q_path_counts")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == lab)
  }

  test("q_dtw_profile matches a classic sequential banded DP") {
    val hourly = Events.withPosition(
        spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 5))
      .groupBy(col("cell"),
        (floor(unix_micros(col("ts").cast("timestamp")) / lit(3600000000L))
          % 24).cast("long").as("hour"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2))
      .toMap
    val cells = hourly.keys.map(_._1).toSet
    def parent(c: Long): Long =
      (4L << 58) | ((((c >> 5) & 31) >> 1) << 4) | ((c & 31) >> 1)
    def prof(f: Long => Boolean): (Array[Long], Long) = {
      val a = Array.fill(24)(0L)
      hourly.foreach { case ((c, h), n) => if (f(c)) a(h) += n }
      (a, a.sum)
    }
    val INF = Long.MaxValue / 4
    val want = cells.map { c =>
      val (a, ta) = prof(_ == c)
      val (b, tb) = prof(x => parent(x) == parent(c))
      // classic row-major banded DTW, sequential within-row dependency —
      // deliberately NOT the shipped expansion form
      val dp = Array.fill(24, 24)(INF)
      for (i <- 0 until 24; j <- math.max(0, i - 2) to math.min(23, i + 2)) {
        val cst = math.abs(a(i) * tb - b(j) * ta)
        dp(i)(j) =
          if (i == 0 && j == 0) cst
          else cst + Seq(
            if (i > 0) dp(i - 1)(j) else INF,
            if (i > 0 && j > 0) dp(i - 1)(j - 1) else INF,
            if (j > 0) dp(i)(j - 1) else INF).min
      }
      c -> dp(23)(23)
    }.toMap
    val got = Queries.queryMap("q_dtw_profile")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("q_symspell_pairs matches a brute Hamming-1 sweep") {
    val caps = Images.images(spark, SparkSpec.Sf)
      .select("caption").collect().map(_.getString(0))
    val hist = scala.collection.mutable.Map.empty[Int, Long]
    // same-length strings: levenshtein 1 ⟺ exactly one differing position
    for (i <- caps.indices; j <- (i + 1) until caps.length) {
      val (a, b) = (caps(i), caps(j))
      var diff = -1; var n = 0; var p = 0
      while (p < a.length && n < 2) {
        if (a.charAt(p) != b.charAt(p)) { n += 1; diff = p }
        p += 1
      }
      if (n == 1) hist(diff + 1) = hist.getOrElse(diff + 1, 0L) + 1
    }
    val got = Queries.queryMap("q_symspell_pairs")(spark, SparkSpec.Sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == hist.toMap)
    assert(got.values.sum > 0, "fixture has distance-1 pairs")
  }

  test("q_seam_carve matches a sequential DP over collected grays") {
    val grays = Images.imagesWithBytes(spark, SparkSpec.Sf)
      .where(col("k") % 37 === 0) // sampled replay; full corpus hits oracle
      .withColumn("thumb", graft.multimodal.functions.raster_resize(
        graft.multimodal.functions.raster_decode(col("bytes"), col("fmt")),
        col("w"), col("h"), lit(8), lit(8)))
      .select(col("image_id"), col("thumb"))
      .collect().map { r =>
        val t = r.getAs[Array[Byte]](1)
        r.getString(0) -> Array.tabulate(64) { p =>
          (t(3 * p) & 0xff).toLong + (t(3 * p + 1) & 0xff) +
            (t(3 * p + 2) & 0xff)
        }
      }.toMap
    val want = grays.map { case (id, g) =>
      var dp = Array.tabulate(8)(x => g(x))
      for (r <- 1 to 7) {
        dp = Array.tabulate(8) { x =>
          g(r * 8 + x) + (math.max(0, x - 1) to math.min(7, x + 1))
            .map(dp).min
        }
      }
      val best = dp.min
      id -> (best, dp.indexOf(best).toLong)
    }
    val got = Queries.queryMap("q_seam_carve")(spark, SparkSpec.Sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    want.foreach { case (id, w) => assert(got(id) == w, id) }
  }

  test("HRW: removing one worker moves only its own cells") {
    def score(cell: Long, w: Long): Long =
      ((cell % 2147483648L + w * 1000003L) * 1103515245L + 12345L) %
        2147483648L
    val cells = occupied6().keySet.toSeq
    def assign(workers: Seq[Long]): Map[Long, Long] =
      cells.map(c =>
        c -> workers.maxBy(w => (score(c, w), -w))).toMap
    val with8 = assign(0L to 7L)
    val with7 = assign((0L to 7L).filterNot(_ == 3L))
    cells.foreach { c =>
      if (with8(c) != 3L) assert(with7(c) == with8(c),
        s"cell $c moved although its worker survived")
    }
    assert(cells.exists(c => with8(c) == 3L), "worker 3 owned something")
    // and the shipped query emits exactly the argmax assignment
    val got = Queries.queryMap("q_hrw_assign")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == with8)
  }

  test("q_max_square matches a brute block-membership check") {
    val occ = occupied6().keySet
    val want = occ.toSeq.map { c =>
      val x = (c & 63L).toInt; val y = ((c >> 6) & 63L).toInt
      // brute: largest k <= 8 with the k x k block ending at (x, y) fully
      // occupied (planar x here — blocks never wrap in the run-length
      // construction since hgrp islands break at x = 0)
      val s = (1 to 8).takeWhile { k =>
        x - k + 1 >= 0 && y - k + 1 >= 0 &&
          (for { dx <- 0 until k; dy <- 0 until k } yield
            (6L << 58) | ((y - dy).toLong << 6) | (x - dx).toLong
          ).forall(occ.contains)
      }.lastOption.getOrElse(0)
      (c, s)
    }.filter(_._2 >= 1)
      .sortBy { case (c, s) => (-s, c) }.take(10)
    val got = Queries.queryMap("q_max_square")(spark, SparkSpec.Sf)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSeq
    assert(got == want)
  }

  test("q_quadtree_pack is a disjoint exact cover of the occupied set") {
    val occ7 = Images.images(spark, SparkSpec.Sf)
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    val quads = Queries.queryMap("q_quadtree_pack")(spark, SparkSpec.Sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    def leaves(res: Int, cell: Long): Seq[Long] = {
      if (res == 7) Seq(cell)
      else {
        val m = (1L << res) - 1
        val x = cell & m; val y = (cell >> res) & m
        (for { dy <- 0 to 1; dx <- 0 to 1 } yield
          ((res + 1).toLong << 58) | ((2 * y + dy) << (res + 1)) | (2 * x + dx)
        ).flatMap(c => leaves(res + 1, c))
      }
    }
    val covered = quads.flatMap { case (res, cell, n) =>
      val l = leaves(res, cell)
      assert(l.size.toLong == n, s"n_leaves of ($res, $cell)")
      l
    }
    assert(covered.length == covered.distinct.length, "overlapping quads")
    assert(covered.toSet == occ7, "cover != occupied set")
    assert(quads.exists(_._1 < 7), "fixture coalesces at least one quad")
  }

  test("q_interarrival matches a driver gap replay") {
    val ev = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val ts = rows.sortBy(r => (r._2, r._3)).map(_._2)
      val gaps = ts.sliding(2).collect { case Array(a, b) => b - a }
        .toSeq.sorted
      if (gaps.isEmpty) None
      else {
        val n = gaps.size
        Some(u -> (n.toLong, gaps((n + 1) / 2 - 1),
          gaps((9 * n + 9) / 10 - 1)))
      }
    }
    val got = Queries.queryMap("q_interarrival")(spark, SparkSpec.Sf)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want.toMap)
  }

  test("merge-on-read: identity without deletes, composition with two") {
    val root = tempDir("graft-mor-spec")
    val tiles = Images.images(spark, SparkSpec.Sf)
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 6))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .withColumn("res", lit(6))
    Snapshot.writeVersioned(tiles, root, "v1", 1L)
    val base = Snapshot.readAsOf(spark, root, "v1")
      .select("cell", "cnt").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Snapshot.readMergeOnRead(spark, root, "v1").count() ==
      base.size, "no delete files: merge-on-read == readAsOf")
    val dels1 = base.filter(_._2 <= 1).keySet
    val dels2 = base.keys.filter(c => (c & 63L) < 8L).toSet
    import spark.implicits._
    Snapshot.writeEqualityDeletes(dels1.toSeq.toDF("cell"), root, "v1", "d1")
    Snapshot.writeEqualityDeletes(dels2.toSeq.toDF("cell"), root, "v1", "d2")
    val got = Snapshot.readMergeOnRead(spark, root, "v1")
      .select("cell").collect().map(_.getLong(0)).toSet
    assert(got == base.keySet -- dels1 -- dels2)
    assert(dels1.nonEmpty && dels2.nonEmpty, "fixture deletes are real")
    Snapshot.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("q_traj_crossings matches a sequential segment-edge sweep") {
    val ev = Events.withPosition(
        spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"),
        col("lat"), col("lon"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    def orient(ax: Double, ay: Double, bx: Double, by: Double,
               cx: Double, cy: Double): Double =
      (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    val edges = graft.sources.Fixtures.polys.flatMap { p =>
      val n = p.lats.length
      (0 until n).map { i =>
        val j = (i + 1) % n
        (p.polyId, p.lons(i), p.lats(i), p.lons(j), p.lats(j))
      }
    }
    val want = scala.collection.mutable.Map
      .empty[(String, Long), (Long, Long)]
    ev.groupBy(_._1).foreach { case (u, rows) =>
      rows.sortBy(r => (r._2, r._3)).sliding(2).foreach {
        case Array(a, b) =>
          edges.groupBy(_._1).foreach { case (pid, es) =>
            val nc = es.count { case (_, ex1, ey1, ex2, ey2) =>
              orient(a._5, a._4, b._5, b._4, ex1, ey1) *
                orient(a._5, a._4, b._5, b._4, ex2, ey2) < 0 &&
              orient(ex1, ey1, ex2, ey2, a._5, a._4) *
                orient(ex1, ey1, ex2, ey2, b._5, b._4) < 0
            }
            if (nc > 0) {
              val (s0, c0) = want.getOrElse((pid, u), (0L, 0L))
              want((pid, u)) = (s0 + 1, c0 + nc)
            }
          }
        case _ =>
      }
    }
    val got = Queries.queryMap("q_traj_crossings")(spark, SparkSpec.Sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == want.toMap)
    assert(got.nonEmpty, "fixture produces crossings")
  }

  test("q_changepoint matches a driver CUSUM replay") {
    val ev = Events.withPosition(
        spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 5))
      .select(col("cell"),
        floor(unix_micros(col("ts").cast("timestamp")) /
          lit(86400000000L)).cast("long").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = ev.groupBy(_._1).flatMap { case (cell, rows) =>
      val daily = rows.groupBy(_._2).map { case (d, rs) =>
        (d, rs.size.toLong) }.toSeq.sortBy(_._1)
      val n = daily.size.toLong
      if (n < 2) None else {
        val tot = daily.map(_._2).sum
        val prefix = daily.map(_._2).scanLeft(0L)(_ + _).tail
        val best = (1 until daily.size).map { i =>
          (daily(i - 1)._1, math.abs(n * prefix(i - 1) - i.toLong * tot))
        }.sortBy { case (d, dev) => (-dev, d) }.head
        Some(cell -> (n, tot, best._1, best._2))
      }
    }.toMap
    val got = Queries.queryMap("q_changepoint")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q_hll_registers matches a driver md5 replay") {
    val ids = Images.images(spark, SparkSpec.Sf).select("image_id")
      .collect().map(_.getString(0))
    val want = ids.map { id =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val b = java.lang.Long.parseLong(h.substring(0, 2), 16)
      val v = java.lang.Long.parseLong(h.substring(2, 10), 16)
      (b, 33L - java.lang.Long.toBinaryString(v).length)
    }.groupBy(_._1).map { case (b, rs) =>
      b -> (rs.map(_._2).max, rs.size.toLong)
    }
    val got = Queries.queryMap("q_hll_registers")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    assert(got.values.exists(_._1 > 1), "some bucket saw a multi-zero hash")
  }

  test("q_flock_pairs matches a driver co-bucket replay") {
    val it = Events.withPosition(
        spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 5))
      .select(col("cell"),
        floor(unix_micros(col("ts").cast("timestamp")) /
          lit(86400000000L)).cast("long").as("day"),
        col("user_id"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairAgg = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Set[Long])]
    it.groupBy(r => (r._1, r._2)).foreach { case ((cell, _), rows) =>
      val us = rows.map(_._3).distinct.sorted
      for (i <- us.indices; j <- i + 1 until us.size) {
        val k = (us(i), us(j))
        val (n, cs) = pairAgg.getOrElse(k, (0L, Set.empty[Long]))
        pairAgg(k) = (n + 1, cs + cell)
      }
    }
    val want = pairAgg.collect { case (k, (n, cs)) if n >= 2 =>
      k -> (n, cs.size.toLong) }.toMap
    val got = Queries.queryMap("q_flock_pairs")(spark, SparkSpec.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == want)
  }

  test("q_traj_split matches a driver chord-deviation replay") {
    val ev = Events.withPosition(
        spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"),
        floor(col("lat") * 1000000).cast("long").as("qlat"),
        floor(col("lon") * 1000000).cast("long").as("qlon"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val pts = rows.sortBy(r => (r._2, r._3))
      if (pts.length < 3) None else {
        val (ax, ay) = (pts.head._5, pts.head._4)
        val (bx, by) = (pts.last._5, pts.last._4)
        val best = pts.tail.dropRight(1).map { p =>
          (p, math.abs((bx - ax) * (p._4 - ay) - (by - ay) * (p._5 - ax)))
        }.sortBy { case (p, d) => (-d, p._2, p._3) }.head
        Some(u -> (pts.length.toLong, best._1._3, best._2))
      }
    }.toMap
    val got = Queries.queryMap("q_traj_split")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q_convoy_runs matches a driver gaps-and-islands replay") {
    val it = Events.withPosition(
        spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 5))
      .select(col("cell"),
        floor(unix_micros(col("ts").cast("timestamp")) /
          lit(86400000000L)).cast("long").as("day"),
        col("user_id"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairDays = scala.collection.mutable.Map
      .empty[(Long, Long), Set[Long]]
    it.groupBy(r => (r._1, r._2)).foreach { case ((_, day), rows) =>
      val us = rows.map(_._3).distinct.sorted
      for (i <- us.indices; j <- i + 1 until us.size) {
        val k = (us(i), us(j))
        pairDays(k) = pairDays.getOrElse(k, Set.empty) + day
      }
    }
    val want = pairDays.collect { case (k, days) if days.size >= 2 =>
      val ds = days.toSeq.sorted
      var run = 1L; var best = 1L
      ds.sliding(2).foreach {
        case Seq(a, b) =>
          if (b == a + 1) { run += 1; best = math.max(best, run) }
          else run = 1
        case _ =>
      }
      k -> (days.size.toLong, best)
    }.toMap
    val got = Queries.queryMap("q_convoy_runs")(spark, SparkSpec.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == want)
  }

  test("q_bayer_dither matches a sequential halftone over collected grays") {
    val bayer = Array(
      Array(0, 8, 2, 10), Array(12, 4, 14, 6),
      Array(3, 11, 1, 9), Array(15, 7, 13, 5))
    val grays = Images.imagesWithBytes(spark, SparkSpec.Sf)
      .where(col("k") % 37 === 0) // sampled replay; full corpus hits oracle
      .withColumn("thumb", graft.multimodal.functions.raster_resize(
        graft.multimodal.functions.raster_decode(col("bytes"), col("fmt")),
        col("w"), col("h"), lit(8), lit(8)))
      .select(col("image_id"), col("thumb"))
      .collect().map { r =>
        val t = r.getAs[Array[Byte]](1)
        r.getString(0) -> Array.tabulate(64) { p =>
          (t(3 * p) & 0xff).toLong + (t(3 * p + 1) & 0xff) +
            (t(3 * p + 2) & 0xff)
        }
      }.toMap
    val want = grays.map { case (id, g) =>
      var nOn = 0L; var ck = 0L
      for (y <- 0 until 8; x <- 0 until 8) {
        if (g(y * 8 + x) * 32 > 765L * (2 * bayer(y % 4)(x % 4) + 1)) {
          nOn += 1; ck += y * 8 + x + 1
        }
      }
      id -> (nOn, ck)
    }
    val got = Queries.queryMap("q_bayer_dither")(spark, SparkSpec.Sf)
      .where(col("image_id").isin(grays.keys.toSeq: _*))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    assert(want.values.exists(v => v._1 > 0 && v._1 < 64),
      "fixture has a non-degenerate halftone")
  }

  test("q_dbscan_labels matches a brute O(n^2) driver labeling") {
    val r = 0.0001
    val pts = Images.images(spark, SparkSpec.Sf)
      .select("image_id", "lat", "lon").collect()
      .map(row => (row.getString(0), row.getDouble(1), row.getDouble(2)))
    val n = pts.length
    val deg = scala.collection.mutable.Map.empty[String, Long]
    val adj = scala.collection.mutable.Map
      .empty[String, List[String]].withDefaultValue(Nil)
    for (i <- 0 until n; j <- i + 1 until n) {
      val (ai, ay, ax) = pts(i); val (bi, by, bx) = pts(j)
      if ((ay - by) * (ay - by) + (ax - bx) * (ax - bx) <= r * r) {
        deg(ai) = deg.getOrElse(ai, 0L) + 1; deg(bi) = deg.getOrElse(bi, 0L) + 1
        adj(ai) = bi :: adj(ai); adj(bi) = ai :: adj(bi)
      }
    }
    val core = deg.collect { case (id, d) if d >= 4 => id }.toSet
    val want = pts.map { case (id, _, _) =>
      val label =
        if (core(id)) "core"
        else if (adj(id).exists(core)) "border"
        else "noise"
      id -> (deg.getOrElse(id, 0L), label)
    }.toMap
    val got = Queries.queryMap("q_dbscan_labels")(spark, SparkSpec.Sf)
      .collect().map(row => row.getString(0) ->
        (row.getLong(1), row.getString(2))).toMap
    assert(got == want)
    assert(want.values.exists(_._2 == "core") &&
      want.values.exists(_._2 == "border") &&
      want.values.exists(_._2 == "noise"), "all three labels occur")
  }

  test("q_mwu_ab matches a driver doubled-midrank replay") {
    val ev = Events.withPosition(
        spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .where(col("event_type").isin("click", "purchase"))
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 4))
      .select(col("cell"), col("event_type"),
        expr("cast(floor(value * 1000) as bigint)").as("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = ev.groupBy(_._1).flatMap { case (cell, rows) =>
      val na = rows.count(_._2 == "click").toLong
      val nb = rows.size - na
      if (na == 0 || nb == 0) None else {
        val sorted = rows.map(_._3).sorted
        def r2Of(v: Long): Long = {
          val less = sorted.count(_ < v).toLong
          val eq = sorted.count(_ == v).toLong
          2 * (less + 1) + eq - 1
        }
        val r2a = rows.filter(_._2 == "click").map(r => r2Of(r._3)).sum
        val u2a = r2a - na * (na + 1)
        Some(cell -> (na, nb, u2a, u2a > na * nb))
      }
    }.toMap
    val got = Queries.queryMap("q_mwu_ab")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q_ks_test matches a brute sup-distance replay") {
    val ev = Events.withPosition(
        spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .where(col("event_type").isin("click", "purchase"))
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 4))
      .select(col("cell"), col("event_type"),
        expr("cast(floor(value * 1000) as bigint)").as("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = ev.groupBy(_._1).flatMap { case (cell, rows) =>
      val a = rows.filter(_._2 == "click").map(_._3)
      val b = rows.filter(_._2 == "purchase").map(_._3)
      if (a.isEmpty || b.isEmpty) None else {
        val cands = rows.map(_._3).distinct.sorted.map { v =>
          (v, math.abs(b.length.toLong * a.count(_ <= v) -
            a.length.toLong * b.count(_ <= v)))
        }
        val best = cands.sortBy { case (v, d) => (-d, v) }.head
        Some(cell -> (a.length.toLong, b.length.toLong, best._1, best._2))
      }
    }.toMap
    val got = Queries.queryMap("q_ks_test")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q_rfm_segments matches a driver quartile replay") {
    val ev = spark.read.parquet(s"${SparkSpec.Sf}/events.parquet")
      .select(col("user_id"),
        floor(unix_micros(col("ts").cast("timestamp")) /
          lit(86400000000L)).cast("long").as("day"),
        expr("cast(floor(value * 1000) as bigint)").as("mv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val um = ev.groupBy(_._1).map { case (u, rows) =>
      (u, rows.map(_._2).max, rows.size.toLong, rows.map(_._3).sum)
    }.toSeq
    val n = um.size.toLong
    def bounds(xs: Seq[Long]): Seq[Long] = {
      val sorted = xs.sorted
      (1 to 3).map { k =>
        val target = ((k * n + 3) / 4).toInt
        sorted(target - 1) // min x with inclusive cum >= target
      }
    }
    val (bR, bF, bM) =
      (bounds(um.map(_._2)), bounds(um.map(_._3)), bounds(um.map(_._4)))
    def bkt(x: Long, bs: Seq[Long]): Long = 1L + bs.count(x > _)
    val want = um.map { case (u, r, f, m) =>
      u -> (r, f, m, bkt(r, bR), bkt(f, bF), bkt(m, bM))
    }.toMap
    val got = Queries.queryMap("q_rfm_segments")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got == want)
    assert(got.values.map(_._6).toSet.size > 1, "monetary buckets differentiate")
  }

  test("q_outlier_mad matches a driver nested-median replay") {
    val ev = Events.withPosition(
        spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 4))
      .select(col("cell"), expr("cast(floor(value * 1000) as bigint)").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = ev.groupBy(_._1).map { case (cell, rows) =>
      val vs = rows.map(_._2).sorted
      val n = vs.length
      val med = vs((n + 1) / 2 - 1)
      val devs = vs.map(v => math.abs(v - med)).sorted
      val mad = devs((n + 1) / 2 - 1)
      cell -> (n.toLong, med, mad,
        vs.count(v => math.abs(v - med) > 3 * mad).toLong)
    }
    val got = Queries.queryMap("q_outlier_mad")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
    assert(got.values.exists(_._4 > 0), "fixture has MAD outliers")
  }

  test("q_lacunarity matches a brute gliding-box replay") {
    val occ = Images.images(spark, SparkSpec.Sf)
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val grid = occ.map { case (c, m) =>
      ((c & 127L).toInt, ((c >> 7) & 127L).toInt) -> m
    }.toMap
    val want = Seq(1, 2, 4).map { r =>
      var nOcc = 0L; var sm = 0L; var smm = 0L
      for (oy <- 0 to 128 - r; ox <- 0 until 128) {
        var m = 0L
        for (dy <- 0 until r; dx <- 0 until r)
          m += grid.getOrElse(((ox + dx) % 128, oy + dy), 0L)
        if (m > 0) { nOcc += 1; sm += m; smm += m * m }
      }
      r -> (128L * (129L - r), nOcc, sm, smm)
    }.toMap
    val got = Queries.queryMap("q_lacunarity")(spark, SparkSpec.Sf)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
  }

  test("q_abc_tiering matches a driver Pareto replay and partitions by mass") {
    val occ = Images.images(spark, SparkSpec.Sf)
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), 7))
      .groupBy("cell").agg(count(lit(1)).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val tot = occ.map(_._2).sum
    def cumAbove(m: Long): Long = occ.filter(_._2 >= m).map(_._2).sum
    val want = occ.map { case (c, m) =>
      val ca = cumAbove(m)
      val cls = if (ca * 5 <= tot * 4) "A"
        else if (ca * 20 <= tot * 19) "B" else "C"
      c -> (m, cls)
    }.toMap
    val got = Queries.queryMap("q_abc_tiering")(spark, SparkSpec.Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got == want)
    // sf0.001's planted hot cell jumps the 80->95% band in one step, so
    // only A and C occur here; all three classes appear at sf0.01 (oracle)
    assert(got.values.map(_._2).toSet.size >= 2)
  }

  test("q_hll_merge: merging disjoint half-sketches equals the one-pass table") {
    def canon(n: String) = Queries.queryMap(n)(spark, SparkSpec.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(canon("q_hll_merge") == canon("q_hll_registers"))
  }
}
