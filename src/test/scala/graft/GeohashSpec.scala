package graft

import org.apache.spark.sql.functions._

import graft.agg.E18
import graft.geo.Geohash
import graft.sources.{Fixtures, Images}

/** Invariants of the integer-lattice geohash ([[Geohash]]) and the
  * nearest-vertex map-match snap (q_map_match):
  *
  *  1. bisection equivalence — for every corpus point, the kernel equals an
  *     independent textbook bisection encoder run on the SAME lattice point
  *     (the spec's encoder subdivides ranges; the kernel floor-divides —
  *     two different algorithms, one answer);
  *  2. known-value pin — the classic geohash test vector;
  *  3. exact prefix nesting across precisions (what makes the substring
  *     rollup a true spatial coarsening);
  *  4. map-match argmin + tie-break replayed driver-side over the corpus.
  */
class GeohashSpec extends SparkFunSuite {

  /** Textbook geohash: alternating-bit range bisection over the lattice
    * point (micro-degrees back to degrees) — deliberately NOT the kernel's
    * floor-division form. Operates on exact rational bounds scaled to
    * micro-degrees times 2^b to stay integer (no double drift). */
  private def bisect(latMicro: Long, lonMicro: Long, prec: Int): String = {
    val bits = prec * 5
    val lonBits = (bits + 1) / 2; val latBits = bits / 2
    // Scale each axis by 2^axisBits: the axis is halved exactly axisBits
    // times, so every midpoint stays an exact integer (dyadic bisection —
    // no floored-midpoint drift). Max magnitude 360e6 * 2^30 < 2^63.
    var lonLo = -180000000L << lonBits; var lonHi = 180000000L << lonBits
    var latLo = -90000000L << latBits; var latHi = 90000000L << latBits
    val plon = lonMicro << lonBits; val plat = latMicro << latBits
    var v = 0L
    var i = 0
    while (i < bits) {
      if ((i & 1) == 0) {
        val mid = (lonLo + lonHi) >> 1
        if (plon >= mid) { v = (v << 1) | 1L; lonLo = mid }
        else { v = v << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) >> 1
        if (plat >= mid) { v = (v << 1) | 1L; latLo = mid }
        else { v = v << 1; latHi = mid }
      }
      i += 1
    }
    (0 until prec).map { g =>
      Geohash.Alphabet.charAt(((v >> ((prec - 1 - g) * 5)) & 31L).toInt)
    }.mkString
  }

  private lazy val pts: Array[(Double, Double)] =
    Images.images(spark, SparkSpec.Sf).select(col("lat"), col("lon"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))

  test("geohash: kernel == independent bisection on the lattice point") {
    for ((lat, lon) <- pts; prec <- Seq(1, 4, 6, 9, 12)) {
      val la = math.floor(lat * 1000000.0).toLong
      val lo = math.floor(lon * 1000000.0).toLong
      assert(Geohash.encode(lat, lon, prec) === bisect(la, lo, prec),
        s"($lat, $lon) prec=$prec")
    }
  }

  test("geohash: classic known vector") {
    // Niemeyer's example point; far from any micro-degree cell wall.
    assert(Geohash.encode(57.64911, 10.40744, 6) === "u4pruy")
    assert(Geohash.encode(57.64911, 10.40744, 11) === "u4pruydqqvj")
  }

  test("geohash: exact prefix nesting") {
    for ((lat, lon) <- pts.take(2000)) {
      val full = Geohash.encode(lat, lon, 12)
      for (p <- 1 to 11)
        assert(Geohash.encode(lat, lon, p) === full.take(p))
    }
  }

  test("map-match: snap argmin and tie-break replayed driver-side") {
    val verts = Fixtures.routeVertices
    val got = SparkEntry.queries("q_map_match")(spark, SparkSpec.Sf)
      .collect().map(r => (r.getInt(0),
        (r.getLong(1), r.getLong(2),
          (BigInt(r.getLong(3)) * E18.Base + r.getLong(4)).bigInteger)))
      .toMap
    val ev = graft.sources.Events
      .withPosition(spark.read.parquet(s"${SparkSpec.Sf}/events.parquet"))
      .select(col("lat"), col("lon")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val truth = ev.map { case (lat, lon) =>
      val qlat = math.floor(lat * 1000000.0).toLong
      val qlon = math.floor(lon * 1000000.0).toLong
      verts.map { case (vid, vlat, vlon) =>
        val d2 = (qlat - vlat) * (qlat - vlat) + (qlon - vlon) * (qlon - vlon)
        (d2, vid)
      }.min
    }.groupBy(_._2).map { case (vid, snaps) =>
      vid -> (snaps.length.toLong, snaps.map(_._1).min,
        snaps.map(s => BigInt(s._1)).sum.bigInteger)
    }
    assert(got.keySet === truth.keySet)
    for ((vid, t) <- truth) assert(got(vid) === t, s"vid=$vid")
  }
}
