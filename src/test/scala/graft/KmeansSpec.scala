package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.agg.E18
import graft.operators.KmeansAssign
import graft.sources.Images

/** Learned-assignment tiling: the distributed Lloyd loop vs a plain
  * driver-side recomputation with the same seeding, quantized means, and
  * argmin tie-break — assignments and centroids must match exactly
  * (also DuckDB-oracle-proven by q_kmeans_assign). */
class KmeansSpec extends SparkFunSuite {

  private val K = 5
  private val Iters = 3

  private def anchors: Array[(String, Double, Double)] =
    Images.images(spark, SparkSpec.Sf)
      .select(col("image_id"), col("lat"), col("lon"), md5(col("image_id")).as("m"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
      .sortBy(r => (r._4, r._1))
      .map(r => (r._1, r._2, r._3))

  /** Driver-side Lloyd with the operator's exact integer-lattice
    * arithmetic: quantize once to micro-degrees, floorDiv centroid means,
    * pure-Long squared distances. */
  private def q(x: Double): Long = math.floor(x * 1000000).toLong

  /** The exact sum behind the (hi, lo) BIGINT halves at columns i, i + 1. */
  private def e18(r: Row, i: Int): BigInt =
    BigInt(r.getLong(i)) * E18.Base + r.getLong(i + 1)

  private def lloyd(pts: Array[(String, Double, Double)], k: Int = K,
                    iters: Int = Iters)
      : (Seq[KmeansAssign.Centroid], Map[String, Int]) = {
    val qpts = pts.map { case (id, la, lo) => (id, q(la), q(lo)) }
    var cents = qpts.take(k).zipWithIndex
      .map { case ((_, la, lo), i) => KmeansAssign.Centroid(i + 1, la, lo) }.toSeq
    def nearest(qla: Long, qlo: Long): Int = {
      val ds = cents.sortBy(_.cid).map(c =>
        (qla - c.clat) * (qla - c.clat) + (qlo - c.clon) * (qlo - c.clon))
      ds.indexOf(ds.min) + 1 // first occurrence = smallest cid on ties
    }
    (1 to iters).foreach { _ =>
      val groups = qpts.groupBy { case (_, la, lo) => nearest(la, lo) }
      cents = cents.map { c =>
        groups.get(c.cid) match {
          case Some(ms) =>
            val n = ms.length.toLong
            KmeansAssign.Centroid(c.cid,
              Math.floorDiv(ms.map(_._2).sum, n),
              Math.floorDiv(ms.map(_._3).sum, n))
          case None => c
        }
      }
    }
    (cents, qpts.map { case (id, la, lo) => id -> nearest(la, lo) }.toMap)
  }

  test("distributed Lloyd == driver-side recomputation (centroids + assignment)") {
    val pts = anchors
    val (wantCents, wantAssign) = lloyd(pts)
    val imgs = Images.images(spark, SparkSpec.Sf)
    val gotCents = KmeansAssign.fit(imgs, K, Iters)
    assert(gotCents.sortBy(_.cid) == wantCents.sortBy(_.cid))
    val gotAssign = KmeansAssign.assign(imgs, K, Iters).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(gotAssign == wantAssign)
    // a real partition: more than one cluster in use
    assert(gotAssign.values.toSet.size > 1)
  }

  test("BIC sweep: one row per k, exact SSE, argmin flagged once") {
    val imgs = Images.images(spark, SparkSpec.Sf)
    val ks = Seq(1, 2, 3)
    val swept = KmeansAssign.sweepScored(imgs, ks, Iters)
    val rows = KmeansAssign.bicSweep(imgs, swept).collect()
      .map(r => (r.getInt(0), r.getLong(1), e18(r, 2), r.getInt(4)))
      .sortBy(_._1)
    // the self-sweeping entry point emits the same table
    assert(KmeansAssign.bicSweep(imgs, ks, Iters).collect()
      .map(r => (r.getInt(0), r.getLong(1), e18(r, 2), r.getInt(4)))
      .sortBy(_._1).toSeq == rows.toSeq)
    assert(rows.map(_._1).toSeq == ks)
    val n = anchors.length.toLong
    assert(rows.forall(_._2 == n))
    // the internal per-candidate scores (the BIC double is deliberately
    // absent from bicSweep's output — transcendental doubles don't
    // hash-compare cross-engine; see bicSweep scaladoc)
    val (_, scored) = swept
    val bicByK = scored.map(s => s.k -> s.bic).toMap
    // exact SSE recomputation per k with the operator's arithmetic,
    // against the SAME driver-side Lloyd used by the fixed-k parity test
    val pts = anchors
    ks.zip(rows).foreach { case (k, (_, _, gotSse, _)) =>
      val (cents, _) = lloyd(pts, k)
      val wantSse = pts.map { case (_, la, lo) =>
        val (qla, qlo) = (q(la), q(lo))
        BigInt(cents.map(c =>
          (qla - c.clat) * (qla - c.clat) + (qlo - c.clon) * (qlo - c.clon)).min)
      }.sum
      assert(gotSse == wantSse, s"SSE mismatch at k=$k")
      val nD = n.toDouble
      val wantBic = nD * math.log(wantSse.toDouble / 1.0e12 / nD + 1.0e-12) +
        k * 2.0 * math.log(nD)
      assert(bicByK(k) == wantBic, s"BIC mismatch at k=$k")
    }
    // exactly one best row, and it is the (bic, k)-argmin
    assert(rows.count(_._4 == 1) == 1)
    val argminK = ks.minBy(k => (bicByK(k), k))
    assert(rows.find(_._1 == argminK).get._4 == 1)
  }

  test("assignAuto labels under the argmin-BIC model") {
    val imgs = Images.images(spark, SparkSpec.Sf)
    val ks = Seq(1, 2, 3)
    val swept = KmeansAssign.sweepScored(imgs, ks, Iters)
    val sweep = KmeansAssign.bicSweep(imgs, swept).collect()
      .map(r => (r.getInt(0), r.getInt(4)))
    val bestK = sweep.find(_._2 == 1).get._1
    val auto = KmeansAssign.assignAuto(imgs, ks, Iters)
    val got = auto.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(got.forall(_._3 == bestK))
    // labelling from the sweep already run gives the same rows
    assert(KmeansAssign.assignAuto(imgs, swept).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet == got.toSet)
    // labels equal a direct fixed-k fit at the winning k
    val want = KmeansAssign.assign(imgs, bestK, Iters).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got.map(t => t._1 -> t._2).toMap == want)
  }

  test("assignment is a true argmin under the final centroids") {
    val imgs = Images.images(spark, SparkSpec.Sf)
    val cents = KmeansAssign.fit(imgs, K, Iters)
    val rows = KmeansAssign.assign(imgs, K, Iters)
      .join(imgs.select(col("image_id"), col("lat"), col("lon")), "image_id")
      .collect()
    rows.foreach { r =>
      val (la, lo) = (q(r.getDouble(2)), q(r.getDouble(3)))
      val best = cents.map(c =>
        (la - c.clat) * (la - c.clat) + (lo - c.clon) * (lo - c.clon)).min
      val own = cents.find(_.cid == r.getInt(1)).get
      val d = (la - own.clat) * (la - own.clat) + (lo - own.clon) * (lo - own.clon)
      assert(d == best, s"${r.getString(0)} not assigned to its nearest centroid")
    }
  }

  test("silhouette factors match a driver-side brute recomputation") {
    val imgs = Images.images(spark, SparkSpec.Sf)
    val cents = KmeansAssign.fit(imgs, K, Iters)
    // brute: per point, own = argmin (ties to smallest cid), a2 = min,
    // b2 = second-smallest distance value
    val brute = imgs.select(col("lat"), col("lon")).collect().map { r =>
      val (la, lo) = (q(r.getDouble(0)), q(r.getDouble(1)))
      val ds = cents.sortBy(_.cid).map(c =>
        (la - c.clat) * (la - c.clat) + (lo - c.clon) * (lo - c.clon))
      val sorted = ds.sorted
      val own = ds.indexOf(sorted.head) + 1 // first argmin, 1-based cid
      (own, sorted(0), sorted(1))
    }
    val expected = brute.groupBy(_._1).map { case (cid, g) =>
      cid -> (g.length.toLong, g.map(t => BigInt(t._2)).sum,
        g.map(t => BigInt(t._3)).sum)
    }
    val rows = KmeansAssign.silhouette(imgs, K, Iters).collect()
    assert(rows.map(_.getInt(0)).toSet == expected.keySet)
    rows.foreach { r =>
      val (n, sa2, sb2) = expected(r.getInt(0))
      assert(r.getLong(1) == n)
      assert(e18(r, 2) == sa2)
      assert(e18(r, 4) == sb2)
      assert(sa2 <= sb2) // a2 <= b2 pointwise, so the sums order too
      val label = if (sb2 > sa2) "cohesive" else "overlapping"
      assert(r.getString(6) == label)
    }
  }
}
