package graft

import org.apache.spark.sql.functions._

import graft.operators.Knn
import graft.sources.Images

/** Settle-loop scale sanity: the join-based settle (no collect()'d id sets,
  * no literal isin) must handle a 5k-row query table with O(1) plan size,
  * and stay exact — spot-checked against a driver-side brute force. */
class KnnScaleSpec extends SparkFunSuite {

  private val NQ = 5000
  private val K = 5

  /** 5k uniform query anchors from the fixture LCG (qid, qlat, qlon). */
  private def bigQueries = {
    val M = 2147483648L
    spark.range(NQ)
      .select(col("id").cast("int").as("qid"))
      .withColumn("qh1", (col("qid") * 2654435761L + 1013904223L) % M)
      .withColumn("qh2", (col("qh1") * 1103515245L + 12345L) % M)
      .select(col("qid"),
        (lit(-60.0) + (lit(120.0) * col("qh1").cast("double")) / 2147483648.0).as("qlat"),
        (lit(-180.0) + (lit(360.0) * col("qh2").cast("double")) / 2147483648.0).as("qlon"))
  }

  test("5k-query kNN completes with full coverage and exact spot-checks") {
    val imgs = Images.images(spark, SparkSpec.Sf)
    val got = Knn.knnExact(imgs, bigQueries, K, res = 6)
      .select(col("qid"), col("image_id"), col("dist_sq"), col("rnk"))
      .collect()
    assert(got.length == NQ * K, s"expected ${NQ * K} rows, got ${got.length}")

    // brute-force spot check on a deterministic sample of qids
    val pts = imgs.select(col("image_id"), col("lat"), col("lon")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val qs = bigQueries.filter(col("qid") % 487 === 0).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    val byQid = got.groupBy(_.getInt(0))
    qs.foreach { case (qid, qlat, qlon) =>
      val want = pts.map { case (id, la, lo) =>
        (id, (la - qlat) * (la - qlat) + (lo - qlon) * (lo - qlon))
      }.sortBy { case (id, d) => (d, id) }.take(K)
      val g = byQid(qid).sortBy(_.getInt(3))
      want.zip(g).foreach { case ((id, d), row) =>
        assert(row.getString(1) == id && row.getDouble(2) == d,
          s"qid=$qid mismatch")
      }
    }
  }

  test("reverse kNN is an exact inversion of the ranked set") {
    val shared = Queries.knnRanked(spark, SparkSpec.Sf)
    // one derivation per (session, dir): a second read is the same frame
    assert(Queries.knnRanked(spark, SparkSpec.Sf) eq shared)
    val ranked = shared.collect()
    val got = Queries.queryMap("q_reverse_knn")(spark, SparkSpec.Sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2).toLong, r.getDouble(3)))
      .toMap
    val want = ranked.groupBy(_.getAs[String]("image_id")).map {
      case (id, rows) => id -> (
        rows.length.toLong,
        rows.map(_.getAs[Int]("rnk").toLong).min,
        rows.map(_.getAs[Double]("dist_sq")).min)
    }
    assert(got === want)
    // influence sizes sum back to the ranked-set cardinality
    assert(got.values.map(_._1).sum == ranked.length)
  }
}
