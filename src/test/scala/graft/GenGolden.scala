package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.geo.QuadkeyTiling
import graft.operators.{KmeansAssign, Knn, MosaicPyramid, Snapshot,
  SpatialJoin, TilePyramid}
import graft.sources.Images

/** Regenerates the committed golden fixtures: golden_tiny.txt (images_tiny
  * res-7 tiles, then its pip pairs) and plan_signatures.txt (one
  * [[PlanSignature]] line per registry query, then the named operator
  * lines). GoldenSpec and SignatureSpec check the same lines, so generator
  * and checker share one renderer. Run: `sbt "Test/runMain graft.GenGolden"`. */
object GenGolden {
  def tileLines(spark: SparkSession): Seq[String] =
    TilePyramid.leafTiles(Images.imagesTiny(spark), 7)
      .select("cell", "cnt", "bytes_sum", "phash_centroid")
      .orderBy("cell").collect().toSeq
      .map(r => s"GOLD|${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}|${r.getLong(3)}")

  def pipLines(spark: SparkSession): Seq[String] =
    SpatialJoin.pipJoin(Images.imagesTiny(spark), spark)
      .orderBy("poly_id", "image_id").collect().toSeq
      .map(r => s"GOLDP|${r.getString(0)}|${r.getString(1)}")

  def signatureLine(name: String, sig: PlanSignature): String =
    s"$name | ${sig.line}"

  /** One line per registry query, in registry order. */
  def queryLines: Seq[String] =
    SparkSpec.shippedQueries.map(s => signatureLine(s.name, s.sig))

  /** The lazy operator plans that registry queries hide behind a checkpoint
    * (they plan there as an ExistingRDD scan), each signed under its call.
    * `scratch` is an empty directory for the base pyramid the merge reads. */
  def operatorSigs(spark: SparkSession,
                   scratch: String): Seq[(String, PlanSignature)] = {
    def imgs = Images.images(spark, SparkSpec.Sf)
    def slim = imgs.select("lat", "lon", "w", "h", "phash")
    Seq[(String, () => DataFrame)](
      "Knn.selfJoinPlan(imgs, 3, 8, 4096, 32)" ->
        (() => Knn.selfJoinPlan(imgs, 3, 8, 4096, 32)),
      "Snapshot.mergePlan(base 2..8, leafTiles(slim, 8), 8, 5)" -> { () =>
        Snapshot.write(TilePyramid.pyramidLazy(slim, 2, 8), scratch, "base", 1L)
        Snapshot.mergePlan(Snapshot.read(spark, scratch),
          TilePyramid.leafTiles(slim, 8), 8, 5, QuadkeyTiling)
      },
      "TilePyramid.pyramidLazy(imgs, 4, 12)" ->
        (() => TilePyramid.pyramidLazy(imgs, 4, 12)),
      "MosaicPyramid.levelAt(imagesWithBytes, 9, 5)" -> (() =>
        MosaicPyramid.levelAt(Images.imagesWithBytes(spark, SparkSpec.Sf), 9, 5)),
      "KmeansAssign.assign(imgs, 4, 1)" -> (() => KmeansAssign.assign(imgs, 4, 1))
    ).map { case (name, build) => name -> PlanSignature.fresh(spark)(build())._2 }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.spark
    val res = Paths.get("src/test/resources")
    Files.writeString(res.resolve("golden_tiny.txt"),
      (tileLines(spark) ++ pipLines(spark)).map(_ + "\n").mkString)
    val scratch = Files.createTempDirectory("graft-gen-golden")
    try Files.writeString(res.resolve("plan_signatures.txt"),
      (queryLines ++ operatorSigs(spark, scratch.toString)
        .map((signatureLine _).tupled)).map(_ + "\n").mkString)
    finally Snapshot.deleteRecursively(scratch)
    spark.stop()
  }
}
