package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.operators.{SpatialJoin, TilePyramid}
import graft.sources.Images

/** Regenerates the committed golden fixture (images_tiny res-7 tiles, then
  * its pip pairs). GoldenSpec checks the same lines, so generator and
  * checker share one renderer. Run: `sbt "Test/runMain graft.GenGolden"`. */
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

  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.spark
    Files.writeString(Paths.get("src/test/resources/golden_tiny.txt"),
      (tileLines(spark) ++ pipLines(spark)).map(_ + "\n").mkString)
    spark.stop()
  }
}
