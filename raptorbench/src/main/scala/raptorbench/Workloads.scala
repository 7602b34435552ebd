package raptorbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.{functions => G}
import graft.operators.{Snapshot, SpatialJoin, TilePyramid}
import graft.sources.{Fixtures, Images}

/** Seeded inputs. Rows are keys `k = id * Stride + offset` passed through
  * the engine's own `Images.withDerived`; the seed picks the offset, so it
  * changes which rows exist but never how many. Stride is coprime to 20,
  * so the planted hot cell (`k % 20 == 0`) holds exactly 5% of the rows
  * whenever the row count is a multiple of 20. */
object Inputs {
  val Stride = 7919L
  val Cols: Seq[String] = Seq("image_id", "lat", "lon", "w", "h", "phash")

  def offset(seed: Long): Long = new Random(seed).nextInt(1 << 20).toLong

  def images(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    require(rows % 20 == 0, s"row count $rows is not a multiple of 20")
    Images.withDerived(spark.range(rows)
      .select((col("id") * Stride + offset(seed)).as("k")))
      .select(Cols.map(col): _*)
  }

  /** Write the seeded table as `files` parquet files and read it back. */
  def materialize(spark: SparkSession, rows: Long, seed: Long, path: String,
                  files: Int): DataFrame = {
    images(spark, rows, seed).repartition(files)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Rows, rows in the fullest res-8 cell, and the sum over res-8 cells of
    * occ(cell) times the rows in its ring-1 neighbourhood: the candidate
    * count of a ring-1 self-join. */
  def cellProperties(imgs: DataFrame): Map[String, Double] = {
    val cells = imgs.select(G.cell_encode(col("lat"), col("lon"), 8).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("occ")).cache()
    val top = cells.agg(sum(col("occ")), max(col("occ"))).head()
    val occ2 = cells.select(col("occ").as("occ0"),
        explode(G.cell_ring(col("cell"), lit(1))).as("cell"))
      .join(cells, "cell")
      .agg(sum(col("occ0") * col("occ"))).head().getLong(0)
    cells.unpersist()
    Map("input_rows" -> top.getLong(0).toDouble,
      "hot_cell_rows" -> top.getLong(1).toDouble,
      "ring1_occ2" -> occ2.toDouble)
  }

  /** Cells per pyramid level, as the snapshot manifest records them. */
  def levelCells(manifest: Map[Int, Long]): Map[String, Double] =
    manifest.map { case (res, n) => s"cells_res$res" -> n.toDouble } +
      ("pyramid_cells" -> manifest.values.sum.toDouble)

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** (files, bytes) under `path`, ignoring hidden and marker files. */
  def du(path: String): (Long, Long) = {
    val files = Files.walk(Paths.get(path)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filterNot { f: Path =>
        val n = f.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }.toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }
}

/** One benchmark workload. `setup` makes its inputs and stores from the
  * seed alone, so every call makes the same ones; the last call's state is
  * what the operations use. `run` is one timed operation
  * and calls each layer through the tracer; `verify` checks its result
  * outside the timed region. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  type Result

  /** Input rows one operation covers, the base of `rows_per_s`. */
  def rowsPerOp: Long

  def setup(dir: String): Unit

  /** Timed set-ups per run after warm-up, each into an empty directory;
    * `setup_s` is their median. The first, cold set-up (class loading,
    * the first Spark jobs) is only recorded. */
  def setupReps: Int

  /** Untimed operations before timing starts. A fresh JVM keeps speeding
    * operations up while the planner and the generated code reach the
    * JIT's top tier; a fixed count, not a fixed time, leaves every run at
    * the same point of that curve whatever the host's speed. */
  def warmOps: Int

  /** Untimed work before warm-up, such as computing reference answers. */
  def prepare(): Unit = ()

  /** Untimed state reset before every operation. */
  def reset(): Unit = spark.catalog.clearCache()

  def run(i: Int, tr: Tracer): Result

  def verify(i: Int, r: Result): Boolean

  /** Layer calls that belong to no operation (traced runs only). */
  def sideLayers(tr: Tracer): Unit = ()

  /** Input properties and layer counts, reported by traced runs. */
  def properties(): Map[String, Double]

  /** Name of the operation, used for its span. */
  def opName: String
}

/** Bulk tile assignment and point-in-polygon join over a materialized
  * table: the headline job of `graft.Bench`. */
final class TileWorkload(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  type Result = (Long, Long)
  val Rows = 1200000L
  val AssignRes = 8
  private val polys = Fixtures.benchPolys(64)
  private var imgs: DataFrame = _

  def rowsPerOp: Long = 2 * Rows
  def setupReps: Int = 5
  def warmOps: Int = 16
  def opName: String = "tile"

  def setup(dir: String): Unit =
    imgs = Inputs.materialize(spark, Rows, seed, s"$dir/images", 8)

  private def assign(df: DataFrame): DataFrame =
    df.withColumn("cell", G.cell_encode(col("lat"), col("lon"), AssignRes))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"),
        sum((col("w") * col("h") * 3).cast("long")).as("bytes_sum"),
        min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"),
        min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"))

  def run(i: Int, tr: Tracer): (Long, Long) = {
    val cells = tr.layer("assign")(assign(imgs).count())
    val pairs = tr.layer("pip")(SpatialJoin.pipJoin(imgs, spark, polys).count())
    (cells, pairs)
  }

  private def brute(df: DataFrame): DataFrame =
    df.select(col("image_id"), col("lat"), col("lon"))
      .crossJoin(broadcast(SpatialJoin.polyDf(spark, polys)))
      .filter(G.point_in_poly_refine(col("lat"), col("lon"), col("lats"), col("lons")))
      .select(col("poly_id"), col("image_id"))

  /** Reference answers, once the rollup's counts sum to the table's rows
    * and a seeded tenth of the table has matched the brute cross join row
    * for row: every operation must then return the same cells and pairs. */
  private lazy val expected: Option[(Long, Long)] = {
    val rollup = assign(imgs).agg(count(lit(1)), sum(col("cnt"))).head()
    val sample = imgs.filter(
      pmod(xxhash64(col("image_id"), lit(seed)), lit(10L)) === 0)
    val sampleOk = RowHash.of(SpatialJoin.pipJoin(sample, spark, polys).collect()) ==
      RowHash.of(brute(sample).collect())
    if (rollup.getLong(1) == Rows && sampleOk)
      Some((rollup.getLong(0), SpatialJoin.pipJoin(imgs, spark, polys).count()))
    else None
  }

  def verify(i: Int, r: (Long, Long)): Boolean = expected.contains(r)

  override def prepare(): Unit = expected

  override def sideLayers(tr: Tracer): Unit =
    tr.layer("scan")(imgs.agg(sum(col("w"))).head())

  def properties(): Map[String, Double] = {
    val pts = imgs.select(col("lat"), col("lon"))
      .withColumn("cell", G.cell_encode(col("lat"), col("lon"), SpatialJoin.CoverRes))
    val candidates = pts.join(SpatialJoin.coverIndex(spark, polys, SpatialJoin.CoverRes),
      "cell").count()
    val emitted = expected.map(_._2).getOrElse(0L)
    Inputs.cellProperties(imgs) ++ Map(
      "pip_candidates" -> candidates.toDouble,
      "pip_emitted" -> emitted.toDouble)
  }
}

/** RAPTOR's build-and-save: the tile pyramid of a small table, written as
  * a snapshot into a directory emptied before each build (untimed). The
  * path is bound by plans, stages and the write, not by rows. */
final class BuildWorkload(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  type Result = (Map[Int, Long], Map[Int, Long])
  val Rows = 4000L
  val MinRes = 11
  val MaxRes = 12
  private var imgs: DataFrame = _
  private var root: String = _
  private var manifest = Map.empty[Int, Long]

  def rowsPerOp: Long = Rows
  def setupReps: Int = 9
  def warmOps: Int = 18
  def opName: String = "build"

  def setup(dir: String): Unit = {
    imgs = Inputs.materialize(spark, Rows, seed, s"$dir/images", 2)
    root = s"$dir/snapshot"
  }

  override def reset(): Unit = {
    super.reset()
    Inputs.deleteTree(root)
    new File(root).mkdirs()
  }

  def run(i: Int, tr: Tracer): Result = {
    val (pyramid, counts) = tr.layer("pyramid")(TilePyramid.build(imgs, MinRes, MaxRes))
    val written = tr.layer("snapshot.write")(
      Snapshot.write(pyramid, root, s"b$i", i.toLong))
    manifest = written
    (counts, written)
  }

  /** The manifest holds the build's own level counts, and every level read
    * back sums to the input rows. */
  def verify(i: Int, r: Result): Boolean = {
    val (counts, written) = r
    val back = Snapshot.read(spark, root).groupBy(col("res"))
      .agg(sum(col("cnt"))).collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    counts == written && back.keySet == (MinRes to MaxRes).toSet &&
      back.values.forall(_ == Rows)
  }

  def properties(): Map[String, Double] = {
    val (files, bytes) = Inputs.du(s"$root/tiles")
    Inputs.cellProperties(imgs) ++ Inputs.levelCells(manifest) ++ Map(
      "snapshot_files" -> files.toDouble,
      "snapshot_mb" -> bytes / 1e6)
  }
}
