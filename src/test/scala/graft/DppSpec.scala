package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.{Snapshot, TilePyramid}
import graft.sources.Images

/** Dynamic partition pruning over the snapshot store — the RUNTIME third of
  * the pruning story (static partition pruning by `res` and z-curve
  * row-group skipping are pinned elsewhere): when the levels a query needs
  * are only known from a JOIN (e.g. a config/dimension table selects the
  * resolutions to process), Spark must still scan only those `res=`
  * partitions, by injecting the dim side's keys as a runtime partition
  * filter. At 100 TB this is the difference between scanning one level and
  * scanning thirteen. */
class DppSpec extends SparkFunSuite {

  test("join on the partition column prunes snapshot levels at runtime") {
    val root = tempDir("graft-dpp")
    val (pyr, _) = TilePyramid.build(Images.images(spark, SparkSpec.Sf), 5, 8)
    Snapshot.write(pyr, root, "dpp", buildTs = 1L)

    // the dim must be non-foldable (a literal dim constant-folds into a
    // STATIC partition filter — good, but not the runtime path under test),
    // and must carry a selective filter for DPP to consider it worthwhile
    spark.range(5, 9).select(col("id").cast("int").as("res"),
        when(col("id") === 6, "keep").otherwise("drop").as("tag"))
      .write.mode("overwrite").parquet(s"$root/dim")
    val dim = spark.read.parquet(s"$root/dim").filter(col("tag") === "keep")
    val joined = Snapshot.read(spark, root).join(dim, Seq("res"))
    val n = joined.collect().length
    assert(n > 0 && n == Snapshot.level(spark, root, 6).count())

    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    // QueryStageExec wrappers hide their plan from collect/collectLeaves
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec                                   => Seq(s)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
    }.flatten
    val scan = scans(plan)
      .find(_.toString.contains("/tiles"))
      .getOrElse(fail(s"no partitioned snapshot scan in:\n$plan"))
    assert(scan.toString.contains("dynamicpruning"),
      s"no runtime partition filter on the snapshot scan:\n$scan")
    // the scan must have read ONLY the joined level's partition
    assert(scan.metrics("numOutputRows").value ==
      Snapshot.level(spark, root, 6).count(),
      "scan read rows outside the dynamically pruned partition")
  }
}
