package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session config of the engine. Every entry point (Bench,
  * Verify, Smoke, the test suites and the tools) builds its session here,
  * so the tests, the plan dumps and the bench all run the same plans. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Every key the session sets, with its value. */
  val settings: Seq[(String, String)] = Seq(
    // two shuffle partitions per core, the rule Bench and raptorbench
    // have always timed; AQE coalesces the small ones at runtime
    "spark.sql.shuffle.partitions" -> (2 * cores).toString,
    // let AQE re-coalesce the output partitioning of CACHED plans: the
    // snapshot/merge operators persist tile-sized frames (|cells| rows),
    // which otherwise keep the full shuffle-partition fan-out and turn
    // every downstream stage into micro-tasks (measured: warm mergeDelta
    // 10.7 s -> 5.5 s at sf0.1/64 partitions)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // bucketed STORES are a deliberate design choice (BucketStore): keep
    // bucketed scans (and with them bucket PRUNING on the bucket key)
    // even when no downstream operator needs the distribution — the
    // planner's DisableUnnecessaryBucketedScan would otherwise silently
    // re-scan all buckets for a single-term posting lookup
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
    // date/time functions answer the same on every host, whatever its
    // own zone
    "spark.sql.session.timeZone" -> "UTC",
    // no entry point reads the web UI; it only costs start-up time and a
    // port per JVM
    "spark.ui.enabled" -> "false")

  /** Start (or join) the session on `master`; `extra` carries settings
    * that only a non-local master needs. */
  def start(master: String = s"local[$cores]",
            extra: Seq[(String, String)] = Nil): SparkSession = {
    val spark = SparkSession.builder().master(master)
      .config((settings ++ extra).toMap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
