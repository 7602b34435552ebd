package graft.tools

import org.apache.spark.sql.execution.ExplainMode

import graft.{Bench, GraftSession, SparkEntry, Verify}
import graft.operators.QueryMetrics
import graft.operators.QueryMetrics.StageRow

/** Per-query profile on the shared session:
  * `sbt "runMain graft.tools.Profile <q1,q2,…> <sfDir>"`. For each registry
  * query it runs the query twice as Bench times it (build the frame, then
  * materialize every output column) under [[QueryMetrics.capture]]. It
  * prints the `formatted` physical plan of the first run's frame, then one
  * JSON line per run: wall, executor CPU and GC, shuffle and spill bytes,
  * and the task p50/max of the longest stage (the straggler signal). The
  * first run carries the one-time costs: codegen, file listing, and any
  * shared derivation the query builds eagerly and no earlier query in the
  * JVM has built. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Profile <q1,q2,…> <sfDir>")
    val Array(names, sfDir) = args
    val spark = GraftSession.start()
    names.split(",").map(_.trim).foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"===== $name =====")
      for (run <- 1 to 2) {
        val t0 = System.nanoTime()
        val ((df, wallS), stages) = QueryMetrics.capture(spark, name) {
          val df = fn(spark, sfDir)
          Bench.materialize(df)
          (df, (System.nanoTime() - t0) / 1e9)
        }
        if (run == 1) println(df.queryExecution
          .explainString(ExplainMode.fromString("formatted")).trim)
        // as Bench does between queries: no run inherits the last one's
        // persisted intermediates or their storage-memory pressure
        spark.catalog.clearCache()
        def total(f: StageRow => Long): Long = stages.map(f).sum
        val longest = stages.maxByOption(_.wallMs)
        val fields = Seq(
          "query" -> Verify.jsonStr(name),
          "run" -> run,
          "wall_s" -> f"$wallS%.3f",
          "cpu_ms" -> total(_.executorCpuMs),
          "gc_ms" -> total(_.jvmGcMs),
          "stages" -> stages.size,
          "shuffle_read_bytes" -> total(_.shuffleReadBytes),
          "shuffle_write_bytes" -> total(_.shuffleWriteBytes),
          "spill_memory_bytes" -> total(_.memorySpillBytes),
          "spill_disk_bytes" -> total(_.diskSpillBytes),
          "task_p50_ms" -> longest.fold(0L)(_.taskDurP50Ms),
          "task_max_ms" -> longest.fold(0L)(_.taskDurMaxMs))
        println(fields.map { case (k, v) => s""""$k":$v""" }
          .mkString("{", ",", "}"))
      }
    }
    spark.stop()
  }
}
