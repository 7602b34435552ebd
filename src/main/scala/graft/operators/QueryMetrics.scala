package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query latency/volume metrics — the "cell-count/latency metrics"
  * sink of the north rule, as a reusable operator rather than a dev tool:
  * run any job under [[capture]] and get one row per stage with wall
  * time, executor run/CPU/GC time, input/shuffle/output/spill volumes and
  * the task-duration spread (p50/max — the straggler signal that decides
  * whether a stage needs salting or AQE skew handling).
  *
  * Scoping uses a job group: every job started while `f` runs on this
  * thread carries the group tag, and only stages of tagged jobs are
  * reported — concurrent queries on other threads don't leak in. The
  * listener bus is asynchronous, so capture polls briefly after `f`
  * until every tagged stage's completion event has arrived.
  *
  * The row set is driver-memory sized (stages, not tasks — task
  * durations fold into the per-stage quantiles as they arrive), so the
  * sink scales to arbitrarily large jobs; [[report]] turns it into a
  * DataFrame for a parquet/JSON metrics table next to the snapshot
  * manifests (the per-build flight record a 1000-executor run is
  * debugged from). */
object QueryMetrics {

  /** One completed stage of a captured query. */
  case class StageRow(
      query: String, jobId: Int, stageId: Int, attempt: Int, name: String,
      numTasks: Int, wallMs: Long, executorRunMs: Long, executorCpuMs: Long,
      jvmGcMs: Long, inputRecords: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, outputRecords: Long,
      taskDurP50Ms: Long, taskDurMaxMs: Long,
      memorySpillBytes: Long, diskSpillBytes: Long)

  /** Run `f` with its jobs tagged, return (result, per-stage metrics). */
  def capture[A](spark: SparkSession, query: String)(f: => A)
      : (A, Seq[StageRow]) = {
    val sc = spark.sparkContext
    val tag = s"graft-metrics-$query-${System.nanoTime()}"
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val taskDurs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
    val done = new ConcurrentHashMap[Int, StageRow]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
          tag == js.properties.getProperty("spark.jobGroup.id"))
          js.stageIds.foreach(s => stageToJob.put(s, js.jobId))
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stageToJob.containsKey(te.stageId)) {
          val b = taskDurs.computeIfAbsent(te.stageId,
            _ => mutable.ArrayBuffer.empty[Long])
          b.synchronized { b += te.taskInfo.duration }
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val jobId = stageToJob.get(i.stageId)
        if (stageToJob.containsKey(i.stageId)) {
          val durs = Option(taskDurs.get(i.stageId))
            .map(b => b.synchronized(b.toVector.sorted))
            .getOrElse(Vector.empty)
          val m = i.taskMetrics
          done.put(i.stageId, StageRow(
            query, jobId, i.stageId, i.attemptNumber(), i.name,
            i.numTasks,
            i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.jvmGCTime,
            m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.outputMetrics.recordsWritten,
            if (durs.isEmpty) 0L else durs((durs.size - 1) / 2),
            if (durs.isEmpty) 0L else durs.last,
            m.memoryBytesSpilled, m.diskBytesSpilled))
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, s"metrics capture: $query",
        interruptOnCancel = false)
      val a =
        try f
        finally sc.clearJobGroup()
      // drain: the bus is async — wait until every stage a tagged job
      // announced has a completion row (skipped stages never complete;
      // stop when the seen-set is stable across two polls)
      var prev = -1
      var stable = 0
      val deadline = System.nanoTime() + 5000000000L
      while (stable < 2 && System.nanoTime() < deadline) {
        val now = done.size()
        if (now == prev) stable += 1 else stable = 0
        prev = now
        Thread.sleep(50)
      }
      (a, done.values().asScala.toSeq.sortBy(r => (r.jobId, r.stageId)))
    } finally sc.removeSparkListener(listener)
  }

  /** The captured rows as a DataFrame — write it next to the snapshot
    * manifests as the build's flight record. */
  def report(spark: SparkSession, rows: Seq[StageRow]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  /** Append the rows to a JSON metrics sink (one file per capture). */
  def writeSink(spark: SparkSession, rows: Seq[StageRow],
                path: String): Unit =
    report(spark, rows).coalesce(1).write.mode("append").json(path)
}
