package raptorbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.operators.QueryMetrics
import graft.operators.QueryMetrics.StageRow

/** A timed interval: one operation, or one layer call (inside an
  * operation, or with parent -1 outside any). Spans of one operation share
  * `op`. `skipped` counts the stages its jobs announced but never ran
  * (their shuffle output was reused). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      isOp: Boolean, startNs: Long, endNs: Long,
                      stages: Seq[StageRow], skipped: Int = 0) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records spans around the benchmark's calls into the engine. Disabled,
  * it only times operations. Enabled, every layer call runs under
  * [[QueryMetrics.capture]], whose stage rows ride on the span; the span
  * clock stops when the call returns, before capture drains the listener
  * bus, and an operation's time leaves those drains out. Spans stay in
  * memory until [[spans]] is read at exit. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  private val recorded = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var opIndex = -1
  private var opSpan = -1
  private var drainNs = 0L

  /** Stage ids each job announced at its start. It listens on the same
    * queue as capture's listener, so by the time capture returns it has
    * seen the start of every job capture saw a stage of. */
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  if (enabled) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobStages.put(js.jobId, js.stageIds)
  })

  def spans: Seq[Span] = recorded.toSeq

  /** Run one operation and return its time in ms. */
  def op(name: String)(f: => Unit): Double = {
    opIndex += 1
    val id = nextId
    opSpan = id
    nextId += 1
    drainNs = 0L
    val start = System.nanoTime()
    try f
    finally opSpan = -1
    val end = System.nanoTime() - drainNs
    if (enabled) recorded += Span(id, -1, opIndex, name, isOp = true, start, end, Nil)
    (end - start) / 1e6
  }

  /** One call into a layer; `f` must force its work before it returns. */
  def layer[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      var end = 0L
      val start = System.nanoTime()
      val (a, stages) = QueryMetrics.capture(spark, name) {
        val r = f
        end = System.nanoTime()
        r
      }
      drainNs += System.nanoTime() - end
      val announced = stages.map(_.jobId).distinct
        .flatMap(j => Option(jobStages.get(j)).getOrElse(Nil)).distinct
      val skipped = announced.size - stages.map(_.stageId).distinct.size
      recorded += Span(nextId, opSpan, math.max(opIndex, 0), name,
        isOp = false, start, end, stages, math.max(0, skipped))
      nextId += 1
      a
    }
}
