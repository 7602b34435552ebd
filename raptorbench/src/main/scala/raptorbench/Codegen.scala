package raptorbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CodegenSupport, InputAdapter, LocalTableScanExec,
  QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts whole-stage codegen fallbacks from outside the engine:
  *  - at planning: operators that can generate code but were left outside
  *    every codegen stage (too many fields, an expression without generated
  *    code), read from each successful query's executed plan;
  *  - at execution: codegen stages whose code failed to compile or grew past
  *    `spark.sql.codegen.hugeMethodLimit` and ran interpreted instead, read
  *    from `WholeStageCodegenExec`'s own log lines (one per fallback, the
  *    first at WARN, the second at INFO).
  * Plans arrive through the listener bus: drain it before reading
  * [[count]]. */
object CodegenFallbacks {
  private val planned = new AtomicLong()
  private val executed = new AtomicLong()

  def count: Long = planned.get() + executed.get()

  def install(spark: SparkSession): Unit = {
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
        planned.addAndGet(outsideStages(qe.executedPlan, inStage = false))
      def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val appender = new AbstractAppender("raptorbench-codegen", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage.toLowerCase
        if (m.contains("codegen disabled") || m.contains("codegen was disabled"))
          executed.incrementAndGet()
      }
    }
    appender.start()
    val name = classOf[WholeStageCodegenExec].getName
    val logger = new LoggerConfig(name, Level.INFO, true)
    logger.addAppender(appender, Level.INFO, null)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
  }

  /** Operators of `p` that support codegen but sit in no codegen stage.
    * A local table scan is left out on purpose by the planner (it keeps
    * the driver-local collect path), so it is not counted. */
  def outsideStages(p: SparkPlan, inStage: Boolean): Int = p match {
    case _: LocalTableScanExec => 0
    case a: AdaptiveSparkPlanExec => outsideStages(a.executedPlan, inStage = false)
    case q: QueryStageExec => outsideStages(q.plan, inStage = false)
    case w: WholeStageCodegenExec => outsideStages(w.child, inStage = true)
    case i: InputAdapter => outsideStages(i.child, inStage = false)
    case c: CodegenSupport if !inStage && c.supportCodegen =>
      1 + c.children.map(outsideStages(_, inStage)).sum
    case _ => p.children.map(outsideStages(_, inStage)).sum
  }
}
