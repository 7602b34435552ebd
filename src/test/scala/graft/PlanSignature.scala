package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec,
  LeafExecNode, LocalTableScanExec, RDDScanExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** A physical plan reduced to the operators that decide how it scales
  * (SURVEY.md §5 "Structural invariants"): exchanges by partitioning,
  * joins by kind and join type, aggregates by kind, windows with and
  * without a partition key, generators, broadcasts over a generator, scans
  * by source, and the names of the expressions that fall back from
  * codegen. Partition numbers, expression ids, paths and the codegen
  * wrappers are left out, so a line changes only when the plan's shape
  * does. `counts` keys are `group.kind` (`ex.hash`, `join.BHJ.LeftAnti`)
  * or a bare group (`gen`, `bgen`). */
final case class PlanSignature(counts: Map[String, Int],
                               fallbacks: Seq[String]) {

  /** One line, groups in a fixed order, `-` for an empty group. */
  def line: String = {
    val groups = PlanSignature.Groups.map { g =>
      val kv = counts.toSeq.collect {
        case (k, n) if k == g => n.toString
        case (k, n) if k.startsWith(g + ".") => s"${k.drop(g.length + 1)}=$n"
      }.sorted
      s"$g ${if (kv.isEmpty) "-" else kv.mkString(" ")}"
    }
    (groups :+ s"fb ${if (fallbacks.isEmpty) "-" else fallbacks.mkString(",")}")
      .mkString(" | ")
  }

  /** The hard rules this plan breaks. */
  def violations: Seq[String] = PlanSignature.Rules.collect {
    case (key, rule) if counts.contains(key) => rule
  }
}

object PlanSignature {
  private val Groups = Seq("ex", "join", "agg", "win", "gen", "bgen", "scan")

  /** Operators no plan may hold: a Cartesian product pairs every row with
    * every row, a sort aggregate sorts its whole input, and a window with
    * no partition key runs its whole input in one task. */
  val Rules: Seq[(String, String)] = Seq(
    "join.Cartesian" -> "CartesianProduct",
    "agg.Sort" -> "SortAggregate",
    "win.unkeyed" -> "partitionless window")

  /** Builds the frame on an empty cache and without extra optimizer rules,
    * and signs it at once: the plan the mains run, whatever ran first. A
    * frame that an earlier caller persisted would otherwise stand in for a
    * subtree as an in-memory scan, and rules a suite installed
    * ([[graft.plans.GraftOptimizations]]) would rewrite the pip joins. */
  def fresh(spark: SparkSession)(build: => DataFrame)
      : (DataFrame, PlanSignature) = {
    spark.catalog.clearCache()
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Nil
    try {
      val df = build
      (df, of(df.queryExecution.executedPlan))
    } finally spark.experimental.extraOptimizations = rules
  }

  def of(plan: SparkPlan): PlanSignature = {
    val ns = nodes(plan)
    val keys = ns.flatMap(key) ++ ns.collect {
      case b: BroadcastExchangeExec
          if nodes(b.child).exists(_.isInstanceOf[GenerateExec]) => "bgen"
    }
    PlanSignature(keys.groupMapReduce(identity)(_ => 1)(_ + _),
      ns.flatMap(_.expressions.flatMap(_.collect {
        case f: CodegenFallback => f.prettyName
      })).distinct.sorted)
  }

  /** Every node of the initial physical plan, subqueries included. AQE's
    * initial plan is read, not the adapted one, so a frame that already ran
    * signs the same as a fresh one. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def joinType(t: AnyRef): String =
    t.getClass.getSimpleName.stripSuffix("$")

  private def key(p: SparkPlan): Option[String] = p match {
    case e: ShuffleExchangeExec => Some("ex." + (e.outputPartitioning match {
      case _: HashPartitioning => "hash"
      case _: RangePartitioning => "range"
      case SinglePartition => "single"
      case _: RoundRobinPartitioning => "roundrobin"
      case other => other.getClass.getSimpleName
    }))
    case _: BroadcastExchangeExec => Some("ex.broadcast")
    case j: BroadcastHashJoinExec => Some(s"join.BHJ.${joinType(j.joinType)}")
    case j: SortMergeJoinExec => Some(s"join.SMJ.${joinType(j.joinType)}")
    case j: ShuffledHashJoinExec => Some(s"join.SHJ.${joinType(j.joinType)}")
    case j: BroadcastNestedLoopJoinExec =>
      Some(s"join.BNLJ.${joinType(j.joinType)}")
    case _: CartesianProductExec => Some("join.Cartesian")
    case _: HashAggregateExec => Some("agg.Hash")
    case _: ObjectHashAggregateExec => Some("agg.ObjectHash")
    case _: SortAggregateExec => Some("agg.Sort")
    case w: WindowExec =>
      Some(if (w.partitionSpec.isEmpty) "win.unkeyed" else "win.keyed")
    case _: GenerateExec => Some("gen")
    case s: FileSourceScanExec =>
      Some(s"scan.${s.relation.fileFormat.toString.toLowerCase}")
    case s: RDDScanExec => Some(s"scan.${s.name}")
    case _: LocalTableScanExec => Some("scan.local")
    case _: RangeExec => Some("scan.range")
    case _: InMemoryTableScanExec => Some("scan.inmemory")
    case l: LeafExecNode => Some(s"scan.${l.nodeName.replace(" ", "")}")
    case _ => None
  }
}
