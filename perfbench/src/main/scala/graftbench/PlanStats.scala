package graftbench

import org.apache.spark.sql.execution.{GenerateExec, LeafExecNode, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase

/** Node counts of a final (post-AQE) physical plan. */
object PlanStats {

  val Keys: Seq[String] = Seq("exchanges", "scans", "generates", "windows", "topk_nodes", "codegen_stages")

  /** Every node of `plan`: through AQE wrappers to the final plan, into
    * query stages, and into subquery plans. Reused exchanges are leaves
    * (their producer is counted where it runs). */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def counts(plan: SparkPlan): Map[String, Int] = {
    val ns = nodes(plan)
    def n(f: SparkPlan => Boolean) = ns.count(f)
    Map(
      "exchanges" -> n {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      "scans" -> n {
        case _: ReusedExchangeExec => false
        case _: LeafExecNode => true
        case _ => false
      },
      "generates" -> n(_.isInstanceOf[GenerateExec]),
      "windows" -> n(_.isInstanceOf[WindowExecBase]),
      "topk_nodes" -> n(p => p.isInstanceOf[TakeOrderedAndProjectExec] || p.nodeName.contains("TopK")),
      "codegen_stages" -> n(_.isInstanceOf[WholeStageCodegenExec]))
  }

  def sum(cs: Seq[Map[String, Int]]): Map[String, Int] =
    Keys.map(k => k -> cs.map(_.getOrElse(k, 0)).sum).toMap
}
