package perfbench

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** Shape of an executed physical plan, walked through adaptive stages
  * and subqueries: exchanges, whole-stage-codegen stages, and the
  * expressions that fall back to interpreted evaluation.
  */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Shape(exchanges: Int, wscgStages: Int, fallbackExprs: Int)

  def of(plan: SparkPlan): Shape = Shape(
    collectWithSubqueries(plan) { case e: Exchange => e }.size,
    collectWithSubqueries(plan) { case w: WholeStageCodegenExec => w }.size,
    collectWithSubqueries(plan) { case p =>
      p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    }.sum)
}
