package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.agg.{HllRegistersAgg, HllSketch}

/** Scalar finisher for the rewrite: hex registers → rounded HLL estimate.
  * Runs once per GROUP (not per row), so CodegenFallback costs nothing
  * measurable; the per-row work is the [[HllRegistersAgg]] update, which
  * runs in `ObjectHashAggregate` with map-side partials (no whole-stage
  * codegen for a `TypedImperativeAggregate`). */
case class HllEstimateExpr(child: Expression, p: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_estimate"
  override protected def nullSafeEval(input: Any): Any = {
    val regs = HllSketch.parseRegisters(input.asInstanceOf[UTF8String].toString)
    math.round(HllSketch.estimate(regs))
  }
  override protected def withNewChildInternal(c: Expression): HllEstimateExpr =
    copy(child = c)
}

/** Opt-in optimizer rule: rewrite `COUNT(DISTINCT x)` to an HLL-sketch
  * estimate — the 100 TB lever for exploratory distinct counts, where the
  * exact form's per-group distinct expansion (RewriteDistinctAggregates'
  * Expand + double shuffle) dominates the job and ±1% is acceptable.
  *
  * STRICTLY opt-in (`spark.graft.rewriteDistinctToHll=true`): the rewrite
  * trades exactness for a single-pass mergeable aggregation, which is a
  * semantics change the USER must request — engines that silently
  * approximate are lying. Multi-argument COUNT(DISTINCT a, b) and
  * filtered forms pass through untouched. Deterministic: the sketch is
  * seed-fixed, so the estimate is stable run-to-run and engine-to-engine.
  *
  * Injected cluster-wide by [[graft.GraftExtensions]]; session-local use:
  * `spark.experimental.extraOptimizations :+= ApproxDistinctRewrite`. */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {
  val flagKey = "spark.graft.rewriteDistinctToHll"
  val pKey = "spark.graft.rewriteDistinctToHll.p"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(flagKey, "false").toBoolean) plan
    else plan.transform {
      case agg: Aggregate => agg.transformExpressions {
        case ae @ AggregateExpression(c: Count, _, true, None, _)
            if c.children.size == 1 =>
          val p = conf.getConfString(pKey, "12").toInt
          HllEstimateExpr(
            AggregateExpression(
              HllRegistersAgg(Cast(c.children.head, StringType), p),
              ae.mode, isDistinct = false, filter = None,
              resultId = ae.resultId),
            p)
      }
    }
}
