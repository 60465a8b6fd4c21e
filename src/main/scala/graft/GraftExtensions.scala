package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster-wide injection point for every graft SQL function:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * (or `withExtensions(new GraftExtensions)` while building the session).
  * Sessions built this way — including pure-SQL ones (Thrift server,
  * `spark.sql(...)` notebooks) — see `graft_xxhash64_0`, the e9 vector
  * kernels, the PQ kernels, the sketch aggregates, etc. without any
  * driver-side `register(spark)` call. Backed by the same
  * [[graft.functions.GraftRegistry]] inventory the per-session helpers
  * use, so both paths always expose the identical function set.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    graft.functions.GraftRegistry.all.foreach { case (name, builder) =>
      extensions.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // opt-in COUNT(DISTINCT) → HLL estimate (off unless the session sets
    // spark.graft.rewriteDistinctToHll=true; the rule itself gates)
    extensions.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    // semantics-preserving date_trunc-equality → sargable range (on by
    // default; kill switch spark.graft.rewriteTruncEq=false)
    extensions.injectOptimizerRule(_ => graft.plans.TruncEqRewrite)
    // unix_micros/millis/seconds comparisons → sargable ts range (on by
    // default; kill switch spark.graft.rewriteEpochCmp=false)
    extensions.injectOptimizerRule(_ => graft.plans.EpochCmpRewrite)
    // plans IntervalLookupJoin nodes (broadcast interval-tree join)
    extensions.injectPlannerStrategy(_ => graft.plans.IntervalLookupStrategy)
    // constraint-based join elimination (declared PK/FK via
    // ConstraintRegistry; kill switch spark.graft.joinElimination)
    extensions.injectOptimizerRule(_ => graft.plans.JoinEliminationRewrite)
    // SELECT DISTINCT over a declared-unique projection is the identity
    // (kill switch spark.graft.distinctElimination)
    extensions.injectOptimizerRule(_ => graft.plans.DistinctEliminationRewrite)
    // aggregate-over-base → registered-summary rewrite (fires only on
    // MatviewRegistry entries; kill switch spark.graft.matviewRewrite)
    extensions.injectOptimizerRule(_ => graft.plans.MatviewRewrite)
    // GROUP BY a declared-unique key → Project (kill switch
    // spark.graft.aggElimination)
    extensions.injectOptimizerRule(_ => graft.plans.AggregateEliminationRewrite)
    // declared-CHECK-range contradictions fold to empty relations
    // (kill switch spark.graft.rangeContradiction)
    extensions.injectOptimizerRule(_ => graft.plans.RangeContradictionRewrite)
    // column masking policies at the scan (kill switch
    // spark.graft.masking — the exempt role)
    extensions.injectOptimizerRule(_ => graft.plans.MaskingRewrite)
    // declared row counts → BROADCAST join hints (kill switch
    // spark.graft.statsBroadcast)
    extensions.injectOptimizerRule(_ => graft.plans.StatsBroadcastRewrite)
  }
}
