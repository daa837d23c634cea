package graft.plans

import graft.catalog.DistributionCatalog
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.catalyst.plans.logical.BROADCAST
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Session extensions wiring the engine's planner knowledge into
  * Catalyst (SURVEY §4's "custom Catalyst work actually required" #4):
  *
  *   - [[BroadcastReferenceTables]]: any scan of a catalog table marked
  *     as a reference table gets a BROADCAST hint — the REFERENCE_JOIN
  *     rule (citus `multi_join_order.h:33`) applied automatically, so
  *     queries don't need explicit broadcast() calls;
  *   - the router fast path for distribution-key reads (citus
  *     `fast_path_router_planner.c:88-124`, `multi_router_planner.c:183`,
  *     `local_plan_cache.c`): [[RouteToShard]] reads a table whose
  *     distribution column is pinned to one value from that one bucket
  *     file, and [[ShareKeyCodegen]] keeps the key out of the generated
  *     source, so every key of a parameterized statement reuses one
  *     compiled class. Both are always on;
  *   - [[TopKPerGroupStrategy]], which plans [[TopKPerGroup]]'s node;
  *   - SQL function `simhash64(array<string>)` → the native single-pass
  *     expression.
  *
  * [[graft.Graft.session]] installs them; it is the one place a
  * session is built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // Post-hoc resolution (not optimizer): the hint must exist BEFORE the
    // optimizer's EliminateResolvedHint folds hints into Join nodes.
    e.injectPostHocResolutionRule(_ => BroadcastReferenceTables)
    // LIMIT approximation (citus.limit_clause_row_fetch_count) — opt-in
    // via spark.graft.limitApproxRowFetchCount.
    e.injectOptimizerRule(_ => ApproximateLimit)
    // count(DISTINCT) → HLL (citus.count_distinct_error_rate) — opt-in
    // via spark.graft.countDistinctErrorRate.
    e.injectOptimizerRule(_ => ApproxCountDistinct)
    // interval-containment joins → binned equi join (never a nested
    // loop) — opt-in via spark.graft.rangeJoinBucketSeconds.
    e.injectOptimizerRule(_ => RangeJoinRewrite)
    // citus.enable_repartition_joins guard — opt-in via
    // spark.graft.enableRepartitionJoins=false.
    e.injectOptimizerRule(_ => RepartitionJoinGuard)
    // after filter inference, so a key inferred across a join pins too
    e.injectPreCBORule(_ => RouteToShard)
    // before CollapseCodegenStages, on the adaptive and static paths
    e.injectColumnar(_ => ShareKeyCodegen)
    // the partial/final plan of the TopKPerGroup operator
    e.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    e.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[graft.functions.SimHash64Expr].getName,
        "simhash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.SimHash64Expr(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[graft.functions.CosineSimExpr].getName,
        "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.CosineSimExpr(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[graft.functions.JaccardSimExpr].getName,
        "jaccard_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.JaccardSimExpr(exprs(0), exprs(1))))
  }
}

/** Optimizer rule: wrap reference-table scans in a broadcast hint
  * (idempotent — already-hinted scans are skipped). */
object BroadcastReferenceTables extends Rule[LogicalPlan] {

  private def isReferenceScan(p: LogicalPlan): Boolean = p match {
    case r: LogicalRelation =>
      r.catalogTable.exists(ct =>
        DistributionCatalog.spec(ct.identifier.table)
          .exists(_.method == DistributionCatalog.Reference))
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val alreadyHinted = plan.collect {
      case ResolvedHint(child, _) => child
    }.toSet
    plan.transformUp {
      case r if isReferenceScan(r) && !alreadyHinted.contains(r) =>
        ResolvedHint(r, HintInfo(strategy = Some(BROADCAST)))
    }
  }
}
