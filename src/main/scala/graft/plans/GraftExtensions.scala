package graft.plans

import graft.catalog.DistributionCatalog
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, LogicalPlan, Project, ResolvedHint, SubqueryAlias}
import org.apache.spark.sql.catalyst.plans.logical.BROADCAST
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Session extensions wiring the engine's planner knowledge into
  * Catalyst (SURVEY §4's "custom Catalyst work actually required" #4):
  *
  *   - [[BroadcastReferenceTables]]: any scan of a catalog table marked
  *     as a reference table gets a BROADCAST hint — the REFERENCE_JOIN
  *     rule (citus `multi_join_order.h:33`) applied automatically, so
  *     queries don't need explicit broadcast() calls; it also hides
  *     a catalog table's layout columns;
  *   - the router fast path for distribution-key reads (citus
  *     `fast_path_router_planner.c:88-124`, `multi_router_planner.c:183`,
  *     `local_plan_cache.c`, `PruneShards`): [[RouteToShard]] reads only
  *     the shards, tenant partition and bucket file that a query's
  *     distribution-column conjuncts allow, and [[ShareKeyCodegen]]
  *     keeps the key out of the generated source, so every key of a
  *     parameterized statement reuses one compiled class. Both are
  *     always on;
  *   - [[CombineInOneTask]]: an ORDER BY above a grouped aggregate
  *     whose partial results are small finishes in one task, as
  *     Citus's coordinator combine query does;
  *   - [[ReusePinnedBroadcasts]]: a broadcast of pinned data is built
  *     once and reused by later queries, as Citus copies a reference
  *     table to every node once;
  *   - [[TopKPerGroupStrategy]], which plans [[TopKPerGroup]]'s node;
  *   - SQL function `simhash64(array<string>)` → the native single-pass
  *     expression.
  *
  * [[graft.Graft.session]] installs them; it is the one place a
  * session is built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // Resolution (not optimizer): the hint must exist BEFORE the
    // optimizer's EliminateResolvedHint folds hints into Join nodes, and
    // the layout columns must be gone before a `*` is expanded.
    e.injectResolutionRule(_ => BroadcastReferenceTables)
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
    // after EnsureRequirements, on the static path only
    e.injectColumnar(_ => CombineInOneTask)
    // on the static path only, before exchange reuse
    e.injectColumnar(_ => ReusePinnedBroadcasts)
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

private[plans] object CatalogScan {
  /** The distribution by `method` of the table `p` scans, if any, from
    * the relation's own catalog entry: no lookup by name. */
  def of(p: LogicalPlan, method: DistributionCatalog.PartMethod)
      : Option[DistributionCatalog.DistributionSpec] = p match {
    case r: LogicalRelation => r.catalogTable
      .flatMap(DistributionCatalog.specOf(_)(0)).filter(_.method == method)
    case _ => None
  }
}

/** Analyzer rule: wrap reference-table scans in a broadcast hint, and
  * project a catalog table's [[DistributionCatalog.layoutColumns]] out
  * of its reads by name, so `SELECT *` shows the user's columns. An
  * `INSERT` target is not a child of its statement: it keeps them.
  * Idempotent: already-hinted scans are skipped, and a hidden scan is
  * no longer the alias's child. */
object BroadcastReferenceTables extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val alreadyHinted = plan.collect {
      case ResolvedHint(child, _) => child
    }.toSet
    plan.transformUp {
      case r if CatalogScan.of(r, DistributionCatalog.Reference).nonEmpty &&
          !alreadyHinted.contains(r) =>
        ResolvedHint(r, HintInfo(strategy = Some(BROADCAST)))
      case a @ SubqueryAlias(_, r: LogicalRelation) =>
        val layout = r.catalogTable.toSeq
          .flatMap(DistributionCatalog.layoutColumns)
        if (layout.isEmpty) a
        else a.copy(child = Project(
          r.output.filterNot(o => layout.contains(o.name)), r))
    }
  }
}
