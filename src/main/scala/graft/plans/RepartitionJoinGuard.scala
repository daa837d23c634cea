package graft.plans

import graft.catalog.DistributionCatalog
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** The `citus.enable_repartition_joins` GUC (default OFF in citus —
  * a join between distributed tables that is not colocated and not
  * against a reference table ERRORS with "the query contains a join
  * that requires repartitioning" unless the user opts in;
  * `shared_library_init.c`, `multi_join_order.c`).
  *
  * Spark executes repartition joins natively, so our default is ON —
  * but the guard matters at 100 TB exactly as it does for citus: a
  * dual-partition join of two fact tables is a full-table network
  * shuffle of both sides, and an operator can forbid it per session:
  * set `spark.graft.enableRepartitionJoins=false` and any equi join
  * between two cataloged hash-distributed tables that is NOT a
  * colocated distribution-key join raises instead of silently
  * shuffling. Reference-table joins (broadcast) always pass, exactly
  * like citus's REFERENCE_JOIN being cheapest in the rule order.
  *
  * Conservative by design: only joins whose sides each scan exactly
  * one cataloged hash table are judged; anything more complex has
  * already been planned by upstream decisions.
  */
object RepartitionJoinGuard extends Rule[LogicalPlan] with PredicateHelper {

  val ConfKey = "spark.graft.enableRepartitionJoins"

  /** Does the equi-condition join the two distribution columns? Only
    * top-level AND conjuncts count — an equality buried inside an OR or
    * NOT branch does not guarantee colocated execution. Attributes are
    * resolved by exprId against the side that scans each table, so a
    * name-colliding non-key column on the other side cannot satisfy
    * the check. */
  private def joinsOnDistColumns(j: Join, a: String, b: String): Boolean = {
    val colA = DistributionCatalog.spec(a).flatMap(_.distColumn)
    val colB = DistributionCatalog.spec(b).flatMap(_.distColumn)
    (colA, colB) match {
      case (Some(ca), Some(cb)) =>
        val leftOut = j.left.outputSet
        val rightOut = j.right.outputSet
        def distPair(x: AttributeReference, y: AttributeReference) =
          leftOut.contains(x) && x.name.equalsIgnoreCase(ca) &&
            rightOut.contains(y) && y.name.equalsIgnoreCase(cb)
        j.condition.exists(c => splitConjunctivePredicates(c).exists {
          case EqualTo(l: AttributeReference, r: AttributeReference) =>
            distPair(l, r) || distPair(r, l)
          case _ => false
        })
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(ConfKey, "true").toBoolean) return plan
    plan.foreach {
      case j: Join =>
        import DistributionCatalog.{Hash, Reference}
        val lt = j.left.flatMap(CatalogScan.of(_, Hash))
        val rt = j.right.flatMap(CatalogScan.of(_, Hash))
        val refSide = j.exists(CatalogScan.of(_, Reference).nonEmpty)
        (lt, rt) match {
          case (Seq(a), Seq(b)) if !refSide =>
            val colocatedKeyJoin = DistributionCatalog.colocated(a, b) &&
              joinsOnDistColumns(j, a, b)
            if (!colocatedKeyJoin) {
              throw new UnsupportedOperationException(
                s"the query contains a join between distributed tables " +
                  s"'$a' and '$b' that requires repartitioning, and " +
                  s"$ConfKey is false (citus.enable_repartition_joins)")
            }
          case _ => ()
        }
      case _ => ()
    }
    plan
  }
}
