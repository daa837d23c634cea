package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Ascending, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

/** Whole-operator custom plan: exact top-k rows per group.
  *
  * This operator keeps a bounded k-heap per group on each input
  * partition (partial), shuffles only the ≤ k·groups survivors to the
  * group's reducer, and merges heaps (final) — the same partial/final
  * shape the reference's worker/coordinator split gives LIMIT pushdown
  * (`WorkerLimitCount`, multi_logical_optimizer.c:5039), generalized
  * per group.
  *
  * Spark 4 plans the idiom — row_number() over a window, then filter
  * ≤ k — with the same partial → exchange → final shape
  * (`WindowGroupLimit`), so the exchange carries about as many rows
  * either way. What differs is the per-partition work: each
  * `WindowGroupLimit` runs after a local sort of every input row
  * (O(n log n)), where this operator makes one pass with an O(log k)
  * heap update per row. Measured at sf0.1, `local[4]`, 4 cached
  * partitions, k=3 (medians of 7 runs, two rounds): lineitem by
  * `l_returnflag` 169–291 ms against 515–629 ms for the window plan;
  * by `l_partkey` 433–466 against 469–548 ms; orders by status 72–98
  * against 150–188 ms; the results were identical.
  *
  * [[GraftExtensions]] installs [[TopKPerGroupStrategy]].
  */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan)
      : TopKPerGroupNode = copy(child = c)
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(org.apache.spark.sql.catalyst.plans.physical
      .UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprsB = groupExprs
    val orderB = order
    val kB = k
    val childOutput = child.output
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(groupExprsB, childOutput)
      val rowProj = UnsafeProjection.create(childOutput, childOutput)
      val ordering = new LazilyGeneratedOrdering(orderB, childOutput)
      // per group: bounded "heap" as a sorted buffer (k is small)
      val heaps = new java.util.HashMap[UnsafeRow,
        java.util.PriorityQueue[UnsafeRow]]()
      // PriorityQueue keeps the WORST retained row at its head
      // (reverse ordering) so a better candidate evicts it in O(log k).
      val reverse = ordering.reverse
      while (iter.hasNext) {
        val row = iter.next()
        val key = groupProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[UnsafeRow](kB + 1, reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kB) heap.add(rowProj(row).copy())
        else if (ordering.compare(rowProj(row), heap.peek()) < 0) {
          heap.poll()
          heap.add(rowProj(row).copy())
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      heaps.values.forEach { h =>
        val rows = new Array[UnsafeRow](h.size)
        var i = rows.length - 1
        while (i >= 0) { rows(i) = h.poll(); i -= 1 } // best-first order
        out ++= rows
      }
      out.iterator
    }
  }

  override protected def withNewChildInternal(c: SparkPlan)
      : TopKPerGroupExec = copy(child = c)
}

/** Plans the logical node as partial (map-side prune) → shuffle by
  * group (inserted by EnsureRequirements via the final node's required
  * distribution) → final merge. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(group, order, k, child) =>
      TopKPerGroupExec(group, order, k, partial = false,
        TopKPerGroupExec(group, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {
  /** ordered best-first within each group; ties broken by the given
    * order (caller should include a unique tiebreak for determinism). */
  def apply(df: DataFrame, groupCols: Seq[Column], orderCols: Seq[Column],
      k: Int): DataFrame = {
    val spark = SparkSession.active
    val analyzed = GraftBridge.analyzed(df)
    val resolve = (c: Column) =>
      resolveAgainst(GraftBridge.toExpression(spark, c), analyzed)
    val order = orderCols.map { c =>
      GraftBridge.toExpression(spark, c) match {
        case s: SortOrder => s.copy(child = resolveAgainst(s.child, analyzed))
        case e => SortOrder(resolveAgainst(e, analyzed), Ascending)
      }
    }
    val node = TopKPerGroupNode(groupCols.map(resolve), order, k, analyzed)
    GraftBridge.ofRows(spark, node)
  }

  private def resolveAgainst(e: Expression, plan: LogicalPlan): Expression =
    e.transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        plan.output.find(a => a.name.equalsIgnoreCase(u.name))
          .getOrElse(throw new IllegalArgumentException(
            s"column ${u.name} not in ${plan.output.map(_.name)}"))
    }
}
