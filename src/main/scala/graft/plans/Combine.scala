package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalescedPartitionSpec, ColumnarRule, FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.internal.SQLConf

import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Plans [[CombineExec]] over an ORDER BY above a grouped aggregate on
  * the static (AQE-off) path. It runs after `EnsureRequirements` and
  * looks only down the chain of single-child nodes from the root. Such
  * a parent needs at most a distribution of its child, which one
  * partition satisfies; a parent of several children may need their
  * partition counts to match. Under AQE it does nothing; AQE reads a
  * small shuffle in one task itself. */
object CombineInOneTask extends ColumnarRule {

  override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan =
      if (conf.adaptiveExecutionEnabled) plan else insert(plan)
  }

  private def insert(p: SparkPlan): SparkPlan = p match {
    case s: SortExec if CombineExec.shape(s).isDefined => CombineExec(s)
    case _ => p.children match {
      case Seq(c) =>
        val below = insert(c)
        if (below eq c) p else p.withNewChildren(Seq(below))
      case _ => p
    }
  }
}

/** Citus's combine query: the coordinator finishes the aggregate of
  * the workers' partial results and applies ORDER BY in one place
  * (`MasterExtendedOpNode`, `multi_logical_optimizer.c:1427`). `child`
  * is Spark's plan for it, `Sort(global) ← range Exchange ←
  * [Project/Filter]* ← final aggregate ← hash Exchange`, which finishes
  * a result of a few groups in every shuffle partition and then
  * range-sorts it behind a sampling job.
  *
  * This node first materializes the partial-aggregate shuffle. When it
  * holds at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * bytes (Spark's smallest partition worth a task, the size AQE would
  * also read in one task), the final aggregate and the sort run over
  * every reduce partition in one task: the sampling job and the range
  * shuffle are gone. Otherwise `child` runs as planned, and its
  * sampling job finds the shuffle already written. Like Dremel's
  * stages, the choice is made from the data the previous stage
  * produced.
  *
  * Once run, [[executed]] and the tree string show the branch that
  * ran. */
final case class CombineExec(child: SparkPlan) extends UnaryExecNode {

  @transient @volatile private var ran: SparkPlan = child
  /** Which branch ran, and on how many bytes of partial results. */
  @transient @volatile private var note: String = ""

  /** The plan that ran: `child` or the one-task plan. */
  def executed: SparkPlan = ran

  override def output: Seq[Attribute] = child.output

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def simpleString(maxFields: Int): String = s"$nodeName$note"

  override protected def doExecute(): RDD[InternalRow] = {
    ran = CombineExec.shape(child).fold(child) { case (range, partials) =>
      val stats = Await.result(partials.submitShuffleJob(), Duration.Inf)
      // null: no map task ran, so there is no map output to read
      val bytes = Option(stats).map(_.bytesByPartitionId.sum)
      val small = bytes.exists(
        _ <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      note = (if (small) " in one task" else " as planned") +
        bytes.fold("")(b => s", partial results $b bytes")
      if (!small) child
      else {
        val finish = range.children.head.transformUp {
          case p if p eq partials => OneTaskShuffleRead(partials, bytes.get)
        }
        child.transformUp { case p if p eq range => finish }
      }
    }
    ran.execute()
  }

  /** Prints the branch that ran as the child. */
  override def generateTreeString(depth: Int,
      lastChildren: java.util.ArrayList[Boolean], append: String => Unit,
      verbose: Boolean, prefix: String, addSuffix: Boolean, maxFields: Int,
      printNodeId: Boolean, printOutputColumns: Boolean, indent: Int): Unit =
    if (ran eq child) super.generateTreeString(depth, lastChildren, append,
      verbose, prefix, addSuffix, maxFields, printNodeId, printOutputColumns,
      indent)
    else {
      val shown = copy(child = ran)
      shown.note = note
      shown.generateTreeString(depth, lastChildren, append, verbose, prefix,
        addSuffix, maxFields, printNodeId, printOutputColumns, indent)
    }

  override protected def withNewChildInternal(c: SparkPlan): CombineExec =
    copy(child = c)
}

private[plans] object CombineExec {

  private def strip(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => strip(w.child)
    case i: InputAdapter => strip(i.child)
    case o => o
  }

  /** For a global sort over a range exchange over a final aggregate of
    * a shuffle: the range exchange and the partial-aggregate shuffle. It
    * sees through codegen wrappers, so it finds the same two nodes in
    * the plan as planned and as collapsed into codegen stages. The
    * combine holds one copy of the plan, and nothing that exchange
    * reuse visits before the partial-aggregate shuffle can equal it, so
    * that shuffle is never a `ReusedExchangeExec`; if it were, the
    * shape would not match and the plan would run as planned. */
  def shape(sort: SparkPlan): Option[(SparkPlan, ShuffleExchangeLike)] =
    strip(sort) match {
      case SortExec(_, true, c, _) => strip(c) match {
        case range: ShuffleExchangeLike
            if range.outputPartitioning.isInstanceOf[RangePartitioning] =>
          partials(strip(range.child)).map(range -> _)
        case _ => None
      }
      case _ => None
    }

  private def partials(p: SparkPlan): Option[ShuffleExchangeLike] = p match {
    case ProjectExec(list, c) if list.forall(_.deterministic) =>
      partials(strip(c))
    case FilterExec(cond, c) if cond.deterministic => partials(strip(c))
    case a: BaseAggregateExec if a.aggregateExpressions.forall(_.mode == Final) =>
      Some(strip(a.child)).collect { case s: ShuffleExchangeLike => s }
    case _ => None
  }
}

/** Every reduce partition of a materialized shuffle, read in one task.
  * The shuffle is the child, so plans list it, but it is not executed
  * again: its map output is read. */
final case class OneTaskShuffleRead(child: ShuffleExchangeLike, bytes: Long)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = SinglePartition

  override protected def doExecute(): RDD[InternalRow] =
    child.getShuffleRDD(Array(CoalescedPartitionSpec(0, child.numPartitions,
      bytes))).asInstanceOf[RDD[InternalRow]]

  override protected def withNewChildInternal(c: SparkPlan): OneTaskShuffleRead =
    copy(child = c.asInstanceOf[ShuffleExchangeLike])
}
