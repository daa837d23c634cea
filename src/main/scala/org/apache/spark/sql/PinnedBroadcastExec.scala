package org.apache.spark.sql

import graft.plans.PinnedBroadcasts
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}

/** A broadcast of pinned data, built once per pinned relation: Citus
  * copies a reference table to every node when the table is created,
  * and a join to it moves no data at query time.
  *
  * [[graft.plans.ReusePinnedBroadcasts]] plans this node in place of a
  * `BroadcastExchangeExec(mode, child)` whose build side reads only
  * pinned data. [[exchange]] is that exchange over the same child. The
  * node keeps the broadcast it builds in [[PinnedBroadcasts]], keyed by
  * the canonical exchange and the RDD ids of the pinned column buffers
  * it reads; a later plan with the same key reuses it and starts no
  * job. On a miss it prepares [[exchange]], so several broadcasts of
  * one query still build concurrently, and stores the broadcast once
  * it is built. It lives in `org.apache.spark.sql` because
  * `doExecuteBroadcast` is `protected[sql]`.
  *
  * Once run, the tree string says whether it `built` or `reused` the
  * broadcast; [[exchange]] prints below it. */
final case class PinnedBroadcastExec(mode: BroadcastMode, child: SparkPlan)
    extends Exchange {

  /** The exchange that builds the broadcast on a miss. */
  @transient lazy val exchange: BroadcastExchangeExec =
    BroadcastExchangeExec(mode, child)

  @transient @volatile private var key: Option[PinnedBroadcasts.Key] = None
  @transient @volatile private var stored: Option[Broadcast[Any]] = None
  /** Whether the broadcast was built or reused. */
  @transient @volatile private var note: String = ""

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override def simpleString(maxFields: Int): String = s"$nodeName$note"

  override protected def doPrepare(): Unit = {
    key = PinnedBroadcastExec.pinnedRddIds(child)
      .map(PinnedBroadcasts.Key(exchange.canonicalized, _))
    stored = key.flatMap(PinnedBroadcasts.get(sparkContext, _))
    if (stored.isEmpty) exchange.prepare()
  }

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] = {
    val b = stored.getOrElse {
      val built = exchange.executeBroadcast[Any]()
      key.foreach(PinnedBroadcasts.put(sparkContext, _, built,
        exchange.metrics("dataSize").value))
      built
    }
    note = if (stored.isDefined) " reused" else " built"
    b.asInstanceOf[Broadcast[T]]
  }

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      s"$nodeName does not support the row-based execute")

  override def doCanonicalize(): SparkPlan =
    PinnedBroadcastExec(mode.canonicalized, child.canonicalized)

  /** Prints this node's line, then [[exchange]] as its child. */
  override def generateTreeString(depth: Int,
      lastChildren: java.util.ArrayList[Boolean], append: String => Unit,
      verbose: Boolean, prefix: String, addSuffix: Boolean, maxFields: Int,
      printNodeId: Boolean, printOutputColumns: Boolean, indent: Int): Unit = {
    (0 until indent).foreach(_ => append("   "))
    if (depth > 0) {
      lastChildren.subList(0, lastChildren.size - 1)
        .forEach(last => append(if (last) "   " else ":  "))
      append(if (lastChildren.get(lastChildren.size - 1)) "+- " else ":- ")
    }
    append(prefix + simpleString(maxFields) + "\n")
    lastChildren.add(true)
    exchange.generateTreeString(depth + 1, lastChildren, append, verbose, "",
      addSuffix, maxFields, printNodeId, printOutputColumns, indent)
    lastChildren.remove(lastChildren.size - 1)
  }

  override protected def withNewChildInternal(c: SparkPlan): PinnedBroadcastExec =
    copy(child = c)
}

object PinnedBroadcastExec {

  /** The RDD ids of the column buffers `plan` reads, when every leaf of
    * `plan` is a scan of cached data whose buffers are loaded. */
  def pinnedRddIds(plan: SparkPlan): Option[Seq[Int]] = {
    val leaves = plan.collectLeaves()
    val ids = leaves.collect {
      case s: InMemoryTableScanExec
          if s.relation.cacheBuilder.isCachedColumnBuffersLoaded =>
        s.relation.cacheBuilder.cachedColumnBuffers.id
    }
    if (ids.size == leaves.size) Some(ids) else None
  }
}
