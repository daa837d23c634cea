package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerUnpersistRDD}
import org.apache.spark.sql.PinnedBroadcastExec
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Plans [[PinnedBroadcastExec]] in place of every broadcast exchange
  * whose build side is a pure function of pinned data: every leaf is a
  * scan of cached data whose column buffers are loaded, every
  * expression is deterministic, and there are no subqueries. Such a
  * build side reads the same rows for as long as its buffers stay
  * cached. On the static (AQE-off) path only, like [[CombineInOneTask]]. */
object ReusePinnedBroadcasts extends ColumnarRule {

  override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan =
      if (conf.adaptiveExecutionEnabled) plan
      else plan.transformUp {
        case e: BroadcastExchangeExec if pure(e.child) =>
          PinnedBroadcastExec(e.mode, e.child)
      }
  }

  private def pure(build: SparkPlan): Boolean =
    PinnedBroadcastExec.pinnedRddIds(build).isDefined && !build.exists(p =>
      p.subqueries.nonEmpty || !p.expressions.forall(_.deterministic))
}

/** Each SparkContext's registry of the broadcasts [[PinnedBroadcastExec]]
  * built, keyed by [[Key]]. A re-pin, a recache or a changed file gives
  * the cached data new RDD ids, so its key misses; a different filter
  * literal, join key, time zone or ANSI mode gives a different canonical
  * plan. An entry goes when one of its RDDs is unpersisted, and the
  * least recently used goes once a registry holds more than
  * [[MaxEntries]] broadcasts or [[MaxBytes]] bytes. A
  * dropped broadcast is left to Spark's `ContextCleaner`, as Spark's own
  * broadcasts are, and never destroyed: a running query may still hold
  * it. */
object PinnedBroadcasts {

  /** The canonical exchange and the RDD ids of the column buffers its
    * build side reads. */
  final case class Key(exchange: SparkPlan, rddIds: Seq[Int])

  private final case class Entry(broadcast: Broadcast[Any], bytes: Long)

  /** The most broadcasts, and bytes of built broadcasts, a registry
    * holds. The 12 bench queries keep 26 broadcasts of 117 MB at sf0.1;
    * an eighth of the heap leaves the rest to the pinned cache and to
    * the queries. */
  private val MaxEntries = 64
  private val MaxBytes = Runtime.getRuntime.maxMemory / 8

  private final class Registry extends SparkListener {
    // access order: the first entry is the least recently used
    private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)

    def get(k: Key): Option[Broadcast[Any]] =
      synchronized(Option(entries.get(k)).map(_.broadcast))

    /** Stores `e` unless one of its RDDs is already unpersisted: Spark
      * drops an RDD from the persistent set before it posts the event
      * that would drop the entry. */
    def put(sc: SparkContext, k: Key, e: Entry): Unit = synchronized {
      val live = sc.getPersistentRDDs
      if (k.rddIds.forall(live.contains)) {
        entries.put(k, e)
        while (entries.size > MaxEntries || bytes > MaxBytes)
          entries.remove(entries.keySet.iterator.next())
      }
    }

    def size: Int = synchronized(entries.size)

    def bytes: Long = synchronized {
      var sum = 0L
      entries.values.forEach(e => sum += e.bytes)
      sum
    }

    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      synchronized(entries.keySet.removeIf(_.rddIds.contains(e.rddId)))

    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      synchronized(entries.clear())
  }

  private val registries = new java.util.WeakHashMap[SparkContext, Registry]

  private def registry(sc: SparkContext): Registry = registries.synchronized {
    Option(registries.get(sc)).getOrElse {
      val r = new Registry
      sc.addSparkListener(r)
      registries.put(sc, r)
      r
    }
  }

  def get(sc: SparkContext, k: Key): Option[Broadcast[Any]] = registry(sc).get(k)

  /** Stores broadcast `b` of `bytes` bytes under `k`. */
  def put(sc: SparkContext, k: Key, b: Broadcast[Any], bytes: Long): Unit =
    registry(sc).put(sc, k, Entry(b, bytes))

  /** Broadcasts the registry of `sc` holds. */
  private[graft] def size(sc: SparkContext): Int = registry(sc).size

  /** The built size of those broadcasts, in bytes. */
  private[graft] def bytes(sc: SparkContext): Long = registry(sc).bytes
}
