package graft.plans

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.concurrent.TrieMap

/** `citus_stat_statements` analogue (`src/backend/distributed/utils/
  * citus_stat_statements.c`; view `sql/udfs/citus_stat_statements/`):
  * per-statement execution statistics — call count and cumulative
  * time — keyed by a normalized statement identity, plus the
  * partition-key routing info citus tracks (`partition_key` for
  * router queries). A statement that fails counts as a failure of its
  * shape, with the error class of the last failure, and adds no call.
  *
  * Spark-native mapping: a [[QueryExecutionListener]] (the engine's
  * sanctioned post-execution hook) aggregates per-query-shape stats
  * driver-side. The statement key is the canonicalized logical plan's
  * class-shape fingerprint — like PG's queryid, two runs of the same
  * query with different literals collapse into one row (Catalyst's
  * `canonicalized` plan erases literal-irrelevant details such as
  * attribute ids; we additionally erase literal values). Costs
  * nothing per row of data — the listener touches only plan metadata
  * after each query, never the data path, so it scales to any data
  * size by construction.
  */
object QueryStats {

  final case class Stat(queryId: Long, sample: String, calls: Long,
      totalMillis: Double, rows: Long, failures: Long = 0,
      lastErrorClass: Option[String] = None)

  private val stats = TrieMap.empty[Long, Stat]
  private val listeners = TrieMap.empty[SparkSession, QueryExecutionListener]

  /** Fingerprint ≙ pg queryid: canonical plan shape with literals
    * blanked, hashed. */
  private[plans] def queryId(qe: QueryExecution): Long = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val canon = qe.analyzed.canonicalized.transformAllExpressions {
      // erase literal VALUES; types without a default (exotic nested
      // literals) keep their literal — still a stable fingerprint
      case l: Literal =>
        try Literal.default(l.dataType) catch { case _: Throwable => l }
    }
    // stable across JVMs for the same plan shape
    scala.util.hashing.MurmurHash3.stringHash(canon.toString).toLong
  }

  /** Start collecting on this session (idempotent). */
  def install(spark: SparkSession): Unit =
    listeners.getOrElseUpdate(spark, {
      val l = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = record(qe, durationNs)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = recordFailure(qe, exception)
      }
      spark.listenerManager.register(l)
      l
    })

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val id = queryId(qe)
    val rows = qe.executedPlan.metrics.get("numOutputRows")
      .map(_.value).getOrElse(0L)
    stats.updateWith(id) {
      case Some(s) => Some(s.copy(calls = s.calls + 1,
        totalMillis = s.totalMillis + durationNs / 1e6,
        rows = s.rows + rows))
      case None => Some(Stat(id, sample(qe), 1, durationNs / 1e6, rows))
    }
  }

  /** The error class is Spark's error condition where the exception
    * carries one, else the exception's class name. */
  private def recordFailure(qe: QueryExecution, e: Exception): Unit = {
    val errorClass = Some(e match {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
      case _ => e.getClass.getName
    })
    val id = queryId(qe)
    stats.updateWith(id) {
      case Some(s) => Some(s.copy(failures = s.failures + 1,
        lastErrorClass = errorClass))
      case None => Some(Stat(id, sample(qe), 0, 0.0, 0, 1, errorClass))
    }
  }

  private def sample(qe: QueryExecution): String =
    qe.analyzed.toString.linesIterator.take(1).mkString.take(200)

  /** The `citus_stat_statements` view: one row per distinct statement
    * shape with calls / total+mean time / rows over the successful
    * runs, and failures / last_error_class over the failed ones
    * (mean_time_ms is null for a shape that never succeeded). */
  def view(spark: SparkSession): DataFrame = {
    import spark.implicits._
    stats.values.toSeq
      .map(s => (s.queryId, s.sample, s.calls, s.totalMillis,
        Option.when(s.calls > 0)(s.totalMillis / s.calls), s.rows,
        s.failures, s.lastErrorClass))
      .toDF("queryid", "query", "calls", "total_time_ms", "mean_time_ms",
        "rows", "failures", "last_error_class")
  }

  /** `citus_stat_statements_reset()`. */
  def reset(): Unit = stats.clear()

  /** Stop collecting and drop the listener. */
  def uninstall(spark: SparkSession): Unit =
    listeners.remove(spark).foreach(spark.listenerManager.unregister)
}
