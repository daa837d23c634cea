package graft.plans

import org.apache.spark.sql.{DataFrame, PinnedBroadcastExec}
import org.apache.spark.sql.catalyst.expressions.{Expression, NamedExpression}
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Plan-shape assertions — the engine's analogue of the reference's
  * EXPLAIN-diff regression tests (citus `sql/multi_explain.sql`,
  * join-order tests): correctness of the *physical strategy*, not just
  * the rows. Used by specs to pin that colocated joins run without a
  * shuffle and reference joins broadcast.
  */
object PlanChecks {

  /** The final physical plan (descending into AQE's current plan),
    * after running `df`'s own execution: AQE settles on its final plan
    * and each [[CombineExec]] on the branch it takes. */
  def executedPlan(df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("executedPlan"))(
      qe.executedPlan.execute().foreach(_ => ()))
    qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    Seq(p) ++ (p match {
      // these parent their real subtrees out-of-band
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectAll(q.plan)
      case c: CombineExec => collectAll(c.executed)
      case b: PinnedBroadcastExec => collectAll(b.exchange)
      case _ => p.children.flatMap(collectAll)
    }) ++ p.subqueries.flatMap(collectAll)

  def countShuffles(df: DataFrame): Int =
    collectAll(executedPlan(df)).count(_.isInstanceOf[ShuffleExchangeLike])

  def hasBroadcastHashJoin(df: DataFrame): Boolean =
    collectAll(executedPlan(df)).exists(_.isInstanceOf[BroadcastHashJoinExec])

  def hasSortMergeJoin(df: DataFrame): Boolean =
    collectAll(executedPlan(df)).exists(_.isInstanceOf[SortMergeJoinExec])

  def hasShuffledHashJoin(df: DataFrame): Boolean =
    collectAll(executedPlan(df)).exists(_.isInstanceOf[ShuffledHashJoinExec])

  /** All nodes of an already-executed plan (post-AQE, subqueries
    * included) — for assertions that must identify a SPECIFIC node
    * rather than "some node of this class exists" (ADVICE r13: the
    * ch_market_share_repartition pin passed if ANY join happened to be
    * shuffled-hash). */
  def nodesOf(plan: SparkPlan): Seq[SparkPlan] = collectAll(plan)

  /** The join nodes, of any join exec, whose left/right join keys name
    * the given attributes: a key matches when it references an
    * attribute of exactly that name or carries an alias of that name
    * (a collapsed projection); `s_suppkey` does not match a
    * `ps_suppkey` key. */
  def joinsOn(plan: SparkPlan, leftKey: String, rightKey: String)
      : Seq[BaseJoinExec] = {
    def named(keys: Seq[Expression], name: String): Boolean =
      keys.exists(_.exists {
        case n: NamedExpression => n.name == name
        case _ => false
      })
    collectAll(plan).collect {
      case j: BaseJoinExec
          if named(j.leftKeys, leftKey) && named(j.rightKeys, rightKey) => j
    }
  }

  /** The ShuffledHashJoin nodes among [[joinsOn]]: identifies the forced
    * expression-key join among several shuffle-capable joins. */
  def shuffledHashJoinsOn(plan: SparkPlan, leftKey: String,
      rightKey: String): Seq[ShuffledHashJoinExec] =
    joinsOn(plan, leftKey, rightKey).collect {
      case j: ShuffledHashJoinExec => j
    }

  /** Scan-level pushdown check: every parquet scan's pushed filters. */
  def pushedFilters(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    collectAll(executedPlan(df)).collect {
      case f: FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "[]")
    }
  }

  /** Distributed-EXPLAIN report (`multi_explain.c:288` CitusExplainScan
    * shows per-task strategy; here: one row per strategy-relevant
    * physical node) — which relations broadcast, where the shuffles
    * are, what each scan reads and pushes down. The "did my join
    * broadcast / did my filter reach the scan" questions answerable
    * without reading a plan tree. */
  def explainReport(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val spark = df.sparkSession
    import spark.implicits._
    val nodes = collectAll(executedPlan(df))
    nodes.zipWithIndex.collect {
      case (f: FileSourceScanExec, i) =>
        (i, "scan",
          f.metadata.getOrElse("Location", "")
            .replaceAll(".*/", "").stripSuffix("]"),
          s"schema=${f.requiredSchema.fieldNames.mkString(",")} " +
            s"pushed=${f.metadata.getOrElse("PushedFilters", "[]")}")
      case (p, i) if p.isInstanceOf[ShuffleExchangeLike] =>
        (i, "shuffle", "", p.outputPartitioning.toString)
      case (j: BroadcastHashJoinExec, i) =>
        (i, "broadcast_join", j.buildSide.toString,
          j.condition.map(_.sql).getOrElse(""))
      case (j: SortMergeJoinExec, i) =>
        (i, "shuffle_join", "", j.leftKeys.map(_.sql).mkString(","))
      case (p, i) if p.getClass.getSimpleName.contains("HashAggregate") =>
        (i, "aggregate", "",
          p.toString.takeWhile(_ != '\n').take(120))
    }.toDF("node", "kind", "relation", "detail")
  }

  /** All physical nodes of the executed plan in pre-order (AQE stages
    * and subqueries included) — the raw material for plan-shape pins
    * (the engine's analogue of the reference's EXPLAIN-diff corpus,
    * `sql/multi_explain.sql`). */
  def planNodes(df: DataFrame): Seq[SparkPlan] =
    collectAll(executedPlan(df))

  /** Aggregate phases in pre-order: for each aggregate node, the
    * distinct AggregateMode names of its aggregate expressions (e.g.
    * Seq("Final"), Seq("Partial")). The reference's two-phase
    * partial/final split ("HashAggregate below the Custom Scan, one
    * above") maps to Final preceding Partial in pre-order with the
    * shuffle between them. */
  def aggModes(df: DataFrame): Seq[Seq[String]] =
    planNodes(df).collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.map(_.mode.toString).distinct.toSeq
    }

  /** Pre-order kind labels for structural ordering pins: "final_agg",
    * "partial_agg", "shuffle", "broadcast_join", "sort_merge_join",
    * "sort", "topk", "filter", "scan", or the bare class name. */
  def nodeKinds(df: DataFrame): Seq[String] =
    planNodes(df).map {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        val modes = a.aggregateExpressions.map(_.mode.toString).distinct
        if (modes.contains("Partial")) "partial_agg"
        else if (modes.contains("Final")) "final_agg"
        else if (modes.isEmpty) "group_agg" // grouping-only, no agg fns
        else "agg_" + modes.mkString("_").toLowerCase
      case _: ShuffleExchangeLike => "shuffle"
      case _: BroadcastHashJoinExec => "broadcast_join"
      case _: SortMergeJoinExec => "sort_merge_join"
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        "topk"
      case _: org.apache.spark.sql.execution.SortExec => "sort"
      case _: org.apache.spark.sql.execution.FilterExec => "filter"
      case _: org.apache.spark.sql.execution.FileSourceScanExec => "scan"
      case p => p.getClass.getSimpleName.stripSuffix("Exec")
    }

  /** EXPLAIN ANALYZE (`multi_explain.c:279`
    * `worker_save_query_explain_analyze` — the reference captures
    * per-task row counts and timings from the workers): execute the
    * plan, then report each physical node with its
    * measured SQL metrics (rows out, spill, build sizes…). The
    * metrics come from Spark's per-node SQLMetrics — the same
    * executor-side accumulators the UI shows — so this is a real
    * post-execution profile, not an estimate. */
  def explainAnalyze(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // executedPlan runs df's own execution, whose nodes hold the metrics
    collectAll(executedPlan(df)).zipWithIndex.map { case (p, i) =>
      val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      val interesting = p.metrics
        .filter { case (k, m) => k != "numOutputRows" && m.value > 0 }
        .map { case (k, m) => s"$k=${m.value}" }
        .toSeq.sorted.take(6).mkString(" ")
      (i, p.getClass.getSimpleName.stripSuffix("Exec"), rows, interesting)
    }.toDF("node", "operator", "rows_out", "metrics")
  }
}
