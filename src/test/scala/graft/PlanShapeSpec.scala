package graft

import graft.plans.PlanChecks
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.scalatest.funsuite.AnyFunSuite

/** EXPLAIN-style plan pins for the headline queries (the reference does
  * this with EXPLAIN diffs — multi_explain.sql): broadcasts where dims
  * are small, two-phase aggregation, top-k as TakeOrderedAndProject. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(name: String) = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    PlanChecks.executedPlan(df)
  }

  test("q1: two-phase hash aggregation (partial before, final after exchange)") {
    val aggs = PlanChecks.nodesOf(plan("q1_pricing_summary"))
      .collect { case h: HashAggregateExec => h }
    assert(aggs.size >= 2, "expected partial+final HashAggregate")
  }

  test("q5: dimension joins broadcast (reference-join strategy)") {
    val df = SparkEntry.queries("q5_local_supplier")(spark, TestSpark.sf)
    assert(PlanChecks.hasBroadcastHashJoin(df))
  }

  test("q3: top-k compiles to TakeOrderedAndProject (partial top-k + merge)") {
    val tops = PlanChecks.nodesOf(plan("q3_shipping_priority"))
      .collect { case t: TakeOrderedAndProjectExec => t }
    assert(tops.nonEmpty,
      "ORDER BY + LIMIT must plan as TakeOrderedAndProject, not global sort")
  }

  test("q6: filters push into the parquet scan") {
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, TestSpark.sf)
    val pushed = PlanChecks.pushedFilters(df)
    assert(pushed.exists(f => f.contains("l_discount") ||
      f.contains("l_quantity") || f.contains("l_shipdate")),
      s"expected pushed filters, got $pushed")
  }

  test("join_shuffle_fact: the bench's forced-shuffle entry IS a " +
      "ShuffledHashJoin with no broadcast (Bench aborts if this degrades)") {
    val df = SparkEntry.queries("join_shuffle_fact")(spark, TestSpark.sf)
    assert(PlanChecks.hasShuffledHashJoin(df) &&
      !PlanChecks.hasBroadcastHashJoin(df),
      "join_shuffle_fact must stay a plan-forced shuffle join")
  }

  test("ch_market_share_repartition: the expression-key supplier link " +
      "stays a ShuffledHashJoin (the timed repartition path) and the " +
      "colocated fact pair joins below the computed-key exchange") {
    val df = SparkEntry.queries("ch_market_share_repartition")(
      spark, TestSpark.sf)
    val plan = PlanChecks.executedPlan(df)
    // ADVICE r13: "some SHJ exists" could pass with the supplier link
    // degraded while a different join happened to be shuffled-hash.
    // Identify the node by its keys: link_key (the aliased
    // pmod(l_partkey*l_suppkey,100) computed key) vs s_suppkey.
    val links = PlanChecks.shuffledHashJoinsOn(plan, "link_key", "s_suppkey")
    assert(links.nonEmpty,
      s"the supplier link (link_key = s_suppkey) must stay the forced " +
        s"repartition join; got plan:\n$plan")
    // And the colocated fact pair (lineitem ⋈ orders on the
    // distribution key) must sit BELOW that join, on either side of it
    // and as any join exec: the planner's side order and the broadcast
    // threshold are not what this pins.
    val factPair = links.flatMap(_.children).flatMap(side =>
      PlanChecks.joinsOn(side, "l_orderkey", "o_orderkey") ++
        PlanChecks.joinsOn(side, "o_orderkey", "l_orderkey"))
    assert(factPair.nonEmpty,
      s"lineitem ⋈ orders (the colocated pair) must join below the " +
        s"computed-key exchange, not above it; got plan:\n$plan")
    // Keys match by exact name: a ps_suppkey key is not s_suppkey.
    import org.apache.spark.sql.functions.col
    val ps = Tables(spark, TestSpark.sf, "lineitem")
      .select(col("l_suppkey").as("ps_suppkey"))
      .join(Tables(spark, TestSpark.sf, "supplier").hint("shuffle_hash"),
        col("ps_suppkey") === col("s_suppkey"))
    val psPlan = PlanChecks.executedPlan(ps)
    assert(PlanChecks.shuffledHashJoinsOn(psPlan, "ps_suppkey", "s_suppkey")
      .nonEmpty, s"expected the ps_suppkey = s_suppkey join in:\n$psPlan")
    assert(PlanChecks.shuffledHashJoinsOn(psPlan, "s_suppkey", "s_suppkey")
      .isEmpty, "a ps_suppkey key must not match s_suppkey")
  }

  test("q21: EXISTS/NOT EXISTS plan as semi + anti joins, no subquery re-execution") {
    val df = SparkEntry.queries("q21_waiting_orders")(spark, TestSpark.sf)
    val s = PlanChecks.executedPlan(df).toString
    assert(s.contains("LeftSemi"), "EXISTS must plan as a semi join")
    assert(s.contains("LeftAnti"), "NOT EXISTS must plan as an anti join")
  }

  test("q17: correlated per-part average decorrelates to one grouped pass") {
    // the avg subquery must appear as an Aggregate joined back, not a
    // per-row re-scan: exactly one pass builds the per-part averages
    val df = SparkEntry.queries("q17_small_quantity_revenue")(spark, TestSpark.sf)
    val aggs = PlanChecks.nodesOf(PlanChecks.executedPlan(df))
      .collect { case h: HashAggregateExec => h }
    // partial+final for the avg, partial+final for the outer sum = 4
    assert(aggs.size <= 6, s"unexpected aggregate explosion: ${aggs.size}")
    assert(aggs.nonEmpty)
  }

  test("dml_merge: bucketed target merges with exchange only on the source side") {
    import graft.catalog.DistributionCatalog
    import graft.sources.Dml
    import org.apache.spark.sql.functions._
    DistributionCatalog.createDistributedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "psm_orders", "o_orderkey",
      buckets = 4)
    val src = Tables(spark, TestSpark.sf, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("k"), lit("X").as("st"))
    val merged = Dml.merge(spark.table("psm_orders"), src, "o_orderkey", "k",
      Dml.MergeClauses(matchedUpdate = Map("o_orderstatus" -> col("s.st"))))
    val shuffles = PlanChecks.nodesOf(PlanChecks.executedPlan(merged)).count {
      p => p.getClass.getSimpleName.contains("ShuffleExchange")
    }
    // target side reads bucketed (no exchange); source side may shuffle
    assert(shuffles <= 1,
      s"expected at most one exchange (source side), got $shuffles")
  }

  test("events_interval_join: binned range join plans as a HASH join " +
      "on the bucket key, never a nested loop") {
    val nodes = PlanChecks.nodesOf(plan("events_interval_join"))
      .map(_.getClass.getSimpleName)
    assert(!nodes.exists(n => n.contains("NestedLoop") ||
        n.contains("Cartesian")),
      s"range join must not degenerate to a nested loop: $nodes")
    assert(nodes.exists(n => n.contains("HashJoin") ||
        n.contains("SortMergeJoin")),
      s"expected an equi join on the bucket key: $nodes")
  }

  test("ch_expr_join_profit: computed-expression join key still hashes " +
      "(CH mod(a*b,N)=key never becomes a nested loop)") {
    val nodes = PlanChecks.nodesOf(plan("ch_expr_join_profit"))
      .map(_.getClass.getSimpleName)
    assert(!nodes.exists(n => n.contains("NestedLoop") ||
        n.contains("Cartesian")),
      s"expression-key join must stay an equi join: $nodes")
    assert(nodes.exists(n => n.contains("HashJoin") ||
        n.contains("SortMergeJoin")),
      s"expected a hash/merge join on the computed key: $nodes")
  }

  test("text_pack_sequences: exactly one HASH exchange (the pack-shard " +
      "window key) — packing itself is a single-shuffle operator") {
    val p = plan("text_pack_sequences")
    // the only hash repartitioning is the window key; the trailing
    // range exchange is the oracle's presentation ORDER BY, not packing
    val hashExchanges = PlanChecks.nodesOf(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(hashExchanges.size === 1,
      s"packing must cost exactly one hash shuffle, got " +
        s"${PlanChecks.nodesOf(p).map(_.nodeName).filter(_.contains("Exchange"))}")
  }

  test("text_bm25_rank: corpus stats broadcast, scoring is map-side, " +
      "top-k merges (no global sort of scored docs)") {
    val p = plan("text_bm25_rank")
    val nodes = PlanChecks.nodesOf(p).map(_.getClass.getSimpleName)
    assert(nodes.exists(_.contains("BroadcastNestedLoopJoin")) ||
      nodes.exists(_.contains("BroadcastHashJoin")),
      s"1-row stats must broadcast: $nodes")
    assert(PlanChecks.nodesOf(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"top-25 must plan as TakeOrderedAndProject: $nodes")
  }

  test("sort_fetch_with_ties: threshold-then-filter — NO " +
      "unpartitioned WindowExec anywhere (a global rank() window " +
      "funnels every row through one task at 100 TB); the boundary " +
      "is a distributed partial top-k (TakeOrderedAndProject) " +
      "broadcast into a distributed filter") {
    val p = plan("sort_fetch_with_ties")
    val nodes = PlanChecks.nodesOf(p).map(_.getClass.getSimpleName)
    assert(!nodes.exists(_.contains("Window")),
      s"WITH TIES must not plan ANY window: $nodes")
    assert(PlanChecks.nodesOf(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"boundary pass must be a distributed partial top-k: $nodes")
    assert(nodes.exists(_.contains("BroadcastNestedLoopJoin")),
      s"1-row boundary must broadcast into the filter pass: $nodes")
  }

  test("columnar chunk filtering: a selective predicate READS fewer " +
      "parquet rows than the table holds — metrics-level proof of " +
      "row-group min/max skipping (reference: columnar.h:85-125 " +
      "stripe skip lists, columnar_chunk_filtering.sql) — on both the " +
      "flat and __shard-partitioned layouts") {
    import org.apache.spark.sql.functions._
    val n = 200000L
    def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // populate metrics on THIS queryExecution
      val scans = PlanChecks.nodesOf(PlanChecks.executedPlan(df)).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "expected a FileSourceScanExec")
      scans.map(_.metrics("numOutputRows").value).sum
    }
    // flat layout: one sorted file, ~64 KB row groups → tight per-
    // group min/max on `a`
    val flatDir = java.nio.file.Files
      .createTempDirectory("graft_rowgroup_flat").toFile.getAbsolutePath
    spark.range(n)
      .select(col("id").cast("int").as("a"),
        (col("id") + 1).cast("int").as("b"))
      .coalesce(1).sortWithinPartitions("a")
      .write.option("parquet.block.size", (64 * 1024).toString)
      .mode("overwrite").parquet(flatDir)
    val flat = spark.read.parquet(flatDir)
    assert(flat.count() === n)
    val filtered = flat.filter(col("a") < 1000)
    val readFlat = scannedRows(filtered)
    assert(readFlat < n / 4,
      s"selective predicate must skip most row groups: read $readFlat of $n")
    assert(readFlat >= 1000, "matching rows must still be read")
    // the qual must actually reach the parquet reader
    val pushed = PlanChecks.pushedFilters(filtered).mkString(",")
    assert(pushed.contains("LessThan"), s"filter not pushed: $pushed")
    // __shard layout (range/append-distribution physical layout):
    // skipping still applies WITHIN each shard's files, independent of
    // shard pruning on the partition column
    val shardDir = java.nio.file.Files
      .createTempDirectory("graft_rowgroup_shard").toFile.getAbsolutePath
    spark.range(n)
      .select(col("id").cast("int").as("a"),
        (col("id") + 1).cast("int").as("b"),
        (col("id") / 50000).cast("int").as("__shard"))
      .repartition(col("__shard"))
      .sortWithinPartitions("a")
      .write.option("parquet.block.size", (64 * 1024).toString)
      .partitionBy("__shard").mode("overwrite").parquet(shardDir)
    val sharded = spark.read.parquet(shardDir).filter(col("a") < 1000)
    val readShard = scannedRows(sharded)
    assert(readShard < n / 4,
      s"sharded layout must also row-group-skip: read $readShard of $n")
    assert(readShard >= 1000)
  }
}
