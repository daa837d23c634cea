package graft

import graft.catalog.{DistributionCatalog => C, Rebalancer}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The citus multi-tenant operations story, end-to-end in one
  * scenario: distribute → observe (stat_tenants / citus_shards /
  * citus_tables) → diagnose the hot tenant → cure (isolate) → route →
  * rebalance placements → verify nothing about whole-table analytics
  * changed. Each step is the analogue of the citus UDF named in the
  * assertion. */
class TenantScenarioSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("multi-tenant lifecycle: distribute, observe, isolate the hot " +
      "tenant, route, rebalance — analytics results invariant") {
    C.resetTenantStats()
    val orders = Tables(spark, TestSpark.sf, "orders")
    val total = orders.count()
    C.createDistributedTable(spark, orders, "t_orders", "o_custkey",
      buckets = 8)

    // a reference analytics result BEFORE any operational changes
    def revenueByStatus() = spark.table("t_orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("rev"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val before = revenueByStatus()

    // observe: tenant traffic accumulates; one tenant is hot
    val hot = 7L
    (1 to 5).foreach(_ => C.tenantShard(spark, "t_orders", hot).count())
    C.tenantShard(spark, "t_orders", 9L).count()
    val top = C.statTenants(spark).collect()(0)
    assert(top.getString(1) === "7" && top.getLong(2) === 5,
      "stat_tenants must rank the hot tenant first")

    // observe: shard sizes + table view are consistent
    val shardRows = C.shardSizes(spark, "t_orders")
      .collect().map(_.getLong(3)).sum
    assert(shardRows === total)
    val tbl = C.citusTables(spark).filter(col("table_name") === "t_orders")
      .collect()(0)
    assert(tbl.getString(1) === "distributed" && tbl.getInt(5) === 8)

    // cure: isolate the hot tenant; routed reads touch only its files
    val hotRows = orders.filter(col("o_custkey") === hot).count()
    C.isolateTenant(spark, "t_orders", hot)
    val routed = C.tenantShard(spark, "t_orders", hot)
    assert(routed.count() === hotRows)
    assert(routed.inputFiles.nonEmpty &&
      routed.inputFiles.forall(_.contains(s"/__tenant=$hot/")),
      "isolated tenant reads only its dedicated shard files")

    // whole-table analytics: unchanged by isolation
    assert(revenueByStatus() === before,
      "isolate_tenant must not change whole-table results")

    // rebalance placements over 4 nodes; a re-plan is empty after
    Rebalancer.rebalance(spark, "t_orders", nodeCount = 4)
    assert(Rebalancer.planForTable(spark, "t_orders", 4).isEmpty)

    // the isolated tenant shows as its own shard in citus_shards
    val tenantShards = C.shardSizes(spark, "t_orders")
      .filter(col("shard") === -1).collect()
    assert(tenantShards.length === 1 &&
      tenantShards(0).getLong(3) === hotRows)
    assert(tenantShards(0).getString(0) === s"t_orders/__tenant=$hot")
    C.resetTenantStats()
  }
}
