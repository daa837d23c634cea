package graft

import graft.catalog.DistributionCatalog
import graft.plans.PlanChecks
import graft.sources.Ingest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Data-model layer: colocated bucket joins must not shuffle (the
  * LOCAL_PARTITION_JOIN guarantee), reference joins must broadcast
  * (REFERENCE_JOIN) — plan-shape tests in the spirit of the reference's
  * EXPLAIN-diff suite. */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def catalogTable(name: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name))

  private def warehouseDir(table: String): java.io.File =
    new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, table)

  /** Every file under `d`, at any depth. */
  private def walk(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => if (f.isDirectory) f +: walk(f) else Seq(f))

  /** The parquet codecs in the footers of `files` (Spark file URIs). */
  private def codecs(files: Seq[String]): Set[String] = {
    import scala.jdk.CollectionConverters._
    files.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f),
          spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .map(_.getCodec.toString)
      finally r.close()
    }.toSet
  }

  /** Files per bucket of catalog table `name`, from its file listing. */
  private def filesPerBucket(name: String): Map[Int, Int] =
    spark.table(name).inputFiles.toSeq
      .groupBy(f => org.apache.spark.sql.execution.datasources.BucketingUtils
        .getBucketId(new java.io.File(f).getName).get)
      .map { case (b, fs) => b -> fs.length }

  /** Whether `df`'s analyzed plan carries a broadcast hint. */
  private def broadcastHinted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ResolvedHint])

  /** `t`'s message and its causes'. */
  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq

  private def hotCustomer(orders: org.apache.spark.sql.DataFrame): Long =
    orders.groupBy("o_custkey").count()
      .orderBy(col("count").desc, col("o_custkey")).first().getLong(0)

  /** Runs `rewrite`, which must throw, and checks that it changed
    * nothing: the rows (isolated tenants' included), the spec, the
    * partition columns (so isolated tenants keep their `__tenant`
    * partitions), the session's tables (so no staging entry is left)
    * and the table's warehouse directory (so no new `_v…` version). */
  private def assertFailsAtomically(name: String)(rewrite: => Unit): Unit = {
    def rows = spark.table(name).collect()
      .map(_.toString).sorted.toSeq
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val rowsBefore = rows
    val specBefore = DistributionCatalog.spec(spark, name)
    val partitionsBefore = catalogTable(name).partitionColumnNames
    val tablesBefore = tables
    val dirBefore = warehouseDir(name).list().toSet
    intercept[Exception](rewrite)
    assert(rows === rowsBefore)
    assert(DistributionCatalog.spec(spark, name) === specBefore)
    assert(catalogTable(name).partitionColumnNames === partitionsBefore)
    assert(tables === tablesBefore)
    assert(warehouseDir(name).list().toSet === dirBefore)
  }

  private lazy val setup: Unit = {
    val orders = Tables(spark, TestSpark.sf, "orders")
    val lineitem = Tables(spark, TestSpark.sf, "lineitem")
    val nation = Tables(spark, TestSpark.sf, "nation")
    DistributionCatalog.createDistributedTable(
      spark, orders, "d_orders", "o_orderkey", buckets = 8)
    DistributionCatalog.createDistributedTable(
      spark, lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "d_lineitem", "o_orderkey", buckets = 8,
      colocateWith = Some("d_orders"))
    DistributionCatalog.createReferenceTable(spark, nation, "d_nation")
  }

  test("colocated join on the distribution column plans without shuffle") {
    setup
    assert(DistributionCatalog.colocated(spark, "d_orders", "d_lineitem"))
    val joined = spark.table("d_orders")
      .join(spark.table("d_lineitem"), "o_orderkey")
      .select(col("o_orderkey"), col("l_quantity"), col("o_totalprice"))
    assert(PlanChecks.countShuffles(joined) === 0,
      "bucket join must not introduce a ShuffleExchange")
    assert(joined.count() > 0)
  }

  test("group-by on the distribution column aggregates without shuffle " +
      "(citus full aggregate pushdown: groupedByDisjointPartitionColumn)") {
    setup
    val agg = spark.table("d_orders")
      .groupBy(col("o_orderkey"))
      .agg(sum(col("o_totalprice")).as("t"), count(lit(1)).as("n"))
    assert(PlanChecks.countShuffles(agg) === 0,
      "bucketed-by-group-key aggregate must run one-phase, no Exchange")
    assert(agg.count() > 0)
  }

  test("non-distribution-key join does shuffle (dual partition join)") {
    setup
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("d_orders")
        .join(spark.table("d_lineitem")
            .withColumnRenamed("o_orderkey", "lk"),
          col("o_custkey") === col("lk"))
      assert(PlanChecks.countShuffles(j) > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("reference table join is a broadcast hash join, no shuffle of the fact") {
    setup
    val j = spark.table("d_orders")
      .join(spark.table("d_nation"),
        col("o_custkey") % 25 === col("n_nationkey"))
    assert(PlanChecks.hasBroadcastHashJoin(j))
  }

  test("colocation bookkeeping mirrors pg_dist_partition") {
    setup
    // the suites share one session: other suites' tables are listed too
    val rows = DistributionCatalog.listTables(spark)
      .filter(col("logicalrelid").isin("d_lineitem", "d_nation", "d_orders"))
      .orderBy("logicalrelid").collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("d_lineitem", "d_nation", "d_orders"))
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("d_orders").getString(1) === "h")
    assert(byName("d_nation").getString(1) === "n")
    assert(byName("d_orders").getInt(4) === byName("d_lineitem").getInt(4))
  }

  test("refusing colocation with mismatched bucket counts") {
    setup
    val ex = intercept[IllegalArgumentException] {
      DistributionCatalog.createDistributedTable(
        spark, Tables(spark, TestSpark.sf, "customer"),
        "d_customer_bad", "c_custkey", buckets = 4,
        colocateWith = Some("d_orders"))
    }
    assert(ex.getMessage.contains("cannot colocate"))
  }

  test("filter pushdown reaches the parquet scan") {
    val li = Tables(spark, TestSpark.sf, "lineitem")
      .filter(col("l_quantity") > 45).select(col("l_orderkey"))
    val pushed = PlanChecks.pushedFilters(li)
    assert(pushed.exists(_.contains("l_quantity")),
      s"expected l_quantity in PushedFilters, got: $pushed")
  }

  test("citus_shards-style size view: per-bucket bytes and rows") {
    setup
    val sizes = DistributionCatalog.shardSizes(spark, "d_orders").collect()
    assert(sizes.length === 8)
    val totalRows = sizes.map(_.getLong(3)).sum
    assert(totalRows === Tables(spark, TestSpark.sf, "orders").count())
    // hash distribution actually spread the data: no empty bucket, and
    // every bucket has a real file behind it
    assert(sizes.forall(r => r.getLong(2) > 0 && r.getLong(3) > 0))
  }

  test("dist-column equality prunes to one bucket (shard pruning)") {
    setup
    // the router-planner read path (multi_hash_pruning.sql): an
    // equality filter on the distribution column must touch ONE shard —
    // one bucket file, read by one task
    val one = spark.table("d_orders").filter(col("o_orderkey") === 1L)
    assert(one.inputFiles.length === 1,
      s"expected one bucket file, got ${one.inputFiles.toSeq}")
    assert(one.queryExecution.executedPlan.execute().getNumPartitions === 1,
      "a single-shard read must run one task")
    assert(one.count() <= 1)
  }

  test("materialized view stores the result; refresh recomputes it") {
    setup
    spark.sql("DROP TABLE IF EXISTS mv_source")
    Tables(spark, TestSpark.sf, "orders").limit(100)
      .write.mode("overwrite").saveAsTable("mv_source")
    DistributionCatalog.createMaterializedView(spark, "mv_daily",
      s => s.table("mv_source").groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n")))
    val before = spark.table("mv_daily").agg(sum(col("n"))).collect()(0).getLong(0)
    assert(before === 100)
    // source changes; the matview is stale until refreshed
    Tables(spark, TestSpark.sf, "orders").limit(150)
      .write.mode("overwrite").saveAsTable("mv_source")
    assert(spark.table("mv_daily").agg(sum(col("n")))
      .collect()(0).getLong(0) === 100)
    DistributionCatalog.refreshMaterializedView(spark, "mv_daily")
    assert(spark.table("mv_daily").agg(sum(col("n")))
      .collect()(0).getLong(0) === 150)
    // distributed matview: result lands bucketed + cataloged
    DistributionCatalog.createMaterializedView(spark, "mv_dist",
      s => s.table("mv_source").select(col("o_orderkey"), col("o_custkey")),
      distColumn = Some("o_orderkey"), buckets = 4)
    val spec = DistributionCatalog.spec(spark, "mv_dist").get
    assert(spec.bucketCount === 4 && spec.distColumn.contains("o_orderkey"))
    assert(spark.table("mv_dist").count() === 150)
  }

  test("alter_distributed_table rewrites distribution; undistribute drops it") {
    setup
    val cust = Tables(spark, TestSpark.sf, "customer")
    DistributionCatalog.createDistributedTable(
      spark, cust, "d_alter_cust", "c_custkey", buckets = 4)
    val n = spark.table("d_alter_cust").count()

    // re-distribute on a different column with a different bucket count
    val spec = DistributionCatalog.alterDistributedTable(
      spark, "d_alter_cust", distColumn = Some("c_nationkey"),
      buckets = Some(8))
    assert(spec.distColumn.contains("c_nationkey") && spec.bucketCount === 8)
    assert(spark.table("d_alter_cust").count() === n, "data survives rewrite")
    // now colocatable with the 8-bucket fact tables on the same key type
    DistributionCatalog.createDistributedTable(spark,
      Tables(spark, TestSpark.sf, "orders")
        .withColumn("c_nationkey", col("o_custkey") % 25),
      "d_alter_ord", "c_nationkey", buckets = 8,
      colocateWith = Some("d_alter_cust"))
    assert(DistributionCatalog.colocated(spark, "d_alter_cust", "d_alter_ord"))

    // undistribute: rows intact, catalog entry gone
    DistributionCatalog.undistributeTable(spark, "d_alter_cust")
    assert(DistributionCatalog.spec(spark, "d_alter_cust").isEmpty)
    assert(spark.table("d_alter_cust").count() === n)
  }

  test("isolate_tenant_to_new_shard: hot key gets its own files; " +
      "whole-table reads still see every row") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createDistributedTable(
      spark, orders, "d_iso_orders", "o_custkey", buckets = 8)
    val total = orders.count()
    val hotKey = orders.groupBy("o_custkey").count()
      .orderBy(col("count").desc).first().getLong(0)
    val hotRows = orders.filter(col("o_custkey") === hotKey).count()

    DistributionCatalog.isolateTenant(spark, "d_iso_orders", hotKey)

    // routed single-tenant read hits only the tenant's partition
    val routed = DistributionCatalog.tenantShard(spark, "d_iso_orders", hotKey)
    assert(routed.count() === hotRows)
    assert(routed.inputFiles.nonEmpty &&
      routed.inputFiles.forall(_.contains(s"/__tenant=$hotKey/")),
      "isolated tenant must read only its own files")
    // the tenant stays in its table: every read sees every row
    assert(spark.table("d_iso_orders")
      .filter(col("o_custkey") === hotKey).count() === hotRows)
    assert(spark.table("d_iso_orders").count() === total)
    // the `__tenant` partition column is layout, not user schema
    assert(spark.table("d_iso_orders").columns.toSeq === orders.columns.toSeq)
    assert(Graft.pgSql(spark, "SELECT * FROM d_iso_orders").columns.toSeq ===
      orders.columns.toSeq)
    // a non-isolated tenant routes to the pruned base table
    val otherKey = hotKey + 1
    val expected = orders.filter(col("o_custkey") === otherKey).count()
    assert(DistributionCatalog.tenantShard(spark, "d_iso_orders", otherKey)
      .count() === expected)
    // layout rewrite re-absorbs the isolated tenant: no rows lost
    DistributionCatalog.undistributeTable(spark, "d_iso_orders")
    assert(spark.table("d_iso_orders").count() === total,
      "undistribute must fold isolated tenant rows back in")
    assert(spark.table("d_iso_orders")
      .filter(col("o_custkey") === hotKey).count() === hotRows)
  }

  test("window partitioned by the distribution column runs without " +
      "shuffle on the bucketed layout (SafeToPushdownWindowFunction)") {
    setup
    // citus pushes a window to the shards only when PARTITION BY
    // includes the distribution column (query_pushdown_planning.c:
    // 428-472); Spark's equivalent: the bucketed scan already provides
    // the required hash distribution, so EnsureRequirements inserts
    // NO exchange
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey")).orderBy(col("o_orderdate"))
      val df = spark.table("d_orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"),
          sum(col("o_totalprice")).over(w).as("run_total"))
      assert(PlanChecks.countShuffles(df) === 0,
        "dist-column window must not shuffle a bucketed table")
      assert(df.count() > 0)
      // a window on a NON-distribution column still shuffles
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
      val df2 = spark.table("d_orders")
        .select(col("o_custkey"), row_number().over(w2).as("rn"))
      assert(PlanChecks.countShuffles(df2) > 0)
    } finally spark.conf.unset(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("range-distributed table: interval pruning reads only overlapping " +
      "shard directories (DISTRIBUTE_BY_RANGE + PruneShards)") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createRangeDistributedTable(spark, orders,
      "d_range_orders", "o_custkey", splitPoints = Seq(40, 80, 120))
    // pg_dist_shard view: 4 shards with observed bounds
    val shards = DistributionCatalog.rangeShards(spark, "d_range_orders")
      .orderBy("shardid").collect()
    assert(shards.length === 4)
    assert(shards.map(_.getInt(1)).toSeq === Seq(0, 1, 2, 3))
    // no rows lost in the layout
    assert(spark.table("d_range_orders").count() === orders.count())
    // an interval read prunes: [0, 30] overlaps only shard 0
    val pruned = spark.sql(
      "SELECT * FROM d_range_orders WHERE o_custkey BETWEEN 0 AND 30")
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("__shard=0")),
      "scan must touch only the overlapping shard's directory")
    assert(pruned.columns.toSeq === orders.columns.toSeq)
    val expected = orders
      .filter(col("o_custkey") >= 0 && col("o_custkey") <= 30).count()
    assert(pruned.count() === expected)
    // the pruning shows up as a partition filter in the physical plan
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("__shard"), "expected __shard partition pruning")
  }

  test("append-distributed table: each batch is a new shard; pruning " +
      "uses per-shard min/max (DISTRIBUTE_BY_APPEND)") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    val b1 = orders.filter(col("o_custkey") < 50)
    val b2 = orders.filter(col("o_custkey") >= 50 && col("o_custkey") < 100)
    val b3 = orders.filter(col("o_custkey") >= 100)
    DistributionCatalog.createAppendTable(spark, b1, "d_append_orders",
      "o_custkey")
    DistributionCatalog.appendShard(spark, "d_append_orders", b2)
    DistributionCatalog.appendShard(spark, "d_append_orders", b3)
    val shards = DistributionCatalog.rangeShards(spark, "d_append_orders")
    assert(shards.count() === 3)
    assert(spark.table("d_append_orders").count() === orders.count())
    // a read over [60, 90] overlaps only batch 2's shard
    val pruned = spark.table("d_append_orders")
      .filter(col("o_custkey").between(60, 90))
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("__shard=1")),
      "only the middle batch's shard overlaps [60,90]")
    assert(spark.table("d_append_orders").columns.toSeq ===
      orders.columns.toSeq)
    assert(Graft.pgSql(spark, "SELECT * FROM d_append_orders " +
      "WHERE o_custkey = 70").columns.toSeq === orders.columns.toSeq)
    val expected = orders
      .filter(col("o_custkey") >= 60 && col("o_custkey") <= 90).count()
    assert(pruned.count() === expected)
    // catalog lists both new tables with their partmethod chars
    val methods = DistributionCatalog.listTables(spark)
      .filter(col("logicalrelid").isin("d_range_orders", "d_append_orders"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(methods("d_range_orders") === "r")
    assert(methods("d_append_orders") === "a")
  }

  test("split shard: only the split shard rewrites; new shards get " +
      "fresh ids; pruning still exact (citus_split_shard_by_split_points)") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createRangeDistributedTable(spark, orders,
      "d_split_orders", "o_custkey", splitPoints = Seq(75))
    // remember the un-split shard's files: they must survive untouched
    def shard0Files = spark.table("d_split_orders").inputFiles
      .filter(_.contains("/__shard=0/")).toSet
    val keepFiles = shard0Files
    assert(keepFiles.nonEmpty)
    // split shard 1 ([75, max]) at 110 -> new shards 2 ([75,110)) and
    // 3 ([110, max]); shard 1 retires
    DistributionCatalog.splitShard(spark, "d_split_orders", 1, Seq(110))
    val shards = DistributionCatalog.rangeShards(spark, "d_split_orders")
      .collect().map(_.getInt(1)).toSet
    assert(shards === Set(0, 2, 3), s"got $shards")
    // pg_dist_placement lists the live shards, not the retired one
    assert(DistributionCatalog.shardPlacements(spark, "d_split_orders", 3)
      .collect().map(_.getInt(1)).toSet === shards)
    assert(spark.table("d_split_orders").count() === orders.count(),
      "no rows lost in the split")
    assert(shard0Files === keepFiles,
      "the un-split shard's files must be untouched")
    // interval pruning over the new layout: [80,100] hits only shard 2
    val pruned = spark.sql(
      "SELECT * FROM d_split_orders WHERE o_custkey BETWEEN 80 AND 100")
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("__shard=2")))
    assert(pruned.count() === orders
      .filter(col("o_custkey") >= 80 && col("o_custkey") <= 100).count())
  }

  test("an append table's shard count and placements follow its live " +
      "shards through split and append") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createAppendTable(spark,
      orders.filter(col("o_custkey") < 50), "d_live_app", "o_custkey")
    DistributionCatalog.appendShard(spark, "d_live_app",
      orders.filter(col("o_custkey") >= 50 && col("o_custkey") < 100))
    // shard 0 retires into 2 and 3; the next append is shard 4
    DistributionCatalog.splitShard(spark, "d_live_app", 0, Seq(25))
    val spec = DistributionCatalog.appendShard(spark, "d_live_app",
      orders.filter(col("o_custkey") >= 100))
    val shards = DistributionCatalog.rangeShards(spark, "d_live_app")
      .collect().map(_.getInt(1)).toSet
    assert(shards === Set(1, 2, 3, 4), s"got $shards")
    assert(spec.bucketCount === shards.size)
    assert(DistributionCatalog.listTables(spark)
      .filter(col("logicalrelid") === "d_live_app").head().getInt(3) ===
      shards.size)
    assert(DistributionCatalog.shardPlacements(spark, "d_live_app", 3)
      .collect().map(_.getInt(1)).toSet === shards)
  }

  test("undistribute_table forgets a range table's shard intervals") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createRangeDistributedTable(spark, orders,
      "d_undist_range", "o_custkey", splitPoints = Seq(75))
    DistributionCatalog.undistributeTable(spark, "d_undist_range")
    assert(DistributionCatalog.spec(spark, "d_undist_range").isEmpty)
    assert(spark.table("d_undist_range").count() === orders.count())
    intercept[IllegalArgumentException](
      DistributionCatalog.rangeShards(spark, "d_undist_range"))
  }

  test("a table created again under a name whose shard was moved gets " +
      "the default placement") {
    import graft.catalog.Rebalancer
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createDistributedTable(spark, orders, "d_again",
      "o_orderkey", buckets = 4)
    Rebalancer.moveShardPlacement(spark, "d_again", shard = 0, toNode = 2,
      nodeCount = 3)
    DistributionCatalog.undistributeTable(spark, "d_again")
    spark.sql("DROP TABLE d_again")
    DistributionCatalog.createDistributedTable(spark, orders, "d_again",
      "o_orderkey", buckets = 4)
    val placed = DistributionCatalog.shardPlacements(spark, "d_again", 3)
      .collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(placed === Map(0 -> 0, 1 -> 1, 2 -> 2, 3 -> 0))
  }

  test("the rebalancer reads shard bytes from the file listing: " +
      "planning, rebalancing, draining and moving start no Spark job") {
    import graft.catalog.Rebalancer
    setup
    DistributionCatalog.createDistributedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "d_nojob", "o_orderkey",
      buckets = 4)
    assert(TestSpark.jobsOf {
      Rebalancer.planForTable(spark, "d_nojob", 3)
      Rebalancer.rebalance(spark, "d_nojob", 3)
      Rebalancer.drainNode(spark, "d_nojob", 0, 3)
      Rebalancer.moveShardPlacement(spark, "d_nojob", 1, 0, 3)
    } === 0)
    // the bytes it balances are citus_shards' size_bytes
    val sizes = DistributionCatalog.shardSizes(spark, "d_nojob").collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    val drains = Rebalancer.drainNode(spark, "d_nojob", 1, 3)
    assert(drains.nonEmpty)
    drains.foreach(m => assert(m.sizeBytes === sizes(m.shard)))
  }

  test("tenant read stats accumulate per (table, tenant) and drive " +
      "isolation decisions (citus_stat_tenants)") {
    setup
    DistributionCatalog.resetTenantStats()
    DistributionCatalog.tenantShard(spark, "d_orders", 7L).count()
    DistributionCatalog.tenantShard(spark, "d_orders", 7L).count()
    DistributionCatalog.tenantShard(spark, "d_orders", 9L).count()
    val stats = DistributionCatalog.statTenants(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(stats.head === (("d_orders", "7", 2L)), s"got ${stats.toSeq}")
    assert(stats.contains(("d_orders", "9", 1L)))
    DistributionCatalog.resetTenantStats()
    assert(DistributionCatalog.statTenants(spark).count() === 0)
  }

  test("analyze records row-count statistics for the planner " +
      "(citus_update_table_statistics)") {
    setup
    val n = DistributionCatalog.analyzeTable(spark, "d_orders")
    assert(n === spark.table("d_orders").count())
    // with CBO on, the recorded row count reaches the planner's stats
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try assert(spark.table("d_orders").queryExecution.optimizedPlan
      .stats.rowCount.contains(BigInt(n)))
    finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("rebalancer: by_disk_size plan balances bytes within one shard " +
      "of even; idempotent after apply (get_rebalance_table_shards_plan)") {
    import graft.catalog.Rebalancer
    // pathological placement: everything on node 0
    val sizes = Map(0 -> 100L, 1 -> 80L, 2 -> 60L, 3 -> 40L, 4 -> 20L,
      5 -> 10L)
    val current = sizes.keys.map(_ -> 0).toMap
    val moves = Rebalancer.plan(sizes, current, nodeCount = 3)
    assert(moves.nonEmpty)
    val after = moves.foldLeft(current)((p, m) => p.updated(m.shard, m.toNode))
    val loads = after.groupBy(_._2).view
      .mapValues(_.keys.map(sizes).sum).toMap
    val spread = loads.values.max - loads.values.min
    assert(spread <= sizes.values.max,
      s"spread $spread must be bounded by the largest shard")
    // planning the balanced placement again proposes nothing
    assert(Rebalancer.plan(sizes, after, 3).isEmpty)
    // determinism: same inputs, same plan
    assert(Rebalancer.plan(sizes, current, 3) === moves)
  }

  test("rebalancer: by_shard_count equalizes shard counts") {
    import graft.catalog.Rebalancer
    val sizes = (0 until 8).map(_ -> 1L).toMap
    val current = (0 until 8).map(_ -> 0).toMap // all on node 0
    val moves = Rebalancer.plan(sizes, current, 2, "by_shard_count")
    val after = moves.foldLeft(current)((p, m) => p.updated(m.shard, m.toNode))
    val counts = after.groupBy(_._2).view.mapValues(_.size).toMap
    assert(counts === Map(0 -> 4, 1 -> 4))
  }

  test("rebalancer: catalog round trip — citus_rebalance_start updates " +
      "pg_dist_placement") {
    import graft.catalog.Rebalancer
    setup
    val moves = Rebalancer.rebalance(spark, "d_orders", nodeCount = 3)
    // post-state is balanced: a second plan is empty
    assert(Rebalancer.planForTable(spark, "d_orders", 3).isEmpty)
    val placed = DistributionCatalog.shardPlacements(spark, "d_orders", 3)
      .collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(placed.size === 8)
    moves.foreach(m => assert(placed(m.shard) === m.toNode))
    // the plan view renders like get_rebalance_table_shards_plan
    val df = Rebalancer.planDF(spark, "d_orders", moves)
    assert(df.columns.toSeq === Seq("table_name", "shardid", "shard_size",
      "source_node", "target_node"))
  }

  test("columnar options rewrite the physical layout: codec + row-group " +
      "budget reach the parquet footer (alter_columnar_table_set)") {
    import scala.jdk.CollectionConverters._
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createDistributedTable(spark, orders,
      "d_col_orders", "o_orderkey", buckets = 2)
    DistributionCatalog.setColumnarOptions(spark, "d_col_orders",
      compression = Some("snappy"), stripeBytes = Some(16 * 1024L))
    assert(spark.table("d_col_orders").count() === orders.count())
    // inspect one data file's footer
    val f = spark.table("d_col_orders").inputFiles.head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f),
        spark.sparkContext.hadoopConfiguration))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val codecs = blocks.flatMap(_.getColumns.asScala)
        .map(_.getCodec.toString).toSet
      assert(codecs === Set("SNAPPY"), s"got $codecs")
      assert(blocks.size > 1,
        s"16KB stripe budget should yield multiple row groups, " +
          s"got ${blocks.size}")
      // chunk skipping's input exists: per-column min/max statistics
      assert(blocks.head.getColumns.asScala.head.getStatistics != null)
    } finally reader.close()
    // distribution survived the rewrite (bucketed join still shuffle-free)
    assert(DistributionCatalog.spec(spark, "d_col_orders").get.bucketCount === 2)
  }

  test("citus_tables view: type, distribution column, physical size, " +
      "shard count") {
    setup
    val rows = DistributionCatalog.citusTables(spark).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("d_orders").getString(1) === "distributed")
    assert(rows("d_orders").getString(2) === "o_orderkey")
    assert(rows("d_orders").getLong(4) > 0, "size from the filesystem")
    assert(rows("d_orders").getInt(5) === 8)
    assert(rows("d_nation").getString(1) === "reference")
    assert(DistributionCatalog.totalRelationSize(spark, "d_orders") ===
      rows("d_orders").getLong(4))
  }

  test("update colocation is metadata-only: join a group, then break " +
      "away (update_distributed_table_colocation)") {
    setup
    val cust = Tables(spark, TestSpark.sf, "customer")
    DistributionCatalog.createDistributedTable(spark, cust,
      "d_coloc_cust", "c_custkey", buckets = 8)
    assert(!DistributionCatalog.colocated(spark, "d_coloc_cust", "d_orders"))
    val filesBefore = spark.table("d_coloc_cust").inputFiles.toSet
    DistributionCatalog.updateDistributedTableColocation(spark,
      "d_coloc_cust", Some("d_orders"))
    assert(DistributionCatalog.colocated(spark, "d_coloc_cust", "d_orders"))
    assert(spark.table("d_coloc_cust").inputFiles.toSet === filesBefore,
      "no data may move")
    DistributionCatalog.updateDistributedTableColocation(spark,
      "d_coloc_cust", None)
    assert(!DistributionCatalog.colocated(spark, "d_coloc_cust", "d_orders"))
    // mismatched bucket counts refuse, like citus
    DistributionCatalog.createDistributedTable(spark, cust,
      "d_coloc_cust4", "c_custkey", buckets = 4)
    intercept[IllegalArgumentException] {
      DistributionCatalog.updateDistributedTableColocation(spark,
        "d_coloc_cust4", Some("d_orders"))
    }
  }

  test("explicit single placement move (citus_move_shard_placement)") {
    import graft.catalog.Rebalancer
    setup
    Rebalancer.moveShardPlacement(spark, "d_orders", shard = 5,
      toNode = 2, nodeCount = 3)
    val placed = DistributionCatalog.shardPlacements(spark, "d_orders", 3)
      .collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(placed(5) === 2)
    intercept[IllegalArgumentException] {
      Rebalancer.moveShardPlacement(spark, "d_orders", 99, 0, 3)
    }
  }

  test("rebalancer properties over 300 seeded random instances: " +
      "terminates, spread <= largest shard, idempotent, deterministic") {
    import graft.catalog.Rebalancer
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { i =>
      val nShards = 1 + rnd.nextInt(40)
      val nodes = 1 + rnd.nextInt(8)
      val sizes = (0 until nShards)
        .map(s => s -> (rnd.nextInt(1000000).toLong)).toMap
      val current = (0 until nShards)
        .map(s => s -> rnd.nextInt(nodes)).toMap
      val moves = Rebalancer.plan(sizes, current, nodes)
      val after = moves.foldLeft(current)((p, m) =>
        p.updated(m.shard, m.toNode))
      val loads = (0 until nodes).map(n =>
        after.collect { case (s, nn) if nn == n => sizes(s) }.sum)
      val spread = loads.max - loads.min
      assert(spread <= (sizes.values.maxOption.getOrElse(0L)),
        s"case $i: spread $spread > largest shard; sizes=$sizes " +
          s"current=$current moves=$moves")
      assert(Rebalancer.plan(sizes, after, nodes).isEmpty,
        s"case $i: plan must be idempotent after apply")
      assert(Rebalancer.plan(sizes, current, nodes) === moves,
        s"case $i: plan must be deterministic")
      assert(moves.map(_.shard).distinct.size === moves.size ||
        moves.size <= nShards * nodes, s"case $i: runaway move list")
    }
  }

  test("chunk skipping: row-group min/max prunes a selective range " +
      "scan on sorted data (ColumnChunkSkipNode ≙ parquet stats)") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    // sorted layout + small row groups = many skippable chunks
    orders.sort("o_orderkey").coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (32 * 1024).toString)
      .saveAsTable("d_skip_orders")
    val total = orders.count()
    val narrow = spark.table("d_skip_orders")
      .filter(col("o_orderkey") >= 100 && col("o_orderkey") <= 200)
    val report = PlanChecks.explainAnalyze(narrow).collect()
    val scanRows = report
      .filter(_.getString(1).contains("FileSourceScan"))
      .map(_.getLong(2)).sum
    // the scan must emit far fewer rows than the table holds: the
    // filter is applied at the reader level against row-group stats
    assert(scanRows < total / 2,
      s"expected chunk skipping, scan emitted $scanRows of $total")
    assert(narrow.count() > 0)
  }

  test("drain node empties its placements onto the least-loaded rest " +
      "(citus_drain_node)") {
    import graft.catalog.Rebalancer
    setup
    Rebalancer.rebalance(spark, "d_orders", nodeCount = 3)
    val drains = Rebalancer.drainNode(spark, "d_orders", 0, nodeCount = 3)
    assert(drains.nonEmpty && drains.forall(_.fromNode === 0))
    val placed = DistributionCatalog.shardPlacements(spark, "d_orders", 3)
      .collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(placed.size === 8, "every shard still placed")
    assert(!placed.values.exists(_ == 0), "node 0 must end empty")
  }

  test("columnar rewrite of a range-distributed table keeps the __shard " +
      "layout and a fresh shard map") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createRangeDistributedTable(spark, orders,
      "d_col_range", "o_custkey", splitPoints = Seq(40, 80, 120))
    DistributionCatalog.setColumnarOptions(spark, "d_col_range",
      compression = Some("snappy"))
    assert(spark.table("d_col_range").count() === orders.count())
    // physical layout survived: interval reads still prune by directory
    val pruned = spark.table("d_col_range")
      .filter(col("o_custkey") >= 0 && col("o_custkey") <= 30)
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("__shard=0")),
      "an interval read must still prune to the overlapping shard directory")
    assert(pruned.count() === orders
      .filter(col("o_custkey") >= 0 && col("o_custkey") <= 30).count())
    assert(DistributionCatalog.rangeShards(spark, "d_col_range").count() === 4)
    // user-facing reads still hide the shard column
    assert(!spark.table("d_col_range").columns.contains("__shard"))
  }

  test("placements reconcile against the live shard set after " +
      "alter_distributed_table; drainNode survives stale placement ids " +
      "and refuses nodeCount=1") {
    import graft.catalog.Rebalancer
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createDistributedTable(spark, orders,
      "d_stale_orders", "o_orderkey", buckets = 8)
    // store a placement over the 8-shard layout
    Rebalancer.rebalance(spark, "d_stale_orders", nodeCount = 3)
    // shrink to 4 shards: stored placements for shards 4..7 are stale
    DistributionCatalog.alterDistributedTable(spark, "d_stale_orders",
      buckets = Some(4))
    val placed = DistributionCatalog.shardPlacements(
      spark, "d_stale_orders", 3).collect()
      .map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(placed.keySet === Set(0, 1, 2, 3),
      s"stale shards 4..7 must drop: $placed")
    // drainNode plans over the reconciled set instead of throwing
    val drains = Rebalancer.drainNode(spark, "d_stale_orders", 0,
      nodeCount = 3)
    val after = DistributionCatalog.shardPlacements(
      spark, "d_stale_orders", 3).collect().map(_.getInt(2))
    assert(!after.contains(0), "node 0 must end empty")
    assert(drains.forall(_.fromNode == 0))
    intercept[IllegalArgumentException] {
      Rebalancer.drainNode(spark, "d_stale_orders", 0, nodeCount = 1)
    }
  }

  test("a failed alter_distributed_table changes nothing: rows, spec, " +
      "tenant parts; no staging entry or version directory is left") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createDistributedTable(spark, orders,
      "d_alter_fail", "o_custkey", buckets = 4)
    DistributionCatalog.isolateTenant(spark, "d_alter_fail",
      hotCustomer(orders))
    // d_orders has 8 buckets: the colocation is refused
    assertFailsAtomically("d_alter_fail")(DistributionCatalog
      .alterDistributedTable(spark, "d_alter_fail", buckets = Some(4),
        colocateWith = Some("d_orders")))
    assertFailsAtomically("d_alter_fail")(DistributionCatalog
      .alterDistributedTable(spark, "d_alter_fail",
        distColumn = Some("no_such_col")))
    assert(spark.table("d_alter_fail").count() ===
      orders.count())
  }

  test("a failed materialized-view refresh keeps the last result") {
    setup
    spark.sql("DROP TABLE IF EXISTS mv_fail_src")
    Tables(spark, TestSpark.sf, "orders").limit(100)
      .write.mode("overwrite").saveAsTable("mv_fail_src")
    val boom = udf { (k: Long) =>
      if (k > 0) throw new IllegalStateException("boom") else k }
    var definition = "ok"
    DistributionCatalog.createMaterializedView(spark, "mv_fail", s => {
      val src = s.table("mv_fail_src")
      definition match {
        case "ok" => src.select(col("o_orderkey"), col("o_custkey"))
        // throws in every task of the write
        case "throws" => src.select(col("o_orderkey"),
          boom(col("o_custkey")).as("o_custkey"))
        // parquet cannot store an interval: the write is refused
        case "unstorable" => src.select(col("o_orderkey"),
          expr("make_interval(0, 0, 0, 1)").as("o_custkey"))
      }
    }, distColumn = Some("o_orderkey"), buckets = 4)
    Seq("throws", "unstorable").foreach { d =>
      definition = d
      assertFailsAtomically("mv_fail")(
        DistributionCatalog.refreshMaterializedView(spark, "mv_fail"))
    }
    assert(spark.table("mv_fail").count() === 100)
  }

  test("alter_columnar_table_set with an unknown codec changes nothing") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createDistributedTable(spark, orders,
      "d_col_fail", "o_custkey", buckets = 4)
    DistributionCatalog.isolateTenant(spark, "d_col_fail",
      hotCustomer(orders))
    assertFailsAtomically("d_col_fail")(DistributionCatalog
      .setColumnarOptions(spark, "d_col_fail", compression = Some("nosuch")))
  }

  test("a columnar rewrite keeps a time-partitioned table partitioned: " +
      "time_partitions sizes and drop_old_time_partitions still work") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    Seq("d_time_col", "d_time_other").foreach(n => DistributionCatalog
      .createTimePartitionedTable(spark, orders, n, "o_orderdate", "year"))
    // two time-partitioned tables share colocation id 0, not a layout
    assert(!DistributionCatalog.colocated(spark, "d_time_col", "d_time_other"))
    DistributionCatalog.setColumnarOptions(spark, "d_time_col",
      compression = Some("snappy"))
    assert(catalogTable("d_time_col").partitionColumnNames ===
      Seq("__year_part"))
    val parts = DistributionCatalog.timePartitions(spark, "d_time_col")
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(parts.values.map(_._1).sum === orders.count())
    assert(parts.values.forall(_._2 > 0), s"zero-byte partitions: $parts")
    // the old partitions recompress where the catalog reads them
    val zstd = DistributionCatalog.compressOldTimePartitions(spark,
      "d_time_col", java.sql.Date.valueOf("1999-01-01"), codec = "zstd")
    assert(zstd.nonEmpty)
    assert(codecs(spark.table("d_time_col")
      .filter(col("__year_part") < "1999-01-01").inputFiles) === Set("ZSTD"))
    assert(spark.table("d_time_col").count() === orders.count())
    val dropped = DistributionCatalog.dropOldTimePartitions(spark,
      "d_time_col", java.sql.Date.valueOf("1998-01-01"))
    assert(dropped.nonEmpty)
    assert(spark.table("d_time_col").count() ===
      orders.count() - dropped.map(parts(_)._1).sum)
    val left = walk(warehouseDir("d_time_col")).map(_.getName).toSet
    dropped.foreach(v => assert(!left.contains(s"__year_part=$v"),
      s"the files of dropped partition $v must be deleted"))
  }

  test("rewrites keep the write options: a MERGE after " +
      "alter_columnar_table_set still writes snappy") {
    import graft.sources.Dml
    setup
    DistributionCatalog.createDistributedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "d_codec_merge", "o_orderkey",
      buckets = 4)
    DistributionCatalog.setColumnarOptions(spark, "d_codec_merge",
      compression = Some("snappy"))
    val n = spark.table("d_codec_merge").count()
    Dml.mergeIntoTable(spark, "d_codec_merge",
      spark.range(1, 100).toDF("k"), "k", Dml.MergeClauses(matchedUpdate =
        Map("o_totalprice" -> (col("t.o_totalprice") + lit(1.0)))))
    assert(spark.table("d_codec_merge").count() === n)
    assert(codecs(spark.table("d_codec_merge").inputFiles) === Set("SNAPPY"))
  }

  test("isolate_tenant keeps the colocation group, the bucket count and " +
      "the table's codec") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createDistributedTable(spark, orders, "d_iso_a",
      "o_custkey", buckets = 4)
    DistributionCatalog.createDistributedTable(spark, orders, "d_iso_b",
      "o_custkey", buckets = 4, colocateWith = Some("d_iso_a"))
    DistributionCatalog.setColumnarOptions(spark, "d_iso_a",
      compression = Some("snappy"))
    val before = DistributionCatalog.spec(spark, "d_iso_a")
    val hot = hotCustomer(orders)
    DistributionCatalog.isolateTenant(spark, "d_iso_a", hot)
    assert(DistributionCatalog.spec(spark, "d_iso_a") === before)
    assert(catalogTable("d_iso_a").bucketSpec.map(_.numBuckets) === Some(4))
    assert(DistributionCatalog.colocated(spark, "d_iso_a", "d_iso_b"))
    assert(PlanChecks.countShuffles(spark.table("d_iso_a")
      .join(spark.table("d_iso_b"), "o_custkey")) === 0)
    assert(codecs(spark.table("d_iso_a").inputFiles) === Set("SNAPPY"))
    assert(codecs(DistributionCatalog.tenantShard(spark, "d_iso_a", hot)
      .inputFiles) === Set("SNAPPY"))
    // a second isolation of the same tenant would find none of its rows
    intercept[IllegalArgumentException](
      DistributionCatalog.isolateTenant(spark, "d_iso_a", hot))
    assert(DistributionCatalog.tenantShard(spark, "d_iso_a", hot).count() ===
      orders.filter(col("o_custkey") === hot).count())
  }

  test("an isolated tenant stays in its table: SQL, ANALYZE and " +
      "INSERT ... SELECT see its rows") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createDistributedTable(spark, orders, "d_iso_rows",
      "o_custkey", buckets = 4)
    val hot = hotCustomer(orders)
    val hotRows = orders.filter(col("o_custkey") === hot).count()
    DistributionCatalog.isolateTenant(spark, "d_iso_rows", hot)
    assert(Graft.pgSql(spark,
      s"SELECT o_orderkey FROM d_iso_rows WHERE o_custkey = $hot").count() ===
      hotRows)
    assert(DistributionCatalog.analyzeTable(spark, "d_iso_rows") ===
      orders.count())
    Ingest.insertSelect(spark, orders.filter(col("o_custkey") === hot)
      .limit(1).withColumn("o_orderkey", lit(-1L)), "d_iso_rows")
    val routed = DistributionCatalog.tenantShard(spark, "d_iso_rows", hot)
    assert(routed.filter(col("o_orderkey") === -1L).count() === 1)
    assert(routed.count() === hotRows + 1)
    assert(routed.inputFiles.forall(_.contains(s"/__tenant=$hot/")))
  }

  test("a table with no isolated tenant has no __tenant column and no " +
      "partition column, after create and after MERGE") {
    import graft.sources.Dml
    setup
    DistributionCatalog.createDistributedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "d_plain", "o_orderkey",
      buckets = 4)
    def assertPlain(): Unit = {
      assert(catalogTable("d_plain").partitionColumnNames.isEmpty)
      assert(!spark.table("d_plain").columns.contains("__tenant"))
    }
    assertPlain()
    Dml.mergeIntoTable(spark, "d_plain",
      spark.createDataFrame(Seq(Tuple1(1L), Tuple1(-5L))).toDF("k"), "k",
      Dml.MergeClauses(
        matchedUpdate = Map("o_totalprice" -> (col("t.o_totalprice") + 1.0)),
        notMatchedInsert = Some(Map("o_orderkey" -> col("s.k")))))
    assertPlain()
    assert(spark.table("d_plain").filter(col("o_orderkey") === -5L)
      .count() === 1)
  }

  test("graft.* properties written through SQL that do not decode " +
      "record no distribution: the table still reads, and listTables " +
      "omits it") {
    setup
    val nation = Tables(spark, TestSpark.sf, "nation")
    Seq("'graft.method' = 'zz'",
        "'graft.method' = 'h', 'graft.colocation' = 'two'",
        "'graft.method' = 'r'").foreach { props =>
      spark.sql("DROP TABLE IF EXISTS d_bad_props")
      nation.write.bucketBy(4, "n_nationkey").format("parquet")
        .saveAsTable("d_bad_props")
      spark.sql(s"ALTER TABLE d_bad_props SET TBLPROPERTIES ($props)")
      assert(spark.table("d_bad_props").count() === nation.count(), props)
      assert(spark.sql("SELECT * FROM d_bad_props WHERE n_nationkey = 3")
        .count() === 1, props)
      assert(DistributionCatalog.spec(spark, "d_bad_props").isEmpty, props)
      assert(!DistributionCatalog.listTables(spark).collect()
        .map(_.getString(0)).contains("d_bad_props"), props)
    }
    spark.sql("DROP TABLE d_bad_props")
  }

  test("time_partitions lists a null timestamp under Spark's default " +
      "partition, with its row and bytes; it is never old") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    val first = orders.agg(min("o_orderkey")).first().getLong(0)
    DistributionCatalog.createTimePartitionedTable(spark,
      orders.withColumn("o_orderdate", when(col("o_orderkey") =!= first,
        col("o_orderdate"))), "d_time_null", "o_orderdate", "year")
    val default = "__HIVE_DEFAULT_PARTITION__"
    val parts = DistributionCatalog.timePartitions(spark, "d_time_null")
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val bytes = walk(warehouseDir("d_time_null"))
      .filter(f => f.getParentFile.getName == s"__year_part=$default" &&
        f.getName.endsWith(".parquet"))
      .map(_.length).sum
    assert(bytes > 0)
    assert(parts(default) === (1L, bytes))
    assert(parts.values.map(_._1).sum === orders.count())
    val far = java.sql.Date.valueOf("2100-01-01")
    assert(!DistributionCatalog.compressOldTimePartitions(spark,
      "d_time_null", far).contains(default))
    assert(!DistributionCatalog.dropOldTimePartitions(spark, "d_time_null",
      far).contains(default))
    assert(DistributionCatalog.timePartitions(spark, "d_time_null")
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq((default, 1L)))
  }

  test("split shard after a columnar rewrite deletes the retired shard's " +
      "files where the catalog put them; sizes count live files only") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createRangeDistributedTable(spark, orders,
      "d_split_col", "o_custkey", splitPoints = Seq(75))
    DistributionCatalog.setColumnarOptions(spark, "d_split_col",
      compression = Some("snappy"))
    val retired = new java.io.File(spark.sessionState.catalog.getPartition(
      org.apache.spark.sql.catalyst.TableIdentifier("d_split_col"),
      Map("__shard" -> "1")).location)
    assert(retired.listFiles().exists(_.getName.endsWith(".parquet")))
    DistributionCatalog.splitShard(spark, "d_split_col", 1, Seq(110))
    assert(!retired.exists(), s"$retired must be deleted")
    assert(spark.table("d_split_col").count() === orders.count())
    val live = spark.table("d_split_col").inputFiles
    assert(DistributionCatalog.totalRelationSize(spark, "d_split_col") ===
      live.map(f => new java.io.File(new java.net.URI(f)).length).sum)
    // the split shards are appended with the table's options
    assert(codecs(live) === Set("SNAPPY"))
  }

  test("size views count data files only: not Hadoop checksums or " +
      "commit markers") {
    setup
    val files = walk(new java.io.File(catalogTable("d_orders").location))
    assert(files.exists(_.getName.endsWith(".crc")))
    val parquet = files.filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    assert(DistributionCatalog.shardSizes(spark, "d_orders")
      .agg(sum("size_bytes")).head().getLong(0) === parquet)
    assert(DistributionCatalog.totalRelationSize(spark, "d_orders") ===
      parquet)
  }

  test("a distributed table gets one file per bucket from any input " +
      "partitioning, and a key lookup reads one file") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders").repartition(4)
    DistributionCatalog.createDistributedTable(spark, orders, "d_grouped",
      "o_orderkey", buckets = 8)
    assert(filesPerBucket("d_grouped") === (0 until 8).map(_ -> 1).toMap)
    val k = orders.select("o_orderkey").head().getLong(0)
    assert(spark.table("d_grouped").filter(col("o_orderkey") === k)
      .inputFiles.length === 1)
    // INSERT ... SELECT from a 4-partition input adds one file per bucket
    Ingest.insertSelect(spark, orders.withColumn("o_orderkey",
      col("o_orderkey") + 1000000), "d_grouped")
    assert(filesPerBucket("d_grouped") === (0 until 8).map(_ -> 2).toMap)
    assert(spark.table("d_grouped").count() === 2 * orders.count())
  }

  test("a distributed matview over a several-partition definition " +
      "creates and refreshes to one file per bucket") {
    setup
    DistributionCatalog.createMaterializedView(spark, "mv_grouped",
      s => Tables(s, TestSpark.sf, "orders").repartition(3)
        .select(col("o_orderkey"), col("o_custkey")),
      distColumn = Some("o_orderkey"), buckets = 4)
    assert(filesPerBucket("mv_grouped") === (0 until 4).map(_ -> 1).toMap)
    DistributionCatalog.refreshMaterializedView(spark, "mv_grouped")
    assert(filesPerBucket("mv_grouped") === (0 until 4).map(_ -> 1).toMap)
    assert(spark.table("mv_grouped").count() ===
      Tables(spark, TestSpark.sf, "orders").count())
  }

  test("a parquet table resolves once per session: a second read starts " +
      "no job, and a rewritten file is resolved again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toFile
    val f = new java.io.File(dir, "nation.parquet")
    java.nio.file.Files.copy(
      new java.io.File(s"${TestSpark.sf}/nation.parquet").toPath, f.toPath)
    var first, second, third: org.apache.spark.sql.DataFrame = null
    assert(TestSpark.jobsOf { first = Tables(spark, dir.getPath, "nation") } > 0)
    assert(TestSpark.jobsOf {
      second = Tables(spark, dir.getPath, "nation") } === 0)
    assert(second eq first)
    assert(f.setLastModified(f.lastModified() + 2000))
    assert(TestSpark.jobsOf { third = Tables(spark, dir.getPath, "nation") } > 0)
    assert(!(third eq first))
    assert(third.count() === 25)
    Tables.unpin()
    assert(!(Tables(spark, dir.getPath, "nation") eq third))
    f.delete(); dir.delete()
  }

  test("drop_old_time_partitions reads the catalog and starts no job; " +
      "a version directory goes with its last partition") {
    setup
    DistributionCatalog.createTimePartitionedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "d_time_nojob", "o_orderdate",
      "year")
    DistributionCatalog.compressOldTimePartitions(spark, "d_time_nojob",
      java.sql.Date.valueOf("1998-01-01"), codec = "snappy")
    def versions =
      warehouseDir("d_time_nojob").list().filter(_.startsWith("_v"))
    assert(versions.length === 1)
    var dropped = Seq.empty[String]
    assert(TestSpark.jobsOf {
      dropped = DistributionCatalog.dropOldTimePartitions(spark,
        "d_time_nojob", java.sql.Date.valueOf("1998-01-01"))
    } === 0)
    assert(dropped === Seq("1995-01-01", "1996-01-01", "1997-01-01"))
    assert(spark.table("d_time_nojob")
      .filter(col("__year_part") < "1998-01-01").count() === 0)
    assert(versions.isEmpty)
  }

  test("a failed split or compress changes nothing") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createRangeDistributedTable(spark, orders,
      "d_split_fail", "o_custkey", splitPoints = Seq(75))
    // the point cannot be cast to the key's type: the write job fails
    assertFailsAtomically("d_split_fail")(DistributionCatalog
      .splitShard(spark, "d_split_fail", 1, Seq("not a number")))
    assert(DistributionCatalog.rangeShards(spark, "d_split_fail")
      .collect().map(_.getInt(1)).toSet === Set(0, 1))
    DistributionCatalog.createTimePartitionedTable(spark, orders,
      "d_compress_fail", "o_orderdate", "year")
    assertFailsAtomically("d_compress_fail")(DistributionCatalog
      .compressOldTimePartitions(spark, "d_compress_fail",
        java.sql.Date.valueOf("1998-01-01"), codec = "nosuch"))
  }

  test("sizes count the partitions a split or a compress committed") {
    setup
    def fileBytes(name: String): Long = spark.table(name).inputFiles
      .map(f => new java.io.File(new java.net.URI(f)).length).sum
    val orders = Tables(spark, TestSpark.sf, "orders")
    DistributionCatalog.createRangeDistributedTable(spark, orders,
      "d_split_size", "o_custkey", splitPoints = Seq(75))
    DistributionCatalog.splitShard(spark, "d_split_size", 1, Seq(110))
    assert(DistributionCatalog.totalRelationSize(spark, "d_split_size") ===
      fileBytes("d_split_size"))
    DistributionCatalog.createTimePartitionedTable(spark, orders,
      "d_compress_size", "o_orderdate", "year")
    DistributionCatalog.compressOldTimePartitions(spark, "d_compress_size",
      java.sql.Date.valueOf("1998-01-01"), codec = "snappy")
    assert(DistributionCatalog.totalRelationSize(spark, "d_compress_size")
      === fileBytes("d_compress_size"))
    val parts = DistributionCatalog.timePartitions(spark, "d_compress_size")
      .collect()
    assert(parts.length === 7)
    assert(parts.forall(_.getLong(3) > 0), parts.mkString(", "))
  }

  test("SQL DROP TABLE takes the distribution with it: citus_tables and " +
      "pg_dist_partition still read, and a plain table re-created under " +
      "the name is plain") {
    setup
    DistributionCatalog.createDistributedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "d_dropped", "o_orderkey",
      buckets = 4)
    DistributionCatalog.createReferenceTable(spark,
      Tables(spark, TestSpark.sf, "nation"), "d_dropped_ref")
    spark.sql("DROP TABLE d_dropped")
    spark.sql("DROP TABLE d_dropped_ref")
    def names(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.getString(0)).toSet
    val gone = Set("d_dropped", "d_dropped_ref")
    assert((names(DistributionCatalog.citusTables(spark)) & gone).isEmpty)
    assert((names(DistributionCatalog.listTables(spark)) & gone).isEmpty)
    // the dropped table's files stay where it was (it was external)
    val dir = java.nio.file.Files.createTempDirectory("graft-plain").toFile
    spark.sql(s"CREATE TABLE d_dropped_ref USING parquet LOCATION " +
      s"'${new java.io.File(dir, "t").toURI}' AS SELECT * FROM d_nation")
    assert(DistributionCatalog.spec(spark, "d_dropped_ref").isEmpty)
    assert(!broadcastHinted(spark.table("d_dropped_ref")))
    assert(!names(DistributionCatalog.listTables(spark))
      .contains("d_dropped_ref"))
    spark.sql("DROP TABLE d_dropped_ref")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("a plain table in another database is not the reference table of " +
      "the same name: it gets no broadcast hint") {
    setup
    spark.sql("CREATE DATABASE IF NOT EXISTS d_other")
    try {
      Tables(spark, TestSpark.sf, "nation").write.mode("overwrite")
        .saveAsTable("d_other.d_nation")
      assert(broadcastHinted(spark.table("default.d_nation")))
      assert(!broadcastHinted(spark.table("d_other.d_nation")))
    } finally spark.sql("DROP DATABASE d_other CASCADE")
  }

  test("update_distributed_table_colocation reaches the planner: a join " +
      "the repartition guard refused passes once the tables are colocated") {
    import graft.plans.RepartitionJoinGuard
    setup
    DistributionCatalog.createDistributedTable(spark,
      Tables(spark, TestSpark.sf, "orders").select("o_orderkey", "o_custkey"),
      "d_guarded", "o_orderkey", buckets = 8)
    def join() = spark.table("d_orders")
      .join(spark.table("d_guarded").withColumnRenamed("o_custkey", "c"),
        "o_orderkey")
    TestSpark.withConf(Map(RepartitionJoinGuard.ConfKey -> "false")) {
      val refused = intercept[Throwable](join().count())
      assert(messages(refused).exists(_.contains("requires repartitioning")),
        s"got $refused")
      DistributionCatalog.updateDistributedTableColocation(spark,
        "d_guarded", Some("d_orders"))
      assert(join().count() === spark.table("d_orders").count())
    }
  }

  test("split and append record the new shards' bounds from the new " +
      "rows alone: the rest of the table is not read") {
    setup
    val orders = Tables(spark, TestSpark.sf, "orders")
    val total = orders.count()
    // shard 0 (o_custkey < 20) is a small part of the table
    DistributionCatalog.createRangeDistributedTable(spark, orders,
      "d_split_reads", "o_custkey", splitPoints = Seq(20))
    val small = orders.filter(col("o_custkey") < 20).count()
    assert(small > 0 && 2 * small < total)
    // the split reads shard 0 once to write it, and its new shards once
    // for their bounds
    assert(TestSpark.rowsReadOf(DistributionCatalog.splitShard(spark,
      "d_split_reads", 0, Seq(10))) === 2 * small)
    assert(DistributionCatalog.rangeShards(spark, "d_split_reads").count() ===
      3)
    DistributionCatalog.createAppendTable(spark,
      orders.filter(col("o_custkey") >= 20), "d_append_reads", "o_custkey")
    // a batch of local rows: the write reads no file
    val batch = orders.filter(col("o_custkey") < 20)
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(batch.collect().toSeq), batch.schema)
    assert(TestSpark.rowsReadOf(DistributionCatalog.appendShard(spark,
      "d_append_reads", local)) === small)
    assert(DistributionCatalog.rangeShards(spark, "d_append_reads")
      .filter(col("shardid") === 1).head().getString(3) ===
      batch.agg(max("o_custkey")).head().get(0).toString)
  }

  test("shard bounds render and prune in the distribution column's type: " +
      "long, date and string") {
    setup
    // the source's o_orderdate is a timestamp: make it a date
    val orders = Tables(spark, TestSpark.sf, "orders")
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
    Seq("o_custkey" -> 75L,
      "o_orderdate" -> java.sql.Date.valueOf("1995-01-01"),
      "o_orderpriority" -> "3-MEDIUM").foreach { case (c, point) =>
      val name = s"d_bounds_$c"
      DistributionCatalog.createRangeDistributedTable(spark, orders, name, c,
        Seq(point))
      // the rendering the observed rows of each shard directory give
      val want = spark.table(name)
        .groupBy(regexp_extract(input_file_name(), "__shard=(\\d+)", 1)
          .cast("int")).agg(min(c), max(c))
        .collect().map(r => (r.getInt(0), String.valueOf(r.get(1)),
          String.valueOf(r.get(2)))).toSet
      assert(DistributionCatalog.rangeShards(spark, name).collect()
        .map(r => (r.getInt(1), r.getString(2), r.getString(3))).toSet === want)
      val pruned = spark.table(name).filter(col(c) === lit(point))
      assert(pruned.inputFiles.nonEmpty &&
        pruned.inputFiles.forall(_.contains("__shard=1")), c)
      assert(pruned.count() === orders.filter(col(c) === lit(point)).count())
    }
  }
}
