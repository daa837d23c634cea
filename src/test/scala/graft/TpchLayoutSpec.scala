package graft

import graft.catalog.DistributionCatalog
import graft.plans.PlanChecks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The FIXTURES.md reference layout end-to-end: colocated fact join
  * with zero shuffles, reference dims broadcast, and a time-partitioned
  * table pruning partitions. */
class TpchLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val setup: Unit = {
    DistributionCatalog.setupTpchLayout(spark,
      n => Tables(spark, TestSpark.sf, n), buckets = 8)
  }

  test("orders ⋈ lineitem on the colocated key: zero shuffle exchanges") {
    setup
    val j = DistributionCatalog.table(spark, "g_orders")
      .join(DistributionCatalog.table(spark, "g_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    // the only exchange allowed is the one for the final aggregation
    assert(PlanChecks.countShuffles(j) <= 1)
    assert(j.count() > 0)
  }

  test("reference dimension joins broadcast") {
    setup
    val j = DistributionCatalog.table(spark, "g_orders")
      .join(DistributionCatalog.table(spark, "g_customer"),
        col("o_custkey") === col("c_custkey"))
    assert(PlanChecks.hasBroadcastHashJoin(j))
  }

  test("time-partitioned table prunes partitions on the truncated column") {
    setup
    DistributionCatalog.createTimePartitionedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "g_orders_by_month",
      "o_orderdate", "month")
    val pruned = spark.table("g_orders_by_month")
      .filter(col("__month_part") === "1996-03-01")
    val all = spark.table("g_orders_by_month")
    // partition pruning: the filtered scan reads fewer files
    val filesRead = pruned.queryExecution.executedPlan.collectLeaves()
    assert(pruned.count() > 0)
    assert(pruned.count() < all.count())
    val expected = Tables(spark, TestSpark.sf, "orders")
      .filter(date_trunc("month", col("o_orderdate")) === "1996-03-01 00:00:00")
      .count()
    assert(pruned.count() === expected)
  }

  test("time_partitions view lists per-partition rows+bytes; missing " +
      "ranges report the gaps (get_missing_time_partition_ranges)") {
    setup
    DistributionCatalog.createTimePartitionedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "g_orders_tp",
      "o_orderdate", "month")
    val parts = DistributionCatalog.timePartitions(spark, "g_orders_tp")
      .collect()
    assert(parts.nonEmpty)
    assert(parts.map(_.getLong(2)).sum ===
      Tables(spark, TestSpark.sf, "orders").count())
    assert(parts.forall(_.getLong(3) > 0), "per-partition bytes")
    // every month in the data range is present -> no gaps inside it
    val vals = parts.map(_.getString(1)).sorted
    val missing = DistributionCatalog.getMissingTimePartitionRanges(spark,
      "g_orders_tp", java.sql.Date.valueOf(vals.head),
      java.sql.Date.valueOf(vals.last))
    assert(missing.isEmpty, s"unexpected gaps: $missing")
    // a range extending past the data reports exactly the absent months
    val missing2 = DistributionCatalog.getMissingTimePartitionRanges(spark,
      "g_orders_tp", java.sql.Date.valueOf(vals.last),
      java.sql.Date.valueOf("2002-03-01"))
    assert(missing2.nonEmpty && missing2.forall(_ > vals.last))
  }

  test("compress old time partitions: only old partitions rewrite " +
      "under the new codec (alter_old_partitions_set_access_method)") {
    import scala.jdk.CollectionConverters._
    setup
    DistributionCatalog.createTimePartitionedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "g_orders_compress",
      "o_orderdate", "month")
    val total = spark.table("g_orders_compress").count()
    val cutoff = java.sql.Date.valueOf("1996-06-01")
    // a partition's files are where the catalog puts it
    def codecOf(month: String): Set[String] = {
      val d = new java.io.File(spark.sessionState.catalog.getPartition(
        org.apache.spark.sql.catalyst.TableIdentifier("g_orders_compress"),
        Map("__month_part" -> month)).location)
      d.listFiles().filter(_.getName.endsWith(".parquet")).flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala).map(_.getCodec.toString)
        finally r.close()
      }.toSet
    }
    val newPartCodecs = codecOf("1996-08-01")
    val compressed = DistributionCatalog.compressOldTimePartitions(spark,
      "g_orders_compress", cutoff, codec = "snappy")
    assert(compressed.nonEmpty && compressed.forall(_ < "1996-06-01"))
    assert(spark.table("g_orders_compress").count() === total,
      "no rows lost")
    assert(codecOf(compressed.head) === Set("SNAPPY"),
      "old partition must be rewritten under the new codec")
    assert(codecOf("1996-08-01") === newPartCodecs,
      "newer partitions keep their original files")
  }

  test("drop_old_time_partitions removes old partitions (metadata + " +
      "files), newer data untouched") {
    setup
    DistributionCatalog.createTimePartitionedTable(spark,
      Tables(spark, TestSpark.sf, "orders"), "g_orders_retention",
      "o_orderdate", "month")
    val cutoff = java.sql.Date.valueOf("1996-06-01")
    val before = spark.table("g_orders_retention").count()
    val keepExpected = Tables(spark, TestSpark.sf, "orders")
      .filter(date_trunc("month", col("o_orderdate")) >= "1996-06-01")
      .count()
    val dropped = DistributionCatalog.dropOldTimePartitions(spark,
      "g_orders_retention", cutoff)
    assert(dropped.nonEmpty && dropped.forall(_ < "1996-06-01"))
    val after = spark.table("g_orders_retention").count()
    assert(after === keepExpected && after < before)
    // the old partition directories are gone from disk too
    val wh = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    dropped.foreach { v =>
      assert(!new java.io.File(new java.io.File(wh, "g_orders_retention"),
        s"__month_part=$v").exists(), s"directory for $v must be deleted")
    }
  }
}
