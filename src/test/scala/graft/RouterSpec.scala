package graft

import graft.catalog.DistributionCatalog
import graft.plans.{ReferenceLiteral, ShardFileIndex}
import graft.sources.Dml
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The router fast path (citus `fast_path_router_planner.c`,
  * `local_plan_cache.c`): a distribution-key read compiles once per
  * statement and scans one shard file, and its answer equals the same
  * statement on the unbucketed source parquet. */
class RouterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val lookup = "SELECT l_orderkey, l_linenumber, l_partkey, " +
    "l_quantity FROM g_lineitem WHERE l_orderkey = $1"
  private val join = "SELECT o.o_orderkey, o.o_totalprice, count(*) AS " +
    "items, sum(l.l_linenumber) AS lines FROM g_orders o JOIN g_lineitem l " +
    "ON o.o_orderkey = l.l_orderkey WHERE o.o_orderkey = $1 " +
    "GROUP BY o.o_orderkey, o.o_totalprice"

  private lazy val setup: Unit = {
    DistributionCatalog.setupTpchLayout(spark,
      n => Tables(spark, TestSpark.sf, n))
    Seq("lineitem", "orders").foreach(n =>
      Tables(spark, TestSpark.sf, n).createOrReplaceTempView(s"src_$n"))
  }

  /** Order keys that have lines, drawn with a fixed seed. */
  private lazy val keys: Seq[Long] = {
    setup
    val all = spark.table("src_lineitem").select("l_orderkey").distinct()
      .collect().map(_.getLong(0)).sorted
    new scala.util.Random(42).shuffle(all.toSeq).take(6)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def read(text: String, args: Any*): DataFrame =
    Graft.pgSqlParams(spark, text, args: _*)

  /** The statement on the router path equals it on the source parquet. */
  private def assertSameAsSource(text: String, args: Any*): Unit =
    assert(rows(read(text, args: _*)) ===
      rows(read(text.replace("g_", "src_"), args: _*)),
      s"$text with ${args.mkString(", ")}")

  /** Tables whose scan the router pinned to one shard file. */
  private def routed(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, Some(t), _, _)
          if fs.location.isInstanceOf[ShardFileIndex] => t.identifier.table
    }

  test("a parameterized statement compiles once: new keys reuse its " +
      "generated classes") {
    setup
    Seq(lookup, join).foreach { text =>
      read(text, keys.head).collect()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      keys.tail.take(5).foreach(k => read(text, k).collect())
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
        s"5 new keys of one statement compiled code: $text")
    }
  }

  test("a reference-loaded key prints exactly like the literal it " +
      "replaces") {
    setup
    val df = read(lookup, keys.head)
    df.collect()
    val conds = df.queryExecution.executedPlan.collect {
      case f: FilterExec => f.condition
    }
    assert(conds.exists(_.exists(_.isInstanceOf[ReferenceLiteral])))
    conds.foreach { c =>
      val inlined = c.transform {
        case r: ReferenceLiteral => Literal(r.value, r.dataType)
      }
      assert(c.toString === inlined.toString)
      assert(c.sql === inlined.sql)
    }
    Seq(Literal(7), Literal(7L), Literal(2.5),
        Literal(java.time.LocalDate.of(1995, 3, 15)),
        Literal(java.time.Instant.parse("1995-03-15T10:00:00Z")),
        Literal(java.time.LocalDateTime.of(1995, 3, 15, 10, 0))).foreach { l =>
      val r = ReferenceLiteral(l.value, l.dataType)
      assert(r.toString === l.toString && r.sql === l.sql)
    }
  }

  test("router reads equal the source: random, absent and NULL keys") {
    setup
    (keys :+ -1L :+ Long.MaxValue).foreach { k =>
      assertSameAsSource(lookup, k)
      assertSameAsSource(join, k)
    }
    assertSameAsSource(lookup, null)
    assertSameAsSource(join, null)
    assert(rows(read(lookup, keys.head)).nonEmpty)
    assert(routed(read(lookup, keys.head)) === Seq("g_lineitem"))
  }

  test("OR and two-key IN do not pin a shard and still read every match") {
    setup
    val or = "SELECT l_orderkey, l_linenumber FROM g_lineitem " +
      "WHERE l_orderkey = $1 OR l_orderkey = $2"
    val in = "SELECT l_orderkey, l_linenumber FROM g_lineitem " +
      "WHERE l_orderkey IN ($1, $2)"
    Seq(or, in).foreach { text =>
      assertSameAsSource(text, keys(0), keys(1))
      val df = read(text, keys(0), keys(1))
      assert(routed(df).isEmpty, s"pinned one shard: $text")
      assert(df.collect().map(_.getLong(0)).toSet === keys.take(2).toSet)
    }
  }

  test("colocated join: the lineitem key is only inferred, and both " +
      "sides read one shard file") {
    setup
    val df = read(join, keys.head)
    assert(routed(df).sorted === Seq("g_lineitem", "g_orders"))
    assert(df.inputFiles.length === 2)
    assertSameAsSource(join, keys.head)
  }

  test("non-isolated tenantShard reads exactly one file") {
    setup
    val df = DistributionCatalog.tenantShard(spark, "g_lineitem", keys.head)
    assert(df.inputFiles.length === 1)
    assert(rows(df) === rows(spark.table("src_lineitem")
      .filter(col("l_orderkey") === keys.head)))
  }

  test("isolated tenant: key reads of the table, the router path " +
      "included, see its rows") {
    setup
    val orders = spark.table("src_orders")
    val hot = orders.groupBy("o_custkey").count()
      .orderBy(col("count").desc, col("o_custkey")).head().getLong(0)
    val cold = orders.filter(col("o_custkey") =!= hot)
      .orderBy("o_orderkey").head().getAs[Long]("o_custkey")
    DistributionCatalog.createDistributedTable(spark, orders, "r_orders",
      "o_custkey", buckets = 8)
    DistributionCatalog.isolateTenant(spark, "r_orders", hot)
    assert(spark.table("r_orders").columns.toSeq === orders.columns.toSeq)
    val text = "SELECT o_orderkey, o_custkey FROM r_orders " +
      "WHERE o_custkey = $1"
    Seq(hot -> s"/__tenant=$hot/", cold -> "/__tenant=-/").foreach {
      case (k, partition) =>
        val df = spark.table("r_orders").filter(col("o_custkey") === k)
        assert(rows(df) === rows(orders.filter(col("o_custkey") === k)))
        val sql = read(text, k)
        assert(routed(sql) === Seq("r_orders"))
        assert(rows(sql) === rows(orders.filter(col("o_custkey") === k)
          .select("o_orderkey", "o_custkey")))
        Seq(df, sql).foreach { d =>
          assert(d.inputFiles.length === 1 &&
            d.inputFiles.forall(_.contains(partition)),
            s"key $k read ${d.inputFiles.toSeq}")
        }
    }
    val absent = read(text, -1L)
    assert(routed(absent) === Seq("r_orders"))
    assert(absent.count() === 0)
    assert(absent.inputFiles.forall(_.contains("/__tenant=-/")))
    assert(spark.table("r_orders").count() === orders.count())
  }

  test("a range table's SQL and DataFrame reads prune to the " +
      "overlapping shard and show only the user's columns") {
    setup
    val source = spark.range(0, 400).coalesce(1)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    source.createOrReplaceTempView("src_range")
    DistributionCatalog.createRangeDistributedTable(spark, source, "r_range",
      "k", splitPoints = Seq(100L, 200L, 300L))
    assert(spark.table("r_range").inputFiles.length === 4)
    val sql = spark.sql("SELECT * FROM r_range WHERE k BETWEEN 10 AND 20")
    val filtered = spark.table("r_range").filter(col("k").between(10, 20))
    val want = rows(spark.sql(
      "SELECT * FROM src_range WHERE k BETWEEN 10 AND 20"))
    Seq(sql, filtered).foreach { df =>
      assert(df.inputFiles.length === 1 &&
        df.inputFiles.head.contains("/__shard=0/"), df.inputFiles.toSeq)
      assert(rows(df) === want)
      assert(df.columns.toSeq === Seq("k", "v"))
    }
    assert(spark.table("r_range").columns.toSeq === Seq("k", "v"))
    assert(Graft.pgSql(spark, "SELECT * FROM r_range WHERE k = 250")
      .columns.toSeq === Seq("k", "v"))
  }

  test("after alter_distributed_table changes the bucket count, reads " +
      "route by the new count") {
    setup
    val li = spark.table("src_lineitem")
    DistributionCatalog.createDistributedTable(spark, li, "r_lineitem",
      "l_orderkey", buckets = 8)
    DistributionCatalog.alterDistributedTable(spark, "r_lineitem",
      buckets = Some(5))
    keys.foreach { k =>
      val df = read(lookup.replace("g_lineitem", "r_lineitem"), k)
      assert(routed(df) === Seq("r_lineitem"))
      // the rewrite grouped the rows by bucket: one bucket, one file
      assert(df.inputFiles.length === 1)
      assert(rows(df) === rows(read(lookup.replace("g_", "src_"), k)))
    }
  }

  test("after a MERGE, a lookup still reads one bucket file and " +
      "citus_shards keeps its row counts with non-zero bytes") {
    setup
    val orders = spark.table("src_orders")
    DistributionCatalog.createDistributedTable(spark, orders, "r_merged",
      "o_orderkey")
    def shards(): Map[Int, (Long, Long)] =
      DistributionCatalog.shardSizes(spark, "r_merged").collect()
        .map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3))).toMap
    val before = shards()
    Dml.mergeIntoTable(spark, "r_merged",
      spark.createDataFrame(keys.map(Tuple1(_))).toDF("k"), "k",
      Dml.MergeClauses(matchedUpdate =
        Map("o_totalprice" -> (col("t.o_totalprice") + lit(1.0)))))
    val after = shards()
    assert(after.map { case (b, (_, n)) => b -> n } ===
      before.map { case (b, (_, n)) => b -> n })
    assert(after.values.forall { case (bytes, n) => n == 0 || bytes > 0 })
    val text = "SELECT o_orderkey, o_totalprice FROM r_merged " +
      "WHERE o_orderkey = $1"
    keys.foreach { k =>
      val df = read(text, k)
      assert(routed(df) === Seq("r_merged"))
      assert(df.inputFiles.length === 1)
      assert(rows(df) === rows(orders.filter(col("o_orderkey") === k)
        .select(col("o_orderkey"), col("o_totalprice") + 1.0)))
    }
  }
}
