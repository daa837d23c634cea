package graft

import graft.plans.QueryStats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** citus_stat_statements analogue: same statement shape with different
  * literals collapses to one queryid; distinct shapes get their own
  * rows; a failed statement counts as a failure, not a call; reset
  * empties the view. */
class QueryStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The listener fires on the async listener bus — poll briefly. */
  private def eventually[A](f: => A): A = {
    var last: Throwable = null
    val deadline = System.nanoTime() + 10e9.toLong
    while (System.nanoTime() < deadline) {
      try return f
      catch { case t: Throwable => last = t; Thread.sleep(100) }
    }
    throw last
  }

  test("same query shape with different literals shares one queryid; " +
      "calls and time accumulate (citus_stat_statements)") {
    QueryStats.reset()
    QueryStats.install(spark)
    val li = Tables(spark, TestSpark.sf, "lineitem")
    // two runs, different literals -> one statement row
    li.filter(col("l_quantity") > 10).agg(count(lit(1))).collect()
    li.filter(col("l_quantity") > 40).agg(count(lit(1))).collect()
    // a different shape -> its own row
    li.groupBy("l_returnflag").count().collect()
    eventually {
      val rows = QueryStats.view(spark).collect()
      val byCalls = rows.map(r => r.getLong(2))
      assert(byCalls.exists(_ >= 2),
        s"expected a statement with >=2 calls, got ${byCalls.toSeq}")
      assert(rows.length >= 2, "expected at least two distinct shapes")
      assert(rows.forall(_.getDouble(3) > 0), "total_time_ms must be > 0")
    }
    QueryStats.reset()
    assert(QueryStats.view(spark).count() === 0)
    QueryStats.uninstall(spark)
  }

  test("one parameterized read with two keys is one statement with " +
      "calls = 2") {
    Tables(spark, TestSpark.sf, "orders").createOrReplaceTempView("qs_orders")
    QueryStats.reset()
    QueryStats.install(spark)
    try {
      val text = "SELECT o_orderkey, o_totalprice FROM qs_orders " +
        "WHERE o_orderkey = $1"
      Seq(1L, 7L).foreach(k => Graft.pgSqlParams(spark, text, k).collect())
      eventually {
        // reading the view is a statement of its own; keep the reads'
        val rows = QueryStats.view(spark).collect()
          .filter(_.getString(1).contains("o_totalprice"))
        assert(rows.length === 1, s"expected one statement: ${rows.toSeq}")
        assert(rows(0).getLong(2) === 2)
      }
    } finally {
      QueryStats.reset()
      QueryStats.uninstall(spark)
    }
  }

  test("a statement that fails counts as a failure with its error class " +
      "and adds no call") {
    QueryStats.reset()
    QueryStats.install(spark)
    try {
      val boom = udf((k: Long) =>
        if (k > 0) throw new IllegalArgumentException("boom") else k)
      val li = Tables(spark, TestSpark.sf, "lineitem")
      intercept[Exception](li.select(boom(col("l_orderkey"))).collect())
      eventually {
        val failed = QueryStats.view(spark).collect()
          .filter(_.getAs[Long]("failures") > 0)
        assert(failed.length === 1, s"one failed statement: ${failed.toSeq}")
        val r = failed(0)
        assert(r.getAs[Long]("failures") === 1)
        assert(r.getAs[Long]("calls") === 0)
        assert(r.isNullAt(r.fieldIndex("mean_time_ms")))
        assert(r.getAs[String]("last_error_class") != null)
      }
    } finally {
      QueryStats.reset()
      QueryStats.uninstall(spark)
    }
  }
}
