package graft

import graft.plans.{TopKPerGroup, TopKPerGroupExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom whole-operator plan: exact top-k per group via bounded heaps
  * (partial on the map side, merge after one shuffle) — differential
  * against the window row_number idiom it replaces. */
class TopKPerGroupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viaOperator = TopKPerGroup(
    Tables(spark, TestSpark.sf, "orders"),
    groupCols = Seq(col("o_orderstatus")),
    orderCols = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
    k = 3)

  private def viaWindow = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(spark, TestSpark.sf, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
  }

  test("top-k per group equals the window row_number result") {
    val a = viaOperator.collect()
      .map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[Long]("o_orderkey"))).toSet
    val b = viaWindow.collect()
      .map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[Long]("o_orderkey"))).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("plan uses the custom exec pair (partial+final), no WindowExec") {
    val df = viaOperator
    df.collect()
    def all(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      Seq(p) ++ p.children.flatMap(all) ++ (p match {
        case a: AdaptiveSparkPlanExec => all(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          all(q.plan)
        case _ => Nil
      })
    val nodes = all(df.queryExecution.executedPlan)
    assert(nodes.count(_.isInstanceOf[TopKPerGroupExec]) === 2)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]))
    // the session's extensions plan it: nothing is added per call
    assert(spark.experimental.extraStrategies.isEmpty)
  }

  test("k larger than any group returns whole groups") {
    val everything = TopKPerGroup(
      Tables(spark, TestSpark.sf, "region"),
      Seq(col("r_regionkey")), Seq(col("r_name")), k = 10)
    assert(everything.count() ===
      Tables(spark, TestSpark.sf, "region").count())
  }
}
