package graft

import graft.plans.{CombineExec, OneTaskShuffleRead, PlanChecks}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The combine step (Citus's coordinator query) on the static path that
  * Bench runs: AQE off and 4 shuffle partitions. An ORDER BY above a
  * grouped aggregate with small partial results finishes in one task;
  * with large ones it keeps the range-partitioned sort. */
class CombineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def static[T](body: => T): T = TestSpark.withConf(Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "4"))(body)

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, TestSpark.sf)

  private def combines(df: DataFrame): Seq[CombineExec] =
    PlanChecks.planNodes(df).collect { case c: CombineExec => c }

  // q1 runs the partial aggregate in the scan's one task; join_shuffle_large
  // also collects the broadcast side of its join in a job of its own
  Seq("q1_pricing_summary" -> TestSpark.Work(2, 2, 2),
      "join_shuffle_large" -> TestSpark.Work(3, 3, 3)).foreach {
    case (name, want) =>
      test(s"$name: the combine runs in one task after the partial " +
          "aggregate, with no sampling job and no range shuffle") {
        val aqeRows = query(name).collect().toSeq
        static {
          var rows = Seq.empty[Row]
          val df = query(name)
          assert(TestSpark.workOf { rows = df.collect().toSeq } === want)
          assert(rows === aqeRows)
          val nodes = PlanChecks.nodesOf(df.queryExecution.executedPlan)
          assert(nodes.exists(_.isInstanceOf[OneTaskShuffleRead]))
          assert(!nodes.exists {
            case s: ShuffleExchangeLike =>
              s.outputPartitioning.isInstanceOf[RangePartitioning]
            case _ => false
          }, "the plan that ran still has the range shuffle")
        }
      }
  }

  test("partial results over the size of a task keep the range-" +
      "partitioned sort: several output partitions, globally ordered") {
    static {
      // 200,000 groups: several MB of partial results
      val df = spark.range(0, 400000)
        .groupBy((col("id") % 200000).as("k"))
        .agg(sum(col("id")).as("s"))
        .orderBy(col("s").desc)
      val rows = df.collect().map(_.getLong(1)).toSeq
      assert(rows.size === 200000)
      assert(rows === rows.sorted.reverse)
      val Seq(c) = combines(df)
      assert(c.executed eq c.child, "the large result ran in one task")
      assert(c.toString.contains("as planned"))
      assert(c.executed.execute().getNumPartitions > 1)
    }
  }

  test("plan checks see the branch that ran: q1 counts one exchange") {
    static {
      val df = query("q1_pricing_summary")
      assert(PlanChecks.countShuffles(df) === 1)
      val Seq(c) = combines(df)
      assert(c.toString.contains("in one task"))
      assert(c.toString.contains("OneTaskShuffleRead"))
      assert(PlanChecks.explainReport(df).collect()
        .count(_.getString(1) == "shuffle") === 1)
    }
  }

  test("with AQE on, no combine node is planned") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val df = query("q1_pricing_summary")
    assert(combines(df).isEmpty)
    assert(!df.queryExecution.executedPlan.exists(_.isInstanceOf[CombineExec]))
  }
}
