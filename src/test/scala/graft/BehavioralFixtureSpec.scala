package graft

import graft.queries.BehavioralFixture
import org.scalatest.funsuite.AnyFunSuite

/** The seeded users/events pair behind the `ref_verbatim_*` oracle
  * queries: stable text, the documented value domains, and inputs on
  * which each query's answer is decided by the data, not by tie order. */
class BehavioralFixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val f = BehavioralFixture.sql

  test("two builds render byte-identical text") {
    val again = BehavioralFixture.render(BehavioralFixture.Seed)
    assert(again.users == f.users)
    assert(again.events == f.events)
    assert(BehavioralFixture.render(BehavioralFixture.Seed + 1) != f)
  }

  test("both tables have the reference schema and the documented domains") {
    def columns(sql: String): String = spark.sql(sql).schema.fields
      .map(c => s"${c.name} ${c.dataType.sql}").mkString(", ")
    assert(columns(f.users) == "user_id INT, time TIMESTAMP, value_1 INT, " +
      "value_2 INT, value_3 DOUBLE, value_4 BIGINT")
    assert(columns(f.events) == "user_id INT, time TIMESTAMP, " +
      "event_type INT, value_2 INT, value_3 DOUBLE, value_4 BIGINT")
    def range(sql: String): Seq[Any] = spark.sql(sql).collect().head.toSeq
    assert(range(s"""SELECT count(*), min(user_id), max(user_id),
        min(least(value_1, value_2, value_3)),
        max(greatest(value_1, value_2, value_3)),
        count(value_1) + count(value_2) + count(value_3), count(value_4)
      FROM (${f.users})""") ==
      Seq(BehavioralFixture.Rows.toLong, 1, 6, 0.0, 5.0,
        3L * BehavioralFixture.Rows, 0L))
    assert(range(s"""SELECT count(*), min(user_id), max(user_id),
        min(event_type), max(event_type),
        min(least(value_2, value_3)), max(greatest(value_2, value_3)),
        count(value_2) + count(value_3), count(value_4)
      FROM (${f.events})""") ==
      Seq(BehavioralFixture.Rows.toLong, 1, 6, 0, 6, 0.0, 5.0,
        2L * BehavioralFixture.Rows, 0L))
  }

  test("each ref_verbatim query returns at least one row") {
    for (n <- Seq("ref_verbatim_orderby_limit",
        "ref_verbatim_window_distinct_on", "ref_verbatim_quantified_all"))
      assert(SparkEntry.queries(n)(spark, TestSpark.sf).count() > 0, n)
  }

  test("ref_verbatim_orderby_limit's top total beats the runner-up") {
    val totals = spark.sql(s"""SELECT sum(value_1) + sum(value_2) AS total
      FROM (${f.users}) GROUP BY user_id ORDER BY total DESC LIMIT 2""")
      .collect().map(_.getLong(0))
    assert(totals.length == 2 && totals(0) > totals(1), totals.toSeq)
  }
}
