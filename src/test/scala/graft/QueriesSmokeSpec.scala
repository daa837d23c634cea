package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs end-to-end at sf0.001 (the driver's t1
  * smoke) and returns rows there, except the few that sf0.001's data
  * leaves legitimately empty, each listed with its reason. */
class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Queries with no rows at sf0.001, and why that is right. */
  private val emptyAtSf0001: Map[String, String] = Map(
    "join_theta_range" -> ("pairs of suppliers of one nation; sf0.001's " +
      "10 suppliers are in 10 different nations"))

  SparkEntry.all.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val n = q.run(spark, TestSpark.sf).count()
      emptyAtSf0001.get(q.name) match {
        case Some(why) =>
          assert(!q.bench, s"bench query ${q.name} must return rows")
          assert(n == 0, s"${q.name} is listed as empty ($why) but " +
            s"returned $n rows")
        case None => assert(n > 0, s"${q.name} returned no rows at sf0.001")
      }
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("no oracle statement reads a file by absolute path") {
    // DuckDB reads a file through read_*('..') or a quoted FROM/JOIN path
    val absoluteRead = """(?i)(read_\w+\s*\(|\bfrom|\bjoin)\s*'/""".r
    val bad = SparkEntry.oracleSql.collect {
      case (name, sql) if absoluteRead.findFirstIn(sql).isDefined => name
    }
    assert(bad.isEmpty, s"oracle SQL reads outside the sf tables: $bad")
  }
}
