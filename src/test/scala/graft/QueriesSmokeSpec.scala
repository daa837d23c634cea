package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs end-to-end at sf0.001 (the driver's t1
  * smoke), and the headline/bench queries return rows there. */
class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  SparkEntry.all.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val n = q.run(spark, TestSpark.sf).count()
      assert(n >= 0)
      if (q.bench) assert(n > 0, s"bench query ${q.name} must return rows")
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
