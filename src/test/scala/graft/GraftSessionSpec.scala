package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory: what `Graft.builder` configures holds for
  * a query stream, and `Graft.session` refuses a session it did not
  * configure. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("an interleaved stream of the bench queries stops recompiling: " +
      "the codegen cache holds a round's generated classes") {
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def round(seed: Int): Long = {
      val before = compiles()
      new scala.util.Random(seed).shuffle(SparkEntry.benchQueries)
        .foreach(n => SparkEntry.queries(n)(spark, TestSpark.sf)
          .write.format("noop").mode("overwrite").save())
      compiles() - before
    }
    val first = round(1)
    val second = round(2)
    info(s"classes compiled: round 1 $first, round 2 $second")
    // A cold round compiles about 150 classes here. At Spark's default
    // cache of 100 entries the second round recompiles about half of
    // them (79); with the builder's cap it compiles none, or the few
    // that AQE re-plans differently.
    assert(second < 20, s"round 2 compiled $second classes (round 1: " +
      s"$first): the codegen cache evicts between queries")
  }

  test("Graft.session refuses a plain session that got to the shared " +
      "context first, and accepts the one Graft.builder made") {
    val built = spark // the Graft-built session made the shared context
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      SparkSession.builder().getOrCreate()
      val e = intercept[IllegalStateException](Graft.session())
      assert(e.getMessage.contains("GraftExtensions"), e.getMessage)
    } finally {
      SparkSession.setActiveSession(built)
      SparkSession.setDefaultSession(built)
    }
    assert(Graft.session() eq built)
  }
}
