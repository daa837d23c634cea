package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt runs suites in one JVM),
  * built by the engine's own builder so the suites check the plans
  * users get; only the warehouse dir and the shuffle width are the
  * test's own. */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
    Graft.builder("local[4]", "graft-test")
      .config("spark.sql.warehouse.dir", wh.toUri.toString)
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
  }

  val sf: String = "/root/testdata/sf0.001"
}
