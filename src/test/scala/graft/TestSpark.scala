package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt runs suites in one JVM),
  * with the engine's extensions installed as `Graft.session` installs
  * them, so the suites check the plans users get. */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh.toUri.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
  }

  val sf: String = "/root/testdata/sf0.001"
}
