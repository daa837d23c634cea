package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

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

  /** Spark jobs `body` runs, counted by job group. Each listener sees
    * events in order, so once it sees a marker job of another group it
    * has seen every job of `body`. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull match {
          case "test-counted" => jobs.incrementAndGet()
          case "test-marker" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("test-counted", "counted")
      body
      sc.setJobGroup("test-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener never drained")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
