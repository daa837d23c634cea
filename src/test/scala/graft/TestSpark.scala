package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

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

  /** Runs `body` with the session confs `conf` set, then restores them. */
  def withConf[T](conf: Map[String, String])(body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Spark jobs `body` runs, counted by job group. */
  def jobsOf(body: => Unit): Int = workOf(body).jobs

  /** The jobs `body` runs, the stages they ran (a skipped stage is
    * never submitted) and those stages' tasks. */
  final case class Work(jobs: Int, stages: Int, tasks: Int)

  /** The [[Work]] `body` runs, counted by job group. */
  def workOf(body: => Unit): Work = measure(body)._1

  /** The rows `body`'s tasks read from files or cached blocks (their
    * input metrics), counted by job group. */
  def rowsReadOf(body: => Unit): Long = measure(body)._2

  /** Each listener sees events in order, so once it sees a marker job
    * of another group it has seen every job, stage and task of `body`. */
  private def measure(body: => Unit): (Work, Long) = {
    val sc = spark.sparkContext
    val jobs, stages, tasks = new AtomicInteger
    val rowsRead = new AtomicLong
    val counted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    def group(p: java.util.Properties): String =
      Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        group(e.properties) match {
          case "test-counted" => jobs.incrementAndGet()
          case "test-marker" => drained.countDown()
          case _ =>
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (group(e.properties) == "test-counted") {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
          counted.add(e.stageInfo.stageId)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (counted.contains(e.stageId) && e.taskMetrics != null)
          rowsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
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
    (Work(jobs.get, stages.get, tasks.get), rowsRead.get)
  }
}
