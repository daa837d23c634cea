package graft

import graft.plans.{PinnedBroadcasts, PlanChecks}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, PinnedBroadcastExec, Row}
import org.apache.spark.sql.functions.{broadcast, col, lit, rand, when}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

/** A broadcast of pinned data is built once per pinned relation
  * (PinnedBroadcastExec), and Tables.unpin releases what
  * Tables.pinForBench cached. At sf0.001 pinning turns AQE off, so the
  * queries run on the static path the rule applies to. */
class PinnedBroadcastSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext
  private val sf = TestSpark.sf

  /** The bench queries whose plans broadcast, by name prefix. */
  private val broadcasting = Seq("q3_", "q5_", "q7_", "q10_", "q14_", "q18_",
    "q19_", "ch_market_share_repartition", "join_shuffle_large")

  private def query(n: String, dir: String = sf): DataFrame =
    SparkEntry.queries(n)(spark, dir)

  private def rows(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  /** Runs `body` over the working set pinned from `dir`, then releases
    * the pin and restores the session confs pinning set. */
  private def pinned[T](dir: String)(body: => T): T =
    TestSpark.withConf(Tables.benchConf(Tables.benchBytes(dir),
        sc.defaultParallelism)) {
      Tables.pinForBench(spark, dir)
      try body finally Tables.unpin()
    }

  /** The work `body` runs, and how many of its jobs built a broadcast. */
  private def workOf(body: => Unit): (TestSpark.Work, Int) = {
    val broadcasts = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("spark.jobGroup.id") == "test-counted" &&
              Option(p.getProperty("spark.job.tags")).exists(_.contains("broadcast")))
            broadcasts.incrementAndGet()
        }
    }
    // added before workOf's own listener, so it has seen every event
    // of `body` once workOf returns
    sc.addSparkListener(listener)
    try (TestSpark.workOf(body), broadcasts.get)
    finally sc.removeSparkListener(listener)
  }

  private def pinnedNodes(df: DataFrame): Seq[PinnedBroadcastExec] =
    PlanChecks.nodesOf(df.queryExecution.executedPlan).collect {
      case b: PinnedBroadcastExec => b
    }

  test("a second round of the bench queries builds no broadcast: each " +
      "runs only its non-broadcast jobs and returns the unpinned rows") {
    val names = SparkEntry.benchQueries
    val unpinned = names.map(n => n -> rows(query(n))).toMap
    pinned(sf) {
      val rng = new scala.util.Random(1704)
      def round(): Map[String, (TestSpark.Work, Int, Seq[PinnedBroadcastExec])] =
        rng.shuffle(names).map { n =>
          val df = query(n)
          var got = Map.empty[Row, Int]
          val (work, built) = workOf { got = rows(df) }
          assert(got === unpinned(n), s"$n: pinned rows differ")
          n -> (work, built, pinnedNodes(df))
        }.toMap
      val first = round()
      val second = round()
      names.foreach { n =>
        val (work1, built1, _) = first(n)
        val (work2, built2, nodes) = second(n)
        assert(built2 === 0, s"$n built a broadcast in round 2")
        assert(work2.jobs === work1.jobs - built1, s"$n: $work1 then $work2")
        if (broadcasting.exists(n.startsWith)) {
          // a broadcast nested in a reused build side does not run
          val notes = nodes.map(_.toString.takeWhile(_ != '\n'))
          assert(notes.contains("PinnedBroadcast reused") &&
            !notes.contains("PinnedBroadcast built"), s"$n: $notes")
        } else assert(built1 === 0 && nodes.isEmpty, n)
      }
    }
  }

  test("a re-pin over a rewritten file builds again: q5 reads the new " +
      "nation name, with or without an unpin before the re-pin") {
    val dir = Files.createTempDirectory("graft-pinned").toFile
    val changed = Files.createTempDirectory("graft-pinned-changed").toFile
    val out = Files.createTempDirectory("graft-pinned-nation").toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    val q5 = "q5_local_supplier"
    try {
      for (n <- Tables.benchTables; to <- Seq(dir, changed))
        Files.copy(new java.io.File(s"$sf/$n.parquet").toPath,
          new java.io.File(to, s"$n.parquet").toPath,
          StandardCopyOption.REPLACE_EXISTING)
      val renamed = rows(query(q5)).keys.head.getString(0)
      spark.read.parquet(s"$sf/nation.parquet")
        .withColumn("n_name", when(col("n_name") === renamed, lit("RENAMED"))
          .otherwise(col("n_name")))
        .coalesce(1).write.mode("overwrite").parquet(out.getPath)
      val part = out.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, new java.io.File(changed, "nation.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      val want = rows(query(q5, changed.getPath))
      assert(want.keys.exists(_.getString(0) == "RENAMED"))
      pinned(dir.getPath) {
        rows(query(q5, dir.getPath))
        assert(rows(query(q5, dir.getPath)).keys.exists(_.getString(0) == renamed))
        Files.copy(new java.io.File(changed, "nation.parquet").toPath,
          new java.io.File(dir, "nation.parquet").toPath,
          StandardCopyOption.REPLACE_EXISTING)
        Tables.pinForBench(spark, dir.getPath)
        assert(rows(query(q5, dir.getPath)) === want)
      }
      pinned(dir.getPath) {
        val df = query(q5, dir.getPath)
        assert(rows(df) === want)
        assert(pinnedNodes(df).nonEmpty)
      }
    } finally Seq(dir, changed, out).foreach(rm)
  }

  test("Tables.apply over a pinned table whose file changed reads the " +
      "new rows and releases the pinned copy") {
    val dir = Files.createTempDirectory("graft-pinned-apply").toFile
    val out = Files.createTempDirectory("graft-pinned-apply-out").toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    try {
      for (n <- Tables.benchTables)
        Files.copy(new java.io.File(s"$sf/$n.parquet").toPath,
          new java.io.File(dir, s"$n.parquet").toPath,
          StandardCopyOption.REPLACE_EXISTING)
      spark.read.parquet(s"$sf/nation.parquet")
        .withColumn("n_name", lit("RENAMED"))
        .coalesce(1).write.mode("overwrite").parquet(out.getPath)
      val part = out.listFiles().filter(_.getName.endsWith(".parquet")).head
      pinned(dir.getPath) {
        val old = Tables(spark, dir.getPath, "nation")
        assert(old.storageLevel !== StorageLevel.NONE)
        Files.move(part.toPath, new java.io.File(dir, "nation.parquet").toPath,
          StandardCopyOption.REPLACE_EXISTING)
        val now = Tables(spark, dir.getPath, "nation")
        assert(now.select("n_name").distinct().collect().toSeq ===
          Seq(Row("RENAMED")))
        assert(old.storageLevel === StorageLevel.NONE,
          "the pinned copy of the old file must be released")
      }
    } finally Seq(dir, out).foreach(rm)
  }

  test("a build side over unpinned parquet, or with rand(), is never reused") {
    def join(dim: DataFrame): DataFrame =
      Tables(spark, sf, "supplier")
        .join(broadcast(dim), col("s_nationkey") === col("n_nationkey"))
    def twice(df: => DataFrame): Seq[Int] = (1 to 2).map { _ =>
      val d = df
      val (_, built) = workOf(d.collect())
      assert(pinnedNodes(d).isEmpty, d.queryExecution.executedPlan)
      built
    }
    TestSpark.withConf(Map("spark.sql.adaptive.enabled" -> "false")) {
      assert(twice(join(Tables(spark, sf, "nation"))) === Seq(1, 1))
    }
    pinned(sf) {
      assert(twice(join(Tables(spark, sf, "nation")
        .withColumn("r", rand(7)))) === Seq(1, 1))
    }
  }

  test("clearCache drops the registry's entries for the unpersisted data") {
    pinned(sf) {
      query("q5_local_supplier").collect()
      assert(PinnedBroadcasts.size(sc) > 0)
      assert(PinnedBroadcasts.bytes(sc) > 0)
      spark.catalog.clearCache()
      TestSpark.workOf(()) // the listener bus has delivered the unpersists
      assert(PinnedBroadcasts.size(sc) === 0)
    }
  }

  test("unpin releases what pinForBench cached and leaves other cached " +
      "data alone") {
    val other = spark.range(10).toDF("x").cache()
    try {
      other.count()
      val before = sc.getPersistentRDDs.keySet
      pinned(sf) {
        assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
      }
      assert(sc.getPersistentRDDs.keySet === before)
      assert(other.storageLevel !== StorageLevel.NONE)
    } finally other.unpersist()
  }
}
