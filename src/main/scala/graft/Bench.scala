package graft

import graft.plans.PlanChecks
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  ShuffledHashJoinExec}

/** Benchmark main: times the headline queries (SparkEntry.benchQueries)
  * on SPARK_GRAFT_SF_DIR with SPARK_GRAFT_CPUS cores and prints one JSON
  * line. Runs on [[Graft.session]] over the cache [[Tables.pinForBench]]
  * pins, in the data-sized confs it sets; the plan pins check the plans
  * that are timed. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    def abort(msg: String): Nothing = {
      System.err.println("BENCH ABORT: " + msg)
      spark.stop()
      sys.exit(1)
    }

    val names = SparkEntry.benchQueries
    val qmap = SparkEntry.queries
    // Pin the working set in memory (buffer-pool analogue), sizing the
    // session for it; not timed.
    Tables.pinForBench(spark, sfDir)
    // Plan pin: the forced-shuffle entry must actually BE the shuffle
    // join it claims to time. The shuffle_hash hint (r13: was merge
    // through r12 — guide §3.1, same dual-exchange shape without the
    // sorts) should survive any config or Spark-version drift, but if
    // it ever degrades to a broadcast join the bench would silently
    // time the wrong plan — fail loudly instead (the recorded number
    // is a per-round tracked artifact).
    locally {
      val df = qmap("join_shuffle_fact")(spark, sfDir)
      val nodes = PlanChecks.planNodes(df)
      if (!nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]) ||
          nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]))
        abort("join_shuffle_fact plan degraded — expected " +
          "ShuffledHashJoin with no BroadcastHashJoin, got:\n" +
          df.queryExecution.executedPlan)
    }
    // Same pin for the expression-key entry: the supplier link hashes
    // on pmod(l_partkey*l_suppkey,100) — colocation is impossible, so
    // at scale this join ALWAYS repartitions the fact side on the
    // computed key (the reference's single-hash repartition join,
    // which is itself a hash join per fragment pair). The shuffle_hash
    // hint must hold as a ShuffledHashJoin; the dim joins are SUPPOSED
    // to broadcast, so only the SHJ presence is asserted. The forced
    // join is identified by its keys — link_key (the aliased pmod
    // computed key) vs s_suppkey — so the pin cannot pass with the
    // supplier link degraded while some OTHER join is shuffled-hash.
    locally {
      val plan = PlanChecks.executedPlan(
        qmap("ch_market_share_repartition")(spark, sfDir))
      if (PlanChecks.shuffledHashJoinsOn(plan, "link_key", "s_suppkey").isEmpty)
        abort("ch_market_share_repartition plan degraded — expected the " +
          "expression-key (link_key = s_suppkey) ShuffledHashJoin, got:\n" +
          plan)
    }

    // A pass that throws must not record a fast, flattering time:
    // correctness is gated separately (Verify), but a *crashing*
    // query would otherwise corrupt the per-round time-series silently.
    // Count failures per entry, and abort the bench after the warm-up
    // or the timed passes if any occurred.
    val failures = scala.collection.mutable.Map[String, Int]()
    def run(n: String): Double = {
      val t0 = System.nanoTime()
      try qmap(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          failures(n) = failures.getOrElse(n, 0) + 1
          System.err.println(s"BENCH FAILURE in $n: $e")
      }
      (System.nanoTime() - t0) / 1e9
    }
    def abortOnFailures(phase: String): Unit =
      if (failures.nonEmpty)
        abort(s"$phase passes threw — " +
          failures.map { case (n, c) => s"$n x$c" }.mkString(", "))

    // Warm up (JIT/C2 + codegen caches — steady state needs ~4 passes
    // in a fresh JVM; the 2-pass timed total was ~1s slower); not timed.
    // Classes compiled per phase (the JVM-wide codegen counter): a
    // warm, JIT-steady timed phase compiles almost nothing, so a codegen
    // cache that evicts between queries shows up here as a count.
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val warmupStart = compiles()
    (1 to 4).foreach(_ => names.foreach(run))
    abortOnFailures("warm-up")
    val timedStart = compiles()
    // Machine-load context: ambient load inflated a recorded round
    // total by ~23% once (r5; a quiet rerun reproduced r4's numbers).
    // Record the 1-minute loadavg before and after the timed passes so
    // a drifted bench is self-diagnosing — a high loadavg with flat
    // plans means "noisy machine", not "regression".
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = loadavg()
    // A single timed pass at 0.2-1.0s/query is noise-dominated (10-15%
    // day-to-day variance measured in SCALING.md). Time 5 passes per
    // query, report the median, and carry min/max so a regression can
    // be told apart from load.
    val timedPasses = 5
    // The shuffle-join entries drifted upward two rounds in a row at 5
    // passes while staying inside their own min/max bands (r7 "What's
    // wrong" #2) — 9 passes tightens their medians so drift can be
    // adjudicated as signal vs noise; the cheap entries stay at 5.
    // q7_volume_shipping joined the set in r9 after its r8 median
    // escaped the prior round's band (0.557 vs max 0.528) on a
    // 0.32-1.30 straggler spread. q1/q5 joined in r10 for the same
    // adjudication: their r9 medians rose 39-41% while staying inside
    // the r8 bands, and q1's r9 min (0.410) exceeded r8's median —
    // the q7 pre-adjudication signature. q18 joined in r11: its r10
    // median 0.481 / min 0.450 exceeded r9's median 0.354 — the same
    // signature — and it is the heaviest real-shuffle headline entry
    // (SMJ at sf1) that was still at 5 passes.
    val slowJoinEntries = Set("join_shuffle_fact", "join_shuffle_large",
      "ch_market_share_repartition", "q7_volume_shipping",
      "q1_pricing_summary", "q5_local_supplier",
      "q18_large_volume_customer")
    def passesFor(n: String): Int =
      if (slowJoinEntries(n)) 9 else timedPasses
    val samples: Map[String, Seq[Double]] =
      names.map(n => n -> (1 to passesFor(n)).map(_ => run(n))).toMap
    abortOnFailures("timed")
    val timedEnd = compiles()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = names.map(n => n -> median(samples(n)))
    val qs = results
      .map { case (k, v) => "\"" + k + f"\":$v%.4f" }
      .mkString("{", ",", "}")
    val spread = names.map { n =>
      val s = samples(n)
      "\"" + n +
        f"""\":{"min":${s.min}%.4f,"max":${s.max}%.4f,"passes":${s.size}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadEnd = loadavg()
    println(
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":$qs,"spread":$spread,"passes":$timedPasses,"loadavg":{"start":$loadStart%.2f,"end":$loadEnd%.2f},"codegen_compiles":{"warmup":${timedStart - warmupStart},"timed":${timedEnd - timedStart}},"sf":"$sfDir"}""")
    spark.stop()
  }
}
