package perfbench

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.{Graft, SparkEntry, Tables}
import graft.catalog.DistributionCatalog
import graft.sources.Dml

/** One benchmark run in one JVM: set up a workload, drive a seeded
  * closed-loop stream of calls through the engine's public entry points
  * (one call outstanding at a time), and write every call's timing, the
  * outputs the checker compares, and (when tracing) the spans to a JSON
  * file.
  *
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --out FILE --cores C
  */
object Harness {

  /** Nominal seconds of one measured unit at sf0.1 on 4 cores, once
    * warm: a round of the 12 OLAP queries from the pinned cache, and a
    * tenant block of 12 reads and 3 merges. */
  val OlapRoundS = 9.0
  val TenantBlockS = 8.0
  /** Set-up runs this many times in a run; its median is reported. */
  val SetupReps = 3

  final case class Call(id: Int, kind: String, name: String, timed: Boolean,
      start: Double, end: Double, ok: Boolean, error: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = new Tracer(a("trace") == "1")
    val dir = a("data")
    val cores = a("cores").toInt
    val out = mutable.LinkedHashMap.empty[String, Any]

    val master = s"local[$cores]"
    val t0 = trace.now()
    val spark = Graft.session(master, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (trace.now() - t0) / 1e3
    trace.install(spark)
    watchGc()

    val calls = mutable.ArrayBuffer.empty[Call]
    val rng = new Random(seed)

    /** One call: a root span, timed from outside; a throw is recorded
      * as a failed call, never swallowed silently. */
    def call(kind: String, name: String, timed: Boolean)(body: => Unit): Unit = {
      val id = calls.size
      val start = trace.now()
      val err =
        try { trace.span(spark, s"call.$kind")(body); "" }
        catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      calls += Call(id, kind, name, timed, start, trace.now(), err.isEmpty, err)
      if (err.nonEmpty) System.err.println(s"call $id $kind $name failed: $err")
    }
    /** Measure whole units (an OLAP round, a tenant block), so every run
      * weighs its calls the same: as many units as fit in `seconds` at
      * the unit's nominal length, at least one. A count fixed by
      * `seconds` rather than by the clock keeps the work of a run the
      * same on a slow or loaded machine, and keeps a unit from being cut
      * off or added at the edge of the window. */
    def runUnits(nominalS: Double)(body: => Unit): Unit = {
      val n = math.max(1L, math.round(seconds / nominalS))
      var i = 0L
      while (i < n) { body; i += 1 }
    }
    /** Set-up repetitions are untimed calls, so a throw in set-up counts
      * as a failed call like any other; returns their durations. */
    def setup(name: String)(body: => Unit): Seq[Double] =
      (1 to SetupReps).map { _ =>
        call("setup", name, timed = false)(body)
        (calls.last.end - calls.last.start) / 1e3
      }

    workload match {
      case "olap-pinned" | "olap-parquet" =>
        val names = SparkEntry.benchQueries
        val qmap = SparkEntry.queries
        val pinned = workload == "olap-pinned"
        val reps = if (!pinned) Seq.empty[Double] else setup("pin") {
          Tables.unpin(); spark.catalog.clearCache()
          trace.span(spark, "cache.pin")(Tables.pinForBench(spark, dir))
        }
        out("setup_reps_s") = reps
        out("cache_bytes") = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum
        def build(n: String): DataFrame = {
          val df = trace.span(spark, "queries.build")(qmap(n)(spark, dir))
          trace.recordQe(df.queryExecution, executed = false)
          df
        }
        // The untimed warm-up round writes each result for the oracle
        // check; the timed rounds end in a noop write.
        val resultDir = a("out") + ".results"
        rng.shuffle(names).foreach { n =>
          call("olap", n, timed = false) {
            val df = build(n)
            trace.span(spark, "exec.action")(df.coalesce(1).write
              .mode("overwrite").parquet(s"$resultDir/$n"))
          }
        }
        def noop(n: String, timed: Boolean): Unit = call("olap", n, timed) {
          val df = build(n)
          trace.span(spark, "exec.action")(
            df.write.format("noop").mode("overwrite").save())
        }
        runUnits(OlapRoundS)(rng.shuffle(names).foreach(noop(_, timed = true)))
        out("result_dir") = resultDir
        out("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql.get(n)).toMap
        out("queries") = names

      case "tenant-router" =>
        val sources = Seq("lineitem", "orders", "customer", "part",
          "nation", "region", "supplier")
        val reps = setup("layout") {
          DistributionCatalog.reset()
          spark.catalog.clearCache()
          trace.span(spark, "catalog.layout")(DistributionCatalog
            .setupTpchLayout(spark, n => Tables(spark, dir, n)))
        }
        out("setup_reps_s") = reps
        val nOrders = Tables(spark, dir, "orders").count()
        val nCust = Tables(spark, dir, "customer").count()
        val mergeKeys = math.min(2000L, math.max(1L, nOrders / 10))
        def totals(): Map[String, Any] = {
          val r = spark.sql("SELECT count(*), CAST(sum(CAST(o_totalprice " +
            "AS DECIMAL(18,2))) AS STRING) FROM g_orders").head()
          Map("rows" -> r.getLong(0), "sum" -> r.getString(1))
        }
        out("totals_before") = totals()
        val reads = Seq(
          "lookup" -> ("SELECT l_orderkey, l_linenumber, l_partkey, " +
            "l_quantity, l_extendedprice FROM g_lineitem WHERE l_orderkey = $1"),
          "colocated_join" -> ("SELECT o.o_orderkey, o.o_totalprice, " +
            "count(*) AS items, sum(l.l_quantity) AS qty FROM g_orders o " +
            "JOIN g_lineitem l ON o.o_orderkey = l.l_orderkey " +
            "WHERE o.o_orderkey = $1 GROUP BY o.o_orderkey, o.o_totalprice"),
          "history" -> ("SELECT o_orderkey, o_orderdate, o_totalprice " +
            "FROM g_orders WHERE o_custkey = $1 " +
            "ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 10"))
        val readLog = mutable.ArrayBuffer.empty[Map[String, Any]]
        val mergeLog = mutable.ArrayBuffer.empty[Map[String, Any]]
        def read(kind: Int, timed: Boolean): Unit = {
          val (name, text) = reads(kind)
          val key = if (name == "history") rng.nextLong(nCust)
            else rng.nextLong(nOrders)
          call(name, name, timed) {
            if (trace.enabled) trace.span(spark, "sql.translate")(
              graft.sql.PgDialect.translate(
                """\$(\d+)""".r.replaceAllIn(text, m => ":p" + m.group(1))))
            val df = trace.span(spark, "sql.pgsql")(
              Graft.pgSqlParams(spark, text, key))
            val rows = trace.span(spark, "exec.action")(df.collect())
            trace.recordQe(df.queryExecution, executed = false)
            readLog += Map("call" -> calls.size, "kind" -> name, "key" -> key,
              "merges_before" -> mergeLog.size, "rows" -> rows.map(jsonRow).toSeq)
          }
        }
        def merge(timed: Boolean): Unit = {
          val lo = rng.nextLong(math.max(1L, nOrders - mergeKeys))
          call("merge", "merge", timed) {
            val src = spark.range(lo, lo + mergeKeys).toDF("k")
            trace.span(spark, "dml.merge")(Dml.mergeIntoTable(spark,
              "g_orders", src, "k", Dml.MergeClauses(matchedUpdate =
                Map("o_totalprice" -> (col("t.o_totalprice") + lit(1.00))))))
          }
          // the merge's rows are changed only if it did not throw
          if (calls.last.ok) mergeLog += Map("lo" -> lo, "hi" -> (lo + mergeKeys))
        }
        // A block is 12 reads, four of each kind in seeded order, with a
        // merge after every 4th read, so every 5th call writes and every
        // run reads the same mix.
        def block(timed: Boolean): Unit =
          rng.shuffle(Seq.fill(4)(reads.indices).flatten).grouped(4)
            .foreach { g => g.foreach(read(_, timed)); merge(timed) }
        reads.indices.foreach(read(_, timed = false)); merge(timed = false)
        runUnits(TenantBlockS)(block(timed = true))
        out("totals_after") = totals()
        out("reads") = readLog
        out("merges") = mergeLog
        out("merge_keys") = mergeKeys
        // one colocated join outside the timed path: exchanges it plans
        out("join_exchanges") = graft.plans.PlanChecks.countShuffles(
          Graft.pgSqlParams(spark, reads(1)._2, 1L))
        val wh = new java.io.File(new java.net.URI(
          spark.conf.get("spark.sql.warehouse.dir")).getPath)
        def bytes(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
          else f.length
        out("stored_bytes") = sources.map(n =>
          n -> bytes(new java.io.File(wh, s"g_$n"))).toMap
        out("source_bytes") = sources.map(n =>
          n -> new java.io.File(s"$dir/$n.parquet").length).toMap
        out("orders_rows") = nOrders

      case other => sys.error(s"unknown workload: $other")
    }

    org.apache.spark.perfbench.Drain(spark.sparkContext)
    val spans = trace.finish()
    out("workload") = workload
    out("seed") = seed
    out("session_s") = sessionS
    out("calls") = calls.map(c => Map("id" -> c.id, "kind" -> c.kind,
      "name" -> c.name, "timed" -> c.timed, "start" -> c.start,
      "end" -> c.end, "ok" -> c.ok, "error" -> c.error))
    out("spans") = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start" -> s.start, "end" -> s.end,
      "counts" -> s.counts))
    out("env") = Map("master" -> master, "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java_version" -> System.getProperty("java.version"),
      "default_parallelism" -> spark.sparkContext.defaultParallelism)
    out("peak_rss_mb") = vmHwmMb()
    out("heap_after_gc_peak_mb") = heapAfterGcPeak.get / 1048576.0
    Tables.unpin()
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new java.io.File(a("out")), out)
  }

  /** Row values as JSON scalars; the tables' timestamps are without
    * time zone and become epoch microseconds. */
  private def jsonRow(r: Row): Seq[Any] = r.toSeq.map {
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case v => v
  }

  /** Largest heap occupancy right after a collection, over the run. */
  private val heapAfterGcPeak = new java.util.concurrent.atomic.AtomicLong(0L)

  private def watchGc(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{Notification, NotificationEmitter}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val used = GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
              .getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            heapAfterGcPeak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }, null, null)
      case _ =>
    }
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
