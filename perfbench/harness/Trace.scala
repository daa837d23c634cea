package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. Spans from the harness are opened around
  * calls into the engine; job, stage and Catalyst-phase spans come from
  * Spark's listener buses and are linked to the harness span that was
  * open when they started (the span id travels as a Spark local
  * property). Times are milliseconds since the tracer was created.
  * Nothing is recorded when `enabled` is false, and no listener is
  * registered, so an untraced run pays only for the call timestamps. */
final class Tracer(val enabled: Boolean) {
  val SpanProp = "perfbench.span"
  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private val ids = new AtomicLong(0)

  def now(): Double = (System.nanoTime() - t0Nano) / 1e6
  def fromEpoch(ms: Long): Double = (ms - t0Epoch).toDouble

  final case class Span(id: Long, parent: Long, name: String,
      start: Double, end: Double, counts: Map[String, Double])

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil

  def nextId(): Long = ids.incrementAndGet()

  private def lock[T](body: => T): T = synchronized(body)

  def add(s: Span): Unit = lock { spans += s }

  /** Time `body` as a span under the innermost open harness span. */
  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = stack.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val saved = sc.getLocalProperty(SpanProp)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val start = now()
      try body
      finally {
        val end = now()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, saved)
        add(Span(id, parent, name, start, end, Map.empty))
      }
    }

  // ---- Spark-side events, kept raw until the run ends ----

  private final case class JobRec(id: Int, span: Long, start: Long,
      var end: Long, stages: Seq[Int])
  private final case class StageRec(id: Int, attempt: Int,
      start: Long, end: Long, counts: Map[String, Double])
  private final case class PhaseRec(name: String, start: Long, end: Long)
  private final case class QeRec(start: Long, filesRead: Double)

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskSums = mutable.Map.empty[(Int, Int), mutable.Map[String, Double]]
  private val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  // Weak, so the tracer does not keep every plan of the run alive; a
  // QueryExecution compares by identity.
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock {
        val sp = Option(e.properties).flatMap(p =>
          Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(-1L)
        jobs(e.jobId) = JobRec(e.jobId, sp, e.time, e.time, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime) {
          val sums = taskSums.remove((i.stageId, i.attemptNumber()))
            .map(_.toMap).getOrElse(Map.empty)
          stages += StageRec(i.stageId, i.attemptNumber(), s, c, sums)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
        val m = e.taskMetrics
        val info = e.taskInfo
        val acc = taskSums.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.Map.empty[String, Double].withDefaultValue(0.0))
        def inc(k: String, v: Double): Unit = acc(k) = acc(k) + v
        inc("tasks", 1)
        if (m != null) {
          inc("task_run_ms", m.executorRunTime.toDouble)
          inc("task_cpu_ms", m.executorCpuTime / 1e6)
          inc("gc_ms", m.jvmGCTime.toDouble)
          inc("sched_delay_ms", math.max(0L, info.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime).toDouble)
          inc("input_bytes", m.inputMetrics.bytesRead.toDouble)
          inc("input_rows", m.inputMetrics.recordsRead.toDouble)
          inc("output_bytes", m.outputMetrics.bytesWritten.toDouble)
          inc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          inc("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          inc("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          inc("spill_bytes", m.diskBytesSpilled.toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        recordQe(qe, executed = true)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        recordQe(qe, executed = false)
    })
  }

  /** Catalyst phases of one query execution, once per execution. The
    * harness hands in the DataFrames it built, so analysis done eagerly
    * at build time is seen even when the action runs a separate
    * command execution. Scanned files come only from executions the
    * listener saw finish, so the plan is never forced here. */
  def recordQe(qe: QueryExecution, executed: Boolean): Unit = if (enabled) {
    if (seenQe.synchronized(seenQe.add(qe))) {
      val ph = qe.tracker.phases
      synchronized {
        ph.foreach { case (n, p) =>
          phases += PhaseRec(n, p.startTimeMs, p.endTimeMs) }
      }
    }
    if (executed) {
      val ph = qe.tracker.phases
      val start = if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      val files = scanFiles(qe.executedPlan)
      synchronized { qes += QeRec(start, files) }
    }
  }

  /** Files read by every file scan in an executed plan. */
  private def scanFiles(p: SparkPlan): Double = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    nodes(p).collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0) }.sum
  }

  /** All spans of the run: the harness spans plus job, stage, Catalyst
    * phase and scan-count spans built from the Spark events. A job
    * hangs under the harness span named by its local property (or, when
    * it has none, the innermost harness span open at its start); a stage
    * under the first job that ran it; a phase under the innermost
    * harness span open at its start, and clamped into it: Spark reports
    * a phase measured more than once as its first start plus the summed
    * time of every measurement, which is no real interval. */
  def finish(): Seq[Span] = synchronized {
    val harness = spans.toVector
    val harnessEnd = harness.map(s => s.id -> s.end).toMap
    def innermost(t: Double): Long = harness
      .filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0L)
    val stageIndex = stages.groupBy(_.id)
    val ran = mutable.Set.empty[(Int, Int)]
    val exec = jobs.values.toSeq.sortBy(_.id).flatMap { j =>
      val jid = nextId()
      val start = fromEpoch(j.start)
      val own = j.stages.flatMap(id => stageIndex.getOrElse(id, Nil))
        .filter(s => ran.add((s.id, s.attempt)))
      Span(jid, if (j.span > 0) j.span else innermost(start), "exec.job",
        start, fromEpoch(j.end), Map.empty) +:
        own.map(s => Span(nextId(), jid, "exec.stage",
          fromEpoch(s.start), fromEpoch(s.end), s.counts))
    }
    val phaseSpans = phases.toSeq.map { p =>
      val start = fromEpoch(p.start)
      val parent = innermost(start)
      val end = harnessEnd.get(parent).fold(fromEpoch(p.end))(e =>
        math.min(fromEpoch(p.end), math.max(e, start)))
      Span(nextId(), parent, "catalyst." + p.name, start, end, Map.empty)
    }
    val scans = qes.toSeq.map { q =>
      val t = fromEpoch(q.start)
      Span(nextId(), innermost(t), "scan.files", t, t,
        Map("files_read" -> q.filesRead))
    }
    harness ++ exec ++ phaseSpans ++ scans
  }
}
