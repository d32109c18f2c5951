package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer spans and Spark counters for the traced run.
 *
 * Spans are timed from the benchmark's own code around each call into a
 * graft layer; the Spark side is read only through public hooks (a
 * SparkListener for jobs and tasks, a QueryExecutionListener for the
 * Catalyst phases and the executed plan's SQL metrics). With tracing off
 * nothing is registered and `span` just runs its body. */
final class Trace(val on: Boolean) {
  private val spans = new ConcurrentHashMap[String, java.util.Vector[Double]]()

  /** Run `body`; when tracing, record its wall time (ms) under `name`. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally record(name, (System.nanoTime() - t0) / 1e6)
    }

  def record(name: String, value: Double): Unit =
    if (on) spans.computeIfAbsent(name, _ => new java.util.Vector[Double]()).add(value)

  /** Forget the spans recorded so far (the warm-up's). */
  def clear(): Unit = spans.clear()

  def all: Map[String, Seq[Double]] = spans.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap

  def values(name: String): Seq[Double] =
    Option(spans.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  // ---- Spark counters (cumulative; read as window deltas) ----
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new DoubleAdder
  val taskCpuMs = new DoubleAdder
  val schedDelayMs = new DoubleAdder
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val queries = new AtomicLong
  val analyzeMs = new DoubleAdder
  val optimizeMs = new DoubleAdder
  val planMs = new DoubleAdder
  val execMs = new DoubleAdder
  val scanRows = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.add(m.executorRunTime.toDouble)
        taskCpuMs.add(m.executorCpuTime / 1e6)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        val i = e.taskInfo
        schedDelayMs.add(math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime).toDouble)
      }
    }
  }

  // A prepared (re-executed) Dataset reports the SAME QueryExecution on
  // every action; its phases were paid once, so they count once.
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      execMs.add(durationNs / 1e6)
      val fresh = seen.synchronized(seen.add(qe))
      if (fresh) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
        analyzeMs.add(ms("analysis")); optimizeMs.add(ms("optimization")); planMs.add(ms("planning"))
      }
      scanRows.addAndGet(Trace.scanRows(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Register the hooks on a session (and its SparkContext, once). */
  def attach(sessions: SparkSession*): Unit = if (on) {
    sessions.headOption.foreach(_.sparkContext.addSparkListener(listener))
    sessions.foreach(_.listenerManager.register(qeListener))
  }

  /** Wait until listener events stop arriving (the bus is asynchronous). */
  private def quiesce(): Unit = if (on) {
    var last = -1L; var stable = 0; var n = 0
    while (stable < 2 && n < 30) {
      Thread.sleep(100)
      val now = tasks.get + queries.get + jobs.get
      if (now == last) stable += 1 else stable = 0
      last = now; n += 1
    }
  }

  /** Counters at the start of a measured window. */
  def mark(): Map[String, Double] = { quiesce(); snapshot() }

  /** Spark and JVM figures over the window opened by `before`, per
   * operation of the workload (request or pass). */
  def windowLayers(res: Result, before: Map[String, Double], ops: Int,
                   answerRows: Double): Unit = if (on) {
    quiesce()
    val after = snapshot()
    def d(k: String) = after(k) - before(k)
    val n = math.max(1, ops).toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    res.layers("spark.analyze_ms") = d("analyze_ms") / n
    res.layers("spark.optimize_ms") = d("optimize_ms") / n
    res.layers("spark.plan_ms") = d("plan_ms") / n
    res.layers("spark.exec_ms") = d("exec_ms") / n
    res.layers("spark.jobs_per_op") = d("jobs") / n
    res.layers("spark.tasks_per_op") = d("tasks") / n
    res.layers("spark.scan_rows_per_answer_row") = d("scan_rows") / math.max(1.0, answerRows)
    res.layers("spark.task_run_ms_per_op") = d("task_run_ms") / n
    res.layers("spark.sched_delay_ms") = d("sched_delay_ms") / math.max(1.0, d("tasks"))
    res.layers("spark.shuffle_mb") = d("shuffle_bytes") / 1048576.0 / n
    res.layers("spark.spill_mb") = d("spill_bytes") / 1048576.0 / n
    res.layers("spark.cpu_busy_frac") = d("task_cpu_ms") / (res.windowS * 1000.0 * cores)
    res.layers("jvm.gc_ms_per_op") = d("gc_ms") / n
  }

  private def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
    "task_run_ms" -> taskRunMs.sum, "task_cpu_ms" -> taskCpuMs.sum,
    "sched_delay_ms" -> schedDelayMs.sum, "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble, "queries" -> queries.get.toDouble,
    "analyze_ms" -> analyzeMs.sum, "optimize_ms" -> optimizeMs.sum,
    "plan_ms" -> planMs.sum, "exec_ms" -> execMs.sum, "scan_rows" -> scanRows.get.toDouble,
    "gc_ms" -> Trace.gcMs)
}

object Trace {
  /** Rows produced by the plan's leaf scans (cached-table and file scans). */
  def scanRows(plan: SparkPlan): Long = {
    var n = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case leaf if leaf.children.isEmpty =>
        leaf.metrics.get("numOutputRows").foreach(m => n += m.value)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    n
  }

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
}
