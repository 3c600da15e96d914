package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments: a SparkListener for the runtime layer,
  * a QueryExecutionListener for Catalyst's phases and spans that the
  * benchmark records around its calls into the program. Everything is
  * kept in memory and written out when the run ends. Only events whose
  * own timestamps fall inside the timed window are counted. */
final class Trace {
  final case class Span(id: Long, parent: Long, name: String, detail: String,
      thread: String, startNs: Long, endNs: Long)

  @volatile private var fromMs = Long.MaxValue
  @volatile private var toMs = Long.MaxValue
  private var fromNs = 0L
  private def inWindow(ms: Long): Boolean = ms >= fromMs && ms <= toMs

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val runMs = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  private val gcMs = new AtomicLong
  private val stageSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val phases = new ConcurrentLinkedQueue[(String, Long)]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (inWindow(e.time)) jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime if inWindow(s)) {
        stages.incrementAndGet()
        stageSpans.add((s, c))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && inWindow(e.taskInfo.launchTime)) {
        tasks.incrementAndGet()
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, summary) =>
        if (inWindow(summary.startTimeMs)) phases.add((phase, summary.durationMs))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def begin(): Unit = { fromNs = System.nanoTime(); fromMs = System.currentTimeMillis() }
  def stop(): Unit = toMs = System.currentTimeMillis()

  def record[T](name: String, detail: String)(body: => T): T =
    if (fromMs == Long.MaxValue || toMs != Long.MaxValue) body
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, detail,
          Thread.currentThread.getName, t0 - fromNs, System.nanoTime() - fromNs))
        stack.set(parents)
      }
    }

  /** Wall time in the window during which no stage ran. */
  private def schedGapS: Double = {
    val sorted = stageSpans.asScala.toSeq
      .map { case (s, c) => (math.max(s, fromMs), math.min(c, toMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    for ((s, c) <- sorted) {
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = c }
      else curE = math.max(curE, c)
    }
    if (curE > curS) covered += curE - curS
    (toMs - fromMs - covered) / 1e3
  }

  /** Per-round layer metrics of the timed window. */
  def metrics(spark: SparkSession, rounds: Int): Map[String, Double] = {
    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
    val r = rounds.toDouble
    def phase(p: String): Double =
      phases.asScala.collect { case (`p`, d) => d }.sum / 1e3 / r
    Map(
      "jobs" -> jobs.get / r,
      "stages" -> stages.get / r,
      "tasks" -> tasks.get / r,
      "executor_cpu_s" -> cpuNs.get / 1e9 / r,
      "executor_run_s" -> runMs.get / 1e3 / r,
      "shuffle_read_bytes" -> shuffleRead.get / r,
      "shuffle_write_bytes" -> shuffleWrite.get / r,
      "spill_bytes" -> spill.get / r,
      "gc_s" -> gcMs.get / 1e3 / r,
      "sched_gap_s" -> schedGapS / r,
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"))
  }

  def writeSpans(path: String): Unit =
    Json.write(path, Map("spans" -> spans.asScala.toSeq.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "detail" -> s.detail,
      "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
}

object Trace {
  @volatile private var current: Option[Trace] = None

  def attach(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t.listener)
    spark.listenerManager.register(t.qeListener)
    current = Some(t)
    t
  }

  /** Run `body` inside a span when the run is traced and timing. */
  def span[T](name: String, detail: String = "")(body: => T): T = current match {
    case Some(t) => t.record(name, detail)(body)
    case None => body
  }
}
