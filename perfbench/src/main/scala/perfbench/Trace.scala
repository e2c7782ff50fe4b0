package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Interval arithmetic behind self times. */
object Intervals {
  /** Length of the union of `children`, each clipped to [start, end). */
  def covered(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else if (b > curE) curE = b
    }
    if (open) total += curE - curS
    total
  }

  /** Span length minus the time its children cover inside it. */
  def self(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)
}

/** One timed interval: a round (command, poll, flush, query) or a
  * public call inside one. Times are `System.nanoTime`.
  */
final class Span(val id: Long, val parent: Long, val name: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var fsOps: Long = 0L
  def durNs: Long = endNs - startNs
}

object Tracer {
  /** Spark local property naming the innermost open span; every job
    * the thread launches carries it.
    */
  val SpanKey = "perfbench.span"
}

/** In-memory span recorder. Disabled, it only runs the body. Enabled,
  * it opens a span, tags the thread's Spark jobs with the span id and
  * counts the thread's filesystem calls; spans stay in memory until
  * the run ends.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[Span]

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id, name,
        System.nanoTime())
      val fs0 = CountingLocalFs.threadOps()
      current.set(s)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.fsOps = CountingLocalFs.threadOps() - fs0
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanKey, if (parent == null) null else parent.id.toString)
        spans.add(s)
      }
    }

  /** Id of the innermost open span on this thread, 0 when none. */
  def currentId: Long = Option(current.get).map(_.id).getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Per-job figures, summed over the job's completed stages. */
final class JobRec(val jobId: Int, val span: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var resultBytes = 0L
  var inputBytes = 0L
}

/** Collects every job with the span that launched it (from the job's
  * local properties) and sums stage task metrics into the job that
  * submitted the stage.
  */
final class EngineListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val r = new JobRec(e.jobId, span, e.time)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    // the listener is registered before the first job, so every stage
    // belongs to a job it has seen start
    val r = stageJob.get(info.stageId)
    if (r != null) r.synchronized {
      r.tasks += info.numTasks
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.resultBytes += m.resultSize
        r.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq
}

/** Records the Catalyst phase time (analysis, optimization, planning)
  * of every query execution that ran through a Dataset action, keyed
  * by when its first phase started.
  */
final class PlanningListener extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[(Long, Long)]()
  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) seen.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
  }
  /** Phase millis of executions that started in [fromMs, toMs]. */
  def msBetween(fromMs: Long, toMs: Long): Long =
    seen.asScala.collect { case (t, d) if t >= fromMs && t <= toMs => d }.sum
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

object PlanningListener {
  def phaseMs(qe: QueryExecution): Long = qe.tracker.phases.values.map(_.durationMs).sum
}

/** Everything a traced run records, in one place. */
final class Instruments(val tracer: Tracer, val engine: EngineListener,
                        val planning: Option[PlanningListener], sc: SparkContext) {
  /** Let the listener bus deliver every pending event. */
  def settle(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Wall-clock millis → the tracer's nanoTime scale. */
  private val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNano(ms: Long): Long = ms * 1000000L - epochOffsetNs
}
