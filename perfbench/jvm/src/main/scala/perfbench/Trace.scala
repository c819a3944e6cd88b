package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the harness and the listener events: epoch milliseconds
  * with the resolution of `System.nanoTime`. Spark stamps job, stage and
  * task events with `System.currentTimeMillis`, so both sides compare. */
object Clock {
  private val offsetMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = offsetMs + System.nanoTime() / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this process, in ms. The kernel leaves
    * out time the hypervisor gave this machine's CPUs to other guests. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6
}

/** Half-open interval arithmetic for self times. */
object Intervals {
  /** Total length of the union of `xs`, clipped to `[lo, hi]`. */
  def unionLength(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

final class JobRec(val id: Int, val op: Int, val startMs: Double, val stageIds: Seq[Int]) {
  @volatile var endMs: Double = Double.NaN
}

final class StageRec(val id: Int, val attempt: Int) {
  var submitMs: Double = Double.NaN
  var endMs: Double = Double.NaN
  var numTasks = 0
  val taskMs = ArrayBuffer.empty[Double]
  val taskSpans = ArrayBuffer.empty[(Double, Double)]
  var waitMs = 0.0
  var runMs = 0.0
  var cpuNs = 0L
  var scanRecords = 0L
  var scanBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var failedTasks = 0L
}

/** Query-planning phase durations of one Dataset action. */
final case class PlanRec(startMs: Double, analysisMs: Double, optimizerMs: Double, planningMs: Double)

/** Records job, stage and task spans from the scheduler's listener bus,
  * and planning phases from the SQL execution listener. Every job carries
  * the op id the harness set as a job-local property before calling into
  * the engine. Everything stays in memory until the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  /** Time spent inside this tracer's callbacks: its own overhead. */
  val callbackNs = new AtomicLong(0L)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private def opOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.OpKey))).map(_.toInt).getOrElse(-1)

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs.put(e.jobId, new JobRec(e.jobId, opOf(e.properties), e.time.toDouble, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submitMs = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    s.numTasks = e.stageInfo.numTasks
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.endMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    if (info.failed || info.killed) s.failedTasks += 1
    else {
      s.taskMs += info.duration.toDouble
      s.taskSpans += ((info.launchTime.toDouble, info.finishTime.toDouble))
    }
    if (!s.submitMs.isNaN) s.waitMs += math.max(0.0, info.launchTime - s.submitMs)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.scanRecords += m.inputMetrics.recordsRead
      s.scanBytes += m.inputMetrics.bytesRead
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def phases(qe: QueryExecution): Unit = timed {
    val ph = qe.tracker.phases
    def d(n: String) = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.map(_.toDouble).getOrElse(Clock.nowMs)
    plans.add(PlanRec(start, d("analysis"), d("optimization"), d("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Stages of the given jobs, every attempt. */
  def stagesOf(js: Iterable[JobRec]): Seq[StageRec] = {
    val ids = js.iterator.flatMap(_.stageIds).toSet
    stages.values.asScala.filter(s => ids(s.id) && !s.submitMs.isNaN).toSeq
  }
}

object Tracer {
  /** Job-local property naming the harness op that submitted a job. */
  val OpKey = "perfbench.op"
}
