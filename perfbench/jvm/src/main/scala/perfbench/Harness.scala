package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.json4s._

/** One op as the client sees it: a call into the engine's public API
  * (construct) and the action that materializes its result. */
final class OpRecord(val id: Int, val kind: String, val name: String, val traced: Boolean) {
  var startMs = Double.NaN
  var constructEndMs = Double.NaN
  var endMs = Double.NaN
  var ok = true
  var error = ""
  var gcMs = 0.0
  var cpuMs = Double.NaN
  val extra = mutable.LinkedHashMap.empty[String, JValue]
  def ms: Double = endMs - startMs
  def fail(why: String): Unit = { ok = false; if (error.isEmpty) error = why }

  def json: JValue = JObject(List(
    "id" -> JInt(id), "kind" -> JString(kind), "name" -> JString(name),
    "ms" -> JDouble(ms), "construct_ms" -> JDouble(constructEndMs - startMs),
    "ok" -> JBool(ok), "error" -> JString(error), "traced" -> JBool(traced),
    "gc_ms" -> JDouble(gcMs), "cpu_ms" -> JDouble(cpuMs)) ++ extra.toList)
}

/** A workload: a repeatable set-up and a closed loop of units, each unit
  * one or more ops issued back to back by a single client. */
trait Workload {
  /** One-time preparation of inputs the front end could not write itself. */
  def prepare(h: Harness): Unit = ()
  /** One set-up from scratch; the harness repeats it and keeps the last. */
  def setup(h: Harness, unit: Int): Unit
  /** Untimed ops after set-up, so that the timed phase starts warm. */
  def warmUp(h: Harness): Unit
  /** One unit of the closed loop: a pass, a commit with its reads, a round. */
  def unit(h: Harness): Unit
  /** A unit's duration on a warm 4-core host. A timed phase runs a fixed
    * number of units, `--seconds` over this, so that every run of a
    * workload times the same ops whatever their latencies; a slower host
    * takes longer than `--seconds`. */
  def nominalUnitMs: Double
  /** Called before each timed phase with the number of units it runs. */
  def startPhase(units: Int): Unit = ()
  /** After timing: outputs for the checks and the workload's own figures. */
  def finish(h: Harness): List[(String, JValue)]
}

/** Workloads run one after the other in every phase, in one session (the
  * first part's set-up makes it); a unit is one unit of each part. */
final class Parts(parts: Workload*) extends Workload {
  override def prepare(h: Harness): Unit = parts.foreach(_.prepare(h))
  def setup(h: Harness, unit: Int): Unit = parts.foreach(_.setup(h, unit))
  def warmUp(h: Harness): Unit = parts.foreach(_.warmUp(h))
  def unit(h: Harness): Unit = parts.foreach(_.unit(h))
  def nominalUnitMs: Double = parts.map(_.nominalUnitMs).sum
  override def startPhase(units: Int): Unit = parts.foreach(_.startPhase(units))
  def finish(h: Harness): List[(String, JValue)] = parts.toList.flatMap(_.finish(h))
}

/** Runs one workload: set-up, warm-up, then the timed closed loop. With
  * tracing on, the timed phase runs twice, untraced and then traced, so
  * one run gives both the per-layer split and the tracing overhead over
  * the same mix of ops. */
final class Harness(var session: SparkSession, val cpus: Int, val traceRun: Boolean) {
  val ops = ArrayBuffer.empty[OpRecord]
  val setupMs = ArrayBuffer.empty[Double]
  val setupCpuMs = ArrayBuffer.empty[Double]
  /** Figures a workload notes during each set-up, reported as medians. */
  val setupNotes = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var prepareMs = 0.0
  var warmupMs = 0.0
  var warmupCpuMs = 0.0
  private var tracer: Option[Tracer] = None
  private var timedPhase = false
  private var tracedStartMs = Double.NaN
  private var tracedEndMs = Double.NaN

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Time `construct` (the engine call) and `action` (materializing its
    * result) as one op. A throw marks the op failed; the result is `None`. */
  def op[A, B](kind: String, name: String)(construct: => A)(action: A => B): (OpRecord, Option[B]) = {
    val rec = new OpRecord(ops.size, kind, name, tracer.isDefined)
    if (timedPhase) ops += rec
    val sc = session.sparkContext
    // every op starts with an idle listener bus
    Bus.drain(sc)
    if (tracer.isDefined) sc.setLocalProperty(Tracer.OpKey, rec.id.toString)
    val gc0 = if (tracer.isDefined) gcMs() else 0.0
    val cpu0 = Clock.cpuMs
    rec.startMs = Clock.nowMs
    val out =
      try {
        val a = construct
        rec.constructEndMs = Clock.nowMs
        Some(action(a))
      } catch {
        case NonFatal(e) =>
          rec.fail(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      }
    rec.endMs = Clock.nowMs
    rec.cpuMs = Clock.cpuMs - cpu0
    if (rec.constructEndMs.isNaN) rec.constructEndMs = rec.endMs
    if (tracer.isDefined) {
      rec.gcMs = gcMs() - gc0
      sc.setLocalProperty(Tracer.OpKey, null)
    }
    (rec, out)
  }

  /** A set-up of the table workloads: a fresh session loads every
    * table through the engine's loader (cached per session). */
  def loadTables(base: SparkSession, dataDir: String): Unit = {
    session = base.newSession()
    val t0 = Clock.nowMs
    graft.Tables.names.foreach(graft.Tables(session, dataDir, _))
    setupNotes.getOrElseUpdate("Tables.load_ms", ArrayBuffer.empty[Double]) += Clock.nowMs - t0
  }

  def runSetup(w: Workload, units: Int): Unit = {
    val tp = Clock.nowMs
    w.prepare(this)
    prepareMs = Clock.nowMs - tp
    (0 until units).foreach { u =>
      val (t0, c0) = (Clock.nowMs, Clock.cpuMs)
      w.setup(this, u)
      setupMs += Clock.nowMs - t0
      setupCpuMs += Clock.cpuMs - c0
    }
    val (t0, c0) = (Clock.nowMs, Clock.cpuMs)
    w.warmUp(this)
    warmupMs = Clock.nowMs - t0
    warmupCpuMs = Clock.cpuMs - c0
  }

  def runTimed(w: Workload, seconds: Double): Unit = {
    timedPhase = true
    val units = math.max(1, math.round(seconds * 1000 / w.nominalUnitMs).toInt)
    def phase(): Unit = {
      w.startPhase(units)
      (1 to units).foreach(_ => w.unit(this))
    }
    phase()
    if (traceRun) {
      val t = new Tracer
      session.sparkContext.addSparkListener(t)
      session.listenerManager.register(t)
      tracer = Some(t)
      tracedStartMs = Clock.nowMs
      phase()
      tracedEndMs = Clock.nowMs
      Bus.drain(session.sparkContext)
      session.sparkContext.removeSparkListener(t)
      session.listenerManager.unregister(t)
    }
    timedPhase = false
  }

  /** The recorded spans as JSON lines, each with its layer, interval
    * (epoch ms) and parent: workload -> op -> call -> job -> stage. */
  def spans(): Iterator[JValue] = tracer.iterator.flatMap { t =>
    def span(layer: String, id: String, parent: String, name: String, a: Double, b: Double) =
      JObject("layer" -> JString(layer), "id" -> JString(id), "parent" -> JString(parent),
        "name" -> JString(name), "start_ms" -> JDouble(a), "end_ms" -> JDouble(b))
    val traced = ops.filter(_.traced)
    val opIds = traced.map(_.id).toSet
    val jobs = t.jobs.values.asScala.filter(j => opIds(j.op) && !j.endMs.isNaN).toSeq
    Iterator(span("workload", "w", "", "timed", tracedStartMs, tracedEndMs)) ++
      traced.iterator.flatMap { o =>
        Iterator(span("op", s"o${o.id}", "w", o.name, o.startMs, o.endMs),
          span("call", s"c${o.id}", s"o${o.id}", "construct", o.startMs, o.constructEndMs),
          span("call", s"a${o.id}", s"o${o.id}", "action", o.constructEndMs, o.endMs))
      } ++
      jobs.iterator.map { j =>
        val o = ops(j.op)
        span("job", s"j${j.id}", if (j.startMs < o.constructEndMs) s"c${o.id}" else s"a${o.id}",
          s"job ${j.id}", j.startMs, j.endMs)
      } ++
      jobs.iterator.flatMap(j => t.stagesOf(Seq(j)).filter(!_.endMs.isNaN).map(st =>
        span("stage", s"s${st.id}.${st.attempt}", s"j${j.id}",
          s"stage ${st.id} (${st.taskMs.size} tasks)", st.submitMs, st.endMs)))
  }

  /** Per-layer figures of the traced phase, from the recorded spans. */
  def layers(): List[(String, JValue)] = tracer.toList.flatMap { t =>
    val traced = ops.filter(_.traced)
    val allJobs = t.jobs.values.asScala.filter(j => !j.endMs.isNaN).toSeq
    // jobs without the op property (submitted from a pool thread) go to
    // the op whose interval holds their start
    def opAt(ms: Double): Int = traced.find(o => o.startMs <= ms && ms <= o.endMs).map(_.id).getOrElse(-1)
    val jobsByOp = allJobs.groupBy(j => if (j.op >= 0) j.op else opAt(j.startMs))
    val tracedIds = traced.map(_.id).toSet
    val jobs = jobsByOp.filter { case (op, _) => tracedIds(op) }.values.flatten.toSeq
    val stages = t.stagesOf(jobs)
    val wall = traced.map(_.ms).sum
    val inJob = traced.map { o =>
      Intervals.unionLength(jobsByOp.getOrElse(o.id, Nil).map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)
    }.sum
    traced.foreach { o =>
      val mine = jobsByOp.getOrElse(o.id, Nil)
      val st = t.stagesOf(mine)
      o.extra ++= Seq("jobs" -> JInt(mine.size),
        "scan_records" -> JLong(st.map(_.scanRecords).sum),
        "in_job_ms" -> JDouble(Intervals.unionLength(mine.map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)),
        "run_ms" -> JDouble(st.map(_.runMs).sum))
    }
    val jobSelf = jobs.map { j =>
      val st = stages.filter(s => j.stageIds.contains(s.id) && !s.endMs.isNaN)
      (j.endMs - j.startMs) - Intervals.unionLength(st.map(s => (s.submitMs, s.endMs)), j.startMs, j.endMs)
    }.sum
    val done = stages.filter(!_.endMs.isNaN)
    val stageSelf = done.map(s =>
      (s.endMs - s.submitMs) - Intervals.unionLength(s.taskSpans, s.submitMs, s.endMs)).sum
    // per stage of 4+ tasks: the task durations, for the skew figures
    val skewStages = stages.filter(_.taskMs.size >= 4).map(s => JArray(s.taskMs.map(JDouble(_)).toList))
    val plans = t.plans.asScala.filter(p => traced.exists(o => o.startMs <= p.startMs && p.startMs <= o.endMs))
    val tasks = stages.map(s => s.taskMs.size + s.failedTasks).sum
    val runMs = stages.map(_.runMs).sum
    def sumL(f: StageRec => Long) = JLong(stages.map(f).sum)
    List(
      "workload.self_ms" -> JDouble((tracedEndMs - tracedStartMs) -
        Intervals.unionLength(traced.map(o => (o.startMs, o.endMs)), tracedStartMs, tracedEndMs)),
      "driver.self_ms" -> JDouble(wall - inJob),
      "driver.analysis_ms" -> JDouble(plans.map(_.analysisMs).sum),
      "driver.optimizer_ms" -> JDouble(plans.map(_.optimizerMs).sum),
      "driver.planning_ms" -> JDouble(plans.map(_.planningMs).sum),
      "driver.gc_ms" -> JDouble(traced.map(_.gcMs).sum),
      "scheduler.jobs" -> JInt(jobs.size),
      "scheduler.stages" -> JInt(done.size),
      "scheduler.tasks" -> JLong(tasks),
      "scheduler.tasks_per_job" -> JDouble(if (jobs.isEmpty) 0.0 else tasks.toDouble / jobs.size),
      "scheduler.in_job_ms" -> JDouble(inJob),
      "scheduler.job_self_ms" -> JDouble(jobSelf),
      "scheduler.stage_self_ms" -> JDouble(stageSelf),
      "scheduler.task_wait_ms" -> JDouble(stages.map(_.waitMs).sum),
      "scheduler.failed_tasks" -> sumL(_.failedTasks),
      "executor.run_ms" -> JDouble(runMs),
      "executor.cpu_ms" -> JDouble(stages.map(_.cpuNs).sum / 1e6),
      "executor.busy_ratio" -> JDouble(if (inJob <= 0) 0.0 else runMs / (inJob * cpus)),
      "executor.scan_records" -> sumL(_.scanRecords),
      "executor.scan_bytes" -> sumL(_.scanBytes),
      "executor.shuffle_write_records" -> sumL(_.shuffleWriteRecords),
      "executor.shuffle_write_bytes" -> sumL(_.shuffleWriteBytes),
      "executor.shuffle_fetch_wait_ms" -> JDouble(stages.map(_.fetchWaitMs).sum.toDouble),
      "executor.spill_bytes" -> sumL(_.spillBytes),
      "executor.output_bytes" -> sumL(_.outputBytes),
      "stage_task_ms" -> JArray(skewStages.toList),
      "trace.callback_ms" -> JDouble(t.callbackNs.get() / 1e6))
  }
}
