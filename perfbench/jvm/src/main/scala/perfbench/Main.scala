package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession

/** Scratch space of one run: every query call and every lake gets a
  * directory of its own, removed when it is done with. */
final class Work(val root: String, val out: String) {
  private var n = 0
  def fresh(leaf: String): String = { n += 1; s"$root/w$n-$leaf" }
  def remove(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}

/** Benchmark driver process: one Spark session at `local[cpus]`, one
  * client thread. Writes `result.json` into the output directory; the
  * Python front end checks the outputs and prints the metrics.
  *
  * Usage: Main <workload|prime> <seed> <seconds> <trace 0|1> <cpus> <dataDir> <workDir> <outDir>
  */
object Main {
  val SetupUnits = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cpusS, dataDir, workDir, outDir) = args
    val seed = seedS.toLong
    val cpus = cpusS.toInt
    val work = new Work(workDir, outDir)
    val spark = GraftSession.builder(cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM start to a ready session: class loading and session start-up
    val sessionMs = ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    val w: Workload = workload match {
      case "query_mix" | "prime" =>
        new Parts(new QueryMix(spark, dataDir, work, seed), new LakeDml(s"$dataDir/plan.json", work))
      case "scale_batch" => new ScaleBatch(spark, dataDir, s"$dataDir/plan.json", work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val h = new Harness(spark, cpus, traceS == "1")
    if (workload == "prime") {
      // loads the classes a run loads before its timed phase, for the
      // front end's class-data sharing archive
      h.runSetup(w, 1)
      spark.stop()
      return
    }
    h.runSetup(w, SetupUnits)
    val c0 = graft.EngineCounters.snapshot()
    h.runTimed(w, secondsS.toDouble)
    val c1 = graft.EngineCounters.snapshot()
    val layers = h.layers()
    val f0 = Clock.nowMs
    val extra = w.finish(h)
    val finishMs = Clock.nowMs - f0
    val record = JObject(List(
      "workload" -> JString(workload),
      "seed" -> JLong(seed),
      "cpus" -> JInt(cpus),
      "heap_bytes" -> JLong(Runtime.getRuntime.maxMemory),
      "spark_version" -> JString(spark.version),
      "setup_ms" -> JArray(h.setupMs.map(JDouble(_)).toList),
      "setup_notes" -> JObject(h.setupNotes.toList.map { case (k, v) =>
        k -> JArray(v.map(JDouble(_)).toList) }),
      "warmup_ms" -> JDouble(h.warmupMs),
      "setup_cpu_ms" -> JArray(h.setupCpuMs.map(JDouble(_)).toList),
      "warmup_cpu_ms" -> JDouble(h.warmupCpuMs),
      "prepare_ms" -> JDouble(h.prepareMs),
      "session_ms" -> JDouble(sessionMs),
      "finish_ms" -> JDouble(finishMs),
      "counters" -> JObject(c1.toList.sorted.map { case (k, v) => k -> JLong(v - c0(k)) }),
      "layers" -> JObject(layers),
      "ops" -> JArray(h.ops.map(_.json).toList)) ++ extra)
    Files.writeString(Paths.get(s"$outDir/result.json"), JsonMethods.compact(JsonMethods.render(record)))
    if (h.traceRun) Files.write(Paths.get(s"$outDir/spans.jsonl"),
      h.spans().map(JsonMethods.compact(_)).toSeq.asJava)
    spark.stop()
  }
}
