package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{GraftSession, SparkEntry}

/** Scratch diagnostic: run ONE registered query and print every Spark
  * job's call site + description, so a query's driver-job budget can be
  * attributed line by line. Not part of any protocol.
  *
  *   sbt "runMain graft.tools.JobTraceQ px130_lake_columnar_checkpoint [sfDir]"
  */
object JobTraceQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder(8).config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = new AtomicLong(0)
    @volatile var trace = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (trace) {
        val stages = js.stageInfos.size
        val tasks = js.stageInfos.map(_.numTasks).sum
        // first graft.* frames of the result stage's call site — the
        // submitting operator, not the Spark internals above it
        val details = js.stageInfos.lastOption.map(_.details).getOrElse("")
        val frames = details.split('\n').iterator
          .filter(l => l.contains("graft.") && !l.contains("JobTraceQ"))
          .take(2).map(_.trim).mkString(" <- ")
        val desc = Option(js.properties.getProperty("spark.job.description")).getOrElse("")
        println(f"[job ${n.incrementAndGet()}%3d] stages=$stages%2d tasks=$tasks%4d  [$desc]  $frames")
      }
    })
    def drain(): Unit = org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
    // warm up (mirror Bench)
    SparkEntry.entry(spark).count(); drain()
    trace = true
    val t0 = System.nanoTime()
    val rows =
      if (name == "px130_inline") px130Inline(spark, dir)
      else SparkEntry.queries(name)(spark, dir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    drain(); trace = false
    println(f"== $name: ${n.get()} jobs, $rows rows, $sec%.2f s")
    spark.stop()
  }

  /** px130's body with a phase tag around each step, so the job trace
    * attributes every job to the appendToLake phase that submitted it. */
  private def px130Inline(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Lake, Pipeline}
    val sc = spark.sparkContext
    def tag(t: String)(body: => Unit): Unit = {
      sc.setJobDescription(t); body; sc.setJobDescription(null)
    }
    val out = java.nio.file.Files.createTempDirectory("jtq130").toString + "/lake"
    spark.conf.set("spark.graft.lake.checkpoint.parquetMinEntries", "8")
    try {
      val docs = graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("split", lit("train"))
      tag("init")(Lake.init(spark, docs.repartition(8), out, Seq("split")))
      (0 until 10).foreach { i =>
        tag(s"append$i")(Pipeline.appendToLake(spark, out,
          docs.filter(pmod(col("doc_id"), lit(9973L)) === i)
            .withColumn("doc_id", col("doc_id") + lit(10000000L * (i + 1)))))
      }
      var res = 0L
      tag("finalread") { res = Lake.read(spark, out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy("source").count() }
      res
    } finally spark.conf.unset("spark.graft.lake.checkpoint.parquetMinEntries")
  }
}
