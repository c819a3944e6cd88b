package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{SparkEntry, Tables}
import graft.core.{MapReduce, MapReducer, WordCount}

/** Inverted index as a plain (non-associative) MapReduce job: each token
  * maps to the documents holding it; the reduce emits the document
  * frequency and the sum of the document ids. */
object InvertedIndex extends MapReducer[String, String, String, Long, (Long, Long)] {
  def map(key: String, value: String): IterableOnce[(String, Long)] =
    value.split("\\s+").iterator.filter(_.nonEmpty).distinct.map(w => (w, key.toLong))
  def reduce(key: String, values: Iterator[Long]): (Long, Long) =
    values.foldLeft((0L, 0L)) { case ((n, s), id) => (n + 1, s + id) }
}

/** `scale_batch`: the paper's batch jobs over generated inputs large
  * enough that executor scan, shuffle and kernel work dominate. WordCount
  * runs through `MapReduce.runAssociative` (map-side combine), the
  * inverted index through `MapReduce.run` (full shuffle), then the
  * registered queries the front end lists, which scan, join, shuffle and
  * run vector kernels. One unit is one round of every job, in a fixed
  * order. */
final class ScaleBatch(base: SparkSession, dataDir: String, planPath: String, work: Work)
    extends Workload {
  private val results = new Results(work)
  /** The registered queries of a round, as the front end lists them. */
  private val queries = {
    implicit val formats: Formats = DefaultFormats
    (JsonMethods.parse(new File(planPath)) \ "queries").extract[List[String]]
  }

  def setup(h: Harness, unit: Int): Unit = h.loadTables(base, dataDir)

  /** One untimed round: the first draw of each job carries class loading
    * and JIT compilation. */
  def warmUp(h: Harness): Unit = unit(h)

  def nominalUnitMs: Double = 5500

  private def docs(s: SparkSession): Dataset[(String, String)] = {
    import s.implicits._
    Tables(s, dataDir, "documents").select(col("doc_id").cast("string"), col("text")).as[(String, String)]
  }

  private def mapReduce(h: Harness, name: String)(job: SparkSession => DataFrame): Unit = {
    val (rec, out) = h.op("job", name)(job(h.session))(df => df.collect()(0))
    out.foreach(r => rec.extra("out") =
      JArray((0 until r.length).map(i => JLong(if (r.isNullAt(i)) 0L else r.getLong(i))).toList))
  }

  def unit(h: Harness): Unit = {
    mapReduce(h, "core.MapReduce.runAssociative") { s =>
      import s.implicits._
      MapReduce.runAssociative(docs(s), WordCount).toDF("word", "n")
        .agg(count(lit(1)), sum(col("n")))
    }
    mapReduce(h, "core.MapReduce.run") { s =>
      import s.implicits._
      MapReduce.run(docs(s), InvertedIndex).toDF("word", "post")
        .agg(count(lit(1)), sum(col("post._1")), sum(col("post._2")))
    }
    queries.foreach { name =>
      val (rec, rows) = h.op("job", name)(SparkEntry.queries(name)(h.session, dataDir))(df =>
        (df.schema, df.collect()))
      rows.foreach { case (schema, rs) => results.record(rec, schema, rs) }
    }
  }

  def finish(h: Harness): List[(String, JValue)] = List("results" -> results.write(h.session))
}
