package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.SparkEntry

/** Collected query results for the output checks. The first draw of each
  * query is kept for the oracle compare; every later draw must equal it. */
final class Results(work: Work) {
  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row], Int)]

  private val oracles = SparkEntry.oracleSql

  /** Queries without an oracle must at least return rows. */
  def record(rec: OpRecord, schema: StructType, rows: Array[Row]): Unit = {
    rec.extra("rows") = JInt(rows.length)
    if (rows.isEmpty && !oracles.contains(rec.name)) rec.fail("no rows")
    val digest = rows.toSeq.hashCode
    first.get(rec.name) match {
      case None => if (rec.ok) first(rec.name) = (schema, rows, digest)
      case Some((_, _, d)) => if (d != digest) rec.fail("result differs from the first draw")
    }
  }

  /** Each first draw written as parquet, with its oracle's SQL if any. */
  def write(spark: SparkSession): JValue =
    JObject(first.toList.map { case (name, (schema, rows, _)) =>
      val out = s"${work.out}/results/$name"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(out)
      name -> JObject(List("path" -> JString(out),
        "oracle" -> oracles.get(name).map(JString(_)).getOrElse(JNull)))
    })
}
