package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.{GraftQuery, SparkEntry}
import graft.operators._

/** The query side of `query_mix`: registered queries over the generated
  * tables, each result collected to the driver. At this input size driver
  * planning and job scheduling dominate, so driver and scheduler savings
  * show here. The seed shuffles the query order within every pass. */
final class QueryMix(base: SparkSession, dataDir: String, work: Work, seed: Long)
    extends Workload {
  private val queries = QueryMix.Subset

  /** Each registered query's operator module, named after its object. */
  private val modules: Map[String, String] = Seq[(AnyRef, Seq[GraftQuery])](
    Relational -> Relational.all, Statistics -> Statistics.all, Extended -> Extended.all,
    TpchShapes -> TpchShapes.all, Temporal -> Temporal.all, TextOps -> TextOps.all,
    Dedup -> Dedup.all, Similarity -> Similarity.all, Multimodal -> Multimodal.all,
    Graph -> Graph.all, Pipeline -> Pipeline.all,
  ).flatMap { case (m, qs) => qs.map(_.name -> m.getClass.getSimpleName.stripSuffix("$")) }.toMap

  private val fns = SparkEntry.queries
  private val results = new Results(work)
  private var pass = 0

  /** Lake queries: the px100-px136 lifecycle, each over its own lake. */
  def isLake(name: String): Boolean =
    name.startsWith("px1") && name.slice(2, 5).toIntOption.exists(n => n >= 100 && n <= 136)

  def setup(h: Harness, unit: Int): Unit = h.loadTables(base, dataDir)

  def warmUp(h: Harness): Unit = queries.foreach(run(h, _))

  def nominalUnitMs: Double = 5500

  def unit(h: Harness): Unit = {
    val order = new scala.util.Random(seed * 7919 + pass).shuffle(queries)
    pass += 1
    order.foreach(run(h, _))
  }

  /** One query call with a fresh scratch directory, removed afterwards. */
  private def run(h: Harness, name: String): Unit = {
    val scratch = work.fresh(name)
    h.session.conf.set("spark.graft.scratchDir", scratch)
    val (rec, rows) = h.op(if (isLake(name)) "lake_query" else "query", name)(
      fns(name)(h.session, dataDir))(df => (df.schema, df.collect()))
    rec.extra("module") = JString(modules.getOrElse(name, "?"))
    rows.foreach { case (schema, rs) => results.record(rec, schema, rs) }
    work.remove(scratch)
  }

  def finish(h: Harness): List[(String, JValue)] = List(
    "results" -> results.write(h.session),
    "queries" -> JArray(queries.map(JString(_)).toList),
    "lake_share" -> JDouble(queries.count(isLake).toDouble / queries.size))
}

object QueryMix {
  /** A fixed sample of the registry, one query per module, that fits a
    * pass into a few seconds. The full registry (175 queries, about 150 s
    * a pass on 4 cores) does not fit a run. */
  val Subset: Seq[String] = Seq(
    "q01_pricing_summary", "q45_grouping_sets", "q60_salted_join",
    "q46_tpch_q3_shape", "q20_sessionize", "q23_wordcount_mapreduce", "dd27_dedup_simhash",
    "ss30_cosine_topk", "mm36_multimodal_features", "gr80_copurchase_graph",
    "px100_shard_manifest")
}
